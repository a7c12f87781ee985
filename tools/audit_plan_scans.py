#!/usr/bin/env python
"""Plan-shape audit over the whole registry: per query, how many times
each BIG table's files appear in the physical plan, how many exchanges
the plan carries, and whether any disallowed shapes slipped in. This is
an informational radar (the enforced gates live in
tests/test_registry_invariants.py and the plan snapshot
mapreduce_4sl08_spark/plans/plan_fingerprints.json) —
use it after adding operators to spot accidental multi-scan pipelines
of corpus-sized tables (the class fixed in rolling_active_users /
events_transition_matrix / vocab_growth_curve, round 12).

NOTE on reading the numbers: `path_refs` counts occurrences of the
table's file path in the executed-plan STRING — a cached relation
(InMemoryTableScan) prints its build subtree, so deliberate
persist+reuse plans (the jaccard/vocab index idiom) over-count; check
`inmem > 0` before treating a high count as N real reads. Self-joins
(TPC-H nested aggregates, near-dup pair joins) legitimately read twice.

    python tools/audit_plan_scans.py [sf_dir] > logs/plan_scan_audit.txt
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BIG = ("lineitem", "orders", "events", "documents", "embeddings")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    from mapreduce_4sl08_spark.plans import QUERIES
    from mapreduce_4sl08_spark.session import apply_engine_conf

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "32")
             .getOrCreate())
    apply_engine_conf(spark)
    errors = 0
    print(f"{'query':42s} {'path_refs(big tables)':34s} "
          f"{'exch':>4s} {'inmem':>5s}")
    for name, spec in sorted(QUERIES.items()):
        try:
            plan = (spec.fn(spark, sf_dir)._jdf.queryExecution()
                    .executedPlan().toString())
        except Exception as ex:  # noqa: BLE001 - report, keep auditing
            errors += 1
            print(f"{name:42s} ERROR {str(ex)[:60]}")
            continue
        refs = {t: len(re.findall(rf"{t}\.parquet", plan)) for t in BIG}
        multi = {t: c for t, c in refs.items() if c > 1}
        print(f"{name:42s} {str(multi) if multi else '-':34s} "
              f"{plan.count('Exchange'):4d} "
              f"{plan.count('InMemoryTableScan'):5d}")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
