#!/usr/bin/env python
"""Driver-mode fresh-process correctness sweep over the registry
(VERDICT r5 item 6 — the strongest pre-driver signal, pinned as one
repeatable command):

    python tools/sweep_all.py [sf_dir] [name ...|--reprove]

With no names it sweeps every query; with names, only those; with
``--reprove``, the registry's re-prove-first block (queries whose plan
or oracle digest moved since their last driver proof).

Simulates the external driver exactly: a plain SparkSession with
DRIVER-LIKE settings (local[4], no pytest fixtures, no engine tuning
beyond what queries() itself applies — which includes sizing shuffle
partitions to the session's 4 task slots), every `queries()` entry
hash-compared against its `oracle_sql()` twin in DuckDB via
tests.oracle.compare_frames (driver-strict: dtypes, tz, column order by
name, value hash).

Exit 0 = every swept query green; exit 1 = any mismatch, with a
per-query FAIL line and the exception; exit 2 = an unknown name. ~2-3
min for the full registry at sf0.01 on this container. Run before every round end.

Per-query watchdog (r20): the first full-registry sweep at the 10x
fixture STALLED — DuckDB re-executed an inlined CTE per unrolled
pagerank iteration, >9 min for one oracle with no output, and the
stall was only diagnosed by hand (ps + per-side reproduction). Each
side now runs under a wall-clock budget ($SWEEP_QUERY_TIMEOUT seconds,
default 600): an overrun interrupts DuckDB (connection.interrupt) /
cancels the Spark job group and FAILS that query by name, so a future
super-linear plan or oracle costs one red line, not a lost round.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as E
    from tests.oracle import compare_frames

    qs, oracles = E.queries(), E.oracle_sql()
    if names == ["--reprove"]:
        from mapreduce_4sl08_spark.plans.registry import reprove_names
        names = reprove_names()
    elif not names:
        names = list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print("unknown queries:", ", ".join(unknown))
        return 2

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
             .getOrCreate())
    def _fresh_con():
        c = duckdb.connect()
        for tbl in TABLES:
            c.execute(f"CREATE VIEW {tbl} AS SELECT * "
                      f"FROM '{sf_dir}/{tbl}.parquet'")
        return c

    con = _fresh_con()

    from tools.sweep_watchdog import timeboxed

    sc = spark.sparkContext
    failures: list[str] = []
    t0 = time.perf_counter()
    for i, name in enumerate(names, 1):
        tq = time.perf_counter()
        try:
            sc.setJobGroup(name, name, interruptOnCancel=True)
            got = timeboxed(
                f"{name} (spark)",
                lambda: qs[name](spark, sf_dir).toPandas(),
                lambda: sc.cancelJobGroup(name))
            if name in oracles:
                want = timeboxed(
                    f"{name} (oracle)",
                    lambda: con.execute(oracles[name]).fetchdf(),
                    con.interrupt)
                compare_frames(got, want, name)
                status = "ok"
            else:
                assert len(got) >= 0  # rows-only check (non-SQL ops)
                status = "ok (rows-only)"
        except Exception:
            failures.append(name)
            status = "FAIL"
            traceback.print_exc()
            # recycle the oracle connection (ADVICE r20 item 2): a
            # watchdog that fires after con.execute() completed leaves a
            # pending interrupt on the reused connection, which would
            # abort the NEXT oracle with a spurious InterruptException
            try:
                con.close()
            except Exception:
                pass
            con = _fresh_con()
        # per-query wall (Spark + DuckDB + compare) so round-over-round
        # sweep logs expose drift, not just red/green
        print(f"[{i:3d}/{len(names)}] {status:15s} "
              f"{time.perf_counter() - tq:6.2f}s {name}", flush=True)
    dt = time.perf_counter() - t0

    print(f"\nswept {len(names)} queries in {dt:.0f} s at {sf_dir}: "
          f"{len(names) - len(failures)} green, {len(failures)} failed")
    if failures:
        print("FAILED:", ", ".join(failures))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
