#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_median_sec, "unit": "sec",
"queries": {name: median_sec}, "queries_min": {name: min_sec},
"runs": 3, "sf": ...}. A query that raises is isolated: it appears
under "errors" (with "n_err") instead of "queries", every other query
still reports, and the exit code is nonzero — "value" then covers only
the queries that ran.

Each query runs $SPARK_GRAFT_BENCH_RUNS times (default 3) and reports the
per-query MEDIAN (and min) — single-run timings sit inside a ±30%
box-noise band, which made round-over-round regressions unattributable
(VERDICT r4 item 1). The first run of each query absorbs classload/codegen
warm-up, so the former dedicated warm-up queries are dropped to keep total
wall-clock in budget.

Each run fully executes the plan via a noop sink (sorts/limits included,
no driver materialization beyond what the plan requires)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreduce_4sl08_spark.plans import QUERIES  # noqa: E402
from mapreduce_4sl08_spark.session import get_session  # noqa: E402

# Headline set: one per operator family, the shapes that matter at scale.
HEADLINE = [
    "wordcount_documents",        # the reference engine itself
    "q1_pricing_summary",         # scan-bound multi-measure agg
    "q3_shipping_priority",       # selective 3-way join + top-k
    "q5_local_supplier_volume",   # 6-table star join
    "q6_forecast_revenue",        # pushdown scan
    "join_left_order_counts",     # outer join + agg
    "window_topk_orders_per_customer",  # per-group top-k window
    "sort_customers_multi",       # global range sort (TeraSort pattern)
    "events_tumbling_hourly",     # streaming-twin window agg
    "events_sessionize",          # stateful sessionization twin
    "dedup_exact_documents",      # content-hash dedup
    "dedup_ngram_jaccard",        # AllPairs/PPJoin exact-Jaccard near-dup
    "dedup_minhash_lsh",          # MinHash-LSH near-dup (scale path)
    "simhash_dedup",              # banded SimHash near-dup
    "knn_bruteforce_cosine",      # vector similarity
    "multimodal_decode_stub",     # Arrow mapInPandas plumbing
    "events_user_features",       # per-user lag window + aggregates
    "pandas_udf_norms",           # Arrow pandas-UDF scalar path
    "q13_order_count_histogram",  # double aggregation
    "dedup_connected_components", # iterative label propagation
]


def run_query(spark, name: str, sf_dir: str) -> float:
    fn = QUERIES[name].fn
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def run_suite(spark, names, sf_dir: str, n_runs: int, runner=run_query):
    """Per-query fault isolation (VERDICT r8 item 3): one broken query
    must never zero the whole round's perf signal. A query that raises
    is recorded in ``errors`` (first line of the exception), skipped on
    later passes, and every other query still reports its timings."""
    samples: dict[str, list[float]] = {name: [] for name in names}
    errors: dict[str, str] = {}
    for _ in range(n_runs):
        _reset_memos(spark)
        for name in names:
            if name in errors:
                continue
            try:
                samples[name].append(runner(spark, name, sf_dir))
            except Exception as e:  # noqa: BLE001 — isolation is the point
                errors[name] = f"{type(e).__name__}: {e}".splitlines()[0][:300]
    return samples, errors


def _reset_memos(spark) -> None:
    """Restore first-invocation semantics between suite passes: several
    heavy queries memoize shared persisted indexes per (applicationId,
    sf_dir) — shingle index, verified near-dup pairs, CC labels,
    co-purchase edges. Without the reset, passes 2+ would time the
    memo-hit path (near-free) instead of the query. The table schema
    cache (sources/tables.py) survives the reset on purpose: it holds
    no session state, only each parquet file's schema per file stamp,
    and a real deployment infers it once per file, not once per query."""
    from mapreduce_4sl08_spark.plans import all_session_memos
    for memo in all_session_memos().values():
        memo.clear()
    spark.catalog.clearCache()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        pass  # non-numeric tag, e.g. the 10x key-shifted fixture "0.1x10"
    # clamp BEFORE session spin-up: 0/negative would leave every sample
    # list empty and statistics.median would raise after ~30 s of setup
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    spark = get_session("bench")

    # N full suite passes (not N back-to-back repeats of each query):
    # each pass starts with empty memos, so intra-pass index sharing —
    # e.g. connected components reusing the jaccard pair set — matches
    # the single-pass semantics of rounds 1-4 and per-query medians stay
    # comparable across rounds.
    samples, errors = run_suite(spark, HEADLINE, sf_dir, n_runs)

    import statistics
    medians: dict[str, float] = {}
    mins: dict[str, float] = {}
    for name, runs in samples.items():
        if not runs or name in errors:
            # an errored query reports ONLY under "errors", even if an
            # earlier pass timed it — a half-timed query in "queries"
            # would skew round-over-round medians comparisons
            continue
        # statistics.median averages the two middles for even run counts
        # (runs[n//2] would pick the slower one — with runs=2 that is the
        # cold pass, inflating every number)
        medians[name] = round(statistics.median(runs), 3)
        mins[name] = round(min(runs), 3)

    total = round(sum(medians.values()), 3)
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": medians,
        "queries_min": mins,
        "runs": n_runs,
        "sf": sf,
        # Cross-round box-state sentinels (VERDICT r20 item 4): two
        # fingerprint-pinned rows whose plans stay untouched round over
        # round (sort_customers_multi reads one small unquarantined
        # table; events_tumbling_hourly had identical fingerprints
        # through r19-r21). A uniform move in BOTH sentinels between
        # rounds is host drift — normalize the other rows by it before
        # calling a regression.
        "sentinel": {n: medians[n]
                     for n in ("sort_customers_multi",
                               "events_tumbling_hourly") if n in medians},
    }
    if errors:
        # partial total: "value" covers only the queries that ran, so a
        # round with an error is flagged loudly rather than looking fast
        out["errors"] = errors
        out["n_err"] = len(errors)
    print(json.dumps(out))
    spark.stop()
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
