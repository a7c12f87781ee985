#!/usr/bin/env python
"""Interleaved same-process A/B of events_tumbling_hourly's exact-cents
sum vs a plain double SUM (VERDICT r10 item 4 / r11 item 5).

The driver bench for this query moved 0.45 s (r9, double form) ->
0.65 s (r10, cents form) -> 0.58 s (r11), within the documented
host-noise band; this measures the two forms back-to-back in ONE
process so host drift cancels. Usage:

    python tools/ab_tumbling_cents.py [sf_dir] [rounds]

Prints per-round times and the median for each arm.
"""
from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from mapreduce_4sl08_spark.plans.base import cents, dollars, t
    from mapreduce_4sl08_spark.plans.events import events_tumbling_hourly

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.ui.enabled", "false")
             # a TIMESTAMP(NANOS) events.parquet needs this;
             # session.ENGINE_CONF sets it for engine-built sessions
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .getOrCreate())

    def double_variant(spark: SparkSession, sf: str):
        e = t(spark, sf, "events")
        return (
            e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "sum_value")
            .orderBy("window_start", "event_type")
        )

    arms = {"cents": lambda: events_tumbling_hourly(spark, sf_dir),
            "double": lambda: double_variant(spark, sf_dir)}

    # warm both arms once (JIT/codegen/file-listing warmup)
    for name, build in arms.items():
        build().collect()

    times: dict[str, list[float]] = {k: [] for k in arms}
    for r in range(rounds):
        for name, build in arms.items():
            t0 = time.perf_counter()
            n = len(build().collect())
            dt = time.perf_counter() - t0
            times[name].append(dt)
            print(f"round {r + 1} {name:6s} {dt:6.3f} s ({n} rows)")
    for name, ts in times.items():
        print(f"MEDIAN {name:6s} {statistics.median(ts):6.3f} s "
              f"(min {min(ts):.3f}, max {max(ts):.3f}, n={rounds})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
