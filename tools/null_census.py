#!/usr/bin/env python
"""r17 iteration loop for the null-value contract: run named queries
(default: every registry query) against BOTH null fixtures with the
FULL driver-strict value compare and print per-query verdicts.

    python tools/null_census.py [--fixture same_row|staggered|both] [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.null_fixtures import TABLES, build_same_row, build_staggered  # noqa: E402

SRC = "/root/testdata/sf0.001"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fixture", default="both",
                    choices=["same_row", "staggered", "both"])
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    from mapreduce_4sl08_spark.plans import QUERIES
    from tests.oracle import compare_frames

    names = args.names or sorted(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print("unknown queries:", ", ".join(unknown))
        return 2

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.ui.enabled", "false")
             # a TIMESTAMP(NANOS) events.parquet needs this;
             # session.ENGINE_CONF sets it for engine-built sessions
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .config("spark.sql.shuffle.partitions", "4")
             .getOrCreate())

    fixtures = (["same_row", "staggered"] if args.fixture == "both"
                else [args.fixture])
    bad = 0
    with tempfile.TemporaryDirectory() as tmp:
        for fix in fixtures:
            out = os.path.join(tmp, fix)
            os.makedirs(out, exist_ok=True)
            (build_same_row if fix == "same_row" else build_staggered)(SRC, out)
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * "
                            f"FROM '{out}/{t}.parquet'")
            for name in names:
                spec = QUERIES[name]
                try:
                    spark_pdf = spec.fn(spark, out).toPandas()
                    if spec.oracle is None:
                        print(f"OK(rows-only) {fix:9s} {name}")
                        continue
                    oracle_pdf = con.execute(spec.oracle).fetchdf()
                    compare_frames(spark_pdf, oracle_pdf, name)
                    print(f"OK            {fix:9s} {name}")
                except AssertionError as e:
                    bad += 1
                    print(f"MISMATCH      {fix:9s} {name} -- "
                          f"{str(e).splitlines()[0][:180]}")
                except Exception as e:
                    bad += 1
                    msg = traceback.format_exception_only(type(e), e)[-1]
                    print(f"CRASH         {fix:9s} {name} -- {msg.strip()[:180]}")
            con.close()
    print(f"\nTOTAL non-green: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
