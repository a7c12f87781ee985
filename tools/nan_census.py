#!/usr/bin/env python
"""Non-finite-value census (r17 scoping; r18 closed the contract —
plans/base.py finite()/finite_sql()/finite_frag route every censused
measure ingestion to NULL-on-non-finite): inject NaN into every float64
non-key column of row 2 (live keys, live other columns) at sf0.001 and
run every registry (plan, oracle) pair with the driver-strict compare.

NaN is the axis the null fixtures cannot see: parquet doubles carry it
in the wild, Spark ANSI CAST(NaN AS BIGINT) throws where a NULL would
flow, both engines sort/group NaN with their own rules, and SUM
poisons the whole group.

Exit status (ADVICE r17 item 4): 0 only when every row is OK; 1 on any
mismatch/crash — this census is a gate now, not a scoping note, so a
regression fails CI the way null_census does.

    python tools/nan_census.py [--inf] [--vector] [name ...]

--inf injects +Infinity instead (the second non-finite class: Inf
survives casts that NaN does not, poisons sums without erroring, and
sorts as the true maximum in both engines — a DIFFERENT failure
surface).

--vector (r18 scoping for the r19 contract) leaves scalars clean and
poisons one ELEMENT of embeddings.embedding instead — the class the
scalar injection cannot see (a poisoned component flows through every
dot product / norm / centroid, and the NULL-embedding exclusion in
plans/base.vecs() does not catch it).
"""

from __future__ import annotations

import math
import os
import sys
import tempfile
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.null_fixtures import KEY_COLS, TABLES  # noqa: E402

SRC = "/root/testdata/sf0.001"


def build_nan(src: str, out: str, value: float = math.nan,
              vector: bool = False) -> str:
    """Scalar mode: inject into every float scalar non-key column of
    row 2. Vector mode (--vector, r18 scoping for the r19 contract):
    scalars stay CLEAN; instead one ELEMENT of embeddings.embedding on
    row 2 carries the non-finite value — the class the scalar censuses
    cannot see (a poisoned component silently corrupts every dot
    product / norm / centroid that vector touches)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    for t in TABLES:
        tab = pq.read_table(os.path.join(src, f"{t}.parquet")).slice(0, 4)
        d = tab.to_pydict()
        if vector:
            if t == "embeddings":
                vec = list(d["embedding"][2])
                vec[0] = value
                d["embedding"][2] = vec
        else:
            for col, field in zip(tab.column_names, tab.schema):
                if col.endswith("key") or col in KEY_COLS:
                    continue
                if (pa.types.is_float64(field.type)
                        or pa.types.is_float32(field.type)):
                    d[col][2] = value
        pq.write_table(pa.table(d, schema=tab.schema),
                       os.path.join(out, f"{t}.parquet"))
    return out


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    from mapreduce_4sl08_spark.plans import QUERIES
    from tests.oracle import compare_frames

    args = sys.argv[1:]
    inject = math.inf if "--inf" in args else math.nan
    vector = "--vector" in args
    names = ([a for a in args if a not in ("--inf", "--vector")]
             or sorted(QUERIES))
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
    ok = mismatch = crash_s = crash_o = 0
    with tempfile.TemporaryDirectory() as tmp:
        build_nan(SRC, tmp, inject, vector=vector)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{tmp}/{t}.parquet'")
        for name in names:
            spec = QUERIES[name]
            try:
                spark_pdf = spec.fn(spark, tmp).toPandas()
            except Exception as e:
                crash_s += 1
                msg = traceback.format_exception_only(type(e), e)[-1]
                print(f"CRASH-SPARK   {name} -- {msg.strip()[:160]}")
                continue
            if spec.oracle is None:
                ok += 1
                print(f"OK(rows-only) {name}")
                continue
            try:
                oracle_pdf = con.execute(spec.oracle).fetchdf()
            except Exception as e:
                crash_o += 1
                msg = traceback.format_exception_only(type(e), e)[-1]
                print(f"CRASH-ORACLE  {name} -- {msg.strip()[:160]}")
                continue
            try:
                compare_frames(spark_pdf, oracle_pdf, name)
                ok += 1
                print(f"OK            {name}")
            except AssertionError as e:
                mismatch += 1
                print(f"MISMATCH      {name} -- "
                      f"{str(e).splitlines()[0][:160]}")
    label = "INF" if inject == math.inf else "NAN"
    if vector:
        label += "-VECTOR"
    print(f"\n{label} CENSUS: OK={ok} MISMATCH={mismatch} "
          f"CRASH-SPARK={crash_s} CRASH-ORACLE={crash_o}")
    return 1 if (mismatch or crash_s or crash_o) else 0


if __name__ == "__main__":
    sys.exit(main())
