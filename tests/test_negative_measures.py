"""Negative-measure contract (r18 --neg census): a refund /
correction / chargeback row — a NEGATED money or measure value — is
routine at 100 TB and must not split the engines.

What already held by construction (probed, not assumed): both Spark's
``div`` and DuckDB's ``//`` truncate toward zero on negatives, so the
exact integer-unit money identity in plans/relational.py is
sign-safe, and ROUND on the integer-valued cents operand has no ties.
What did not: DuckDB's ln/sqrt/log10 THROW on a non-positive argument
where Spark returns NULL (ln) or NaN (sqrt) — one refund row killed
the functions_showcase oracle. Contract: logarithms are defined for
positive arguments only; the oracle carries an explicit positivity
CASE arm mirroring Spark's native NULL (census 168/168 after,
logs/neg_census_r18_final.txt).

Fixture: row 2 of every float scalar measure negated; every registry
query must stay value-equal to its oracle.
"""
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapreduce_4sl08_spark.plans import QUERIES
from tests.conftest import SF_SMOKE as SRC
from tests.oracle import compare_frames
from tests.parallel_sweep import cursor_per_thread, reraise, selected, sweep
from tools.null_fixtures import KEY_COLS, TABLES


@pytest.fixture(scope="module")
def sfneg_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sfneg"))
    for t in TABLES:
        tab = pq.read_table(os.path.join(SRC, f"{t}.parquet")).slice(0, 4)
        d = tab.to_pydict()
        for col, field in zip(tab.column_names, tab.schema):
            if col.endswith("key") or col in KEY_COLS:
                continue
            if (pa.types.is_float64(field.type)
                    or pa.types.is_float32(field.type)):
                if d[col][2] is not None:
                    d[col][2] = -abs(d[col][2])
        pq.write_table(pa.table(d, schema=tab.schema),
                       os.path.join(out, f"{t}.parquet"))
    return out


@pytest.fixture(scope="module")
def duck_sfneg(sfneg_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sfneg_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def _swept(spark, sfneg_dir, duck_sfneg, request):
    duck = cursor_per_thread(duck_sfneg)

    def check(name):
        spec = QUERIES[name]
        spark_pdf = spec.fn(spark, sfneg_dir).toPandas()
        if spec.oracle is None:
            assert spark_pdf is not None
            return
        oracle_pdf = duck().execute(spec.oracle).fetchdf()
        compare_frames(spark_pdf, oracle_pdf, name)

    return sweep(selected(request, "test_query_matches_oracle_on_negative_measures"), check)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle_on_negative_measures(_swept, name):
    reraise(_swept, name)
