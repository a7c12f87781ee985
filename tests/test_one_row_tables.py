"""Every registry query must agree with its oracle on SINGLE-ROW input
tables (r16; VERDICT r15 item 6 — the envelope edge the sf0 sweep
doesn't reach): aggregates over one row (stddev/corr of a singleton are
NULL in both engines — or had better be), percentile/median ties,
window frames of one, self-joins that produce zero pairs, graph ops on
a one-edge graph. The sf0 sweep proved execution on empty scopes; this
one asserts full VALUE equality (driver-strict compare_frames), because
a one-row scope exercises degenerate-denominator and tie-break paths
that empty scopes skip entirely.

The fixture takes the FIRST row of each sf0.001 table. Keys are not
referentially aligned across tables (lineitem row 0 need not belong to
orders row 0) — joins legitimately produce zero rows for some queries,
which is exactly the empty-join-over-non-empty-input shape a 100 TB
partition hits on a quiet tenant.
"""
import os

import duckdb
import pyarrow.parquet as pq
import pytest

from mapreduce_4sl08_spark.plans import QUERIES
from tests.conftest import SF_SMOKE as SRC
from tests.oracle import compare_frames
from tests.parallel_sweep import cursor_per_thread, reraise, selected, sweep

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


@pytest.fixture(scope="module")
def sf1row_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("sf1row")
    for t in TABLES:
        table = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        pq.write_table(table.slice(0, 1),
                       os.path.join(str(out), f"{t}.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def duck_sf1row(sf1row_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf1row_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def _swept(spark, sf1row_dir, duck_sf1row, request):
    duck = cursor_per_thread(duck_sf1row)

    def check(name):
        spec = QUERIES[name]
        spark_pdf = spec.fn(spark, sf1row_dir).toPandas()
        if spec.oracle is None:
            assert spark_pdf is not None
            return
        oracle_pdf = duck().execute(spec.oracle).fetchdf()
        compare_frames(spark_pdf, oracle_pdf, name)

    return sweep(selected(request, "test_query_matches_oracle_on_one_row_tables"), check)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle_on_one_row_tables(_swept, name):
    reraise(_swept, name)
