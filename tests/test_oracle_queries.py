"""t2-style correctness: every registry query with an oracle hash-matches
DuckDB at sf0.01 (the driver's own gate, run locally)."""

import pytest

from mapreduce_4sl08_spark.plans import QUERIES

from .oracle import compare_frames, duckdb_connection
from .parallel_sweep import cursor_per_thread, reraise, selected, sweep

ORACLE_SPECS = [s for s in QUERIES.values() if s.oracle]
# Every registry query must carry an oracle — rows-only entries were
# eliminated in round 3 (HLL → within_tol contract, PageRank → unrolled
# CTE); this assert keeps it that way.
NO_ORACLE_SPECS = [s for s in QUERIES.values() if not s.oracle]
assert not NO_ORACLE_SPECS, [s.name for s in NO_ORACLE_SPECS]


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


@pytest.fixture(scope="module")
def _swept(spark, con, sf_dir, request):
    duck = cursor_per_thread(con)

    def check(name):
        spec = QUERIES[name]
        compare_frames(spec.fn(spark, sf_dir).toPandas(),
                       duck().execute(spec.oracle).fetchdf(), name)

    return sweep(selected(request, "test_oracle_match"), check)


@pytest.mark.parametrize("spec", ORACLE_SPECS, ids=lambda s: s.name)
def test_oracle_match(_swept, spec):
    reraise(_swept, spec.name)


