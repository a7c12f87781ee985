"""Every registry query must be VALUE-EQUAL to its oracle when NULL
values land in non-key columns (at 100 TB, rows with a missing
embedding / text / timestamp are routine, not exotic).

Two fixtures, shared with tools/null_census.py via
tools/null_fixtures.py:

- same_row: two rows per table, every non-key column of row 1 nulled
  (the r16 original — all-null rows).
- staggered: four rows, nulls land on DIFFERENT rows per column family
  (row 1 strings, row 2 numerics, row 3 temporal/list) so "null X
  alongside live Y" is exercised — this is the fixture that caught the
  NaT→INT64_MIN span overflow, the NULLS FIRST/LAST percentile pick,
  and the sequence-boundary shifts the same-row fixture masked. It
  also carries the docs_with_embeddings unmasking rows by construction
  (NULL text + live embedding, and the converse — VERDICT r16 item 3).

History: the r16 census found 12 crashes (null vectors/payloads —
closed r16 with the uniform exclusion contract) and 14+ value
divergences held EXECUTION-ONLY behind a KNOWN_DIVERGENT list. r17
closed every one with a per-query contract (VERDICT r16 items 1-3):

- null-TIMESTAMP class: an event with no time carries no position on
  the time axis. Window-native plans (window()/session_window/
  posexplode(sequence)) already drop such rows in Spark — their
  oracles gained the matching WHERE; sequence/argmax/lag plans
  (sessionize, transition matrix, SCD2, paths, user features, latest-
  event, new-vs-returning) filter explicitly on BOTH sides, because
  Spark sorts NULL ts FIRST where DuckDB sorts it LAST.
- NULLS-ordering class: any rank/percentile over a nullable key pins
  one convention — oracle mirrors Spark's defaults (ASC NULLS FIRST /
  DESC NULLS LAST), or the nullable key is filtered before ranking
  (approx_percentile_check counts live prices only).
- null-TEXT class: NULL text yields no tokens/rows (posexplode
  semantics, mirrored oracle WHERE); prop_keys of NULL props is NULL.

The KNOWN_DIVERGENT list is gone. A new divergence on either fixture
is a FAILURE, not a census entry — shrink by aligning engines, never
by relaxing the compare.
"""
import os

import duckdb
import pytest

from mapreduce_4sl08_spark.plans import QUERIES
from tests.conftest import SF_SMOKE as SRC
from tests.oracle import compare_frames
from tests.parallel_sweep import cursor_per_thread, reraise, selected, sweep
from tools.null_fixtures import TABLES, build_same_row, build_staggered


@pytest.fixture(scope="module")
def sfnull_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sfnull"))
    return build_same_row(SRC, out)


@pytest.fixture(scope="module")
def duck_sfnull(sfnull_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sfnull_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def sfnull_staggered_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sfnull_stag"))
    return build_staggered(SRC, out)


@pytest.fixture(scope="module")
def duck_sfnull_staggered(sfnull_staggered_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sfnull_staggered_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def _swept_same_row(spark, sfnull_dir, duck_sfnull, request):
    duck = cursor_per_thread(duck_sfnull)

    def check(name):
        spec = QUERIES[name]
        spark_pdf = spec.fn(spark, sfnull_dir).toPandas()
        if spec.oracle is None:
            assert spark_pdf is not None
            return
        oracle_pdf = duck().execute(spec.oracle).fetchdf()
        compare_frames(spark_pdf, oracle_pdf, name)

    return sweep(selected(request, "test_query_handles_null_columns"), check)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_handles_null_columns(_swept_same_row, name):
    reraise(_swept_same_row, name)


@pytest.fixture(scope="module")
def _swept_staggered(spark, sfnull_staggered_dir, duck_sfnull_staggered, request):
    duck = cursor_per_thread(duck_sfnull_staggered)

    def check(name):
        spec = QUERIES[name]
        spark_pdf = spec.fn(spark, sfnull_staggered_dir).toPandas()
        if spec.oracle is None:
            assert spark_pdf is not None
            return
        oracle_pdf = duck().execute(spec.oracle).fetchdf()
        compare_frames(spark_pdf, oracle_pdf, name)

    return sweep(selected(request, "test_query_matches_oracle_on_staggered_nulls"), check)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle_on_staggered_nulls(_swept_staggered, name):
    reraise(_swept_staggered, name)
