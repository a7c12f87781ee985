"""Zero-norm-vector contract (r18 zero-vector census): an all-zeros
embedding is VALID data for magnitude-free operators (centroids,
k-means distances, quantization, dim stats — all were green in the
census) but has NO DIRECTION, so cosine similarity against it is
undefined. The census found one zero vector ABORTING all six
cosine-class queries with ANSI DIVIDE_BY_ZERO (while DuckDB's ``/``
yields NULL natively). Contract: cosine normalization runs through
try_divide → NULL similarity, which sinks to the bottom of DESC
rankings identically in both engines (both default NULLS LAST under
DESC) and is dropped by threshold filters; the one ASC ranking
(embedding_label_outliers) excludes NULL sims on both sides because
the engines' ASC null positions split.

r18 --shortvec extension: a TRUNCATED vector (wrong dimensionality —
a corrupt or partially-written record) errors DuckDB's
list_dot_product, raises in numpy stacking, and silently splits every
per-dimension aggregate; contract: excluded at vecs() against the
declared base.EMB_DIM, mirrored by vec_finite_sql() in every
embeddings oracle (single-source-enforced by
test_registry_invariants.test_vector_oracles_carry_canonical_exclusion),
and counted by dq_constraint_report's embeddings_dim_conformant row.

Fixture: embeddings row 2 becomes all zeros, row 3 is truncated to 3
elements; every registry query must stay value-equal to its oracle
(the full envelope-sweep discipline — non-vector queries prove the
fixture changes nothing for them).
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
from tools.null_fixtures import TABLES


@pytest.fixture(scope="module")
def sfzerovec_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sfzerovec"))
    for t in TABLES:
        tab = pq.read_table(os.path.join(SRC, f"{t}.parquet")).slice(0, 4)
        if t == "embeddings":
            d = tab.to_pydict()
            d["embedding"][2] = [0.0] * len(d["embedding"][2])
            d["embedding"][3] = list(d["embedding"][3])[:3]
            tab = pa.table(d, schema=tab.schema)
        pq.write_table(tab, os.path.join(out, f"{t}.parquet"))
    return out


@pytest.fixture(scope="module")
def duck_sfzerovec(sfzerovec_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sfzerovec_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def _swept(spark, sfzerovec_dir, duck_sfzerovec, request):
    duck = cursor_per_thread(duck_sfzerovec)

    def check(name):
        spec = QUERIES[name]
        spark_pdf = spec.fn(spark, sfzerovec_dir).toPandas()
        if spec.oracle is None:
            assert spark_pdf is not None
            return
        oracle_pdf = duck().execute(spec.oracle).fetchdf()
        compare_frames(spark_pdf, oracle_pdf, name)

    return sweep(selected(request, "test_query_matches_oracle_on_zero_vector"), check)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle_on_zero_vector(_swept, name):
    reraise(_swept, name)


def test_quarantine_counts_degenerate_vectors(spark, sfzerovec_dir):
    """The dq report must SAY what vecs() drops: exactly one
    wrong-dimension vector on this fixture (the zero vector is NOT a
    violation — it is valid for magnitude-free operators)."""
    rows = {r["constraint_name"]: r["n_violations"]
            for r in QUERIES["dq_constraint_report"]
            .fn(spark, sfzerovec_dir).collect()}
    assert rows["embeddings_dim_conformant"] == 1
    assert rows["embeddings_components_finite"] == 0
