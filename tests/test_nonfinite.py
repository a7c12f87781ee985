"""Every registry query must be VALUE-EQUAL to its oracle when
non-finite doubles (NaN / +Inf / -Inf) land in float measure columns —
at 100 TB a dirty sensor value or a bad upstream division is routine,
and one such row must never abort the job (the r17 censuses found 25
queries throwing ANSI CAST_OVERFLOW on a single NaN) or silently change
an answer depending on which engine's NaN rules run.

The r18 contract (plans/base.py finite() / finite_sql() /
finite_frag()): **non-finite measure → NULL at ingestion**, routed
through cents()/cents_sql() (every exact-money path) and applied at
each censused raw-double ingestion (percentiles, stddev/variance,
min/max profile keys, histogram bucketing, grouped-map value deltas,
CASE bucketing and tolerance checks). NULL then flows through the null
contract the r17 round pinned end-to-end, which both engines already
agree on. What the contract deliberately does NOT do: queries whose
float aggregates propagate non-finite values IDENTICALLY in both
engines (e.g. a plain rounded AVG emitting NaN for a poisoned group)
keep propagation semantics — the poison stays visible, and the
quarantine surface (dq_constraint_report's *_finite constraint rows,
column_profile_*'s n_nonfinite column) is the designed place to catch
it before the finite()-guarded analytics drop it.

Fixture (tools/null_fixtures.build_nonfinite): all three classes in
the SAME table — NaN row 1, +Inf row 2, -Inf row 3 — which exercises
what the per-class censuses cannot: mixed-class groups and -Inf
(sorts opposite to NaN/+Inf in both engines).

A new divergence here is a FAILURE, not a census entry — align the
engines (usually: route the measure through finite()/finite_sql()),
never relax the compare. The full-registry single-class censuses
remain runnable as tools/nan_census.py [--inf] and now exit nonzero
on any non-OK row (logs/nan_census_r18.txt, logs/inf_census_r18.txt:
168/168 OK).
"""
import duckdb
import pytest

from mapreduce_4sl08_spark.plans import QUERIES
from tests.conftest import SF_SMOKE as SRC
from tests.oracle import compare_frames
from tests.parallel_sweep import cursor_per_thread, reraise, selected, sweep
from tools.null_fixtures import TABLES, build_nonfinite


@pytest.fixture(scope="module")
def sfnonfinite_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sfnonfinite"))
    return build_nonfinite(SRC, out)


@pytest.fixture(scope="module")
def duck_sfnonfinite(sfnonfinite_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sfnonfinite_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def _swept(spark, sfnonfinite_dir, duck_sfnonfinite, request):
    duck = cursor_per_thread(duck_sfnonfinite)

    def check(name):
        spec = QUERIES[name]
        spark_pdf = spec.fn(spark, sfnonfinite_dir).toPandas()
        if spec.oracle is None:
            assert spark_pdf is not None
            return
        oracle_pdf = duck().execute(spec.oracle).fetchdf()
        compare_frames(spark_pdf, oracle_pdf, name)

    return sweep(selected(request, "test_query_matches_oracle_on_nonfinite"), check)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle_on_nonfinite(_swept, name):
    reraise(_swept, name)


def test_quarantine_gates_report_nonfinite(spark, sfnonfinite_dir):
    """VERDICT r17 item 2: the quarantine surface must SAY what
    finite() drops. On this fixture every lineitem float measure
    carries exactly 3 non-finite values (NaN, +Inf, -Inf), and the
    orders price 3 — pinned as absolute counts so the counter can
    never silently become a no-op."""
    dq = {r["constraint_name"]: r["n_violations"]
          for r in QUERIES["dq_constraint_report"]
          .fn(spark, sfnonfinite_dir).collect()}
    for c in ("orders_totalprice_finite", "lineitem_quantity_finite",
              "lineitem_extendedprice_finite", "lineitem_discount_finite",
              "lineitem_tax_finite"):
        assert dq[c] == 3, f"{c}: expected 3 non-finite, got {dq[c]}"

    prof = {r["column_name"]: r["n_nonfinite"]
            for r in QUERIES["column_profile_lineitem"]
            .fn(spark, sfnonfinite_dir).collect()}
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        assert prof[col] == 3, f"profile {col}: {prof[col]} != 3"
    assert prof["l_orderkey"] == 0  # non-float columns report 0

    # the vector counter covers the NULL-ELEMENT class too (r19,
    # ADVICE r18): rows 1-3 carry a non-finite component, row 4 a NULL
    # component — all four are geometry-less and must be counted, not
    # silently dropped by vecs()/vec_finite_sql alone
    assert dq["embeddings_components_finite"] == 4, (
        f"embeddings_components_finite: expected 4 (3 non-finite + 1 "
        f"NULL-element), got {dq['embeddings_components_finite']}")


def test_vecs_drops_null_element_vector(spark, sfnonfinite_dir):
    """The [x, NULL, …] vector has no geometry: base.vecs() must
    exclude it (Spark already did via three-valued exists(); this pins
    the behavior so a refactor to an explicit predicate cannot
    accidentally KEEP the row, and the oracle twin's `x IS NULL` arm
    has a Spark-side anchor)."""
    from mapreduce_4sl08_spark.plans.base import vecs
    kept = {r.vec_id for r in
            vecs(spark, sfnonfinite_dir).select("vec_id").collect()}
    # rows 1-4 are poisoned (nan/+inf/-inf elements, NULL element) —
    # only row 0's vector survives
    assert len(kept) == 1, f"vecs() kept {sorted(kept)}, expected 1 row"


def test_cents_representable_counter_fires(spark, tmp_path):
    """ADVICE r18 item 2 (closed r19): a FINITE but cents-overflowing
    money value (1e17 dollars -> 1e19 cents > BIGINT max) is dropped
    by cents()'s TRY_CAST exactly like a NaN — the dq report must say
    so. Pins the three *_cents_representable counters at 1 on a
    fixture carrying one such value per column, the dq report
    oracle-equal on that fixture, and a money consumer (q1) value-
    equal — both engines drop the row's measure identically."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    for t in TABLES:
        tab = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        d = tab.to_pydict()
        if t == "orders":
            d["o_totalprice"][1] = 1e17
        elif t == "lineitem":
            d["l_extendedprice"][1] = 1e17
        elif t == "events":
            d["value"][1] = 1e17
        pq.write_table(pa.table(d, schema=tab.schema),
                       str(tmp_path / f"{t}.parquet"))
    sf = str(tmp_path)
    dq = {r["constraint_name"]: r["n_violations"]
          for r in QUERIES["dq_constraint_report"].fn(spark, sf).collect()}
    for c in ("orders_totalprice_cents_representable",
              "lineitem_extendedprice_cents_representable",
              "events_value_cents_representable"):
        assert dq[c] == 1, f"{c}: expected 1 overflow, got {dq[c]}"
    # ...and it is NOT double-counted as non-finite
    assert dq["orders_totalprice_finite"] == 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    for name in ("dq_constraint_report", "q1_pricing_summary"):
        spec = QUERIES[name]
        compare_frames(spec.fn(spark, sf).toPandas(),
                       con.execute(spec.oracle).fetchdf(), name)
