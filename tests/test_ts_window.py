"""Timestamp-representability contract (r18 census → r19 enforcement).

The engine's Arrow/pandas crossings (grouped-map ops, the driver's own
comparison harness) can only represent timestamps inside the
datetime64[ns] window [1677-09-21, 2262-04-11] — a year-9999 value
crashes them with OutOfBoundsDatetime (21 queries in the r18 wide
census, logs/ts_extremes_census_r18_wide.txt). The contract:

- INSIDE the window, value equality holds registry-wide at the far
  edges (tools/extremes_census.py --ts: 168/168 OK at 1678/2262 after
  the to_seconds() oracle fix — DuckDB's ``BIGINT * INTERVAL 1
  SECOND`` casts the multiplier to INT32 and overflowed at year 2038).
- OUTSIDE the window, rows are EXCLUDED at the ingestion choke point
  (r19, VERDICT r18 item 1): sources.tables.load_table filters them at
  the scan, and every ts-reading oracle applies the identical WHERE
  through a mechanically-prepended shadow CTE
  (plans/registry._wrap_ts_quarantine) — so one year-9999 row no
  longer aborts the 21 pandas-crossing queries; it silently —
  NO: observably — drops out, counted by dq_constraint_report's
  ``*_ts_representable`` rows, which read the tables RAW
  (quarantine=False) so the upstream census can still see the rows.

This module pins all three layers on a year-9999/year-1 fixture:
the dq counters fire, the dq report itself stays oracle-equal, and —
the r19 "done" bar — EVERY registry query runs the full driver-strict
value compare with the out-of-window rows present end-to-end.
"""
import duckdb
import pytest

from mapreduce_4sl08_spark.plans import QUERIES
from tests.conftest import SF_SMOKE as SRC
from tests.oracle import compare_frames
from tests.parallel_sweep import cursor_per_thread, reraise, selected, sweep
from tools.extremes_census import build_ts_wide
from tools.null_fixtures import TABLES


@pytest.fixture(scope="module")
def sftswide_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sftswide"))
    return build_ts_wide(SRC, out)


@pytest.fixture(scope="module")
def duck_sftswide(sftswide_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sftswide_dir}/{t}.parquet'")
    return con


def test_dq_counts_out_of_window_timestamps(spark, sftswide_dir,
                                            duck_sftswide):
    rows = {r["constraint_name"]: r["n_violations"]
            for r in QUERIES["dq_constraint_report"]
            .fn(spark, sftswide_dir).collect()}
    for c in ("orders_orderdate_ts_representable",
              "lineitem_shipdate_ts_representable",
              "events_ts_representable"):
        assert rows[c] == 2, f"{c}: expected 2 out-of-window, got {rows[c]}"

    # and the dq report stays oracle-equal on data its downstream
    # pandas-crossing consumers cannot even convert
    spec = QUERIES["dq_constraint_report"]
    compare_frames(spec.fn(spark, sftswide_dir).toPandas(),
                   duck_sftswide.execute(spec.oracle).fetchdf(),
                   "dq_ts_window")


def test_quarantine_excludes_rows_at_scan(spark, sftswide_dir):
    """The enforcement itself: a quarantined load of each ts-bearing
    table drops exactly the 2 out-of-window rows (and ONLY those — a
    NULL ts row belongs to the null contract, not this one)."""
    from mapreduce_4sl08_spark.sources.tables import (
        TS_QUARANTINE_COLS, load_table,
    )
    for table in TS_QUARANTINE_COLS:
        raw = load_table(spark, sftswide_dir, table,
                         quarantine=False).count()
        kept = load_table(spark, sftswide_dir, table).count()
        assert raw - kept == 2, (
            f"{table}: quarantine dropped {raw - kept} rows, expected 2")


def test_quarantine_window_edges_are_inclusive(spark, tmp_path):
    """The window boundary itself: a row AT TS_WINDOW_LO/HI is kept
    (BETWEEN is inclusive on both engines), one second outside is
    dropped — pinned so the bounds can't drift off the dq counters'
    definition (which counts strictly-outside values)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_4sl08_spark.sources.tables import (
        TS_WINDOW_HI, TS_WINDOW_LO, load_table,
    )
    fmt = "%Y-%m-%d %H:%M:%S"
    lo = datetime.datetime.strptime(TS_WINDOW_LO, fmt)
    hi = datetime.datetime.strptime(TS_WINDOW_HI, fmt)
    src = pq.read_table(f"{SRC}/events.parquet").slice(0, 4)
    d = src.to_pydict()
    d["ts"][0] = lo
    d["ts"][1] = hi
    d["ts"][2] = lo - datetime.timedelta(seconds=1)
    d["ts"][3] = hi + datetime.timedelta(seconds=1)
    pq.write_table(pa.table(d, schema=src.schema),
                   str(tmp_path / "events.parquet"))
    kept = {r.event_id for r in
            load_table(spark, str(tmp_path), "events")
            .select("event_id").collect()}
    assert kept == {d["event_id"][0], d["event_id"][1]}, (
        f"edge rows mis-quarantined: kept {kept}")


@pytest.fixture(scope="module")
def _swept(spark, sftswide_dir, duck_sftswide, request):
    duck = cursor_per_thread(duck_sftswide)

    def check(name):
        spec = QUERIES[name]
        spark_pdf = spec.fn(spark, sftswide_dir).toPandas()
        if spec.oracle is None:
            assert spark_pdf is not None
            return
        oracle_pdf = duck().execute(spec.oracle).fetchdf()
        compare_frames(spark_pdf, oracle_pdf, name)

    return sweep(selected(request, "test_query_matches_oracle_on_out_of_window_ts"), check)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle_on_out_of_window_ts(_swept, name):
    """The r19 'done' bar (VERDICT r18 item 1): the full driver-strict
    value compare for every registry query with year-9999/year-1 rows
    flowing end-to-end — both engines must exclude them identically
    (or, for the raw-reading quality gates, count them identically)."""
    reraise(_swept, name)
