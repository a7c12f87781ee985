#!/usr/bin/env python
"""Extreme-value census (r18 scoping, same cadence as the null /
whitespace / malformed-props / non-finite censuses): run every
registry (plan, oracle) pair with the driver-strict compare over a
fixture carrying one pathological-but-representable value per class.

    python tools/extremes_census.py --ts       # extreme timestamps
    python tools/extremes_census.py --tswide   # OUT-OF-WINDOW timestamps
    python tools/extremes_census.py --zerovec  # all-zeros embedding
    python tools/extremes_census.py --neg      # negated money measures
    python tools/extremes_census.py --shortvec # truncated embedding
    python tools/extremes_census.py --dup      # duplicated first row
    python tools/extremes_census.py --proptype # type-mismatched $.k
    python tools/extremes_census.py --negzero  # signed-zero measures
    python tools/extremes_census.py --soup     # ALL classes composed

--ts: row 2 of every non-key timestamp/date column gets 2262-01-01,
row 3 (where present) 1678-01-01 — the far edges of the
REPRESENTABLE window. The operational story this probes is not
exotic: one corrupt far-future timestamp makes every
date-spine/sequence plan (gap fill, calendar densification,
posexplode(sequence(...))) materialize a ~100k-element array per
generated spine, and stretches "days since" arithmetic into values
downstream integer-width casts may not hold.

--tswide: rows 2/3 carry year-9999 / year-1 values — OUTSIDE the
pandas datetime64[ns] window [1677-09-21, 2262-04-11]. In r18 these
crashed 21 pandas-crossing queries (OutOfBoundsDatetime in the
conversion layer, logs/ts_extremes_census_r18_wide.txt) and were
pinned as detect-only quarantine material. r19 (VERDICT item 1)
ENFORCES the quarantine at the sources.tables.load_table choke point
with a mirrored shadow CTE in every ts-reading oracle, so this mode
must be 168/168 OK with the dirty rows flowing END-TO-END: the
analytics exclude them identically on both engines, and the raw-
reading quality gates (dq report, column profiles) count them.

--neg: row 2 of every float scalar measure becomes its negation (a
refund / correction / chargeback row — routine at 100 TB). The known
hazards: the integer-unit div identity and ROUND agree on negatives in
both engines (probed: both `div`/`//` truncate toward zero), but
DuckDB's ln/sqrt/log10 THROW on a negative argument where Spark
returns NULL/NaN, and sign-sensitive CASE/range logic may bucket a
refund differently per engine.

--shortvec: embeddings.embedding row 2 is truncated to 3 elements (a
corrupt/partially-written vector). DuckDB's list_dot_product ERRORS on
mismatched lengths; Spark's zip_with pads the short side with NULL and
the fold turns the whole dot product NULL — one truncated vector can
abort an oracle or silently drop/derank rows.

--dup boundary: the dedup/cluster family (_DUP_BOUNDARY below) is
DEFINED over key-unique corpora — duplicated doc_ids make the entity
itself ambiguous, so their cross-engine divergence on this fixture is
a documented precondition violation, not a bug; the quarantine report
counts ``*_pk_unique`` violations upstream. Those rows print
BOUNDARY and do not fail the exit status; every OTHER query must
still be value-equal (joins fan out N×M identically, argmax picks
among identical payloads, distinct collapses).

--proptype (r19, VERDICT r18 item 4): events.props rows 1-9 carry
VALID JSON objects whose $.k value is type-mismatched for the int
extraction — a non-numeric string, a string-typed integer, an array,
an int32-overflow integer, a whitespace-padded string-int, and (r20,
ADVICE r19 item 2) the numeric-coercion classes: a DOUBLE-typed
integer value 20.0 (divisible by 10 — the row the pre-r20 variant
path silently KEPT while the oracle dropped it), a non-integer double
1.5, and a boolean. The contract (probed per engine pair):
mismatched value → NULL extraction on BOTH sides — Spark via
try_cast / schema-gated try_variant_get / PERMISSIVE from_json
map-nulling, DuckDB via the strict-integer regex mirror
(plans/events._K_STRICT) and the map-level arm
(plans/extended._MAP_BAD_VALUE).

--negzero (r19): row 2 of every float scalar measure becomes -0.0 —
IEEE signed zero survives parquet round-trips and arises from rounding
a tiny negative number. The hazards probed before building: both
engines' GROUP BY collapse ±0.0 into one group; the exact-cents cast
maps -0.0 to integer 0 on both sides; but a -0.0 DENOMINATOR splits
engines (Spark x/-0.0 → ±Inf, DuckDB → NULL) — the census proves no
query lets a raw measure reach a denominator unguarded.

--zerovec: embeddings.embedding row 2 becomes all zeros (norm 0).
Cosine similarity against it is 0/0 — double division yields NaN in
BOTH engines silently (no ANSI error: ANSI guards integer division
only), so the question is whether every ranking/threshold treats that
NaN identically.

Exit status: 0 only when every row is OK; 1 otherwise (gate-ready,
matching nan_census).
"""

from __future__ import annotations

import datetime
import os
import sys
import tempfile
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.null_fixtures import KEY_COLS, TABLES  # noqa: E402

SRC = "/root/testdata/sf0.001"

#: far edges of the pandas datetime64[ns] window (the representable
#: contract — see module docstring)
TS_MAX = datetime.datetime(2262, 1, 1, 0, 0, 0)
TS_MIN = datetime.datetime(1678, 1, 1, 0, 0, 0)

#: dedup/cluster operators whose semantics REQUIRE key-unique input
#: (quarantined upstream by dq_constraint_report's *_pk_unique rows) —
#: divergence on the --dup fixture is the documented precondition
#: violation, not an engine split
_DUP_BOUNDARY = frozenset({
    "cluster_best_survivor", "corpus_curation_pipeline",
    "dedup_cluster_stats", "dedup_connected_components",
    "winnowing_fingerprints",
})


def _build_ts(src: str, out: str, ts_max: datetime.datetime,
              ts_min: datetime.datetime) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq
    for t in TABLES:
        tab = pq.read_table(os.path.join(src, f"{t}.parquet")).slice(0, 4)
        d = tab.to_pydict()
        nrows = len(tab)
        for col, field in zip(tab.column_names, tab.schema):
            if col.endswith("key") or col in KEY_COLS:
                continue
            ty = field.type
            if pa.types.is_timestamp(ty):
                if 2 < nrows:
                    d[col][2] = ts_max
                if 3 < nrows:
                    d[col][3] = ts_min
            elif pa.types.is_date(ty):
                if 2 < nrows:
                    d[col][2] = ts_max.date()
                if 3 < nrows:
                    d[col][3] = ts_min.date()
        pq.write_table(pa.table(d, schema=tab.schema),
                       os.path.join(out, f"{t}.parquet"))
    return out


def build_ts_extremes(src: str, out: str) -> str:
    return _build_ts(src, out, TS_MAX, TS_MIN)


def build_ts_wide(src: str, out: str) -> str:
    """Out-of-window rows (year 9999 / year 1) — the quarantine class
    the r19 load_table filter + oracle shadow CTEs must EXCLUDE
    identically on both engines."""
    return _build_ts(src, out,
                     datetime.datetime(9999, 12, 31, 23, 59, 59),
                     datetime.datetime(1, 1, 2, 0, 0, 0))


def build_negated(src: str, out: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq
    for t in TABLES:
        tab = pq.read_table(os.path.join(src, f"{t}.parquet")).slice(0, 4)
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


def build_neg_zero(src: str, out: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq
    for t in TABLES:
        tab = pq.read_table(os.path.join(src, f"{t}.parquet")).slice(0, 4)
        d = tab.to_pydict()
        for col, field in zip(tab.column_names, tab.schema):
            if col.endswith("key") or col in KEY_COLS:
                continue
            if (pa.types.is_float64(field.type)
                    or pa.types.is_float32(field.type)):
                if d[col][2] is not None:
                    d[col][2] = -0.0
        pq.write_table(pa.table(d, schema=tab.schema),
                       os.path.join(out, f"{t}.parquet"))
    return out


def build_soup(src: str, out: str) -> str:
    """--soup (r19 capstone): EVERY quarantine/contract class at once,
    on different rows of an 8-row slice — the isolation censuses prove
    each contract alone; this proves they COMPOSE (a NaN measure next
    to a year-9999 timestamp next to a corrupt vector next to a
    type-mismatched props value, all in one batch, like real dirty
    data arrives). Layout per table: row 1 NaN measures, row 2 +Inf,
    row 3 -Inf AND year-9999 temporal, row 4 year-1 temporal, row 5
    NULL measures/text, row 6 -0.0 measures; embeddings additionally:
    row 1 NaN element, row 2 +Inf element, row 3 truncated, row 4 NULL
    element, row 5 NULL vector, row 6 all-zeros; events.props rows 1-7
    cycle the malformed + type-mismatched + coercion classes (row 7:
    the DOUBLE-typed 20.0 that splits cardinality without the r20
    variant schema gate)."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq
    props_dirt = ['{"k":', "not json", '{"k": "abc"}', '{"k": [1]}',
                  None, '{"k": " 20 "}', '{"k": 20.0}']
    for t in TABLES:
        tab = pq.read_table(os.path.join(src, f"{t}.parquet")).slice(0, 8)
        d = tab.to_pydict()
        nrows = len(tab)
        for col, field in zip(tab.column_names, tab.schema):
            if col.endswith("key") or col in KEY_COLS:
                continue
            ty = field.type
            if pa.types.is_float64(ty) or pa.types.is_float32(ty):
                for row, val in ((1, math.nan), (2, math.inf),
                                 (3, -math.inf), (5, None), (6, -0.0)):
                    if row < nrows:
                        d[col][row] = val
            elif pa.types.is_timestamp(ty):
                if 3 < nrows:
                    d[col][3] = datetime.datetime(9999, 12, 31, 23, 59, 59)
                if 4 < nrows:
                    d[col][4] = datetime.datetime(1, 1, 2, 0, 0)
                if 5 < nrows:
                    d[col][5] = None
            elif ((pa.types.is_string(ty) or pa.types.is_large_string(ty))
                  and col != "lang"):
                # lang stays live: it is a dedup-family grouping key and
                # the per-language plans key on it
                if 5 < nrows:
                    d[col][5] = None
        if t == "events":
            for i, p in enumerate(props_dirt, start=1):
                if i < nrows:
                    d["props"][i] = p
        if t == "embeddings":
            emb = d["embedding"]
            dim = len(emb[0])
            if 1 < nrows and emb[1] is not None:
                v = list(emb[1]); v[0] = math.nan; emb[1] = v
            if 2 < nrows and emb[2] is not None:
                v = list(emb[2]); v[0] = math.inf; emb[2] = v
            if 3 < nrows and emb[3] is not None:
                emb[3] = list(emb[3])[:3]
            if 4 < nrows and emb[4] is not None:
                v = list(emb[4]); v[1] = None; emb[4] = v
            if 5 < nrows:
                emb[5] = None
            if 6 < nrows:
                emb[6] = [0.0] * dim
        pq.write_table(pa.table(d, schema=tab.schema),
                       os.path.join(out, f"{t}.parquet"))
    return out


def build_zero_vector(src: str, out: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq
    for t in TABLES:
        tab = pq.read_table(os.path.join(src, f"{t}.parquet")).slice(0, 4)
        if t == "embeddings":
            d = tab.to_pydict()
            d["embedding"][2] = [0.0] * len(d["embedding"][2])
            tab = pa.table(d, schema=tab.schema)
        pq.write_table(tab, os.path.join(out, f"{t}.parquet"))
    return out


def build_duplicated(src: str, out: str) -> str:
    """--dup (r18 scoping): row 0 of EVERY table appended verbatim — a
    reingested/replayed batch duplicating primary keys. The hazards:
    rank/argmax plans whose FULL sort key ties on the duplicate (the
    row_number pick becomes arbitrary but value-equal only if the
    payload is identical — verbatim duplication makes it so, isolating
    the semantics question), joins fanning out N×M, and
    distinct-vs-count splits."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    for t in TABLES:
        tab = pq.read_table(os.path.join(src, f"{t}.parquet")).slice(0, 4)
        pq.write_table(pa.concat_tables([tab, tab.slice(0, 1)]),
                       os.path.join(out, f"{t}.parquet"))
    return out


#: the pinned type-mismatch classes (see --proptype in the docstring);
#: the last row's value parses to a TAB-prefixed string-int — Spark's
#: cast trims it, so the oracle's strict-integer regex must too
TYPE_MISMATCH_PROPS = ['{"k": "abc"}', '{"k": "7"}', '{"k": [1]}',
                       '{"k": 99999999999999}', '{"k": " 20 "}',
                       '{"k": "\\t9"}',
                       # r20 coercion classes (ADVICE r19 item 2): the
                       # DOUBLE-typed 20.0 is the cardinality-split row
                       # (% 10 == 0) the schema gate now drops engine-
                       # identically; 1.5/true pin truncation/boolean
                       '{"k": 20.0}', '{"k": 1.5}', '{"k": true}']


def build_prop_type_mismatch(src: str, out: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq
    for t in TABLES:
        tab = pq.read_table(os.path.join(src, f"{t}.parquet"))
        if t == "events":
            d = tab.to_pydict()
            for i, p in enumerate(TYPE_MISMATCH_PROPS, start=1):
                if i < len(tab):
                    d["props"][i] = p
            tab = pa.table(d, schema=tab.schema)
        pq.write_table(tab, os.path.join(out, f"{t}.parquet"))
    return out


def build_short_vector(src: str, out: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq
    for t in TABLES:
        tab = pq.read_table(os.path.join(src, f"{t}.parquet")).slice(0, 4)
        if t == "embeddings":
            d = tab.to_pydict()
            d["embedding"][2] = list(d["embedding"][2])[:3]
            tab = pa.table(d, schema=tab.schema)
        pq.write_table(tab, os.path.join(out, f"{t}.parquet"))
    return out


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    from mapreduce_4sl08_spark.plans import QUERIES
    from tests.oracle import compare_frames

    args = sys.argv[1:]
    mode = ("tswide" if "--tswide" in args
            else "ts" if "--ts" in args
            else "zerovec" if "--zerovec" in args
            else "neg" if "--neg" in args
            else "shortvec" if "--shortvec" in args
            else "dup" if "--dup" in args
            else "proptype" if "--proptype" in args
            else "negzero" if "--negzero" in args
            else "soup" if "--soup" in args else None)
    if mode is None:
        print("pick a mode: --ts, --tswide, --zerovec, --neg, "
              "--shortvec, --dup, --proptype, --negzero or --soup")
        return 2
    names = ([a for a in args if not a.startswith("--")]
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
        {"ts": build_ts_extremes, "tswide": build_ts_wide,
         "zerovec": build_zero_vector,
         "neg": build_negated, "shortvec": build_short_vector,
         "dup": build_duplicated,
         "proptype": build_prop_type_mismatch,
         "negzero": build_neg_zero,
         "soup": build_soup}[mode](SRC, tmp)
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
                if mode == "dup" and name in _DUP_BOUNDARY:
                    ok += 1  # documented precondition violation
                    print(f"BOUNDARY      {name} -- key-unique "
                          f"precondition (quarantined by *_pk_unique)")
                    continue
                mismatch += 1
                print(f"MISMATCH      {name} -- "
                      f"{str(e).splitlines()[0][:160]}")
    print(f"\n{mode.upper()} CENSUS: OK={ok} MISMATCH={mismatch} "
          f"CRASH-SPARK={crash_s} CRASH-ORACLE={crash_o}")
    return 1 if (mismatch or crash_s or crash_o) else 0


if __name__ == "__main__":
    sys.exit(main())
