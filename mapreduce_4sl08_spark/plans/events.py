"""Event-stream-shaped plans over the `events` table (batch semantics;
the same logic is exposed as true Structured Streaming in
``mapreduce_4sl08_spark.streaming`` — these batch twins are what the
DuckDB oracle can check).

Covers: tumbling/sliding windows, sessionization (gaps-and-islands),
JSON extraction, exact stream dedup, as-of join. Watermark/late-data
semantics are exercised in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from .base import (
    QuerySpec, cents, cents_sql, dollars, finite, finite_sql, session_memo, t,
)
from .warehouse import _share_e6_expr

#: oracle fragment for every exact-cents ``sum_value`` in this module
_SUM_VALUE_SQL = (f"CAST(SUM({cents_sql('value')}) AS DOUBLE) / 100.0"
                  " AS sum_value")

# Null-timestamp contract (r17, VERDICT r16 item 1): an event with a
# NULL ts carries no position on the time axis, so every time-bucketed
# or sequence-ordered plan in this module EXCLUDES it. For plans built
# on Spark's window()/session_window()/posexplode(sequence(...)) the
# exclusion is Spark's own semantics (null-ts rows never enter a
# window) and only the oracle needs the matching WHERE ts IS NOT NULL;
# for gaps-and-islands / lag-ordered plans Spark would otherwise sort
# NULL ts FIRST while DuckDB sorts it LAST (divergent sequence
# boundaries — the r16 staggered-null census), so those filter
# explicitly on BOTH sides.

# ------------------------------------------------------------ tumbling


def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window(ts, 1 hour): epoch-aligned tumbling window agg. In streaming
    this is the canonical watermarked agg; shuffle keys = (window, type)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        # exact-cents sum (plans/base.py block): a double SUM per
        # (window, type) group is unbounded at 100 TB — same class as
        # q1's r9 10x catch
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(cents("value")).alias("_sv_c"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", dollars("_sv_c", "sum_value"))
        .orderBy("window_start", "event_type")
    )


EVENTS_TUMBLING_SQL = f"""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       {_SUM_VALUE_SQL}
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
ORDER BY window_start, event_type
"""

# ------------------------------------------------------------ sliding


def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window(ts, 1 hour, 30 min): each event lands in 2 windows."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        # avg kept in exact integer arithmetic end-to-end: double
        # summation order differs between engines and 2-dec data lands
        # exactly on round() ties, where Spark (decimal HALF_UP) and
        # DuckDB (binary away-from-zero) disagree — so sum exact cents,
        # floor-divide in 1e-4 units, and only then go to double
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(cents("value")).alias("sum_cents"))
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            (F.expr("(sum_cents * 100) div n_events") / 10000.0).alias("avg_value"),
        )
        .orderBy("window_start")
    )


# Oracle: replicate each event into its 2 containing 30-min-aligned
# 1-hour windows via a 2-element offset unnest. NOTE: built as a naive
# TIMESTAMP arithmetic expression, NOT to_timestamp() — DuckDB's
# to_timestamp returns TIMESTAMP WITH TIME ZONE, which fails the
# driver's strict schema comparison against Spark's naive window start.
EVENTS_SLIDING_SQL = f"""
WITH exploded AS (
  -- to_seconds(BIGINT), NOT "x * INTERVAL 1 SECOND": DuckDB casts an
  -- interval MULTIPLIER to INT32, so the multiply form overflows for
  -- any epoch past 2^31 s = year 2038 (r18 ts-extremes census find —
  -- a latent near-term bug, not an exotic one)
  SELECT TIMESTAMP '1970-01-01'
           + to_seconds(CAST(floor(epoch(ts) / 1800) * 1800 - o * 1800 AS BIGINT))
             AS window_start,
         value
  FROM events, UNNEST([0, 1]) AS u(o)
  WHERE ts IS NOT NULL
)
SELECT window_start, n_events,
       ((sum_cents * 100) // n_events) / 10000.0 AS avg_value
FROM (
  SELECT window_start, COUNT(*) AS n_events,
         SUM({cents_sql('value')}) AS sum_cents
  FROM exploded
  GROUP BY 1
)
ORDER BY window_start
"""

# ------------------------------------------------------------ sessionization
# Batch twin of session_window(ts, '30 minutes'): classic gaps-and-islands.


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # null-ts contract (module note above): sequence boundaries are
    # undefined for an event with no time — exclude on BOTH sides.
    # fanout: the user_id-hash exchange it adds is exactly the window's
    # required ClusteredDistribution, so the lag/sum windows below reuse
    # it instead of shuffling post-normalization rows (r21: 0.94x)
    e = t(spark, sf_dir, "events", fanout=True).filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
    sessions = (
        e.withColumn("new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("session_seq", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count(F.lit(1)).alias("n_events"),
             F.sum(cents("value")).alias("_sv_c"))
        .select("user_id", "session_seq", "session_start", "session_end",
                "n_events", dollars("_sv_c", "sum_value"))
        .orderBy("user_id", "session_seq")
    )


EVENTS_SESSION_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) IS NULL
               OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
numbered AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq::BIGINT AS session_seq,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events, {_SUM_VALUE_SQL}
FROM numbered
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""

# Windowed top-k: the canonical "trending items per window" streaming
# analytics shape — window agg then per-window rank. Rank runs per
# window partition (thousands of windows → thousands of partitions), so
# no global-sort bottleneck at scale.


def events_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    counts = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("w").orderBy(F.col("n").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select(F.col("w.start").alias("window_start"), "rk", "event_type", "n")
        .orderBy("window_start", "rk")
    )


EVENTS_WINDOWED_TOPK_SQL = """
WITH counts AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n
  FROM events
  WHERE ts IS NOT NULL
  GROUP BY 1, 2
),
ranked AS (
  -- NULLS FIRST mirrors Spark's ASC default: event_type is nullable
  -- and feeds a rank, so the tie-break convention is value-relevant
  -- (r17 ordering contract, VERDICT r16 item 2)
  SELECT window_start, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY window_start
                            ORDER BY n DESC, event_type ASC NULLS FIRST) AS rk
  FROM counts
)
SELECT window_start, CAST(rk AS INT) AS rk, event_type, n
FROM ranked
WHERE rk <= 2
ORDER BY window_start, rk
"""

# Native session_window (the same operator Spark uses in Structured
# Streaming state merging) run in batch mode — complements the
# gaps-and-islands twin above, which proves the semantics; this proves
# the API. Boundary semantics: sessions are [start, last_ts + gap), so
# an event at EXACTLY gap seconds after its predecessor starts a NEW
# session (>= in the oracle; the gaps-and-islands twin uses > because it
# models "merge while gap <= 30min" — both are valid sessionizations,
# kept distinct deliberately, each oracle-checked).


def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(cents("value")).alias("_sv_c"))
        .select("user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events", dollars("_sv_c", "sum_value"))
        .orderBy("user_id", "session_start")
    )


EVENTS_SESSION_NATIVE_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) IS NULL
               OR epoch(ts) - epoch(LAG(ts) OVER w) >= 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
numbered AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       {_SUM_VALUE_SQL}
FROM numbered
GROUP BY user_id, session_seq
ORDER BY user_id, session_start
"""

# ------------------------------------------------------------ JSON extraction


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object over the props JSON column + agg per type.

    try_cast, NOT cast (r19 type-mismatch contract, VERDICT r18 item
    4): one ``{"k": "abc"}`` record makes the ANSI cast throw
    CAST_INVALID_INPUT and abort the whole job — the contract across
    every props consumer is type-mismatched value → NULL extraction,
    the same leniency already pinned for malformed JSON."""
    e = t(spark, sf_dir, "events")
    return (
        e.select("event_type",
                 F.get_json_object("props", "$.k").try_cast("int").alias("k"))
        .groupBy("event_type")
        .agg(F.round(F.avg("k"), 4).alias("avg_k"),
             F.max("k").alias("max_k"),
             F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


# json_valid guard (r17 malformed-props contract): Spark's
# get_json_object returns NULL on malformed JSON where DuckDB's
# json_extract_string THROWS — the oracle must mirror the lenient
# engine. (Engines' validity DIALECTS differ on edge inputs — DuckDB's
# yyjson accepts a trailing comma Jackson rejects — so the pinned
# class is clearly-malformed JSON; see tests/test_malformed_props.py.)
#
# Strict-integer mirror (r19 type-mismatch contract): Spark's
# string->int try_cast accepts optional sign + digits (surrounding
# whitespace trimmed) and NULLs everything else, while DuckDB's
# bare TRY_CAST happily ROUNDS '1.5' to 2 — so the oracle extracts the
# integer via an anchored regex (empty extract -> TRY_CAST('') ->
# NULL). The whitespace class is spelled out per the repo contract
# (never \s in oracle regexes), matching Spark's cast-trim for the
# ASCII whitespace set; Spark's trimAll additionally strips the other
# control bytes <= 0x20 — a JSON-escaped "9" corner documented
# out of scope with the validity dialects. In-scope classes (probed,
# tests/test_malformed_props.py): non-numeric strings, string-typed
# integers (incl. whitespace-padded), non-scalar values, int32
# overflow. Numeric/boolean COERCION: the string paths agree already
# (get_json_object serializes 20.0 to '20.0', try_cast NULLs it; the
# regex mirror NULLs it too); the VARIANT path was the one engine that
# coerced (try_variant_get truncated 1.5 -> 1, kept 20.0 as 20 — a
# silent CARDINALITY split under the % 10 filter, ADVICE r19 item 2) —
# closed in r20 by gating on the k sub-variant's schema, see
# events_variant_extract.
_K_STRICT = (
    r"TRY_CAST(regexp_extract(CASE WHEN json_valid(props) THEN "
    r"json_extract_string(props, '$.k') END, "
    r"'^[ \t\n\x0b\f\r]*([+-]?[0-9]+)[ \t\n\x0b\f\r]*$', 1) AS INT)")

EVENTS_JSON_SQL = f"""
SELECT event_type,
       ROUND(AVG({_K_STRICT}), 4) AS avg_k,
       MAX({_K_STRICT}) AS max_k,
       COUNT(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""

# ------------------------------------------------------------ variant (semi-structured)


def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VariantType path: parse props into a variant once, extract with
    variant_get — the open-schema way to handle semi-structured columns
    (vs. the fixed-schema from_json in events_json_extract).

    try_parse_json, NOT parse_json (r17 malformed-props contract):
    plain parse_json runs FAILFAST, so ONE malformed props record
    would kill the whole 100 TB job — the contract across every props
    consumer is malformed → NULL extraction (matching
    get_json_object/from_json leniency), and NULL k rows then drop at
    the % 10 filter in both engines.

    try_variant_get, NOT variant_get (r19 type-mismatch contract):
    variant_get throws INVALID_VARIANT_CAST on ``{"k": "abc"}`` — one
    bad record aborting the job again. try_variant_get NULLs it; the
    oracle mirrors via the strict-integer extraction (_K_STRICT) and a
    json_type-derived schema string.

    Schema-gated extraction (r20, ADVICE r19 item 2): a bare
    ``try_variant_get(v, '$.k', 'int')`` COERCES non-integer variants —
    ``20.0`` (DECIMAL(2,0)) -> 20, ``1.5`` -> 1, ``true`` -> 1 — where
    the oracle's strict-integer regex NULLs them: under the ``% 10``
    filter that was a silent CARDINALITY split, not just a value split.
    The gate accepts only sub-variants whose schema_of_variant is
    BIGINT (JSON integers of every magnitude parse to BIGINT; int32
    overflow then NULLs in the try-cast, same as the oracle's
    TRY_CAST) or STRING (string->int try-cast semantics, mirrored by
    _K_STRICT since r19). Everything else — DECIMAL (JSON doubles),
    BOOLEAN, ARRAY/OBJECT, VOID (JSON null / absent key) — yields NULL
    k and drops at the filter on BOTH engines. Pinned per-class by
    tests/test_malformed_props.py and the --proptype census."""
    e = t(spark, sf_dir, "events")
    k_schema = "schema_of_variant(try_variant_get(v, '$.k', 'variant'))"
    return (
        e.select("event_id", F.expr("try_parse_json(props)").alias("v"))
        .select("event_id",
                F.when(F.expr(k_schema).isin("BIGINT", "STRING"),
                       F.expr("try_variant_get(v, '$.k', 'int')"))
                .alias("k"),
                F.expr("schema_of_variant(v)").alias("props_schema"))
        .filter(F.col("k") % 10 == 0)
        .orderBy("event_id")
    )


# props_schema mirrors schema_of_variant for the k-value types that can
# SURVIVE the % 10 filter in-scope (integer-typed and string-typed k);
# other types either NULL k (dropped on both sides) or sit in the
# documented coercion boundary above.
EVENTS_VARIANT_SQL = f"""
SELECT event_id,
       {_K_STRICT} AS k,
       CASE WHEN json_valid(props) THEN
         CASE json_type(props, '$.k')
           WHEN 'UBIGINT' THEN 'OBJECT<k: BIGINT>'
           WHEN 'BIGINT' THEN 'OBJECT<k: BIGINT>'
           WHEN 'VARCHAR' THEN 'OBJECT<k: STRING>'
         END
       END AS props_schema
FROM events
WHERE {_K_STRICT} % 10 = 0
ORDER BY event_id
"""


# ------------------------------------------------------------ stream dedup (batch twin)


def events_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates on the business key (user_id, event_type, minute
    bucket) keeping the earliest event — batch twin of
    dropDuplicatesWithinWatermark. min_by keeps it deterministic."""
    e = t(spark, sf_dir, "events")
    return (
        e.withColumn("minute", F.date_trunc("minute", F.col("ts")))
        .groupBy("user_id", "event_type", "minute")
        .agg(F.min("event_id").alias("kept_event_id"))
        .orderBy("user_id", "event_type", "minute")
    )


EVENTS_DEDUP_SQL = """
SELECT user_id, event_type, date_trunc('minute', ts) AS minute,
       MIN(event_id) AS kept_event_id
FROM events
GROUP BY 1, 2, 3
ORDER BY user_id, event_type, minute
"""

# ------------------------------------------------------------ as-of join


def events_asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every 'purchase', the most recent strictly-prior
    'view' by the same user. Implemented with a single sort-once window
    over the unioned stream (no O(n²) inequality join): last('view' ts)
    over rows preceding the current one, per user."""
    e = t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").asc(), F.col("event_id").asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    return (
        e.withColumn("last_view_ts", F.last(view_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_view_ts")
        .orderBy("event_id")
    )


def events_asof_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via cogrouped applyInPandas (pd.merge_asof) — the
    Arrow cogroup API form of events_asof_last_view. Time-strict
    semantics (no event_id tiebreak; an equal-timestamp view does not
    match) — the oracle mirrors exactly that with a correlated MAX."""
    from ..operators.grouped import asof_join_cogroup
    e = t(spark, sf_dir, "events")
    purchases = (e.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    views = (e.filter(F.col("event_type") == "view")
             .select("user_id", F.col("ts").alias("view_ts")))
    return asof_join_cogroup(purchases, views).orderBy("event_id")


EVENTS_ASOF_COGROUP_SQL = """
SELECT p.event_id, p.user_id, p.ts,
       (SELECT MAX(v.ts) FROM events v
        WHERE v.user_id = p.user_id AND v.event_type = 'view'
          AND v.ts < p.ts) AS last_view_ts
FROM events p
WHERE p.event_type = 'purchase'
ORDER BY p.event_id
"""


# Oracle uses the identical window formulation (portable SQL, not DuckDB's
# ASOF JOIN, so tie semantics are bit-identical).
EVENTS_ASOF_SQL = """
WITH marked AS (
  SELECT event_id, user_id, ts, event_type,
         LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_ts
  FROM events
)
SELECT event_id, user_id, ts, last_view_ts
FROM marked
WHERE event_type = 'purchase'
ORDER BY event_id
"""

# ------------------------------------------------------------ pivot


def events_pivot_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type counts into columns per day."""
    e = t(spark, sf_dir, "events")
    return (
        e.withColumn("day", F.date_trunc("day", F.col("ts")))
        .groupBy("day")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "view", "purchase", "signup", "error"])
        .orderBy("day")
    )


EVENTS_PIVOT_SQL = """
SELECT date_trunc('day', ts) AS day,
       COALESCE(COUNT(*) FILTER (WHERE event_type = 'click'), 0) AS click,
       COALESCE(COUNT(*) FILTER (WHERE event_type = 'view'), 0) AS view,
       COALESCE(COUNT(*) FILTER (WHERE event_type = 'purchase'), 0) AS purchase,
       COALESCE(COUNT(*) FILTER (WHERE event_type = 'signup'), 0) AS signup,
       COALESCE(COUNT(*) FILTER (WHERE event_type = 'error'), 0) AS error
FROM events
GROUP BY 1
ORDER BY day
"""


# ------------------------------------------------------------ per-user sequence features


def user_sequence_features(events: DataFrame) -> DataFrame:
    """(user_id, n_events, span_us, max_value_delta) per user of an
    (user_id, event_id, ts, value) frame, in built-ins only: the value
    delta is ``lag`` over the user's (ts, event_id) order, then one
    per-user aggregate. ``span_us`` is EXACT integer microseconds (the
    float-seconds path hit Spark-HALF_UP vs DuckDB-binary rounding ties
    at sf0.1). LAG, MAX and MIN skip NULL as the oracle's do; a user
    with no delta gets 0.0."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select("user_id", "ts",
                      F.abs(F.col("value") - F.lag("value").over(w))
                      .alias("vdelta"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
             .alias("span_us"),
             F.coalesce(F.max("vdelta"), F.lit(0.0))
             .alias("max_value_delta"))
    )


def events_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sequence features (count, time span, mean gap, largest
    value jump) — the same closed-form features the oracle computes in
    SQL, via :func:`user_sequence_features`.

    The 4-decimal seconds columns are derived from ``span_us`` in exact
    BIGINT arithmetic: half-up at 100 µs granularity is
    ``(a + b/2) div b`` on non-negative ints, so both engines compute
    the identical integer before the one final exact-by-construction
    ``/ 10000.0``.

    Null-ts contract (module note above): spans/gaps are over TIMED
    events only, excluded on BOTH sides — an all-null-ts user would
    otherwise get a NULL span, and a mixed user's lag-delta pairs would
    hinge on NULLS FIRST/LAST.

    Non-finite contract (r18): value runs through finite() first.
    DuckDB's MAX(NaN)=NaN and +Inf deltas propagate, so the engines
    diverged per class; NULL is the one missing-value spelling they
    both skip identically (all-missing → 0.0 via COALESCE)."""
    e = (t(spark, sf_dir, "events")
         .filter(F.col("ts").isNotNull())
         .withColumn("value", finite("value")))
    feats = user_sequence_features(e)
    # greatest(n-1, 1) guards the n_events==1 row (span_us is 0 there,
    # so the guarded quotient is 0 — no CASE needed, no ANSI div-by-0)
    span_e4 = F.expr("(span_us + 50) div 100")
    gap_e4 = F.expr(
        "(2 * span_us + greatest(n_events - 1, 1L) * 100) "
        "div (greatest(n_events - 1, 1L) * 200)")
    return (
        feats.select(
            "user_id", "n_events",
            (span_e4 / F.lit(10000.0)).alias("span_seconds"),
            (gap_e4 / F.lit(10000.0)).alias("mean_gap_seconds"),
            F.round("max_value_delta", 4).alias("max_value_delta"),
        )
        .orderBy("user_id")
    )


EVENTS_USER_FEATURES_SQL = f"""
WITH ordered AS (
  SELECT user_id, ts,
         ABS({finite_sql('value')}
             - LAG({finite_sql('value')}) OVER (PARTITION BY user_id
                                      ORDER BY ts ASC, event_id ASC)) AS vdelta
  FROM events
  WHERE ts IS NOT NULL
),
agg AS (
  SELECT user_id, COUNT(*) AS n_events,
         epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us,
         MAX(vdelta) AS max_delta
  FROM ordered
  GROUP BY user_id
)
SELECT user_id, n_events,
       ((span_us + 50) // 100) / 10000.0 AS span_seconds,
       ((2 * span_us + GREATEST(n_events - 1, 1) * 100)
        // (GREATEST(n_events - 1, 1) * 200)) / 10000.0 AS mean_gap_seconds,
       ROUND(COALESCE(max_delta, 0.0), 4) AS max_value_delta
FROM agg
ORDER BY user_id
"""


# ------------------------------------------------------------ retention cohorts
# Classic product-analytics shape: users bucketed by first-seen week
# (cohort), counted per active week — a join of a per-user aggregate
# back onto the activity stream, grouped twice.


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention: (cohort_week, active_week) → distinct active
    users, where cohort_week is the user's first-seen ISO week.

    Plan shape: the cohort week is a window-min over the user partition
    rather than a groupBy+self-join (the join form scanned the fact
    table twice — tools/audit_plan_scans.py): one pruned scan, one hash
    exchange on user_id, then the (cohort, week) distinct-count agg.
    """
    e = t(spark, sf_dir, "events")
    weekly = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week"))
    w = Window.partitionBy("user_id")
    return (
        weekly.withColumn("cohort_week", F.min("week").over(w))
        .groupBy("cohort_week", "week")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week")
    )


RETENTION_SQL = """
WITH weekly AS (
  SELECT user_id, date_trunc('week', ts) AS week
  FROM events
),
cohort AS (
  SELECT user_id, MIN(week) AS cohort_week FROM weekly GROUP BY 1
)
SELECT cohort_week, week, COUNT(DISTINCT user_id) AS n_active
FROM weekly JOIN cohort USING (user_id)
GROUP BY 1, 2
ORDER BY cohort_week, week
"""

# ------------------------------------------------------------ funnel
# Ordered-sequence funnel: view → click (after the view) → purchase
# (after that click), counted per stage. The correlated "first event of
# type X after timestamp T" steps are chained conditional window-mins
# over the user partition — NOT min-filtered self-joins: the join form
# referenced the events subtree 6× in the analyzed plan (six fact scans
# at 100 TB, caught by tools/audit_plan_scans.py); this form scans the
# fact table once and shuffles it once.


def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered funnel conversion counts (one summary row).

    Plan shape: one pruned scan (event_type IN pushed to parquet), one
    hash exchange on user_id, three WindowExecs sharing that exchange
    (t_view is the partition min of view timestamps; t_click the min
    click STRICTLY after t_view; t_buy the min purchase strictly after
    t_click — each later stage conditions row-level on the previous
    window column, so NULL propagates through missing stages exactly as
    the correlated-join form did), then a per-user collapse that reuses
    the same partitioning (no second exchange) and a single global agg.
    """
    e = (t(spark, sf_dir, "events")
         .select("user_id", "event_type", "ts")
         .filter(F.col("event_type").isin("view", "click", "purchase")))
    w = Window.partitionBy("user_id")
    staged = (
        e.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w))
        .withColumn(
            "t_click",
            F.min(F.when((F.col("event_type") == "click")
                         & (F.col("ts") > F.col("t_view")),
                         F.col("ts"))).over(w))
        .withColumn(
            "t_buy",
            F.min(F.when((F.col("event_type") == "purchase")
                         & (F.col("ts") > F.col("t_click")),
                         F.col("ts"))).over(w))
    )
    per_user = staged.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),      # constant per partition
        F.min("t_click").alias("t_click"),
        F.min("t_buy").alias("t_buy"))
    return per_user.agg(
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked_after_view"),
        F.count("t_buy").alias("n_purchased_after_click"))


FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY 1
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_buy
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY 1
)
SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
       (SELECT COUNT(*) FROM c) AS n_clicked_after_view,
       (SELECT COUNT(*) FROM p) AS n_purchased_after_click
"""


SPECS: list[QuerySpec] = [
    QuerySpec("events_tumbling_hourly", events_tumbling_hourly, EVENTS_TUMBLING_SQL,
              "tumbling 1h window agg (streaming twin in streaming/)"),
    QuerySpec("events_user_features", events_user_features, EVENTS_USER_FEATURES_SQL,
              "per-user sequence features: lag window + built-in aggregates"),
    QuerySpec("events_sliding_windows", events_sliding_windows, EVENTS_SLIDING_SQL,
              "sliding 1h/30m window agg"),
    QuerySpec("events_windowed_topk", events_windowed_topk,
              EVENTS_WINDOWED_TOPK_SQL,
              "trending event types per hour window (per-window rank, k=2)"),
    QuerySpec("events_session_window_native", events_session_window_native,
              EVENTS_SESSION_NATIVE_SQL,
              "native session_window API in batch mode ([start, last+gap) semantics)"),
    QuerySpec("events_sessionize", events_sessionize, EVENTS_SESSION_SQL,
              "30-min-gap sessionization (batch twin of session_window)"),
    QuerySpec("events_json_extract", events_json_extract, EVENTS_JSON_SQL,
              "JSON prop extraction + agg"),
    QuerySpec("events_variant_extract", events_variant_extract, EVENTS_VARIANT_SQL,
              "VariantType semi-structured extraction (parse_json/variant_get)"),
    QuerySpec("events_dedup_exact", events_dedup_exact, EVENTS_DEDUP_SQL,
              "keyed dedup keeping earliest (watermark-dedup twin)"),
    QuerySpec("events_asof_last_view", events_asof_last_view, EVENTS_ASOF_SQL,
              "as-of join via single-sort window (no inequality join)"),
    QuerySpec("events_asof_cogroup", events_asof_cogroup, EVENTS_ASOF_COGROUP_SQL,
              "as-of join via cogrouped applyInPandas (pd.merge_asof)"),
    QuerySpec("events_pivot_types", events_pivot_types, EVENTS_PIVOT_SQL,
              "pivot to per-type columns"),
    QuerySpec("events_retention_cohorts", events_retention_cohorts, RETENTION_SQL,
              "weekly cohort retention (first-seen week × active week)"),
    QuerySpec("events_funnel_conversion", events_funnel_conversion, FUNNEL_SQL,
              "ordered view→click→purchase funnel counts"),
]


# ------------------------------------------------------ rolling active users
# DAU / trailing-7-day WAU / stickiness — the product-analytics rollup
# every event warehouse serves. Rolling DISTINCT does not decompose into
# per-day partials, so the scalable form is bounded expansion, not a
# range join: each distinct (day, user) row is exploded to the <= 7
# window anchors it can serve (a constant 7x of the already-deduped
# relation), then an equi-shuffled distinct count per anchor — no
# nested-loop join, no per-window re-scan, and the calendar (distinct
# days) is a broadcast-sized side everywhere. Day arithmetic stays in
# exact integer epoch-days (micros div 86.4e9, the zorder idiom);
# stickiness is an exact integer per-million. Anchors are reported only
# for days that exist in the data (join with the day list), so leading
# days cover partial windows, matching the oracle by construction.


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    du = (e.select(F.expr("unix_micros(ts) div 86400000000").alias("d"),
                   "user_id")
          .distinct())
    # Single pipeline — ONE events scan, ONE (d,user) dedup shuffle, one
    # bounded explode: the offset i rides along, so DAU is the i=0
    # conditional distinct inside the SAME anchor aggregation (a
    # three-branch form computed days/dau/wau separately = 3 scans of
    # events; per-branch column pruning defeats ReusedExchange).
    # `HAVING dau > 0` restricts anchors to days that exist in the data.
    expanded = du.select(
        F.col("user_id"),
        F.posexplode(F.sequence(F.col("d"), F.col("d") + F.lit(6)))
        .alias("i", "anchor"))
    return (
        expanded.groupBy("anchor")
        .agg(F.countDistinct("user_id").alias("wau_users"),
             F.countDistinct(F.when(F.col("i") == 0, F.col("user_id")))
             .alias("dau_users"))
        .filter(F.col("dau_users") > 0)
        .select(
            F.timestamp_micros(F.col("anchor") * F.lit(86400000000))
            .alias("day"),
            "dau_users", "wau_users",
            F.expr("dau_users * 1000000L div wau_users")
            .alias("stickiness_e6"))
        .orderBy("day")
    )


ROLLING_ACTIVE_SQL = """
WITH du AS (
  SELECT DISTINCT epoch_us(ts) // 86400000000 AS d, user_id FROM events
  WHERE ts IS NOT NULL
),
expanded AS (
  SELECT du.d + u.i AS anchor, du.user_id, u.i
  FROM du, UNNEST(range(7)) AS u(i)
),
agg AS (
  SELECT anchor,
         COUNT(DISTINCT user_id) AS wau_users,
         COUNT(DISTINCT CASE WHEN i = 0 THEN user_id END) AS dau_users
  FROM expanded
  GROUP BY anchor
  HAVING COUNT(DISTINCT CASE WHEN i = 0 THEN user_id END) > 0
)
-- to_seconds, not "* INTERVAL 1 SECOND" (INT32 multiplier overflow
-- past year 2038 — see EVENTS_SLIDING_SQL note)
SELECT TIMESTAMP '1970-01-01'
         + to_seconds(CAST(anchor * 86400 AS BIGINT)) AS day,
       dau_users, wau_users,
       dau_users * 1000000 // wau_users AS stickiness_e6
FROM agg
ORDER BY day
"""

SPECS.append(
    QuerySpec("rolling_active_users", rolling_active_users, ROLLING_ACTIVE_SQL,
              "DAU / trailing-7d WAU / stickiness via bounded day expansion"))


# ------------------------------------------------------ event transitions
# First-order Markov transition counts over each user's event stream —
# the sequence-modeling rollup (next-action prediction, anomaly
# baselines) — with exact per-from-state probabilities in e6 fixed
# point. Ordering within a user is (ts, event_id): event_id breaks
# same-microsecond ties deterministically, so the lag is a pure function
# of the data. One window shuffle on user_id (the natural key, high
# cardinality), then a tiny (from, to) agg — at 100 TB the state after
# the window never exceeds |event_types|² rows per partition thanks to
# map-side combine.


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # null-ts contract (module note above): a transition is ordered by
    # ts, so null-ts events are excluded on BOTH sides; a NULL
    # event_type with a live ts stays — both engines group it as its
    # own to_type (from_type NULL rows are already filtered below)
    e = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"))
    trans = (seq.filter(F.col("from_type").isNotNull())
             .groupBy("from_type", "to_type")
             .agg(F.count(F.lit(1)).alias("n")))
    # marginals via a window over the tiny (|types|^2-row) trans
    # relation — an agg+join form would recompute trans from scratch
    # (no subplan reuse) and scan events twice
    wf = Window.partitionBy("from_type")
    return (
        trans.withColumn("n_from", F.sum("n").over(wf))
        .select("from_type", "to_type", "n", "n_from",
                F.expr("n * 1000000L div n_from").alias("prob_e6"))
        .orderBy("from_type", "to_type")
    )


TRANSITION_SQL = """
WITH seq AS (
  SELECT user_id,
         LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
  WHERE ts IS NOT NULL
),
trans AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM seq WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
),
withm AS (
  SELECT from_type, to_type, n,
         CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from
  FROM trans
)
SELECT from_type, to_type, n, n_from,
       n * 1000000 // n_from AS prob_e6
FROM withm
ORDER BY from_type, to_type
"""

SPECS.append(
    QuerySpec("events_transition_matrix", events_transition_matrix,
              TRANSITION_SQL,
              "per-user Markov transition counts + e6 transition probabilities"))


# ------------------------------------------------------ session path mining
# Top session-opening paths (first 3 event types per session) — the
# sequence-pattern rollup behind "how do sessions start" funnels;
# complements events_transition_matrix (paths, not pairs). Reuses the
# gaps-and-islands sessionization above; per-session order is
# (ts, event_id) so the collected path is a pure function of the data
# (collect_list alone is partition-order-nondeterministic — the
# array_sort(struct(rn, ...)) idiom pins it). The final top-20 rank
# runs over the tiny |types|^3-bounded path-count relation.


def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # null contract (module note above): paths are ts-ordered strings
    # of event types, so rows missing EITHER are excluded on both
    # sides — keeping null-type steps would hinge the path string on
    # engine-specific null-skipping in array_join vs string_agg
    e = t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull())
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
    sess = (
        e.withColumn("new_session",
                     F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("session_seq", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    ws = Window.partitionBy("user_id", "session_seq").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    first3 = (sess.withColumn("rn", F.row_number().over(ws))
              .filter(F.col("rn") <= 3))
    paths = (
        first3.groupBy("user_id", "session_seq")
        .agg(F.array_join(
            F.expr("transform(array_sort(collect_list(struct(rn, "
                   "event_type))), s -> s.event_type)"), ">").alias("path")))
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    wr = Window.orderBy(F.col("n_sessions").desc(), F.col("path").asc())
    return (
        counts.withColumn("rk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rk") <= 20)
        .select("rk", "path", "n_sessions")
        .orderBy("rk")
    )


SESSION_PATH_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) IS NULL
               OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
numbered AS (
  SELECT *, SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
),
first3 AS (
  SELECT user_id, session_seq, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
                            ORDER BY ts ASC, event_id ASC) AS rn
  FROM numbered
),
paths AS (
  SELECT user_id, session_seq,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM first3 WHERE rn <= 3
  GROUP BY user_id, session_seq
),
counts AS (SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY path),
ranked AS (
  SELECT path, n_sessions,
         ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path ASC) AS rk
  FROM counts
)
SELECT rk::BIGINT AS rk, path, n_sessions
FROM ranked WHERE rk <= 20
ORDER BY rk
"""

SPECS.append(
    QuerySpec("session_path_topk", session_path_topk, SESSION_PATH_SQL,
              "top-20 session-opening event-type paths (first 3 steps)"))


# -------------------------------------------------- inter-arrival histogram
# Distribution of per-user inter-arrival gaps by event type — the
# traffic-shape diagnostic behind session-gap tuning (cf. the 30-min
# sessionize threshold above) and bot detection (machine traffic piles
# up in the low-gap buckets). Buckets are the DECIMAL DIGIT COUNT of
# the gap in whole seconds — a log10-ish histogram computed with exact
# integer/string ops (floor(log10(n)) via doubles can mis-round at
# powers of ten; string length of a BIGINT cannot disagree between
# engines). Scale shape: one pruned scan, one hash exchange on user_id
# for the lag window, then a tiny (type, digits) aggregate —
# map-side-combinable, output bounded by |types| × ~10 buckets.


def events_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select("user_id", "event_type", "ts",
                                          "event_id")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    gapped = (
        e.withColumn("prev_us", F.lag(F.expr("unix_micros(ts)")).over(w))
        .filter(F.col("prev_us").isNotNull())
        # integer µs → whole seconds; ordering makes the gap >= 0
        .select("event_type",
                F.expr("(unix_micros(ts) - prev_us) div 1000000")
                .alias("gap_s"))
    )
    return (
        gapped.groupBy(
            "event_type",
            F.length(F.col("gap_s").cast("string")).alias("gap_digits"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "gap_digits")
    )


INTERARRIVAL_SQL = """
WITH gapped AS (
  SELECT event_type,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
           // 1000000 AS gap_s
  FROM events
)
SELECT event_type,
       CAST(length(CAST(gap_s AS VARCHAR)) AS INT) AS gap_digits,
       COUNT(*) AS n
FROM gapped
WHERE gap_s IS NOT NULL
GROUP BY 1, 2
ORDER BY event_type, gap_digits
"""

SPECS.append(
    QuerySpec("events_interarrival_histogram", events_interarrival_histogram,
              INTERARRIVAL_SQL,
              "per-type inter-arrival gap histogram (decimal-digit buckets)"))


# ------------------------------------------------------- share drift
# Day-over-day drift of each event type's traffic share — the
# data-drift monitor that catches schema/SDK rollouts and bot floods
# before they poison downstream aggregates. Shares and drifts in exact
# e6 integers (floor-div; a double share invites cross-engine rounding
# ties). Scale shape: one pruned scan collapses to a (day, type)
# aggregate; the share window and the per-type lag both run over those
# ~days × |types| rows.


@session_memo
def _daily_type_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted per-(day, type) share relation: both sides of
    event_type_share_drift's calendar self-join read it — unpersisted
    that would be two fact scans."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("DAY", F.col("ts")).alias("day"),
                 "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("_dkey", F.expr("unix_micros(day) div 86400000000"))
    )
    return (
        daily.withColumn("_day_tot",
                         F.sum("n").over(Window.partitionBy("day")))
        .withColumn("share_e6", F.expr(_share_e6_expr("n", "_day_tot")))
        .persist())


def event_type_share_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 hardening, both of the ADVICE r12 classes pre-empted:
    #  - the share is overflow-safe pure BIGINT (_share_e6_expr; a plain
    #    n*1e6 overflows past ~9.2e12 events/day — the bot-flood regime
    #    this monitor exists for);
    #  - "day-over-day" is CALENDAR-true: the previous-day share comes
    #    from a self-join on (type, epoch_day - 1), not a positional
    #    lag — after a zero-traffic gap the drift is NULL (no
    #    yesterday), never a silent pairing with an older day.
    shared = _daily_type_shares(spark, sf_dir)
    a, b = shared.alias("a"), shared.alias("b")
    return (
        a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
               & (F.col("a._dkey") == F.col("b._dkey") + F.lit(1)),
               "left")
        .select(F.col("a.day").alias("day"),
                F.col("a.event_type").alias("event_type"),
                F.col("a.n").alias("n"),
                F.col("a.share_e6").alias("share_e6"),
                F.abs(F.col("a.share_e6") - F.col("b.share_e6"))
                .alias("drift_e6"))
        .orderBy("day", "event_type")
    )


SHARE_DRIFT_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n,
         epoch_us(date_trunc('day', ts)) // 86400000000 AS dkey
  FROM events GROUP BY 1, 2, 4
),
shared AS (
  SELECT day, event_type, n, dkey,
         SUM(n) OVER (PARTITION BY day) AS day_tot
  FROM daily
),
scored AS (
  SELECT day, event_type, n, dkey,
         ((n * 1000 // day_tot) * 1000
          + ((n * 1000 % day_tot) * 1000) // day_tot)::BIGINT AS share_e6
  FROM shared
)
SELECT s.day, s.event_type, s.n, s.share_e6,
       abs(s.share_e6 - p.share_e6)::BIGINT AS drift_e6
FROM scored s
LEFT JOIN scored p
  ON p.event_type = s.event_type AND p.dkey = s.dkey - 1
ORDER BY s.day, s.event_type
"""

SPECS.append(
    QuerySpec("event_type_share_drift", event_type_share_drift,
              SHARE_DRIFT_SQL,
              "day-over-day event-type traffic-share drift (e6 fixed point)"))


# ------------------------------------------------------- burst top-k
# Burstiest users: top 20 by peak events-in-one-hour (ties by user_id)
# with their peak-minute rate and total volume — the rate-limit / bot
# triage list. Rank-based rather than thresholded so the report is
# scale-free (a fixed "≥N per minute" flag returns nothing at small SF
# and everything at 100 TB). Scale shape: one pruned scan → (user,
# epoch-minute) pre-aggregate (map-side combinable) → per-(user, hour)
# re-agg derived from the minute relation (no second fact scan) → tiny
# per-user rollup → TakeOrderedAndProject top-20 (per-partition heaps,
# driver merges 20×|partitions| rows; the ranking window sees 20 rows).

_BURST_TOP_K = 20


def events_burst_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    mcnt = (
        e.select("user_id",
                 F.expr("unix_micros(ts) div 60000000").alias("mi"))
        .groupBy("user_id", "mi")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hourly = (
        mcnt.withColumn("h", F.expr("mi div 60"))
        .groupBy("user_id", "h")
        .agg(F.sum("n").alias("nh"), F.max("n").alias("pm"))
    )
    per_user = (
        hourly.groupBy("user_id")
        .agg(F.max("nh").alias("peak_hour_events"),
             F.max("pm").alias("peak_minute_events"),
             F.sum("nh").alias("n_events"))
    )
    # top-k BEFORE the ranking window (ADVICE r12): orderBy().limit(k)
    # plans as TakeOrderedAndProject — each partition keeps its own
    # top-20, the driver merges 20×|partitions| rows — so the
    # partition-less row_number window ranks 20 rows, never |users|.
    order = [F.col("peak_hour_events").desc(), F.col("user_id").asc()]
    topk = per_user.orderBy(*order).limit(_BURST_TOP_K)
    return (
        topk.withColumn("rk", F.row_number().over(Window.orderBy(*order)))
        .select("rk", "user_id", "peak_hour_events",
                "peak_minute_events", "n_events")
        .orderBy("rk")
    )


BURST_TOPK_SQL = f"""
WITH mcnt AS (
  SELECT user_id, epoch_us(ts) // 60000000 AS mi, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
hourly AS (
  SELECT user_id, mi // 60 AS h, SUM(n) AS nh, MAX(n) AS pm
  FROM mcnt GROUP BY 1, 2
),
per_user AS (
  SELECT user_id,
         MAX(nh)::BIGINT AS peak_hour_events,
         MAX(pm)::BIGINT AS peak_minute_events,
         SUM(nh)::BIGINT AS n_events
  FROM hourly GROUP BY user_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      ORDER BY peak_hour_events DESC, user_id ASC) AS rk
  FROM per_user
)
SELECT CAST(rk AS INT) AS rk, user_id, peak_hour_events,
       peak_minute_events, n_events
FROM ranked
WHERE rk <= {_BURST_TOP_K}
ORDER BY rk
"""

SPECS.append(
    QuerySpec("events_burst_topk", events_burst_topk, BURST_TOPK_SQL,
              "top-20 burstiest users by peak events-in-one-hour"))


# -------------------------------------------- new vs returning users
# Daily acquisition split: users active each day, divided into
# first-seen-today (new) vs returning — the growth-accounting rollup.
# First-seen day is a window-min over the user partition (the
# single-scan idiom of events_retention_cohorts — never a
# groupBy+self-join); the daily split then collapses the deduped
# (day, user, first_day) relation with conditional counts.


def daily_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    # null-ts contract (module note above): "active on day NULL" is not
    # a cohort — excluded on BOTH sides (Spark would otherwise keep a
    # NULL day group whose new/returning split the engines disagree on)
    e = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    du = (e.select("user_id",
                   F.date_trunc("DAY", F.col("ts")).alias("day"))
          .distinct())
    w = Window.partitionBy("user_id")
    flagged = du.withColumn("first_day", F.min("day").over(w))
    return (
        flagged.groupBy("day")
        .agg(F.sum(F.when(F.col("day") == F.col("first_day"), 1)
                   .otherwise(0)).alias("new_users"),
             F.sum(F.when(F.col("day") != F.col("first_day"), 1)
                   .otherwise(0)).alias("returning_users"))
        .orderBy("day")
    )


NEW_RETURNING_SQL = """
WITH du AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
  WHERE ts IS NOT NULL
),
flagged AS (
  SELECT day,
         day = MIN(day) OVER (PARTITION BY user_id) AS is_new
  FROM du
)
SELECT day,
       SUM(CASE WHEN is_new THEN 1 ELSE 0 END)::BIGINT AS new_users,
       SUM(CASE WHEN is_new THEN 0 ELSE 1 END)::BIGINT AS returning_users
FROM flagged
GROUP BY day
ORDER BY day
"""

SPECS.append(
    QuerySpec("daily_new_vs_returning", daily_new_vs_returning,
              NEW_RETURNING_SQL,
              "daily new vs returning active users (single-scan window-min)"))


# ---------------------------------------------- weekday-hour profile
# Weekday × hour activity heatmap — the traffic-shape fingerprint
# behind capacity planning and anomaly baselines. Day-of-week comes
# from pure epoch arithmetic ((epoch_days + 4) mod 7; 1970-01-01 was a
# Thursday, so 0 = Sunday), NOT the engines' dayofweek builtins —
# Spark numbers Sunday as 1, DuckDB as 0, and a builtin mismatch here
# is exactly the silent cross-engine drift this repo's integer
# discipline exists to prevent. One pruned scan, map-side-combinable
# agg, output bounded at 7 × 24 rows.


def events_weekday_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.select(
            F.expr("(unix_micros(ts) div 86400000000 + 4) % 7")
            .alias("dow"),
            F.expr("(unix_micros(ts) div 3600000000) % 24").alias("hour"))
        .groupBy("dow", "hour")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("dow", "hour")
    )


WEEKDAY_HOUR_SQL = """
SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
       (epoch_us(ts) // 3600000000) % 24 AS hour,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY dow, hour
"""

SPECS.append(
    QuerySpec("events_weekday_hour_profile", events_weekday_hour_profile,
              WEEKDAY_HOUR_SQL,
              "weekday x hour activity heatmap (engine-neutral epoch dow)"))


# ---------------------------------------------------- power-user Pareto
# Traffic concentration: how much of total event volume the top 1/5/10 %
# of users generate — the Pareto report behind rate-limit sizing and
# the "is one bot farm most of the corpus?" check. No global sort of
# the user base: tier thresholds are interpolated percentiles over the
# per-user counts (the agg_percentiles shared definition), broadcast as
# ONE row into a conditional re-aggregate of the same per-user relation
# — identical IEEE comparisons in both engines, shares in exact
# pure-BIGINT e6 (split multiplier; n·1e6 overflows at ~9e12 events).
# Scale shape: ONE fact scan → per-user map-side-combined count,
# persisted (memo idiom of events_rate_anomaly_mad — the threshold agg
# and the conditional re-agg both read it; unpersisted each branch
# re-ran the fact scan, caught by tools/audit_plan_scans.py) → 1-row
# percentile agg (broadcast) → |users|-row conditional agg.

@session_memo
def _per_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (t(spark, sf_dir, "events").groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n")).persist())


def events_power_users_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = _per_user_counts(spark, sf_dir)
    prof = per_user.agg(
        F.percentile("n", 0.99).alias("_p99"),
        F.percentile("n", 0.95).alias("_p95"),
        F.percentile("n", 0.90).alias("_p90"),
        F.sum("n").alias("_tot"))
    tiers = per_user.crossJoin(F.broadcast(prof)).agg(
        F.max("_tot").alias("_tot2"),
        *[agg for p in ("99", "95", "90") for agg in (
            F.sum(F.when(F.col("n") >= F.col(f"_p{p}"), 1).otherwise(0))
            .alias(f"u{p}"),
            F.sum(F.when(F.col("n") >= F.col(f"_p{p}"), F.col("n"))
                  .otherwise(F.lit(0))).alias(f"e{p}"))])
    # overflow-safe exact e6; zero-total guard (ADVICE r13): Spark div
    # yields NULL on /0 but DuckDB // raises — CASE in BOTH engines
    # keeps the parity harness a value-compare, never a hard error
    def share(a: str, tot: str) -> str:
        return f"CASE WHEN {tot} > 0 THEN {_share_e6_expr(a, tot)} END"
    return tiers.select(F.expr(
        "stack(3,"
        f" 'top01', u99, e99, {share('e99', '_tot2')},"
        f" 'top05', u95, e95, {share('e95', '_tot2')},"
        f" 'top10', u90, e90, {share('e90', '_tot2')}"
        ") as (tier, n_users, n_events, share_e6)"
    )).orderBy("tier")


POWER_PARETO_SQL = """
WITH per_user AS (
  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
),
prof AS (
  SELECT quantile_cont(n, 0.99) AS p99,
         quantile_cont(n, 0.95) AS p95,
         quantile_cont(n, 0.90) AS p90,
         SUM(n)::BIGINT AS tot
  FROM per_user
),
tiers AS (
  SELECT MAX(tot)::BIGINT AS tot,
         SUM(CASE WHEN n >= p99 THEN 1 ELSE 0 END)::BIGINT AS u99,
         SUM(CASE WHEN n >= p99 THEN n ELSE 0 END)::BIGINT AS e99,
         SUM(CASE WHEN n >= p95 THEN 1 ELSE 0 END)::BIGINT AS u95,
         SUM(CASE WHEN n >= p95 THEN n ELSE 0 END)::BIGINT AS e95,
         SUM(CASE WHEN n >= p90 THEN 1 ELSE 0 END)::BIGINT AS u90,
         SUM(CASE WHEN n >= p90 THEN n ELSE 0 END)::BIGINT AS e90
  FROM per_user, prof
)
SELECT tier, n_users, n_events, share_e6 FROM (
  SELECT 'top01' AS tier, u99 AS n_users, e99 AS n_events,
         (CASE WHEN tot > 0 THEN
            (e99 * 1000 // tot) * 1000 + ((e99 * 1000 % tot) * 1000) // tot
          END)::BIGINT AS share_e6 FROM tiers
  UNION ALL
  SELECT 'top05', u95, e95,
         (CASE WHEN tot > 0 THEN
            (e95 * 1000 // tot) * 1000 + ((e95 * 1000 % tot) * 1000) // tot
          END)::BIGINT FROM tiers
  UNION ALL
  SELECT 'top10', u90, e90,
         (CASE WHEN tot > 0 THEN
            (e90 * 1000 // tot) * 1000 + ((e90 * 1000 % tot) * 1000) // tot
          END)::BIGINT FROM tiers
)
ORDER BY tier
"""

SPECS.append(
    QuerySpec("events_power_users_pareto", events_power_users_pareto,
              POWER_PARETO_SQL,
              "event-volume share of top 1/5/10% users (exact e6 Pareto)"))
