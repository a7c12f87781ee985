"""Incremental-warehouse and graph-analytics plans.

Round-4 additions covering the warehouse maintenance operations the
reference's batch model implies but never implements (SURVEY §2 scope:
"same query and data-processing capabilities, re-expressed Spark-first"):
SCD-2 history build, MERGE/upsert compaction, date-spine gap fill,
frequent-co-purchase triangle counting, and recursive-CTE reachability
(Spark 4.1 `WITH RECURSIVE`).

All queries follow the cross-engine discipline of plans/base.py: money in
integer cents, every computed column aliased identically in Spark and
DuckDB, a total-order ORDER BY at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .base import QuerySpec, cents, cents_sql, dollars, session_memo, t

# --------------------------------------------------------------- SCD type 2


def scd2_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: collapse each user's event
    stream into versioned status intervals (status = run of equal
    event_type), with valid_from/valid_to effectivity and an is_current
    flag — the standard dimension-maintenance shape (Kimball SCD-2).

    Plan: one scan, two windows over the same (user_id → ts) partitioning
    — Catalyst reuses one Exchange + one sort for the change-flag and
    running-version windows, then the interval agg shuffles on
    (user_id, version). No join, no driver-side state; at 100 TB the
    single hash partitioning on user_id carries the whole query.

    Null-ts contract (r17, VERDICT r16 item 1): effectivity intervals
    are ts-ordered, and a null-ts event would sort FIRST in Spark but
    LAST in DuckDB (divergent version boundaries — the r16
    staggered-null census), so null-ts events are excluded on BOTH
    sides. A NULL event_type with a live ts stays: both engines treat
    it as its own status run (lag <> NULL never flags a change, and
    the run's MIN(event_type) skips NULLs identically).
    """
    e = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    chg = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    runs = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("chg", chg)
        .withColumn(
            "version",
            F.sum("chg").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )
    hist = runs.groupBy("user_id", "version").agg(
        F.min("event_type").alias("status"),  # constant within a run
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return (
        hist.withColumn("valid_to", F.lead("valid_from").over(wv))
        .withColumn("is_current", F.col("valid_to").isNull())
        .orderBy("user_id", "version")
    )


SCD2_SQL = """
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT user_id, ts, event_type,
         CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
  FROM seq
),
hist AS (
  SELECT user_id, version,
         MIN(event_type) AS status,
         MIN(ts) AS valid_from,
         COUNT(*)::BIGINT AS n_events
  FROM runs GROUP BY user_id, version
)
SELECT user_id, version, status, valid_from, n_events,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
         AS valid_to,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) IS NULL
         AS is_current
FROM hist
ORDER BY user_id, version
"""

# ------------------------------------------------------------- MERGE/upsert

_MERGE_CUTOFF = "1997-01-01"


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (Delta/Iceberg-style upsert) expressed as a
    full-outer join of a base aggregate and an incremental delta: base =
    per-customer order stats before the cutoff date, delta = the
    incremental batch after it. Matched rows are updated (counts/cents
    added), unmatched-delta rows inserted, unmatched-base rows kept —
    the per-row `merge_action` records which branch fired.

    At scale the delta is a small incremental feed: Spark broadcasts it
    and the base table never shuffles (here both sides derive from the
    same orders scan, so the optimizer sees two pushed-filter scans and
    one shuffle on o_custkey — still the right shape).
    """
    o = t(spark, sf_dir, "orders")
    price_c = cents("o_totalprice")  # non-finite → NULL (r18 contract)
    cut = F.lit(_MERGE_CUTOFF).cast("timestamp")
    base = (
        o.filter(F.col("o_orderdate") < cut)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("b_orders"),
             F.sum(price_c).alias("b_cents"))
    )
    delta = (
        o.filter(F.col("o_orderdate") >= cut)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("d_orders"),
             F.sum(price_c).alias("d_cents"))
    )
    merged = base.join(delta, "o_custkey", "full_outer")
    action = (
        F.when(F.col("b_orders").isNull(), F.lit("insert"))
        .when(F.col("d_orders").isNull(), F.lit("keep"))
        .otherwise(F.lit("update"))
    )
    return (
        merged.select(
            "o_custkey",
            action.alias("merge_action"),
            (F.coalesce("b_orders", F.lit(0))
             + F.coalesce("d_orders", F.lit(0))).alias("n_orders"),
            (F.coalesce("b_cents", F.lit(0))
             + F.coalesce("d_cents", F.lit(0))).alias("total_cents"),
        )
        .orderBy("o_custkey")
    )


MERGE_UPSERT_SQL = f"""
WITH base AS (
  SELECT o_custkey, COUNT(*)::BIGINT AS b_orders,
         SUM({cents_sql('o_totalprice')})::BIGINT AS b_cents
  FROM orders WHERE o_orderdate < TIMESTAMP '{_MERGE_CUTOFF}'
  GROUP BY o_custkey
),
delta AS (
  SELECT o_custkey, COUNT(*)::BIGINT AS d_orders,
         SUM({cents_sql('o_totalprice')})::BIGINT AS d_cents
  FROM orders WHERE o_orderdate >= TIMESTAMP '{_MERGE_CUTOFF}'
  GROUP BY o_custkey
)
SELECT COALESCE(base.o_custkey, delta.o_custkey) AS o_custkey,
       CASE WHEN base.o_custkey IS NULL THEN 'insert'
            WHEN delta.o_custkey IS NULL THEN 'keep'
            ELSE 'update' END AS merge_action,
       (COALESCE(b_orders, 0) + COALESCE(d_orders, 0))::BIGINT AS n_orders,
       (COALESCE(b_cents, 0) + COALESCE(d_cents, 0))::BIGINT AS total_cents
FROM base FULL OUTER JOIN delta ON base.o_custkey = delta.o_custkey
ORDER BY o_custkey
"""

# --------------------------------------------------------- date-spine gapfill


def daily_revenue_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap fill: a generated date spine left-joined to daily
    revenue, zero-filling days with no orders (the time-series
    densification step every downsampling/forecast pipeline needs).

    The spine derives from a 1-row min/max aggregate exploded into one
    row per day and is broadcast to the daily aggregate — no shuffle is
    added beyond the groupBy(day), and the spine side stays tiny no
    matter the fact-table size.
    """
    o = t(spark, sf_dir, "orders")
    # midnight TIMESTAMP, not DATE: both engines hand pandas the same
    # datetime64 dtype (DuckDB DATE → datetime64 vs Spark DATE → object
    # would fail the driver's schema check)
    day = F.date_trunc("DAY", F.col("o_orderdate"))
    daily = (
        o.groupBy(day.alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("revenue_cents"),
        )
    )
    spine = (
        o.agg(F.min(day).alias("d0"), F.max(day).alias("d1"))
        .select(F.explode(F.expr(
            "sequence(d0, d1, interval 1 day)")).alias("day"))
    )
    return (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue_cents", F.lit(0)).alias("revenue_cents"),
            F.col("n_orders").isNull().alias("is_gap"),
        )
        .orderBy("day")
    )


GAPFILL_SQL = f"""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         COUNT(*)::BIGINT AS n_orders,
         SUM({cents_sql('o_totalprice')})::BIGINT AS revenue_cents
  FROM orders GROUP BY 1
),
spine AS (
  SELECT UNNEST(generate_series(
           (SELECT MIN(date_trunc('day', o_orderdate)) FROM orders),
           (SELECT MAX(date_trunc('day', o_orderdate)) FROM orders),
           INTERVAL 1 DAY)) AS day
)
SELECT spine.day AS day,
       COALESCE(daily.n_orders, 0)::BIGINT AS n_orders,
       COALESCE(daily.revenue_cents, 0)::BIGINT AS revenue_cents,
       daily.n_orders IS NULL AS is_gap
FROM spine LEFT JOIN daily ON spine.day = daily.day
ORDER BY 1
"""

# ------------------------------------------------- co-purchase triangle count

_COPURCHASE_MIN_ORDERS = 2
# Basket-skew cap (Suri & Vassilvitskii, WWW'11): pair generation is
# O(k²) per order, so one real-world 10k-item hot basket would emit 5·10⁷
# pairs before the co-occurrence filter could prune anything. Orders with
# more than this many distinct parts are dropped from the co-purchase
# graph entirely (a mega-basket carries no affinity signal anyway — the
# standard mitigation). TPC-H baskets max out at ~7 items, so the cap is
# output-invariant on the test fixtures (asserted in tests).
_COPURCHASE_MAX_BASKET = 64


# Memoized: all three legs of the triangle self-join read the edge list
# — without persistence the scan→distinct→self-join→agg subtree runs 3×
# (measured 37 exchanges vs 7) — and memoizing (vs per-call persist())
# keeps a registry sweep from stacking pinned RDDs session-wide
# (VERDICT r4). Same rationale as the shingle index in plans/text.py.
@session_memo
def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    # The basket-size window reuses the hash partitioning on l_orderkey
    # that the pair self-join needs anyway — the cap costs a sort within
    # the existing exchange, not an extra shuffle.
    wb = Window.partitionBy("l_orderkey")
    items = (
        li.select("l_orderkey", "l_partkey").distinct()
        .withColumn("basket_n", F.count(F.lit(1)).over(wb))
        .filter(F.col("basket_n") <= _COPURCHASE_MAX_BASKET)
        .drop("basket_n")
    )
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_partkey") < F.col("b.l_partkey")))
        .groupBy(F.col("a.l_partkey").alias("p1"),
                 F.col("b.l_partkey").alias("p2"))
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= _COPURCHASE_MIN_ORDERS)
        .select("p1", "p2")
        .persist()
    )


def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the frequent-co-purchase graph: parts are
    adjacent when they appear together in >= 2 orders; report the 50
    parts participating in the most triangles (graph clustering-
    coefficient building block).

    Scale design: edges are canonically oriented (p1 < p2) so each
    triangle is generated exactly once by the standard edge-iterator
    3-way self-join; pair generation is capped at _COPURCHASE_MAX_BASKET
    distinct parts per order (skewed hot baskets never reach the O(k²)
    expansion), and the >= 2 co-occurrence threshold prunes the singleton
    hairball BEFORE the wedge join (cf. Suri & Vassilvitskii, WWW'11 —
    MapReduce triangle counting).
    """
    edges = _copurchase_edges(spark, sf_dir)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.p1") == F.col("e1.p2"))
        .join(e3, (F.col("e3.p1") == F.col("e1.p1"))
              & (F.col("e3.p2") == F.col("e2.p2")))
        .select(F.col("e1.p1").alias("a"), F.col("e1.p2").alias("b"),
                F.col("e2.p2").alias("c"))
    )
    nodes = (
        tri.select(F.col("a").alias("part")).
        unionAll(tri.select(F.col("b").alias("part"))).
        unionAll(tri.select(F.col("c").alias("part")))
    )
    return (
        nodes.groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), "part")
        .limit(50)
    )


TRIANGLES_SQL = f"""
WITH items0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
sized AS (
  SELECT l_orderkey, l_partkey,
         COUNT(*) OVER (PARTITION BY l_orderkey) AS basket_n
  FROM items0
),
items AS (
  SELECT l_orderkey, l_partkey FROM sized
  WHERE basket_n <= {_COPURCHASE_MAX_BASKET}
),
edges AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_COPURCHASE_MIN_ORDERS}
),
tri AS (
  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
  FROM edges e1
  JOIN edges e2 ON e2.p1 = e1.p2
  JOIN edges e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
),
nodes AS (
  SELECT a AS part FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT part, COUNT(*)::BIGINT AS n_triangles
FROM nodes GROUP BY part
ORDER BY n_triangles DESC, part
LIMIT 50
"""

# ------------------------------------------- recursive-CTE trade reachability

_REACH_TOP_PARTNERS = 3
_REACH_MAX_HOP = 3


def trade_reachability_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop reachability over the nation trade graph via Spark 4.1
    ``WITH RECURSIVE``: edges are each customer-nation's top-3 supplier
    nations by traded cents (self-loops excluded; ties broken by
    nationkey so the graph is deterministic at every SF); BFS from
    nation 0 reports min-hop distance for every reachable nation.

    The top-k edge trim bounds recursion fan-out to k^hop walks
    regardless of data size — the recursion runs on a 25-node derived
    graph, never on the fact table; the fact-table work is one
    aggregate. DuckDB runs the identical recursive SQL as the oracle.
    """
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    cents = F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    flows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(c.c_nationkey.cast("int").alias("src"),
                 s.s_nationkey.cast("int").alias("dst"))
        .agg(F.sum(cents).alias("cents"))
        .filter(F.col("src") != F.col("dst"))
    )
    wr = Window.partitionBy("src").orderBy(F.desc("cents"), "dst")
    edges = (
        flows.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _REACH_TOP_PARTNERS)
        .select("src", "dst")
    )
    edges.createOrReplaceTempView("_wh_trade_edges")
    return spark.sql(f"""
        WITH RECURSIVE reach(nation, hop) AS (
          SELECT CAST(0 AS INT) AS nation, CAST(0 AS INT) AS hop
          UNION ALL
          SELECT e.dst AS nation, r.hop + 1 AS hop
          FROM reach r JOIN _wh_trade_edges e ON e.src = r.nation
          WHERE r.hop < {_REACH_MAX_HOP}
        )
        SELECT nation, CAST(MIN(hop) AS INT) AS hop
        FROM reach GROUP BY nation ORDER BY nation
    """)


# flows/edges AS MATERIALIZED (r20 scale gate): the recursive reach
# term joins `edges` per hop — DuckDB inlines non-recursive CTEs, so
# without the hint the full lineitem 3-way join re-ran every hop
# (bounded here at 3 hops, but the same class that blew up the
# pagerank oracle at the 10x fixture). Value-identical.
REACHABILITY_SQL = f"""
WITH RECURSIVE flows AS MATERIALIZED (
  SELECT c.c_nationkey::INT AS src, s.s_nationkey::INT AS dst,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer c ON o_custkey = c.c_custkey
  JOIN supplier s ON l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY 1, 2
),
edges AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src
                              ORDER BY cents DESC, dst) AS rk
    FROM flows
  ) WHERE rk <= {_REACH_TOP_PARTNERS}
),
reach(nation, hop) AS (
  SELECT 0::INT AS nation, 0::INT AS hop
  UNION ALL
  SELECT e.dst AS nation, r.hop + 1 AS hop
  FROM reach r JOIN edges e ON e.src = r.nation
  WHERE r.hop < {_REACH_MAX_HOP}
)
SELECT nation, MIN(hop)::INT AS hop
FROM reach GROUP BY nation ORDER BY nation
"""

# -------------------------------------------- approx-percentile verification


def _sketch_within_2pct(approx_expr: str, exact_col: str) -> F.Column:
    """approx_percentile_check's sketch-sanity predicate: the sketch
    pick within 2% of the exact-rank pick, in exact integer arithmetic
    (|ap - exact| * 50 <= exact, i.e. no float division). Module-level
    (r19, VERDICT r18 item 5) so tests/test_within_tol.py can mutate
    it: a broken sketch value must FAIL the production predicate."""
    return F.expr(f"abs({approx_expr} - {exact_col}) * 50") <= F.col(exact_col)


def approx_percentile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-verification contract (same pattern as agg_approx_distinct):
    Spark computes approx_percentile (Greenwald-Khanna sketch) AND the
    exact discrete percentile, emitting the exact values plus a
    deterministic within-2%-tolerance boolean per percentile; the oracle
    computes the exact values and literal TRUE. The exact element is
    picked by pure integer rank arithmetic — ``(p*(n-1)) div 100 + 1`` —
    so no float interpolation can drift between engines.

    Null contract (r17, ADVICE r16 item 2): NULL prices are excluded
    from the rank on BOTH sides and n counts live prices only —
    ranking them would hinge the percentile pick on Spark's
    NULLS-FIRST vs DuckDB's NULLS-LAST ASC default (the r16 staggered
    census caught exactly that divergence). A NULL flag group with
    live prices still flows through the eqNullSafe rejoin below.
    r18 extends the exclusion to non-finite prices: cents() maps them
    to NULL, and the IS NOT NULL filter runs on the cents value, so n
    counts live FINITE prices only — ranking a NaN would otherwise pin
    the pick to each engine's own NaN sort position."""
    li = t(spark, sf_dir, "lineitem")
    price_c = cents("l_extendedprice")
    base = (li.select(F.col("l_returnflag").alias("flag"),
                      price_c.alias("cents"))
            .filter(F.col("cents").isNotNull()))
    w = Window.partitionBy("flag").orderBy("cents")
    ranked = (
        base.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("flag")))
    )
    exact = (
        ranked.filter(
            (F.col("rn") == F.expr("(50 * (n - 1)) div 100 + 1"))
            | (F.col("rn") == F.expr("(95 * (n - 1)) div 100 + 1")))
        .groupBy("flag")
        .agg(
            F.max("n").alias("n"),
            F.max(F.when(
                F.col("rn") == F.expr("(50 * (n - 1)) div 100 + 1"),
                F.col("cents"))).alias("p50_cents"),
            F.max(F.when(
                F.col("rn") == F.expr("(95 * (n - 1)) div 100 + 1"),
                F.col("cents"))).alias("p95_cents"),
        )
    )
    approx = base.groupBy(F.col("flag").alias("f")).agg(
        F.expr("approx_percentile(cents, array(0.5, 0.95), 10000)").alias("ap"))
    # eqNullSafe rejoin + vacuous-TRUE tolerance on degenerate groups —
    # same r16 null-census class-C fix as agg_approx_distinct (a bare
    # equi-join on the nullable group key silently dropped the NULL
    # flag group both sides kept)
    # tiny-group vacuity (r18 vector-census find): on an n=2 group the
    # sketch's discrete pick (element at ceil(p*n)) and this query's
    # rank pick ((p*(n-1)) div 100 + 1) are DIFFERENT definitions — up
    # to one whole element apart, which a 2% band cannot absorb when
    # the two values are far apart. The check exists to catch a broken
    # sketch PATH at scale, not to reconcile rank conventions on
    # fixture-sized groups, so groups under 100 rows are vacuously
    # TRUE (mirroring the oracle's literal TRUE).
    vacuous = F.col("n") < 100
    return (
        exact.join(approx, F.col("flag").eqNullSafe(F.col("f")))
        .select(
            "flag", "n", "p50_cents", "p95_cents",
            F.coalesce(
                vacuous | _sketch_within_2pct("ap[0]", "p50_cents"),
                F.lit(True)).alias("p50_within_tol"),
            F.coalesce(
                vacuous | _sketch_within_2pct("ap[1]", "p95_cents"),
                F.lit(True)).alias("p95_within_tol"),
        )
        .orderBy("flag")
    )


APPROX_PCTL_SQL = f"""
WITH base AS (
  SELECT l_returnflag AS flag,
         {cents_sql('l_extendedprice')} AS cents
  FROM lineitem
  WHERE {cents_sql('l_extendedprice')} IS NOT NULL
),
ranked AS (
  SELECT flag, cents,
         row_number() OVER (PARTITION BY flag ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY flag) AS n
  FROM base
)
SELECT flag, MAX(n)::BIGINT AS n,
       MAX(CASE WHEN rn = (50 * (n - 1)) // 100 + 1 THEN cents END)::BIGINT
         AS p50_cents,
       MAX(CASE WHEN rn = (95 * (n - 1)) // 100 + 1 THEN cents END)::BIGINT
         AS p95_cents,
       TRUE AS p50_within_tol,
       TRUE AS p95_within_tol
FROM ranked
WHERE rn = (50 * (n - 1)) // 100 + 1 OR rn = (95 * (n - 1)) // 100 + 1
GROUP BY flag
ORDER BY flag
"""


SPECS: list[QuerySpec] = [
    QuerySpec(
        "scd2_status_history", scd2_status_history, SCD2_SQL,
        "SCD type-2 dimension build from an event stream"),
    QuerySpec(
        "merge_upsert_orders", merge_upsert_orders, MERGE_UPSERT_SQL,
        "MERGE INTO / upsert semantics as base ⟗ delta with per-row action"),
    QuerySpec(
        "daily_revenue_gapfill", daily_revenue_gapfill, GAPFILL_SQL,
        "date-spine calendar densification with zero-fill"),
    QuerySpec(
        "copurchase_triangles", copurchase_triangles, TRIANGLES_SQL,
        "triangle counting on the frequent-co-purchase graph"),
    QuerySpec(
        "trade_reachability_recursive", trade_reachability_recursive,
        REACHABILITY_SQL,
        "multi-hop BFS min-distance via Spark 4.1 WITH RECURSIVE"),
    QuerySpec(
        "approx_percentile_check", approx_percentile_check, APPROX_PCTL_SQL,
        "approx_percentile sketch verified against exact integer-rank "
        "percentiles (within_tol contract)"),
]


# ------------------------------------------------------------ RFM segments
# Recency/Frequency/Monetary quartile segmentation — the classic
# customer-analytics rollup. Scale design: quartile ASSIGNMENT uses
# exact interpolated thresholds (Spark `percentile` / DuckDB
# `quantile_cont`, the shared definition proven by agg_percentiles)
# broadcast as one scalar row, NOT a global ntile window (a
# single-partition sort of every customer at 100 TB). Money stays in
# exact integer cents. Scoring convention: quartile boundaries are
# compared with <= for recency (smaller = better) and > for
# frequency/monetary (larger = better); both engines evaluate the same
# comparisons on identical doubles.


@session_memo
def _per_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted per-customer order rollup shared by
    customer_rfm_segments and revenue_concentration_deciles (one orders
    scan serves both queries and every threshold/score branch within
    each — unpersisted forms re-scanned orders 4x per query; the audit
    tool flagged it)."""
    o = t(spark, sf_dir, "orders")
    return (o.groupBy("o_custkey")
            .agg(F.max("o_orderdate").alias("last_order"),
                 F.count(F.lit(1)).alias("n_orders"),
                 F.sum(cents("o_totalprice")).alias("spend_c"))
            .persist())


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_cust = _per_customer_orders(spark, sf_dir)
    maxd = per_cust.agg(F.max("last_order").alias("maxd"))
    rfm = (per_cust.crossJoin(broadcast(maxd))
           .select("o_custkey", "n_orders", "spend_c",
                   F.datediff("maxd", "last_order").alias("recency_days")))
    th = broadcast(rfm.agg(
        F.percentile("recency_days", 0.25).alias("r25"),
        F.percentile("recency_days", 0.5).alias("r50"),
        F.percentile("recency_days", 0.75).alias("r75"),
        F.percentile("n_orders", 0.25).alias("f25"),
        F.percentile("n_orders", 0.5).alias("f50"),
        F.percentile("n_orders", 0.75).alias("f75"),
        F.percentile("spend_c", 0.25).alias("m25"),
        F.percentile("spend_c", 0.5).alias("m50"),
        F.percentile("spend_c", 0.75).alias("m75")))
    scored = rfm.crossJoin(th).select(
        F.expr("1 + if(recency_days <= r75, 1, 0)"
               " + if(recency_days <= r50, 1, 0)"
               " + if(recency_days <= r25, 1, 0)").alias("r_score"),
        F.expr("1 + if(n_orders > f25, 1, 0) + if(n_orders > f50, 1, 0)"
               " + if(n_orders > f75, 1, 0)").alias("f_score"),
        F.expr("1 + if(spend_c > m25, 1, 0) + if(spend_c > m50, 1, 0)"
               " + if(spend_c > m75, 1, 0)").alias("m_score"),
        "spend_c")
    return (
        scored
        .groupBy(F.concat_ws("-", "r_score", "f_score", "m_score")
                 .alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.sum("spend_c").alias("_sp"))
        .select("segment", "n_customers", dollars("_sp", "total_spend"))
        .orderBy("segment")
    )


RFM_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey, MAX(o_orderdate) AS last_order,
         COUNT(*) AS n_orders,
         SUM({cents_sql('o_totalprice')})::BIGINT AS spend_c
  FROM orders GROUP BY o_custkey
),
rfm AS (
  SELECT o_custkey, n_orders, spend_c,
         datediff('day', last_order,
                  (SELECT MAX(last_order) FROM per_cust)) AS recency_days
  FROM per_cust
),
th AS (
  SELECT quantile_cont(recency_days, 0.25) AS r25,
         quantile_cont(recency_days, 0.5) AS r50,
         quantile_cont(recency_days, 0.75) AS r75,
         quantile_cont(n_orders, 0.25) AS f25,
         quantile_cont(n_orders, 0.5) AS f50,
         quantile_cont(n_orders, 0.75) AS f75,
         quantile_cont(spend_c, 0.25) AS m25,
         quantile_cont(spend_c, 0.5) AS m50,
         quantile_cont(spend_c, 0.75) AS m75
  FROM rfm
),
scored AS (
  SELECT (1 + CASE WHEN recency_days <= r75 THEN 1 ELSE 0 END
            + CASE WHEN recency_days <= r50 THEN 1 ELSE 0 END
            + CASE WHEN recency_days <= r25 THEN 1 ELSE 0 END) AS r_score,
         (1 + CASE WHEN n_orders > f25 THEN 1 ELSE 0 END
            + CASE WHEN n_orders > f50 THEN 1 ELSE 0 END
            + CASE WHEN n_orders > f75 THEN 1 ELSE 0 END) AS f_score,
         (1 + CASE WHEN spend_c > m25 THEN 1 ELSE 0 END
            + CASE WHEN spend_c > m50 THEN 1 ELSE 0 END
            + CASE WHEN spend_c > m75 THEN 1 ELSE 0 END) AS m_score,
         spend_c
  FROM rfm CROSS JOIN th
)
SELECT r_score || '-' || f_score || '-' || m_score AS segment,
       COUNT(*) AS n_customers,
       CAST(SUM(spend_c) AS DOUBLE) / 100.0 AS total_spend
FROM scored
GROUP BY 1
ORDER BY segment
"""

SPECS.append(
    QuerySpec("customer_rfm_segments", customer_rfm_segments, RFM_SQL,
              "RFM quartile segmentation via broadcast thresholds (no global ntile)"))


# ------------------------------------------------------------ revenue concentration
# Pareto/concentration analysis: how much revenue the top spend-deciles
# of customers carry. Like RFM above, decile ASSIGNMENT uses exact
# interpolated thresholds broadcast as one row — never a global
# rank/ntile sort of the customer base. Decile d (1 = lowest spenders,
# 10 = highest) is the count of thresholds strictly below the
# customer's exact cents spend; share/cumshare are exact integer
# per-million of the grand total. Customers tied exactly on a boundary
# land in the same decile in both engines (same comparison on the same
# IEEE threshold), so the report is deterministic even though decile
# populations then deviate from exact tenths — that documented
# deviation is the price of avoiding the global sort.


def _share_e6_expr(a: str, total: str) -> str:
    """Exact floor(a*1e6/total) in pure BIGINT via the split-multiplier
    identity a*1e6 = (a*1e3 div T)*1e3*T + (a*1e3 mod T)*1e3 — a naive
    a*1000000 overflows BIGINT once a > ~9.2e12 cents ($92B), which the
    10x fixture's cumulative total already exceeds. Intermediates here
    stay <= max(a, T)*1000: exact to ~$92T totals (documented bound).
    Same text evaluates identically in Spark SQL and DuckDB."""
    return (f"(({a} * 1000 div {total}) * 1000"
            f" + (({a} * 1000 % {total}) * 1000) div {total})")


def revenue_concentration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_cust = _per_customer_orders(spark, sf_dir).select(
        "o_custkey", "spend_c")
    th = broadcast(per_cust.agg(*[
        F.percentile("spend_c", i / 10.0).alias(f"t{i}")
        for i in range(1, 10)]))
    decile = F.expr("1 + " + " + ".join(
        f"if(spend_c > t{i}, 1, 0)" for i in range(1, 10)))
    per_decile = (
        per_cust.crossJoin(th)
        .select(decile.alias("decile"), "spend_c")
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.sum("spend_c").alias("dec_c")))
    total = broadcast(per_decile.agg(F.sum("dec_c").alias("tot_c")))
    w = Window.orderBy(F.col("decile").desc()) \
        .rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_decile.crossJoin(total)
        .withColumn("cum_c", F.sum("dec_c").over(w))
        .select("decile", "n_customers",
                dollars("dec_c", "decile_spend"),
                F.expr(_share_e6_expr("dec_c", "tot_c")).alias("share_e6"),
                F.expr(_share_e6_expr("cum_c", "tot_c"))
                .alias("cum_top_share_e6"))
        .orderBy(F.col("decile").desc())
    )


REVENUE_CONC_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey, SUM({cents_sql('o_totalprice')})::BIGINT AS spend_c
  FROM orders GROUP BY o_custkey
),
th AS (
  SELECT {", ".join(f"quantile_cont(spend_c, {i/10.0}) AS t{i}"
                    for i in range(1, 10))}
  FROM per_cust
),
per_decile AS (
  SELECT (1 + {" + ".join(f"CASE WHEN spend_c > t{i} THEN 1 ELSE 0 END"
                          for i in range(1, 10))}) AS decile,
         COUNT(*) AS n_customers,
         SUM(spend_c)::BIGINT AS dec_c
  FROM per_cust CROSS JOIN th
  GROUP BY 1
),
total AS (SELECT SUM(dec_c)::BIGINT AS tot_c FROM per_decile),
cum AS (
  SELECT decile, n_customers, dec_c, tot_c,
         CAST(SUM(dec_c) OVER (ORDER BY decile DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_c
  FROM per_decile CROSS JOIN total
)
SELECT decile, n_customers,
       CAST(dec_c AS DOUBLE) / 100.0 AS decile_spend,
       ((dec_c * 1000 // tot_c) * 1000
        + ((dec_c * 1000 % tot_c) * 1000) // tot_c) AS share_e6,
       ((cum_c * 1000 // tot_c) * 1000
        + ((cum_c * 1000 % tot_c) * 1000) // tot_c) AS cum_top_share_e6
FROM cum
ORDER BY decile DESC
"""

SPECS.append(
    QuerySpec("revenue_concentration_deciles", revenue_concentration_deciles,
              REVENUE_CONC_SQL,
              "Pareto revenue concentration by spend decile (broadcast thresholds)"))


# ------------------------------------------------ engagement vs revenue
# Cross-domain customer 360: behavioral volume from the events stream
# joined to transactional value from orders on the shared customer key
# — the engagement-to-revenue table activation teams export. Both
# sides collapse to per-key aggregates BEFORE the join (two map-side-
# combinable apexes, then a key-aligned join of |users| + |customers|
# rows — never a fact×fact join); spend stays in exact integer cents
# until the final cast. Event users absent from orders surface with
# zero orders (left join + coalesce) — the "engaged but not yet
# converted" segment the report exists to find.


def customer_engagement_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        t(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.when(F.col("event_type") == "purchase", 1)
                   .otherwise(0)).alias("n_purchase_events"))
    )
    od = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(cents("o_totalprice")).alias("_spend_c"))
    )
    return (
        ev.join(od, "custkey", "left")
        .select("custkey", "n_events", "n_purchase_events",
                F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
                dollars(F.coalesce("_spend_c", F.lit(0)), "total_spend"))
        .orderBy("custkey")
    )


ENGAGEMENT_VALUE_SQL = f"""
WITH ev AS (
  SELECT user_id AS custkey, COUNT(*) AS n_events,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
           AS n_purchase_events
  FROM events GROUP BY 1
),
od AS (
  SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
         SUM({cents_sql('o_totalprice')})::BIGINT AS spend_c
  FROM orders GROUP BY 1
)
SELECT ev.custkey, ev.n_events, ev.n_purchase_events,
       COALESCE(od.n_orders, 0) AS n_orders,
       CAST(COALESCE(od.spend_c, 0) AS DOUBLE) / 100.0 AS total_spend
FROM ev LEFT JOIN od USING (custkey)
ORDER BY custkey
"""

SPECS.append(
    QuerySpec("customer_engagement_value", customer_engagement_value,
              ENGAGEMENT_VALUE_SQL,
              "events-stream engagement joined to order value per customer"))


# --------------------------------------------------- order cadence
# Exact discrete percentiles of the customer order-gap distribution —
# the purchase-cadence stat behind replenishment-window and churn-
# horizon choices. Uses the rank-selection idiom of
# events_rate_anomaly_mad (value at rank k = smallest gap whose
# cumulative count reaches k; k = (p·(n−1)) div 100 + 1), NOT an
# interpolated float percentile. Scale shape: the per-customer lag
# window shuffles once on o_custkey; gaps then collapse to a
# ≤date-range-days distinct-value relation (~2.5k rows at ANY scale
# factor), so the ordered cumulative window runs single-partition over
# a bounded input — never over the fact table.


def order_cadence_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    gaps = (
        o.select(F.datediff(F.col("o_orderdate"),
                            F.lag("o_orderdate", 1).over(w)).alias("gap"))
        .filter(F.col("gap").isNotNull())
    )
    dist = gaps.groupBy("gap").agg(F.count(F.lit(1)).alias("cnt"))
    cum = (
        dist.withColumn(
            "cum",
            F.sum("cnt").over(Window.orderBy("gap")
                              .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("total",
                    F.sum("cnt").over(Window.partitionBy(F.lit(1))))
    )
    def at(p: int) -> F.Column:
        k = F.expr(f"({p} * (total - 1)) div 100 + 1")
        return F.min(F.when(F.col("cum") >= k, F.col("gap")))
    return cum.agg(
        F.max("total").alias("n_gaps"),
        at(25).alias("p25_days"),
        at(50).alias("p50_days"),
        at(75).alias("p75_days"))


ORDER_CADENCE_SQL = """
WITH gaps AS (
  SELECT DATE_DIFF('day',
                   LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate ASC,
                                                   o_orderkey ASC),
                   o_orderdate)::INT AS gap
  FROM orders
),
dist AS (SELECT gap, COUNT(*) AS cnt FROM gaps
         WHERE gap IS NOT NULL GROUP BY gap),
cum AS (
  SELECT gap, cnt,
         SUM(cnt) OVER (ORDER BY gap
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(cnt) OVER () AS total
  FROM dist
)
SELECT MAX(total)::BIGINT AS n_gaps,
       MIN(CASE WHEN cum >= (25 * (total - 1)) // 100 + 1 THEN gap END)
         AS p25_days,
       MIN(CASE WHEN cum >= (50 * (total - 1)) // 100 + 1 THEN gap END)
         AS p50_days,
       MIN(CASE WHEN cum >= (75 * (total - 1)) // 100 + 1 THEN gap END)
         AS p75_days
FROM cum
"""

SPECS.append(
    QuerySpec("order_cadence_percentiles", order_cadence_percentiles,
              ORDER_CADENCE_SQL,
              "exact discrete p25/50/75 of customer order-gap days"))


# ------------------------------------------------ monthly YoY revenue
# Month-granularity revenue with year-over-year deltas — the finance
# seasonality rollup (daily_revenue_gapfill covers the day grain; this
# adds the lag-12 comparison). Exact integer cents end-to-end; the YoY
# delta is a cents-integer difference, NULL for the first year. The
# fact scan collapses to a ~|months|-row aggregate; the lag window runs
# over those rows only.


def orders_monthly_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    # calendar-true YoY (ADVICE r12): a positional lag(12) pairs wrong
    # months the moment any month has zero orders, and both engines
    # agree so the oracle can't catch it. Join the ~|months|-row
    # aggregate to itself on an exact integer month key (year*12+month)
    # offset by 12 instead — an 84-row broadcast self-join, not a scan.
    monthly = (
        o.groupBy(F.date_trunc("MONTH", F.col("o_orderdate")).alias("month"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(cents("o_totalprice")).alias("_rev_c"))
        .withColumn("_mkey",
                    F.year("month") * F.lit(12) + F.month("month"))
    )
    prev = monthly.select(F.col("_mkey").alias("_pkey"),
                          F.col("_rev_c").alias("_prev_c"))
    return (
        monthly.join(F.broadcast(prev),
                     monthly["_mkey"] == prev["_pkey"] + F.lit(12), "left")
        .select("month", "n_orders",
                dollars("_rev_c", "revenue"),
                ((F.col("_rev_c") - F.col("_prev_c")).cast("double")
                 / 100.0).alias("yoy_delta"))
        .orderBy("month")
    )


MONTHLY_YOY_SQL = f"""
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         year(o_orderdate) * 12 + month(o_orderdate) AS mkey,
         COUNT(*) AS n_orders,
         SUM({cents_sql('o_totalprice')})::BIGINT AS rev_c
  FROM orders GROUP BY 1, 2
)
SELECT m.month, m.n_orders,
       CAST(m.rev_c AS DOUBLE) / 100.0 AS revenue,
       CAST(m.rev_c - p.rev_c AS DOUBLE) / 100.0 AS yoy_delta
FROM monthly m LEFT JOIN monthly p ON p.mkey = m.mkey - 12
ORDER BY m.month
"""

SPECS.append(
    QuerySpec("orders_monthly_yoy", orders_monthly_yoy, MONTHLY_YOY_SQL,
              "monthly exact-cents revenue with lag-12 YoY delta"))


# ------------------------------------------- copurchase degree profile
# Degree distribution of the frequent-co-purchase graph — the graph-
# health profile (hub detection, power-law check) that reads the SAME
# memoized edge relation the triangle count builds (_copurchase_edges),
# so in-session it costs one tiny re-aggregation of cached edges. Each
# undirected edge contributes to both endpoints' degrees. Output is a
# degree → node-count histogram (bounded by max degree), exact BIGINTs.


def copurchase_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    nodes = (edges.select(F.col("p1").alias("part"))
             .unionAll(edges.select(F.col("p2").alias("part"))))
    degrees = nodes.groupBy("part").agg(F.count(F.lit(1)).alias("degree"))
    return (
        degrees.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("degree")
    )


DEGREE_HIST_SQL = f"""
WITH items0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
sized AS (
  SELECT l_orderkey, l_partkey,
         COUNT(*) OVER (PARTITION BY l_orderkey) AS basket_n
  FROM items0
),
items AS (
  SELECT l_orderkey, l_partkey FROM sized
  WHERE basket_n <= {_COPURCHASE_MAX_BASKET}
),
edges AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_COPURCHASE_MIN_ORDERS}
),
nodes AS (
  SELECT p1 AS part FROM edges UNION ALL SELECT p2 FROM edges
),
degrees AS (SELECT part, COUNT(*) AS degree FROM nodes GROUP BY part)
SELECT degree, COUNT(*) AS n_parts
FROM degrees
GROUP BY degree
ORDER BY degree
"""

SPECS.append(
    QuerySpec("copurchase_degree_histogram", copurchase_degree_histogram,
              DEGREE_HIST_SQL,
              "degree distribution of the co-purchase graph (cached edges)"))


# ------------------------------------------- supplier concentration HHI
# Herfindahl–Hirschman index of supplier revenue concentration per
# nation — the supply-risk metric (HHI > 0.25 ≈ concentrated market).
# Revenue is exact summed cents of l_extendedprice; per-supplier shares
# use the overflow-safe split-multiplier floor (see _share_e6_expr —
# a naive rev_c * 1e6 overflows BIGINT past ~$92B per supplier);
# HHI_e12 = Σ share_e6² is exact BIGINT (bounded by (Σ share)² ≤ 1e12).
# Scale shape: one fact scan to a |suppliers|-row aggregate, broadcast
# dim joins, share window + HHI agg over the supplier relation only.


def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem").select(
        "l_suppkey", cents("l_extendedprice").alias("c"))
    per_supp = l.groupBy("l_suppkey").agg(F.sum("c").alias("rev_c"))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (per_supp
              .join(broadcast(s), per_supp.l_suppkey == s.s_suppkey)
              .join(broadcast(n), s.s_nationkey == n.n_nationkey))
    shares = (
        joined.withColumn(
            "tot_c",
            F.expr("sum(rev_c) over (partition by n_name)"))
        .withColumn("share_e6", F.expr(_share_e6_expr("rev_c", "tot_c")))
    )
    return (
        shares.groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"),
             F.sum(F.expr("share_e6 * share_e6")).alias("hhi_e12"))
        .orderBy("n_name")
    )


HHI_SQL = f"""
WITH per_supp AS (
  SELECT l_suppkey, SUM({cents_sql('l_extendedprice')})::BIGINT AS rev_c
  FROM lineitem GROUP BY 1
),
joined AS (
  SELECT n.n_name, p.rev_c
  FROM per_supp p
  JOIN supplier s ON p.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
),
shares AS (
  SELECT n_name,
         {_share_e6_expr('rev_c',
                         'SUM(rev_c) OVER (PARTITION BY n_name)')
          .replace(' div ', ' // ')} AS share_e6
  FROM joined
)
SELECT n_name, COUNT(*) AS n_suppliers,
       SUM(share_e6 * share_e6)::BIGINT AS hhi_e12
FROM shares
GROUP BY n_name
ORDER BY n_name
"""

SPECS.append(
    QuerySpec("supplier_concentration_hhi", supplier_concentration_hhi,
              HHI_SQL,
              "per-nation supplier revenue HHI (exact e12 fixed point)"))


# -------------------------------------------- weighted median by nation
# Quantity-weighted (lower) median line price per supplier nation — the
# weighted-percentile operator Spark has no built-in for, composed
# exactly: prices in integer cents, weights in exact e2 quantity units,
# median = the smallest price whose running weight reaches half the
# nation's total (2·cum ≥ tot in pure BIGINT — no float quantile, no
# tie ambiguity: price_c is the group key, so the cumsum ordering has
# no duplicate keys). Scale shape: fact ⋈ broadcast dims → (nation,
# price_c) map-side-combined aggregate → the cumsum window runs over
# DISTINCT prices per nation (bounded by the price domain, ~2e5 cents
# values — NOT fact rows), then a tiny filtered min per nation.


def weighted_median_price_by_nation(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem").select(
        "l_suppkey", cents("l_extendedprice").alias("price_c"),
        cents("l_quantity").alias("w"))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per = (
        l.join(broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", "price_c")
        .agg(F.sum("w").alias("wsum"))
    )
    wc = (Window.partitionBy("n_name").orderBy("price_c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy("n_name")
    cum = (per.withColumn("cw", F.sum("wsum").over(wc))
           .withColumn("tw", F.sum("wsum").over(wt)))
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("n_name")
        .agg(F.max("tw").alias("total_qty_e2"),
             F.min("price_c").alias("_med_c"))
        .select("n_name", "total_qty_e2", dollars("_med_c", "median_price"))
        .orderBy("n_name")
    )


WEIGHTED_MEDIAN_SQL = f"""
WITH per AS (
  SELECT n_name,
         {cents_sql('l_extendedprice')} AS price_c,
         SUM({cents_sql('l_quantity')})::BIGINT AS wsum
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
),
cum AS (
  SELECT n_name, price_c, wsum,
         SUM(wsum) OVER (PARTITION BY n_name ORDER BY price_c
                         ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(wsum) OVER (PARTITION BY n_name) AS tw
  FROM per
)
SELECT n_name,
       MAX(tw)::BIGINT AS total_qty_e2,
       CAST(MIN(price_c) AS DOUBLE) / 100.0 AS median_price
FROM cum
WHERE cw * 2 >= tw
GROUP BY n_name
ORDER BY n_name
"""

SPECS.append(
    QuerySpec("weighted_median_price_by_nation",
              weighted_median_price_by_nation, WEIGHTED_MEDIAN_SQL,
              "exact quantity-weighted lower-median price per nation"))


# ---------------------------------------------------- backlog aging
# Open-order backlog aged in 30-day buckets against the corpus
# watermark (max order date) — the fulfillment-ops report (how much
# value sits unfilled, and for how long). Status 'F' (finished) is
# excluded; 'O'/'P' age from order date to watermark in exact integer
# days (datediff — no float), bucketed by 30-day floor-div. Scale
# shape: one 1-row watermark aggregate broadcast into a single pruned
# fact scan → a |statuses|×|buckets| aggregate; exact integer cents.


def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    wm = o.agg(F.max("o_orderdate").alias("_wm"))
    return (
        o.filter(F.col("o_orderstatus") != "F")
        .crossJoin(broadcast(wm))
        .select("o_orderstatus",
                F.expr("datediff(_wm, o_orderdate) div 30")
                .cast("int").alias("age_bucket_30d"),
                cents("o_totalprice").alias("_val_c"))
        .groupBy("o_orderstatus", "age_bucket_30d")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum("_val_c").alias("_sum_c"))
        .select("o_orderstatus", "age_bucket_30d", "n_orders",
                dollars("_sum_c", "backlog_value"))
        .orderBy("o_orderstatus", "age_bucket_30d")
    )


BACKLOG_SQL = f"""
WITH wm AS (SELECT MAX(o_orderdate) AS w FROM orders)
SELECT o_orderstatus,
       CAST(date_diff('day', o_orderdate, w) // 30 AS INT) AS age_bucket_30d,
       COUNT(*) AS n_orders,
       CAST(SUM({cents_sql('o_totalprice')}) AS DOUBLE) / 100.0
         AS backlog_value
FROM orders, wm
WHERE o_orderstatus <> 'F'
GROUP BY 1, 2
ORDER BY o_orderstatus, age_bucket_30d
"""

SPECS.append(
    QuerySpec("orders_backlog_aging", orders_backlog_aging, BACKLOG_SQL,
              "open-order backlog by status and 30-day age bucket (exact cents)"))
