"""Physical-plan regression tests: the scale-critical plan properties
(pushdown, pruning, broadcast, partial aggregation, top-k pushdown)
must survive refactors. These assert on the executed plan text — the
same thing a human checks with .explain('formatted')."""

import pytest

from mapreduce_4sl08_spark.plans import QUERIES


def plan_of(spark, name, sf_dir):
    df = QUERIES[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, "q6_forecast_revenue", sf_dir)
    # predicate pushdown reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: only the 4 referenced columns are read
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double," \
        "l_discount:double,l_shipdate:timestamp" in plan
    # map-side partial aggregation (the combiner the reference lacked)
    assert "partial_sum" in plan


def test_q5_broadcasts_dims(spark, sf_dir):
    plan = plan_of(spark, "q5_local_supplier_volume", sf_dir)
    assert "BroadcastHashJoin" in plan
    # the aggregate is partial+final (two-phase)
    assert "partial_sum" in plan


def test_wordcount_is_the_reference_plan_plus_combiner(spark, sf_dir):
    plan = plan_of(spark, "wordcount_documents", sf_dir)
    # hash shuffle for the agg (X1), range shuffle for the sort (X2)
    assert "hashpartitioning(word" in plan
    assert "rangepartitioning(count" in plan
    # map-side combine — the reference shipped every (word,1) over the
    # network (SURVEY §4.3); Spark pre-aggregates
    assert "partial_count" in plan
    # column pruning at the scan: when the fan-out gate fires, doc_id
    # rides along to feed the post-scan repartition (r21); when it does
    # not (SPARK_GRAFT_SCAN_FANOUT=off, sub-32KB fixture, or a real
    # multi-split input), the scan is text-only — branch like the gate
    # does instead of hard-coding one arm (ADVICE r21 item 2). Either
    # way the payload columns (lang/source/n_chars) must stay pruned.
    import os
    from mapreduce_4sl08_spark.sources.tables import _scan_fanout_n
    doc_path = os.path.join(sf_dir, "documents.parquet")
    if _scan_fanout_n(spark, doc_path):
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    else:
        assert "ReadSchema: struct<text:string>" in plan
    assert "lang" not in plan and "n_chars" not in plan


def test_global_topk_avoids_full_sort(spark, sf_dir):
    plan = plan_of(spark, "topk_expensive_orders", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan  # no global sort shuffle


def test_window_topk_uses_group_limit_pushdown(spark, sf_dir):
    plan = plan_of(spark, "window_topk_orders_per_customer", sf_dir)
    # Spark 3.5+ WindowGroupLimit: per-partition top-k BEFORE the shuffle
    assert "WindowGroupLimit" in plan
    assert plan.count("WindowGroupLimit") >= 2  # partial + final


def test_jaccard_probe_prefix_filters_before_shuffle(spark, sf_dir):
    """The asymmetric probe prefix (r7) must survive as a PRE-SHUFFLE
    Filter on the self-join's a-side, not sink into the join condition:
    the whole point is that ~1/3 of one side's rows never enter the
    shingle exchange. Structural marker (ADVICE r7 — no literal pinning
    of float rendering): the probe prefix is the only FILTER node
    comparing `pos` against `n_sh` in the outer tree (the Chaudhuri
    prefix is burned into the cached index's build join, the positional
    α folds into the self-join condition — neither prints as a Filter),
    so BELOW the self-join (physical plans print children AFTER the
    parent) there must be a Filter carrying that comparison; when the
    join shuffles (SortMergeJoin — the shape at scale), the Filter must
    additionally sit below the shingle Exchange. When cached-statistics
    make the planner broadcast the tiny-SF self-join instead, there is
    no exchange to beat — pushed-below-the-join is the invariant."""
    from mapreduce_4sl08_spark.plans import text
    cand, _ = text._jaccard_candidates(spark, sf_dir)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    join_idx = [i for i, ln in enumerate(lines)
                if ("[shingle" in ln)
                and ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln
                     or "BroadcastHashJoin" in ln)]
    assert join_idx, "candidate self-join missing from the plan"
    start = join_idx[0]
    exch_idx = [i for i in range(start + 1, len(lines))
                if "Exchange hashpartitioning(shingle" in lines[i]]
    if "SortMergeJoin" in lines[start] or "ShuffledHashJoin" in lines[start]:
        assert exch_idx, "shingle exchange missing below the shuffled self-join"
        start = exch_idx[0]
    below = lines[start + 1:]
    assert any(ln.lstrip(" :+-").startswith("Filter")
               and "pos" in ln and "n_sh" in ln and "<=" in ln
               for ln in below), \
        "probe-prefix condition no longer pushed below the self-join/shuffle"


def test_simhash_pair_dedup_is_shuffle_free(spark, sf_dir):
    """First-equal-band emission (r7) replaced the trailing .distinct():
    the plan must carry the CASE WHEN band arbitration in the join/filter
    and contain NO pair-keyed exchange or aggregate — a regression back
    to distinct() re-adds a shuffle of every verified multi-band pair."""
    plan = plan_of(spark, "simhash_dedup", sf_dir)
    assert "CASE WHEN" in plan
    assert "Exchange hashpartitioning(doc_a" not in plan
    assert "HashAggregate(keys=[doc_a" not in plan


def test_semi_join_stays_semi(spark, sf_dir):
    plan = plan_of(spark, "join_semi_big_spenders", sf_dir)
    assert "LeftSemi" in plan


def test_knn_broadcasts_probes(spark, sf_dir):
    plan = plan_of(spark, "knn_bruteforce_cosine", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_scalar_subquery_single_plan_with_reuse(spark, sf_dir):
    """TPC-H Q11/Q15 scalar subqueries must stay inside ONE lazy plan
    (broadcast cross join), with the shared aggregate exchange computed
    once (ReusedExchange) — not a driver .collect() + second fact scan."""
    for name in ("q11_important_stock", "q15_top_supplier"):
        df = QUERIES[name].fn(spark, sf_dir)
        df.collect()  # AQE finalizes stage reuse at runtime
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan, f"{name}: shared subplan scanned twice"


def test_q22_is_one_lazy_plan(spark, sf_dir):
    """Q22's global-average threshold joins in as a broadcast scalar —
    no nested-loop fallback, single job."""
    plan = plan_of(spark, "q22_idle_rich_customers", sf_dir)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_lsh_similarity_never_cartesian(spark, sf_dir):
    """Candidate generation for embedding near-dup and ANN must be the
    banded-LSH equi-join — an O(n²) CartesianProduct (or an unbroadcast
    nested loop over the full table) would be a scale-killer at 100 TB."""
    for name in ("embedding_near_dup", "lsh_bucket_ann"):
        plan = plan_of(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        # Arrow-batched verify stage, never row-at-a-time Python
        assert "BatchEvalPython" not in plan, name


def test_bucketed_registry_query_join_has_no_exchange(spark, sf_smoke_dir):
    """The registry's bucketed join must SortMergeJoin directly over the
    bucketed scans — any Exchange below the join means the write-time
    pre-shuffle was wasted."""
    df = QUERIES["bucketed_join_zero_shuffle"].fn(spark, sf_smoke_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    # everything after the LAST SortMergeJoin mention is the join's
    # subtree (build sides) — it must be exchange-free
    below_join = plan.split("SortMergeJoin")[-1]
    assert "Exchange" not in below_join, below_join[:500]


def test_salted_agg_registry_query_two_phase(spark, sf_smoke_dir):
    """Salted hot-key agg: the partial phase must group on
    (event_type, _salt) — the hot key spread across salt partitions."""
    plan = plan_of(spark, "salted_hot_key_agg", sf_smoke_dir)
    assert "_salt" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × 2 phases


def test_lateral_topk_is_decorrelated(spark, sf_dir):
    """The LATERAL per-customer top-3 must be decorrelated by Catalyst
    into a window-group-limit + equi-join — a correlated nested-loop
    (one subquery execution per outer row) would be a scale-killer."""
    plan = plan_of(spark, "lateral_topk_orders", sf_dir)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_span_dedup_single_shuffle_agg(spark, sf_dir):
    """Span dedup is explode + ONE hash-shuffle aggregation on the span
    hash (with map-side partial agg) — same shape as exact doc dedup."""
    plan = plan_of(spark, "span_dedup_report", sf_dir)
    assert "partial_count" in plan or "partial_min" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_sequence_packing_no_global_single_partition_window(spark, sf_dir):
    """The packing prefix sum must stay sharded: every window spec in the
    plan carries a partitionBy (no empty-partition global window), so no
    stage funnels the corpus through one task."""
    plan = plan_of(spark, "sequence_packing_bins", sf_dir)
    import re
    # WindowExec prints as: Window [sum(...)...], [partition cols], [order]
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert m.group(1).strip(), f"unpartitioned window in plan: {m.group(0)[:120]}"


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Runtime bloom-filter join pruning: with a selective filter on the
    build side of a shuffle join, Spark injects a might_contain() filter
    on the probe side's scan — at 100 TB the probe side drops non-joining
    rows BEFORE the shuffle instead of shipping them. (Thresholds lowered
    because the fixture is tiny; the conf knobs are the production ones.)"""
    from pyspark.sql import functions as F
    from mapreduce_4sl08_spark.sources import load_table

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        l = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT")
        j = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:800]
        [row] = j.collect()
        assert row["count"] > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning(spark, sf_smoke_dir, tmp_path):
    """DPP: joining a year-partitioned fact to a filtered dim prunes fact
    partitions at runtime — the scan must carry a dynamicpruning
    subquery filter. At 100 TB this is the difference between scanning
    one partition and scanning the lake."""
    from pyspark.sql import functions as F
    from mapreduce_4sl08_spark.sources import load_table

    fact_dir = str(tmp_path / "orders_by_year")
    (load_table(spark, sf_smoke_dir, "orders")
     .withColumn("o_year", F.year("o_orderdate"))
     .write.partitionBy("o_year").parquet(fact_dir))
    fact = spark.read.parquet(fact_dir)
    # dim must be filtered on a column Catalyst can't constant-fold onto
    # the join key (a literal o_year filter becomes a STATIC partition
    # filter — good, but not DPP); a parquet-backed flag column forces
    # the pruning values to be discovered at runtime
    dim_dir = str(tmp_path / "year_dim")
    years = (load_table(spark, sf_smoke_dir, "orders")
             .select(F.year("o_orderdate").alias("o_year")).distinct()
             .withColumn("flag", F.when(F.col("o_year") == 1997, "keep").otherwise("skip")))
    years.write.parquet(dim_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("flag") == "keep")
    joined = fact.join(dim, "o_year")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:1000]
    want = (load_table(spark, sf_smoke_dir, "orders")
            .filter(F.year("o_orderdate") == 1997).count())
    assert joined.count() == want


def test_copurchase_basket_cap_excludes_hot_baskets(spark, tmp_path):
    """Basket-skew guard (VERDICT r4): an order with more distinct parts
    than _COPURCHASE_MAX_BASKET never reaches the O(k^2) pair expansion —
    its parts contribute no edges — while normal orders are unaffected."""
    from mapreduce_4sl08_spark.plans import warehouse

    sf = str(tmp_path / "sf_hot")
    import os
    os.makedirs(sf)
    cap = warehouse._COPURCHASE_MAX_BASKET
    # hot basket: order 1 with cap+36 distinct parts (twice, so every
    # pair would pass the >= 2 co-occurrence filter if not capped);
    # normal baskets: orders 10/11 sharing parts (1,2,3) twice
    rows = []
    for ok in (1, 2):
        rows += [(ok, p) for p in range(1000, 1000 + cap + 36)]
    for ok in (10, 11):
        rows += [(ok, p) for p in (1, 2, 3)]
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long") \
        .write.mode("overwrite").parquet(f"{sf}/lineitem.parquet")

    edges = warehouse._copurchase_edges(spark, sf)
    got = {(r.p1, r.p2) for r in edges.collect()}
    # only the normal-basket edges survive; the hot basket's
    # (cap+36 choose 2) pairs were never generated
    assert got == {(1, 2), (1, 3), (2, 3)}
    edges.unpersist()
    warehouse._copurchase_edges.memo.clear()


def test_copurchase_cap_is_output_invariant_on_fixture(spark, sf_dir):
    """TPC-H baskets max out far below the cap, so the skew guard cannot
    change the fixture answer (the guard exists for real-world data)."""
    from pyspark.sql import functions as F

    from mapreduce_4sl08_spark.plans import warehouse
    from mapreduce_4sl08_spark.plans.base import t

    li = t(spark, sf_dir, "lineitem")
    max_basket = (
        li.select("l_orderkey", "l_partkey").distinct()
        .groupBy("l_orderkey").count()
        .agg(F.max("count")).collect()[0][0]
    )
    assert max_basket <= warehouse._COPURCHASE_MAX_BASKET


def test_copurchase_edges_memoized_no_persist_growth(spark, sf_smoke_dir):
    """VERDICT r4: a registry sweep must not accumulate pinned RDDs.
    Repeated copurchase_triangles invocations in one session reuse ONE
    memoized persisted edge list."""
    from mapreduce_4sl08_spark.plans import warehouse

    warehouse.copurchase_triangles(spark, sf_smoke_dir).count()
    n_after_first = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    warehouse.copurchase_triangles(spark, sf_smoke_dir).count()
    warehouse.copurchase_triangles(spark, sf_smoke_dir).count()
    n_after_third = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    # <= not ==: the async ContextCleaner may unpersist orphaned
    # checkpoint blocks between samples; the invariant is NO GROWTH
    assert n_after_third <= n_after_first


def test_profile_schema_declaration_matches_live_parquet(spark, sf_dir):
    """The profiler's Spark side walks the LIVE schema; its oracle SQL is
    generated from PROFILE_SCHEMAS. Pin the declaration to the parquet
    so the two walks cannot drift."""
    from mapreduce_4sl08_spark.plans.quality import PROFILE_SCHEMAS
    from mapreduce_4sl08_spark.plans.base import t

    for table, declared in PROFILE_SCHEMAS.items():
        live = t(spark, sf_dir, table).dtypes
        assert live == declared, table


def test_ts_quarantine_cols_cover_schema(spark, sf_dir):
    """TS_QUARANTINE_COLS is the declared list the ts-representability
    quarantine (load_table filter + oracle shadow CTEs) governs. Pin it
    to the live parquet schemas in BOTH directions: every timestamp/
    date column in the corpus must be quarantined (a new temporal
    column silently outside the contract could abort pandas-crossing
    consumers again), and every declared column must exist."""
    from mapreduce_4sl08_spark.sources.tables import (
        TABLE_NAMES, TS_QUARANTINE_COLS, load_table,
    )
    temporal = {"timestamp", "timestamp_ntz", "date"}
    for table in TABLE_NAMES:
        live = [c for c, dt in
                load_table(spark, sf_dir, table, quarantine=False).dtypes
                if dt in temporal]
        declared = list(TS_QUARANTINE_COLS.get(table, ()))
        assert live == declared, (
            f"{table}: temporal columns {live} vs quarantine "
            f"declaration {declared}")


def test_pagerank_memoized_no_persist_growth(spark, sf_smoke_dir):
    """Same sweep invariant as the co-purchase edges: repeated pagerank
    invocations reuse ONE memoized rank plan (and its node/link caches)."""
    from mapreduce_4sl08_spark.plans.extended import graph_pagerank_purchases

    graph_pagerank_purchases(spark, sf_smoke_dir).count()
    n_first = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    graph_pagerank_purchases(spark, sf_smoke_dir).count()
    n_third = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    # <= not ==: see test_copurchase_edges_memoized_no_persist_growth
    assert n_third <= n_first


def test_profile_table_generalizes_to_unseen_types(spark, tmp_path):
    """profile_table's type dispatch covers date/boolean/float columns no
    fixture table exercises — prove the schema walk and the generated
    oracle agree on a synthetic table containing them (incl. nulls)."""
    import datetime

    import duckdb

    from mapreduce_4sl08_spark.plans.quality import (
        _profile_oracle_sql, profile_table)
    from tests.oracle import compare_frames

    sf = str(tmp_path / "sf_syn")
    rows = [
        (1, datetime.date(2024, 1, 31), True, 12.34, "x"),
        (2, datetime.date(2023, 7, 4), False, -0.5, None),
        (3, None, None, None, "y"),
    ]
    ddl = "id long, d date, flag boolean, v double, s string"
    spark.createDataFrame(rows, ddl).write.mode("overwrite") \
        .parquet(f"{sf}/syn.parquet")

    got = profile_table(spark, sf, "syn").toPandas()
    cols = [("id", "bigint"), ("d", "date"), ("flag", "boolean"),
            ("v", "double"), ("s", "string")]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW syn AS SELECT * FROM '{sf}/syn.parquet/*.parquet'")
    want = con.execute(_profile_oracle_sql("syn", cols)).fetchdf()
    compare_frames(got, want, "profile_syn")


def test_profile_dispatch_rejects_unhandled_types():
    """Both profile dispatches (Spark-side ordering expr, oracle SQL
    repr) must FAIL LOUDLY on a dtype without an explicit engine-neutral
    branch — decimal's string rendering differs between Spark and
    DuckDB's VARCHAR cast (scale/trailing zeros), so a silent
    fall-through would surface as a value-hash mismatch (ADVICE r5)."""
    import pytest

    from mapreduce_4sl08_spark.plans.quality import (
        _profile_oracle_repr, _profile_order_key)

    for dtype in ("decimal(10,2)", "interval day", "binary"):
        with pytest.raises(TypeError, match="engine-neutral"):
            _profile_order_key("c", dtype)
        with pytest.raises(TypeError, match="engine-neutral"):
            _profile_oracle_repr("c", dtype)


def test_reliable_checkpoint_knob(spark, sf_smoke_dir, tmp_path, monkeypatch):
    """SPARK_GRAFT_CHECKPOINT_DIR switches iterative-loop lineage
    truncation from executor-local blocks to reliable .checkpoint()
    storage (the cluster path — survives executor loss): identical CC
    output, and checkpoint data actually lands in the directory
    (VERDICT r5 item 3)."""
    import os

    from mapreduce_4sl08_spark.plans import text

    text.dedup_connected_components.memo.clear()
    local = text.dedup_connected_components(spark, sf_smoke_dir).collect()

    ckpt = str(tmp_path / "reliable_ckpt")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckpt)
    text.dedup_connected_components.memo.clear()
    try:
        reliable = text.dedup_connected_components(
            spark, sf_smoke_dir).collect()
    finally:
        text.dedup_connected_components.memo.clear()  # don't leak reliable-ckpt frames to others
    assert reliable == local
    found = [f for _root, _dirs, files in os.walk(ckpt) for f in files]
    assert found, "reliable path wrote nothing under the checkpoint dir"


def test_session_memo_evicts_dead_application_entries():
    """SessionMemo drops entries keyed by any applicationId other than
    the one being accessed — only one SparkContext can be live per
    process, so foreign-app entries are handles into a stopped context
    (dead persisted blocks). Same-app entries for other datasets stay."""
    from mapreduce_4sl08_spark.plans.base import SessionMemo

    m = SessionMemo()
    m[("app-1", "sfA")] = "dfA"
    m[("app-1", "sfB")] = "dfB"
    assert m.get(("app-1", "sfA")) == "dfA"
    assert len(m) == 2  # same app, two datasets — both kept

    # context cycled: @session_memo keys every entry by the LIVE
    # session's app id, so an access under app-2 means app-1 is dead:
    # evicted on both paths
    m[("app-2", "sfA")] = "dfA2"
    assert len(m) == 1
    assert m.get(("app-2", "sfA")) == "dfA2"
    assert ("app-1", "sfB") not in m
    assert len(m) == 1


def test_all_plan_memos_are_session_scoped():
    """Every registered memo must carry the eviction policy — a plain
    dict here would leak DataFrame handles across session restarts."""
    from mapreduce_4sl08_spark.plans import all_session_memos
    from mapreduce_4sl08_spark.plans.base import SessionMemo

    memos = all_session_memos()
    # every @session_memo builder registers itself at import
    assert len(memos) >= 16, sorted(memos)
    for name, memo in memos.items():
        assert isinstance(memo, SessionMemo), name


def test_session_memo_builds_once_under_contention(spark):
    """Eight threads racing on one cold key of a @session_memo builder
    get ONE build, one object and one memo entry; a call with the
    default spelled out shares that entry; a build that raises stores
    nothing; a DataFrame parameter is refused."""
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from mapreduce_4sl08_spark.plans import base

    calls = []

    @base.session_memo
    def _contended(spark, sf_dir, n=3):
        calls.append(n)
        time.sleep(0.05)  # hold the build open while the others arrive
        if sf_dir == "bad":
            raise ValueError("build failed")
        return object()

    start = threading.Barrier(8, timeout=60)

    def call(_):
        start.wait()
        return _contended(spark, "sf")

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(call, i) for i in range(8)]
            got = [f.result(timeout=120) for f in futures]
        assert calls == [3]
        assert len({id(g) for g in got}) == 1
        assert len(_contended.memo) == 1
        assert _contended(spark, "sf", 3) is got[0] and calls == [3]
        with pytest.raises(ValueError):
            _contended(spark, "bad")
        with pytest.raises(TypeError, match="not a DataFrame"):
            _contended(spark, "sf", spark.range(1))
        assert len(_contended.memo) == 1
    finally:
        sys.setswitchinterval(prev)
        base.MEMOS.pop("test_plans._contended", None)


def test_memo_bounded_across_real_session_cycle():
    """Cycle two REAL SparkContexts in one process (the long-lived
    harness shape): the memo must hold exactly the live application's
    entry after each cycle, never accumulate dead-app handles
    (VERDICT r5 item 4). Subprocess: stopping the shared test context
    would break the session-scoped fixture."""
    import subprocess
    import sys

    code = """
import sys; sys.path.insert(0, '/root/repo')
from pyspark.sql import SparkSession
from mapreduce_4sl08_spark.plans import warehouse

seen_apps = set()
for cycle in range(2):
    spark = (SparkSession.builder.master('local[2]')
             .config('spark.ui.enabled', 'false').getOrCreate())
    seen_apps.add(spark.sparkContext.applicationId)
    warehouse.copurchase_triangles(spark, '/root/testdata/sf0.001').count()
    memo = warehouse._copurchase_edges.memo
    assert len(memo) == 1, dict(memo)
    (app_id,) = {k[0] for k in memo}
    assert app_id == spark.sparkContext.applicationId
    spark.stop()
assert len(seen_apps) == 2, seen_apps  # genuinely two applications
print('MEMO_CYCLE_OK')
"""
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=300, cwd="/root/repo")
    assert "MEMO_CYCLE_OK" in out.stdout, (out.stdout, out.stderr[-2000:])


def test_sliding_window_primitives_bind_input_once(spark, sf_smoke_dir):
    """Pin the r7 lambda-binding fix: word_shingles/char_ngrams must
    evaluate a raw-expression input ONCE per row, never once per
    position. Codegen inlines an unbound child expression into every
    per-position lambda invocation — measured 41.6 s -> 4.3 s on the
    10x shingle index. The physical plan of the shingle-set projection
    must therefore contain exactly one regex split per distinct split
    expression (the _bind_once array wrapper), not one per lambda
    reference."""
    import re

    from pyspark.sql import functions as F

    from mapreduce_4sl08_spark.functions import char_ngrams, word_shingles
    from mapreduce_4sl08_spark.plans.text import TOKEN_SPLIT_RE
    from mapreduce_4sl08_spark.sources import load_table

    d = load_table(spark, sf_smoke_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), TOKEN_SPLIT_RE)
    sets = d.select(
        "doc_id",
        F.array_sort(F.array_distinct(word_shingles(toks, 3))).alias("s"))
    plan = sets._jdf.queryExecution().executedPlan().toString()
    n_split = len(re.findall(r"split\(", plan))
    assert n_split == 1, f"split evaluated {n_split} times in:\n{plan[:2000]}"

    trig = d.select(char_ngrams(
        F.lower(F.regexp_replace("text", r"[^A-Za-z]", "")), 3).alias("g"))
    plan2 = trig._jdf.queryExecution().executedPlan().toString()
    n_rr = len(re.findall(r"regexp_replace\(", plan2))
    assert n_rr == 1, f"regexp_replace evaluated {n_rr} times"

    # semantic equivalence: expression input == pre-materialized column
    via_expr = d.select("doc_id", word_shingles(toks, 3).alias("s"))
    via_col = (d.select("doc_id", toks.alias("t"))
               .select("doc_id", word_shingles(F.col("t"), 3).alias("s")))
    assert sorted(map(tuple, via_expr.collect())) == \
        sorted(map(tuple, via_col.collect()))


def test_funnel_single_scan_single_exchange(spark, sf_dir):
    """The r12 rewrite pins the funnel to ONE fact scan and ONE hash
    exchange (chained conditional window-mins) — the former
    min-filtered self-join form read events six times."""
    plan = plan_of(spark, "events_funnel_conversion", sf_dir)
    assert plan.count("Scan parquet") == 1
    import re
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert plan.count("Window") >= 3


def test_retention_single_scan(spark, sf_dir):
    """Cohort week is a window-min, not a groupBy+self-join: one scan."""
    plan = plan_of(spark, "events_retention_cohorts", sf_dir)
    assert plan.count("Scan parquet") == 1


def test_curation_pipeline_scores_once(spark, sf_dir):
    """The regex-scoring projection must appear once (survivor pick is
    a window-min over content_hash, not a join back onto a second
    scoring scan). The connected-components input is memoized/cached,
    so at most one ADDITIONAL documents scan may appear from CC's
    first materialization."""
    from mapreduce_4sl08_spark.plans import QUERIES
    df = QUERIES["corpus_curation_pipeline"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the scoring scan reads the text column; CC reads via its cache
    assert plan.count("Scan parquet") <= 2


def test_mixture_sample_two_pass_shape(spark, sf_dir):
    """Stats pass + filter pass — exactly two fact scans (the max-rate
    scalar is a window-max over the per-language aggregate, not a third
    corpus scan)."""
    plan = plan_of(spark, "mixture_weighted_sample", sf_dir)
    assert plan.count("Scan parquet") == 2


# ---------------------------------------------------- r13 shape gates


def test_burst_topk_take_ordered_not_global_window(spark, sf_dir):
    """ADVICE r12: the top-20 cut must plan as TakeOrderedAndProject
    (per-partition heaps) so the partition-less ranking window never
    sees the |users|-row relation."""
    plan = plan_of(spark, "events_burst_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_zipf_and_pmi_take_ordered(spark, sf_dir):
    """Same top-k discipline for the r13 ranked-head text ops."""
    for name in ("zipf_rank_frequency", "token_pmi_top_pairs"):
        assert "TakeOrderedAndProject" in plan_of(spark, name, sf_dir), name


def test_agg_approx_distinct_split_shape(spark, sf_dir):
    """VERDICT r12 item 4: the exact-distinct side must be a SEPARATE
    aggregate broadcast-joined to the sketch/percentile side — the
    single-statement mix planned pathologically (35.5 s vs 5.9 s at
    sf0.1, logs/aad_split_r13.txt). Pin: one Expand (the multi-distinct
    rewrite), one ObjectHashAggregate chain (sketches+percentile), and
    a broadcast join combining them."""
    plan = plan_of(spark, "agg_approx_distinct", sf_dir)
    assert plan.count("Expand") == 1
    assert "ObjectHashAggregate" in plan
    assert "BroadcastHashJoin" in plan


def test_pareto_single_fact_scan(spark, sf_smoke_dir):
    """The per-user count relation is persisted: both the threshold agg
    and the conditional re-agg must read the cached build, not re-scan
    the fact (audit_plan_scans caught the 2-scan form)."""
    from mapreduce_4sl08_spark.plans import QUERIES
    df = QUERIES["events_power_users_pareto"].fn(spark, sf_smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_monthly_yoy_calendar_true_on_gap(spark, tmp_path):
    """ADVICE r12: a month with zero orders must NOT shift the YoY
    pairing. Synthesize orders with month 1997-02 missing and assert
    1998-02's delta is NULL (no calendar partner) while 1998-01 still
    pairs with 1997-01 — a positional lag(12) would pair both wrongly."""
    import datetime
    from mapreduce_4sl08_spark.plans.warehouse import orders_monthly_yoy
    rows = []
    k = 0
    for y in (1997, 1998):
        for m in range(1, 13):
            if (y, m) == (1997, 2):
                continue
            k += 1
            rows.append((k, 1, "O", 100.0 + m,
                         datetime.datetime(y, m, 15), "1-URGENT"))
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp, "
              "o_orderpriority string")
    out_dir = str(tmp_path / "orders.parquet")
    df.write.parquet(out_dir)
    out = {r.month.strftime("%Y-%m"): r
           for r in orders_monthly_yoy(spark, str(tmp_path)).collect()}
    assert out["1998-01"].yoy_delta == 0.0          # pairs with 1997-01
    assert out["1998-02"].yoy_delta is None         # 1997-02 absent
    assert out["1998-03"].yoy_delta == 0.0          # unshifted pairing


def test_share_drift_calendar_true_on_gap(spark, tmp_path):
    """r13 hardening: a zero-traffic day must yield NULL drift the day
    after the gap (no calendar yesterday), never a silent pairing with
    the last present day — the positional-lag failure mode fixed in
    orders_monthly_yoy (ADVICE r12)."""
    import datetime
    from mapreduce_4sl08_spark.plans.events import event_type_share_drift
    rows = []
    k = 0
    for d in (1, 2, 4):  # day 3 missing
        for i in range(3):
            k += 1
            rows.append((k, datetime.datetime(2024, 1, d, 10, i), 1,
                         "view", 1.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = {r.day.day: r for r in
           event_type_share_drift(spark, str(tmp_path)).collect()}
    assert out[1].drift_e6 is None          # first day
    assert out[2].drift_e6 == 0             # day 1 -> 2, same 100% share
    assert out[4].drift_e6 is None          # day 3 absent: no yesterday
