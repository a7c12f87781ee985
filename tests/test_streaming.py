"""Structured Streaming semantics: the streaming operators must agree
with their oracle-checked batch twins when run over the same (fully
available) data, and watermark behavior must drop late rows in
incremental mode."""

import pytest
from pyspark.sql import functions as F

from mapreduce_4sl08_spark.plans import QUERIES
from mapreduce_4sl08_spark.sources import load_table
from mapreduce_4sl08_spark.streaming import (
    events_stream,
    run_to_memory,
    stream_dedup_within_watermark,
    stream_session_window,
    stream_tumbling_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_smoke_dir, tmp_path_factory):
    """Re-write events as µs-timestamp parquet (streaming source can't
    read the raw nanos files) split into several files so availableNow
    processes multiple batches."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_smoke_dir, "events").repartition(4).write.mode(
        "overwrite").parquet(out)
    return out


def test_stream_tumbling_matches_batch_twin(spark, events_dir, sf_smoke_dir):
    """Append-mode streaming emits exactly the batch twin's rows for
    FINALIZED windows (window_end <= final watermark = max_ts - 2h);
    later windows are still open when the stream drains."""
    stream = stream_tumbling_counts(events_stream(spark, events_dir))
    got = run_to_memory(stream, "t_tumbling").orderBy("window_start", "event_type")

    events = load_table(spark, sf_smoke_dir, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    horizon = F.lit(max_ts) - F.expr("INTERVAL 2 HOURS") - F.expr("INTERVAL 1 HOUR")
    want = (QUERIES["events_tumbling_hourly"].fn(spark, sf_smoke_dir)
            .filter(F.col("window_start") <= horizon))
    got_final = got.filter(F.col("window_start") <= horizon)
    assert [tuple(r) for r in got_final.collect()] == [tuple(r) for r in want.collect()]
    assert want.count() > 100  # the comparison is not vacuous


def test_stream_tumbling_drops_null_ts_like_batch_twin(spark, events_dir,
                                                       sf_smoke_dir,
                                                       tmp_path):
    """r17 null-ts contract on the STREAMING surface: an event with a
    NULL event time never enters a watermarked window (Spark drops it
    before state), and the batch twin now excludes it by contract on
    both engines — so finalized streaming windows must equal the batch
    twin even when the source carries null-ts rows."""
    nulled = str(tmp_path / "events_nullts")
    base = spark.read.parquet(events_dir)
    poison = (base.limit(3)
              .withColumn("ts", F.lit(None).cast(base.schema["ts"].dataType)))
    base.unionByName(poison).repartition(4).write.parquet(nulled)

    stream = stream_tumbling_counts(events_stream(spark, nulled))
    got = run_to_memory(stream, "t_tumbling_nullts").orderBy(
        "window_start", "event_type")

    events = load_table(spark, sf_smoke_dir, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    horizon = F.lit(max_ts) - F.expr("INTERVAL 2 HOURS") - F.expr("INTERVAL 1 HOUR")
    want = (QUERIES["events_tumbling_hourly"].fn(spark, sf_smoke_dir)
            .filter(F.col("window_start") <= horizon))
    got_final = got.filter(F.col("window_start") <= horizon)
    assert [tuple(r) for r in got_final.collect()] == [tuple(r) for r in want.collect()]
    assert want.count() > 100


def test_stream_session_window_bounds(spark, events_dir):
    stream = stream_session_window(events_stream(spark, events_dir))
    got = run_to_memory(stream, "t_session")
    rows = got.collect()
    assert len(rows) > 0
    # session invariants: start <= end, events >= 1
    for r in rows:
        assert r.session_start <= r.session_end
        assert r.n_events >= 1


def test_stream_dedup_within_watermark(spark, events_dir):
    stream = stream_dedup_within_watermark(events_stream(spark, events_dir))
    got = run_to_memory(stream, "t_dedup")
    n_distinct_ids = got.select("event_id").distinct().count()
    assert got.count() == n_distinct_ids  # no dup survived


def test_watermark_drops_late_rows(spark, tmp_path):
    """Incremental semantics: a row arriving behind the advanced
    watermark is excluded from its (already finalized) window."""
    from pyspark.sql import Row
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    batch1 = [
        Row(event_id=1, ts=base, user_id=1, event_type="click", value=1.0, props="{}"),
        # far-future row pushes watermark (10 min) beyond batch-1 windows
        Row(event_id=2, ts=base + dt.timedelta(hours=5), user_id=1,
            event_type="click", value=1.0, props="{}"),
    ]
    # middle batch: state eviction happens during the batch AFTER the
    # watermark advances — this batch triggers the hour-0 window's
    # eviction+emission, so the late row below meets no live state
    batch2 = [
        Row(event_id=4, ts=base + dt.timedelta(hours=5, minutes=1), user_id=1,
            event_type="click", value=1.0, props="{}"),
    ]
    late = [  # belongs to the already-finalized hour-0 window
        Row(event_id=3, ts=base + dt.timedelta(minutes=1), user_id=1,
            event_type="click", value=1.0, props="{}"),
    ]
    import time

    src = tmp_path / "late_src"
    from mapreduce_4sl08_spark.streaming.ops import EVENTS_SCHEMA
    for batch in (batch1, batch2, late):
        spark.createDataFrame(batch, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append").parquet(str(src))
        time.sleep(1.1)  # distinct mtime: file-source orders batches by it

    def hour0_count(table):
        rows = (spark.table(table)
                .filter(F.col("window_start") == base)
                .select("n_events").collect())
        return rows[0][0] if rows else 0

    # one trigger sees all rows together: nothing is late, hour-0 window
    # counts both events (1 and 3); the far-future window stays open
    one_shot = stream_tumbling_counts(
        events_stream(spark, str(src)), watermark="10 minutes")
    run_to_memory(one_shot, "t_late_all")
    assert hour0_count("t_late_all") == 2

    # file-per-trigger: batch 1 advances the watermark to 4:50, so the
    # hour-0 window finalizes with 1 event and batch 2's late row is
    # DROPPED — the defining watermark behavior
    incremental = stream_tumbling_counts(
        events_stream(spark, str(src), max_files_per_trigger=1),
        watermark="10 minutes")
    run_to_memory(incremental, "t_late_inc")
    assert hour0_count("t_late_inc") == 1


def test_stateful_running_user_stats(spark, events_dir, sf_smoke_dir):
    """applyInPandasWithState: final per-user running totals across
    multiple micro-batches must equal the batch groupBy, and state must
    actually carry across batches (later emissions grow)."""
    from mapreduce_4sl08_spark.streaming.ops import stream_running_user_stats

    stream = stream_running_user_stats(
        events_stream(spark, events_dir, max_files_per_trigger=1))
    out = run_to_memory(stream, "t_stateful", output_mode="update")
    # last emission per user = final running totals
    import pyspark.sql.functions as SF
    from pyspark.sql import Window as W
    # memory sink appends one row per (user, batch); the max
    # n_events_total per user is the final state
    final = (out.groupBy("user_id")
             .agg(SF.max("n_events_total").alias("n"),
                  SF.max("value_total").alias("v")))
    batch = (load_table(spark, sf_smoke_dir, "events")
             .groupBy("user_id")
             .agg(SF.count(SF.lit(1)).alias("n"),
                  SF.round(SF.sum("value"), 2).alias("v")))
    got = {(r.user_id, r.n, round(r.v, 1)) for r in final.collect()}
    want = {(r.user_id, r.n, round(r.v, 1)) for r in batch.collect()}
    assert got == want
    # state carried across batches: some user must appear in >1 emission
    multi = (out.groupBy("user_id").count().filter("count > 1").count())
    assert multi > 0


def test_stream_stream_join_matches_batch(spark, events_dir, sf_smoke_dir):
    """Stream-stream purchase←view attribution join over fully-available
    data must equal the equivalent batch join."""
    from mapreduce_4sl08_spark.streaming.ops import stream_stream_purchase_attribution

    stream = stream_stream_purchase_attribution(events_stream(spark, events_dir))
    got = sorted((r.purchase_id, r.view_id)
                 for r in run_to_memory(stream, "t_ssj").collect())

    e = load_table(spark, sf_smoke_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"), F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"))
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"))
    want = sorted((r.purchase_id, r.view_id) for r in p.join(
        v, F.expr("p_user_id = v_user_id AND view_ts <= purchase_ts "
                  "AND view_ts >= purchase_ts - INTERVAL 1 HOUR"), "inner").collect())
    assert got == want
    assert len(got) > 0


def test_checkpoint_restart_exactly_once(spark, sf_smoke_dir, tmp_path):
    """Restarting a checkpointed stream processes ONLY new files — the
    exactly-once guarantee across restarts that makes streaming
    ingestion safe to re-run."""
    import time
    from mapreduce_4sl08_spark.streaming.ops import EVENTS_SCHEMA

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, sf_smoke_dir, "events")
    first_half = events.filter(F.col("event_id") < 500)
    second_half = events.filter(F.col("event_id") >= 500)
    first_half.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        q = (spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == first_half.count()

    time.sleep(1.1)
    second_half.coalesce(1).write.mode("append").parquet(src)
    run_once()  # restart from the same checkpoint
    final = spark.read.parquet(out)
    assert final.count() == events.count()  # no reprocessing, no loss
    assert final.select("event_id").distinct().count() == events.count()


def test_transform_with_state_ema(spark, sf_smoke_dir, tmp_path):
    """transformWithStateInPandas: per-user EMA with typed ValueState
    carried across two time-ordered micro-batches must equal a single
    sequential fold over the full ordered stream. Requires protobuf
    (Spark's state-server protocol) — skipped where absent."""
    pytest.importorskip("google.protobuf")
    import time
    from mapreduce_4sl08_spark.streaming.ops import (
        EVENTS_SCHEMA, stream_user_value_ema)

    events = load_table(spark, sf_smoke_dir, "events")
    median_us = events.agg(F.expr("percentile(unix_micros(ts), 0.5)")).collect()[0][0]
    early = events.filter(F.unix_micros("ts") <= median_us)
    late = events.filter(F.unix_micros("ts") > median_us)
    src = str(tmp_path / "ema_src")
    early.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    late.coalesce(1).write.mode("append").parquet(src)

    stream = stream_user_value_ema(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1).parquet(src))
    out = run_to_memory(stream, "t_ema", output_mode="update")
    # last emission per user (the one with max n_seen) = final state
    final = {r.user_id: (r.n_seen, r.ema)
             for r in out.orderBy("n_seen").collect()}  # later overwrite earlier

    # python oracle: sequential EMA over the fully ordered stream
    # (non-finite values fold nothing — the r18 contract the operator
    # pins; clean on this fixture, load-bearing on dirty corpora)
    import math
    alpha = 0.3
    want = {}
    for r in events.orderBy("ts", "event_id").collect():
        ema, n = want.get(r.user_id, (None, 0))
        v = float(r.value)
        if not math.isfinite(v):
            continue
        ema = v if ema is None else alpha * v + (1 - alpha) * ema
        want[r.user_id] = (ema, n + 1)
    assert set(final) == set(want)
    for uid, (n_seen, ema) in final.items():
        w_ema, w_n = want[uid]
        assert n_seen == w_n, uid
        assert abs(ema - w_ema) < 1e-9, uid


def test_stream_windowed_topk_matches_batch_twin(spark, events_dir, sf_smoke_dir, tmp_path):
    """foreachBatch ranking of append-mode finalized windows equals the
    batch twin (events_windowed_topk) on every finalized window."""
    from mapreduce_4sl08_spark.streaming.ops import (
        rank_topk_batch, stream_windowed_topk_counts)

    out = str(tmp_path / "topk_sink")
    counts = stream_windowed_topk_counts(events_stream(spark, events_dir))
    q = (
        counts.writeStream
        .outputMode("append")
        .trigger(availableNow=True)
        .foreachBatch(lambda df, _id: rank_topk_batch(df).write
                      .mode("append").parquet(out))
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)

    events = load_table(spark, sf_smoke_dir, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    horizon = F.lit(max_ts) - F.expr("INTERVAL 2 HOURS") - F.expr("INTERVAL 1 HOUR")
    want = (QUERIES["events_windowed_topk"].fn(spark, sf_smoke_dir)
            .filter(F.col("window_start") <= horizon))
    got_final = got.filter(F.col("window_start") <= horizon)
    assert sorted(tuple(r) for r in got_final.collect()) == \
        sorted(tuple(r) for r in want.collect())
    assert want.count() > 20  # non-vacuous


def test_jsonl_manifest_sink_checkpoint_recovery(spark, events_dir, tmp_path):
    """Exactly-once across a mid-stream kill (VERDICT r4 item 5): the
    worst-case crash window — sink manifest COMMITTED, streaming
    checkpoint NOT yet advanced — re-delivers the same micro-batch on
    restart. The manifest's batch-id replay guard must skip it, and the
    final manifest contents must equal the batch twin exactly once."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from mapreduce_4sl08_spark.sources.jsonl_sink import (
        JsonlManifestDataSource, last_committed_batch)
    from mapreduce_4sl08_spark.streaming.ops import EVENTS_SCHEMA
    from mapreduce_4sl08_spark.streaming.sinks import jsonl_batch_writer

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_batch = jsonl_batch_writer(out, "s1")

    def crashing(batch_df, batch_id):
        write_batch(batch_df, batch_id)
        if batch_id == 0:
            raise RuntimeError("injected crash AFTER sink commit")

    def stream():
        return (spark.readStream.schema(EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", "1").parquet(events_dir))

    q = (stream().writeStream.foreachBatch(crashing)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()

    # the crash landed after commit: batch 0 IS in the manifest, the
    # checkpoint does NOT have it committed — the poison replay window
    assert last_committed_batch(out, "s1") == 0

    q2 = (stream().writeStream.foreachBatch(write_batch)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q2.awaitTermination()

    spark.dataSource.register(JsonlManifestDataSource)
    got = (spark.read.format("jsonl_manifest").schema(EVENTS_SCHEMA)
           .option("path", out).load())
    twin = spark.read.schema(EVENTS_SCHEMA).parquet(events_dir)
    n_twin = twin.count()
    assert got.count() == n_twin                       # no loss, no dupes
    assert got.select("event_id").distinct().count() == \
        twin.select("event_id").distinct().count()
    # every batch file landed in exactly one committed batch (ids are
    # 0..n-1, so the stream's high-water mark is n-1)
    n_files = len([f for f in __import__("os").listdir(events_dir)
                   if f.endswith(".parquet")])
    assert last_committed_batch(out, "s1") == n_files - 1


def test_jsonl_manifest_sink_crash_before_commit(spark, events_dir, tmp_path):
    """The other crash window: process dies BEFORE the sink commits the
    batch. Nothing entered the manifest (at most invisible temp shards),
    so the restart re-delivers and re-writes the batch — still exactly
    once end-to-end."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from mapreduce_4sl08_spark.sources.jsonl_sink import (
        JsonlManifestDataSource, committed_streams)
    from mapreduce_4sl08_spark.streaming.ops import EVENTS_SCHEMA
    from mapreduce_4sl08_spark.streaming.sinks import jsonl_batch_writer

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_batch = jsonl_batch_writer(out, "s1")
    crashed = {"done": False}

    def crashing(batch_df, batch_id):
        if batch_id == 0 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash BEFORE sink commit")
        write_batch(batch_df, batch_id)

    def stream():
        return (spark.readStream.schema(EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", "1").parquet(events_dir))

    q = (stream().writeStream.foreachBatch(crashing)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    assert committed_streams(out) == {}  # nothing committed

    q2 = (stream().writeStream.foreachBatch(crashing)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q2.awaitTermination()

    spark.dataSource.register(JsonlManifestDataSource)
    got = (spark.read.format("jsonl_manifest").schema(EVENTS_SCHEMA)
           .option("path", out).load())
    twin = spark.read.schema(EVENTS_SCHEMA).parquet(events_dir)
    assert got.count() == twin.count()
    assert got.select("event_id").distinct().count() == \
        twin.select("event_id").distinct().count()


def test_jsonl_manifest_sink_wrapper(spark, events_dir, tmp_path):
    """The one-call sink wrapper streams a source to the manifest sink
    exactly-once and is restart-safe (no-op when nothing new)."""
    from mapreduce_4sl08_spark.sources.jsonl_sink import JsonlManifestDataSource
    from mapreduce_4sl08_spark.streaming.ops import EVENTS_SCHEMA
    from mapreduce_4sl08_spark.streaming.sinks import jsonl_manifest_sink

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)
    jsonl_manifest_sink(stream, out, ckpt).awaitTermination()
    jsonl_manifest_sink(stream, out, ckpt).awaitTermination()  # restart: no-op

    spark.dataSource.register(JsonlManifestDataSource)
    got = (spark.read.format("jsonl_manifest").schema(EVENTS_SCHEMA)
           .option("path", out).load())
    twin = spark.read.schema(EVENTS_SCHEMA).parquet(events_dir)
    assert got.count() == twin.count()

    # a NEW query lineage (fresh checkpoint) appending to the same path
    # restarts batch numbering at 0 — its batches must NOT be mistaken
    # for replays of the first stream's (the guard is stream-scoped)
    ckpt2 = str(tmp_path / "ckpt2")
    jsonl_manifest_sink(
        spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir),
        out, ckpt2).awaitTermination()
    got2 = (spark.read.format("jsonl_manifest").schema(EVENTS_SCHEMA)
            .option("path", out).load())
    assert got2.count() == 2 * twin.count()  # nothing silently dropped


def test_jsonl_replay_guard_honors_legacy_stream_id(tmp_path):
    """ADVICE r6: manifests written before the realpath stream-id switch
    recorded normpath-spelled ids. The replay guard must take the max
    mark over the current id AND the legacy spellings, or an upgraded
    stream silently loses its crash-after-commit protection. Pure
    Python — the guard's skip path never touches the batch DataFrame."""
    import os

    from pyspark.sql import types as T

    from mapreduce_4sl08_spark.sources.jsonl_sink import JsonlManifestWriter
    from mapreduce_4sl08_spark.streaming.sinks import jsonl_batch_writer

    out = str(tmp_path / "out")
    # pre-upgrade, a RELATIVELY-spelled checkpoint produced a relative
    # normpath id; the realpath scheme resolves it absolute — distinct
    # spellings of the same stream
    legacy_id = os.path.normpath("ckpt")            # "ckpt"
    current_id = os.path.realpath(str(tmp_path / "ckpt"))
    assert legacy_id != current_id

    # pre-upgrade commit: high-water mark recorded under the LEGACY id
    schema = T.StructType([T.StructField("x", T.LongType())])
    w = JsonlManifestWriter(
        {"path": out, "stream_id": legacy_id, "batch_id": "3"},
        schema, overwrite=False)
    w.commit([])

    class Untouchable:  # the guard must return before reaching this
        def __getattr__(self, name):
            raise AssertionError("replayed batch was not skipped")

    guard = jsonl_batch_writer(out, current_id, legacy_ids=(legacy_id,))
    guard(Untouchable(), 3)   # replay under old spelling — skipped
    guard(Untouchable(), 2)   # below the mark — skipped
    # a NEW batch must pass the guard (and then touch the DataFrame)
    import pytest as _pytest
    with _pytest.raises(AssertionError):
        guard(Untouchable(), 4)
    # without the legacy spelling the guard would NOT skip (control)
    unaware = jsonl_batch_writer(out, current_id)
    with _pytest.raises(AssertionError):
        unaware(Untouchable(), 3)


def test_stream_transition_counts_match_batch_twin(spark, sf_smoke_dir,
                                                   tmp_path):
    """Feed the full event log as three TIME-ORDERED files (the
    operator's documented ordering contract) and check that the summed
    per-user transition deltas — including those spanning micro-batch
    boundaries via carried state — reproduce the batch twin's exact
    (from_type, to_type) counts."""
    import os
    import time

    from mapreduce_4sl08_spark.streaming import (
        events_stream, run_to_memory, stream_transition_counts)

    src = str(tmp_path / "ordered_events")
    os.makedirs(src, exist_ok=True)
    ev = (load_table(spark, sf_smoke_dir, "events")
          .orderBy("ts", "event_id").collect())
    third = (len(ev) + 2) // 3
    for i in range(3):
        chunk = ev[i * third:(i + 1) * third]
        if not chunk:
            continue
        (spark.createDataFrame(chunk, load_table(spark, sf_smoke_dir,
                                                 "events").schema)
         .coalesce(1).write.mode("overwrite")
         .parquet(f"{src}/chunk{i}"))
        time.sleep(1.1)  # distinct mtimes -> FileStreamSource batch order
    stream = stream_transition_counts(
        events_stream(spark, f"{src}/chunk*"))
    got = (run_to_memory(stream, "t_transitions", output_mode="update")
           .groupBy("from_type", "to_type")
           .agg(F.sum("n").alias("n")))
    want = (QUERIES["events_transition_matrix"].fn(spark, sf_smoke_dir)
            .select("from_type", "to_type", "n"))
    got_rows = {(r.from_type, r.to_type): r.n for r in got.collect()}
    want_rows = {(r.from_type, r.to_type): r.n for r in want.collect()}
    assert got_rows == want_rows
    assert sum(want_rows.values()) > 100  # not vacuous


def test_stream_daily_shares_match_batch_twin(spark, events_dir, sf_smoke_dir):
    """Streaming (day, type) counts + the shared normalizer reproduce
    the batch share monitor exactly for finalized days (day_end <=
    final watermark)."""
    from mapreduce_4sl08_spark.streaming import (
        daily_shares_from_counts, events_stream, run_to_memory,
        stream_daily_type_counts)

    stream = stream_daily_type_counts(events_stream(spark, events_dir))
    got_counts = run_to_memory(stream, "t_daily_shares")

    events = load_table(spark, sf_smoke_dir, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    horizon = (F.lit(max_ts) - F.expr("INTERVAL 2 HOURS")
               - F.expr("INTERVAL 1 DAY"))
    got = (daily_shares_from_counts(got_counts)
           .filter(F.col("day") <= horizon)
           .orderBy("day", "event_type"))
    want = (QUERIES["event_type_share_drift"].fn(spark, sf_smoke_dir)
            .filter(F.col("day") <= horizon)
            .select("day", "event_type", "n", "share_e6")
            .orderBy("day", "event_type"))
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    assert want.count() > 50  # not vacuous


def test_stream_tumbling_nonfinite_values_match_batch_twin(
        spark, events_dir, tmp_path):
    """r18 non-finite twin (VERDICT r17 item 6): NaN/±Inf values in the
    source must not corrupt windowed STATE or split streaming from
    batch — the shared cents() ingestion maps them to NULL, so a dirty
    row still counts in n_events but contributes nothing to sum_value.
    Streaming (incremental, multi-batch, watermarked state) must equal
    the identical plan executed as one batch over the same poisoned
    data."""
    poisoned = str(tmp_path / "events_nonfinite")
    base = spark.read.parquet(events_dir)
    dirty = base.limit(3).withColumn(
        "value",
        F.array(F.lit(float("nan")), F.lit(float("inf")),
                F.lit(float("-inf")))[
            (F.col("event_id") % 3).cast("int")])
    base.unionByName(dirty).repartition(4).write.parquet(poisoned)

    stream = stream_tumbling_counts(events_stream(spark, poisoned))
    got = run_to_memory(stream, "t_tumbling_nonfin")

    batch_df = spark.read.parquet(poisoned)
    want = stream_tumbling_counts(batch_df)  # watermark is a no-op in batch
    max_ts = batch_df.agg(F.max("ts")).collect()[0][0]
    horizon = F.lit(max_ts) - F.expr("INTERVAL 3 HOURS")
    got_rows = sorted(tuple(r) for r in got.filter(
        F.col("window_start") <= horizon).collect())
    want_rows = sorted(tuple(r) for r in want.filter(
        F.col("window_start") <= horizon).collect())
    assert got_rows == want_rows
    assert len(want_rows) > 100


def test_stateful_running_stats_skip_nonfinite_like_batch(
        spark, events_dir, tmp_path):
    """r18 non-finite twin for the arbitrary-state path
    (applyInPandasWithState): one +Inf row previously poisoned the
    per-user running total for every later micro-batch (inf + x = inf)
    — state poison outlives batch poison. Final state must equal the
    batch groupBy with the same finite() ingestion."""
    import pyspark.sql.functions as SF

    from mapreduce_4sl08_spark.plans.base import finite
    from mapreduce_4sl08_spark.streaming.ops import stream_running_user_stats

    poisoned = str(tmp_path / "events_nonfinite_state")
    base = spark.read.parquet(events_dir)
    dirty = base.limit(3).withColumn(
        "value",
        F.array(F.lit(float("nan")), F.lit(float("inf")),
                F.lit(float("-inf")))[
            (F.col("event_id") % 3).cast("int")])
    base.unionByName(dirty).repartition(4).write.parquet(poisoned)

    stream = stream_running_user_stats(
        events_stream(spark, poisoned, max_files_per_trigger=1))
    out = run_to_memory(stream, "t_stateful_nonfin", output_mode="update")
    final = (out.groupBy("user_id")
             .agg(SF.max("n_events_total").alias("n"),
                  SF.max("value_total").alias("v")))
    batch = (spark.read.parquet(poisoned)
             .groupBy("user_id")
             .agg(SF.count(SF.lit(1)).alias("n"),
                  SF.round(SF.coalesce(SF.sum(finite("value")), SF.lit(0.0)),
                           2).alias("v")))
    got = {(r.user_id, r.n, round(r.v, 1)) for r in final.collect()}
    want = {(r.user_id, r.n, round(r.v, 1)) for r in batch.collect()}
    assert got == want


def test_stream_tumbling_out_of_window_ts_matches_batch_twin(
        spark, events_dir, tmp_path):
    """r19 ts-representability twin (VERDICT r18 item 1): a year-9999
    record in the source must be quarantined by events_stream exactly
    as the batch choke point (sources.tables.load_table) quarantines
    it — otherwise the streaming twin and the registry batch query
    diverge on dirty sources, and any stateful pandas operator
    downstream aborts mid-stream with OutOfBoundsDatetime. The batch
    arm reads THROUGH load_table (the canonical path), so this is
    twin-equality against the real engine semantics, not a re-spelled
    filter."""
    import datetime

    from mapreduce_4sl08_spark.sources.tables import load_table

    poisoned_dir = tmp_path / "tswide"
    poisoned_dir.mkdir()
    poisoned = str(poisoned_dir / "events.parquet")
    base = spark.read.parquet(events_dir)
    dirty = base.limit(2).withColumn(
        "ts",
        F.array(F.lit(datetime.datetime(9999, 12, 31, 23, 59, 59)),
                F.lit(datetime.datetime(1, 1, 2, 0, 0)))[
            (F.col("event_id") % 2).cast("int")])
    base.unionByName(dirty).repartition(4).write.parquet(poisoned)

    stream = stream_tumbling_counts(events_stream(spark, poisoned))
    got = run_to_memory(stream, "t_tumbling_tswide")

    batch_df = load_table(spark, str(poisoned_dir), "events")
    want = stream_tumbling_counts(batch_df)
    max_ts = batch_df.agg(F.max("ts")).collect()[0][0]
    horizon = F.lit(max_ts) - F.expr("INTERVAL 3 HOURS")
    got_rows = sorted(tuple(r) for r in got.filter(
        F.col("window_start") <= horizon).collect())
    want_rows = sorted(tuple(r) for r in want.filter(
        F.col("window_start") <= horizon).collect())
    assert got_rows == want_rows
    assert len(want_rows) > 100
    # and no out-of-window window ever entered the stream's state
    years = {r.window_start.year for r in got.collect()}
    assert years and max(years) < 2263 and min(years) > 1677


def test_stream_quarantine_boundary_is_session_tz_invariant(
        spark, tmp_path):
    """r20 (ADVICE r19 item 3): the stream-source ts quarantine must
    cut at the same INSTANTS in every session timezone. The pre-r20
    filter compared against session-tz TIMESTAMP literals — correct
    only because the engine pins UTC; a user session in another zone
    would shift the streaming boundary by the tz offset relative to
    the batch choke point (which filters the RAW columns with
    representation-matched bounds) and split stream-vs-batch near the
    window edges. The bounds are now epoch-µs instants
    (sources.tables.ts_window_us), so the kept-row set over a fixture
    with rows exactly AT and 1s OUTSIDE each window edge must be
    identical under UTC and a DST-shifting zone."""
    from mapreduce_4sl08_spark.sources.tables import ts_window_us

    lo_us, hi_us = ts_window_us()
    rows = [  # (event_id, µs-instant or None)
        (1, lo_us - 1_000_000),   # 1s before the window: quarantined
        (2, lo_us),               # exactly at the lower edge: kept
        (3, hi_us),               # exactly at the upper edge: kept
        (4, hi_us + 1_000_000),   # 1s past the window: quarantined
        (5, 1_500_000_000_000_000),  # a 2017 instant: kept
        (6, None),                # NULL ts: kept (r17 null-ts contract)
    ]
    src = str(tmp_path / "tz_edges")
    (spark.createDataFrame(rows, "event_id long, us long")
     .select("event_id", F.timestamp_micros("us").alias("ts"),
             F.lit(1).cast("long").alias("user_id"),
             F.lit("view").alias("event_type"),
             F.lit(1.0).alias("value"), F.lit("{}").alias("props"))
     .write.parquet(src))

    def kept_ids(tz):
        spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            got = run_to_memory(events_stream(spark, src),
                                f"t_tz_{tz.replace('/', '_')}")
            return sorted(r.event_id for r in got.collect())
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")

    assert kept_ids("UTC") == [2, 3, 5, 6]
    assert kept_ids("America/New_York") == [2, 3, 5, 6]
    assert kept_ids("Asia/Kathmandu") == [2, 3, 5, 6]  # +05:45 offset


def _drain_with_conf(spark, stream_df, name, key, value, output_mode,
                     checkpoint=None):
    """Drain ``stream_df`` into a memory table with session conf ``key``
    set to ``value`` (None: unset) only around start() — the query
    fixes its state-store partition count and its checkpoint file
    manager there — and return (sorted emitted rows, the query)."""
    def put(v):
        if v is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, v)

    prev = spark.conf.get(key, None)
    put(value)
    try:
        writer = (stream_df.writeStream.format("memory").queryName(name)
                  .outputMode(output_mode).trigger(availableNow=True))
        if checkpoint is not None:
            writer = writer.option("checkpointLocation", checkpoint)
        q = writer.start()
    finally:
        put(prev)
    q.awaitTermination()
    rows = sorted(tuple(r) for r in spark.table(name).collect())
    spark.catalog.dropTempView(name)
    return rows, q


@pytest.mark.parametrize("op_name,output_mode", [
    ("stream_tumbling_counts", "append"),
    ("stream_session_window", "append"),
    ("stream_running_user_stats", "update"),
])
def test_stream_results_invariant_to_shuffle_partitions(spark, events_dir,
                                                        op_name, output_mode):
    """Metamorphic: the state-store partition count a stateful query
    starts with (the session's shuffle partitions, sized to task slots
    by session.get_session) moves rows between partitions and nothing
    else — the rows emitted at 1, 2 and 32 partitions are exactly
    equal (one file per trigger, so state carries across
    micro-batches)."""
    import json
    from mapreduce_4sl08_spark.streaming import ops
    operator = getattr(ops, op_name)
    results = {}
    for n in (1, 2, 32):
        stream = operator(events_stream(spark, events_dir,
                                       max_files_per_trigger=1))
        rows, q = _drain_with_conf(spark, stream, f"t_parts_{op_name}_{n}",
                                   "spark.sql.shuffle.partitions", str(n),
                                   output_mode)
        state_parts = {op["numShufflePartitions"]
                       for p in q.recentProgress
                       for op in json.loads(p.json)["stateOperators"]}
        assert state_parts == {n}, (n, state_parts)
        results[n] = rows
    assert len(results[1]) > 0
    assert results[1] == results[2] == results[32]


@pytest.mark.parametrize("op_name", ["stream_tumbling_counts",
                                     "stream_session_window"])
def test_stream_invariant_to_checkpoint_file_manager(spark, events_dir,
                                                     op_name, tmp_path):
    """The FileSystem-based checkpoint file manager that
    session.LOCAL_CONF sets on local masters changes how checkpoint
    files are renamed into place and nothing else: against Spark's
    FileContext default (the conf unset) the emitted rows are exactly
    equal and the checkpoint holds the same files, Hadoop ``.crc`` and
    state ``.delta.crc`` checksums included."""
    from mapreduce_4sl08_spark.session import LOCAL_CONF
    from mapreduce_4sl08_spark.streaming import ops
    key = "spark.sql.streaming.checkpointFileManagerClass"
    pkg = "org.apache.spark.sql.execution.streaming.checkpointing."
    operator = getattr(ops, op_name)
    results = []
    for arm, manager, cls in (
            ("default", None, pkg + "FileContextBasedCheckpointFileManager"),
            ("local", LOCAL_CONF[key], LOCAL_CONF[key])):
        ckpt = tmp_path / arm
        stream = operator(events_stream(spark, events_dir,
                                        max_files_per_trigger=1))
        rows, q = _drain_with_conf(spark, stream, f"t_ckpt_{op_name}_{arm}",
                                   key, manager, "append", str(ckpt))
        # the arm really ran on its manager (the offset log's, read
        # through Spark internals)
        assert (q._jsq.streamingQuery().offsetLog().fileManager()
                .getClass().getName()) == cls
        files = {str(p.relative_to(ckpt)) for p in ckpt.rglob("*")
                 if p.is_file()}
        results.append((rows, files))
    (rows_default, files_default), (rows_local, files_local) = results
    assert len(rows_default) > 0
    assert rows_local == rows_default
    assert any(f.endswith(".delta.crc") for f in files_default)
    assert "offsets/.0.crc" in files_default
    assert files_local == files_default
