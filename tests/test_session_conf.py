"""Session configuration contracts (mapreduce_4sl08_spark/session.py):

1. shuffle partitions follow one rule — the session's task slots
   (``sc.defaultParallelism``) — in both ``get_session`` and
   ``apply_engine_conf``; an explicit ``extra_conf`` count wins;
2. ``sources.tables.load_table`` writes no session conf (the
   TIMESTAMP(NANOS) read conf is an engine default), and the NANOS and
   MICROS events variants normalize to the same rows;
3. ``truncate_lineage(eager=False)`` cuts the plan's lineage at wrap
   time and keeps its values;
4. ``free_checkpoint`` still releases a superseded localCheckpoint
   through its private-API path (a canary for Spark-internal drift), is
   a silent no-op on a frame without one, and lets errors other than
   Py4J/attribute ones propagate; the connected-components loop that
   frees each round's labels keeps a bounded number resident;
5. local masters (``get_session`` and ``apply_engine_conf``) run
   streaming checkpoints on Spark's FileSystem-based file manager
   (``LOCAL_CONF``), ``cluster_conf`` keeps Spark's default, and the
   configured class still loads.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mapreduce_4sl08_spark.session import (
    ENGINE_CONF, LOCAL_CONF, SHUFFLE_PARTITIONS, apply_engine_conf,
    cluster_conf, free_checkpoint, get_session, truncate_lineage)
from mapreduce_4sl08_spark.sources.tables import TABLE_NAMES, load_table


def test_engine_conf_ships_no_shuffle_partition_count():
    assert SHUFFLE_PARTITIONS not in ENGINE_CONF


def test_apply_engine_conf_sizes_shuffle_to_task_slots(spark):
    slots = spark.sparkContext.defaultParallelism
    fresh = spark.newSession()
    fresh.conf.set(SHUFFLE_PARTITIONS, str(slots + 5))
    apply_engine_conf(fresh)
    assert int(fresh.conf.get(SHUFFLE_PARTITIONS)) == slots


def test_get_session_extra_conf_count_wins(spark):
    slots = spark.sparkContext.defaultParallelism
    prev = spark.conf.get(SHUFFLE_PARTITIONS)
    try:
        pinned = get_session("tests", extra_conf={
            SHUFFLE_PARTITIONS: str(slots + 3), "spark.ui.enabled": "false"})
        assert pinned.conf.get(SHUFFLE_PARTITIONS) == str(slots + 3)
        sized = get_session("tests", extra_conf={"spark.ui.enabled": "false"})
        assert sized.conf.get(SHUFFLE_PARTITIONS) == str(slots)
    finally:
        spark.conf.set(SHUFFLE_PARTITIONS, prev)


CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FS_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
              "FileSystemBasedCheckpointFileManager")


def test_local_get_session_uses_filesystem_checkpoint_manager(spark):
    local = get_session("tests", extra_conf={
        SHUFFLE_PARTITIONS: spark.conf.get(SHUFFLE_PARTITIONS),
        "spark.ui.enabled": "false"})
    assert local.sparkContext.master.startswith("local")
    assert local.conf.get(CKPT_MANAGER) == FS_MANAGER


def test_apply_engine_conf_sets_local_checkpoint_manager(spark):
    fresh = spark.newSession()
    fresh.conf.unset(CKPT_MANAGER)
    assert fresh.conf.get(CKPT_MANAGER, None) is None
    apply_engine_conf(fresh)
    assert fresh.conf.get(CKPT_MANAGER) == FS_MANAGER


def test_cluster_conf_keeps_default_checkpoint_manager():
    assert CKPT_MANAGER not in cluster_conf(64, 10**12)


def test_local_checkpoint_manager_class_loads(spark):
    """Canary: Spark moved this class between 3.5 and 4.x (it gained
    ``.checkpointing``); if it moves again, every stream on a local
    master fails at start with cannotLoadCheckpointFileManagerClass."""
    name = LOCAL_CONF[CKPT_MANAGER]
    assert spark._jvm.java.lang.Class.forName(name).getName() == name


def test_load_table_writes_no_session_conf(spark, sf_smoke_dir, monkeypatch):
    from pyspark.sql.conf import RuntimeConfig
    writes = []
    monkeypatch.setattr(RuntimeConfig, "set",
                        lambda self, k, v: writes.append((k, v)))
    monkeypatch.setattr(RuntimeConfig, "unset",
                        lambda self, k: writes.append((k, None)))
    for name in TABLE_NAMES:
        for fanout in (False, True):
            load_table(spark, sf_smoke_dir, name, fanout=fanout).schema
    assert writes == []


def test_events_nanos_and_micros_normalize_identically(spark, sf_smoke_dir,
                                                       tmp_path):
    """events.ts has shipped as TIMESTAMP(NANOS) and as TIMESTAMP(MICROS);
    both raw forms of the same rows must load as the same rows, cold
    and from the schema cache."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    raw = pq.read_table(os.path.join(sf_smoke_dir, "events.parquet"))
    ts_i = raw.schema.get_field_index("ts")
    sf = {}
    for unit, spark_type in (("ns", "bigint"), ("us", "timestamp_ntz")):
        sf[unit] = tmp_path / f"sf_{unit}"
        sf[unit].mkdir()
        path = str(sf[unit] / "events.parquet")
        pq.write_table(raw.set_column(ts_i, "ts",
                                      raw["ts"].cast(pa.timestamp(unit))),
                       path)
        # each variant exercises its own raw read path
        assert dict(spark.read.parquet(path).dtypes)["ts"] == spark_type

    def rows(unit):
        df = load_table(spark, str(sf[unit]), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        return sorted(tuple(r) for r in df.collect())

    # each variant twice: the first load infers the schema, the second
    # reads with the cached one
    from_ns = rows("ns")
    assert len(from_ns) > 100
    for unit in ("ns", "us", "us"):
        assert rows(unit) == from_ns


def test_lazy_truncate_lineage_cuts_plan_and_keeps_values(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    cut = truncate_lineage(df, eager=False)
    # lineage cut at wrap time: the logical plan is an RDD scan, not
    # the original Range->Project tree
    assert "LogicalRDD" in cut._jdf.queryExecution().logical().toString()
    # the convergence-check pattern: the first action both materializes
    # the checkpoint and computes the aggregate
    assert cut.agg(F.sum("v")).collect()[0][0] == 9900
    assert sorted(map(tuple, cut.collect())) == \
        sorted(map(tuple, df.collect()))


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs())


def test_free_checkpoint_releases_blocks(spark):
    base = len(_persistent_ids(spark))
    ck = truncate_lineage(spark.range(1000).selectExpr("id", "id * 2 AS v"))
    assert len(_persistent_ids(spark)) == base + 1
    free_checkpoint(ck)
    assert len(_persistent_ids(spark)) == base


def test_free_checkpoint_drops_superseded_entry(spark, monkeypatch):
    """Canary: freeing round k-1's localCheckpoint once round k has
    materialized from it removes exactly k-1's persistent-RDD entry.
    Fails if Spark internals drift so that the private-API path stops
    releasing anything (free_checkpoint itself stays silent then)."""
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    before = _persistent_ids(spark)
    prev = truncate_lineage(spark.range(1000).selectExpr("id", "id % 7 AS k"))
    prev_ids = _persistent_ids(spark) - before
    assert len(prev_ids) == 1
    cur = truncate_lineage(prev.groupBy("k").count())
    cur_ids = _persistent_ids(spark) - before - prev_ids
    assert len(cur_ids) == 1
    free_checkpoint(prev)
    assert _persistent_ids(spark) - before == cur_ids
    assert cur.count() == 7  # the live round stays readable
    free_checkpoint(cur)
    assert _persistent_ids(spark) - before == set()


def test_free_checkpoint_propagates_unexpected_errors():
    class Broken:
        @property
        def _jdf(self):
            raise RuntimeError("not a JVM error")

    with pytest.raises(RuntimeError, match="not a JVM error"):
        free_checkpoint(Broken())


def test_free_checkpoint_noop_on_plain_frame(spark):
    # a non-checkpoint plan has no LogicalRDD -> the helper must be a
    # silent no-op (best-effort contract), never an exception
    df = spark.range(10).selectExpr("id AS x")
    free_checkpoint(df)
    assert df.count() == 10  # frame untouched


def test_cc_loop_checkpoint_residency_bounded(spark):
    """A chain graph forces one propagation round per hop (diameter
    rounds), so without the per-round free the loop would leave one
    label checkpoint PER ROUND resident. The gate allows the steady
    state: edges + the live (last) labels checkpoint."""
    from mapreduce_4sl08_spark.plans.text import _min_label_propagation
    n = 9  # chain 0-1-2-...-9: diameter 9 -> ~9 propagation rounds
    rows = [(i, i + 1) for i in range(n)] + [(i + 1, i) for i in range(n)]
    edges = truncate_lineage(
        spark.createDataFrame(rows, ["src", "dst"]), eager=False)
    base = len(_persistent_ids(spark))
    labels = _min_label_propagation(edges)
    got = {r.doc_id: r.component for r in labels.collect()}
    assert got == {i: 0 for i in range(n + 1)}  # one component, min id 0
    # residency: the returned labels checkpoint (1) — NOT one per round.
    # (edges was registered before `base` was read; transient query
    # frames may add a stray entry, hence <= 2 rather than == 1.)
    resident = len(_persistent_ids(spark)) - base
    assert resident <= 2, f"label checkpoints accumulated: {resident}"
