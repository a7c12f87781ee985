"""SparkSession factory.

The reference hand-builds its whole control plane (sockets, barriers,
latches — /root/reference/src/CommunicationHandler.java:22-124,
/root/reference/src/MasterNode.java:121-193).  On Spark all of that is the
scheduler's job; the only thing we own is configuration, and the defaults
here are chosen for the 100 TB design point while staying sane on
local[32]:

- AQE on (runtime re-plan replaces the reference's hand-tuned log-spaced
  range boundaries, /root/reference/src/MasterNode.java:154-164): skew-join
  splitting, partition coalescing, dynamic join selection.
- Arrow enabled: every pandas-UDF operator (similarity, multimodal) moves
  columnar batches, never pickled rows.
- UTC session timezone: deterministic timestamp semantics vs the DuckDB
  oracle.
- shuffle.partitions: one per task slot (``sc.defaultParallelism``), set
  once the session exists; no fixed count ships. Structured Streaming
  runs with AQE off, so every micro-batch runs every shuffle partition,
  and a stateful query fixes its state-store partition count (= shuffle
  partitions) at first start and records it in its checkpoint: a count
  sized for a bigger box taxes every micro-batch on a smaller one. Batch
  shuffles are coalesced by AQE either way. The count also sizes the
  post-scan fan-out (sources/tables._scan_fanout_n); ``cluster_conf``
  sizes it from the input for a real cluster.
- parquet.nanosAsLong: events.parquet has shipped as TIMESTAMP(NANOS),
  which Spark reads only as an epoch-ns long; sources/tables.load_table
  converts it. Set once per session here, never per load.
- streaming checkpointFileManagerClass, local masters only
  (``LOCAL_CONF``): Spark's default FileContext manager renames every
  offset, commit and state-delta file through ``FileContext.rename``,
  which looks up the source's link status first; pyspark's bundled
  Hadoop has no native libhadoop, so that lookup forks a ``readlink``
  shell per file. The FileSystem-based manager renames with one
  ``FileSystem.rename`` (a single POSIX rename on ``file:`` paths,
  where FileContext's no-overwrite rename is itself an existence check
  plus that rename) and writes the same files, checksums included.
  ``cluster_conf`` keeps the default: on HDFS FileContext's
  no-overwrite rename is atomic in the NameNode. Each created file and
  its ``.crc`` still forks a ``chmod`` shell; only a native libhadoop
  removes those.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession

# Defaults applied to sessions we build ourselves AND (where dynamic)
# usable as per-query hints. Keys that matter at 100 TB are marked.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",                      # scale: runtime re-plan
    "spark.sql.adaptive.coalescePartitions.enabled": "true",   # scale: right-size reducers
    "spark.sql.adaptive.skewJoin.enabled": "true",             # scale: Zipf keys
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.showConsoleProgress": "false",
    # reliable .checkpoint() data (SPARK_GRAFT_CHECKPOINT_DIR path in
    # truncate_lineage) is NOT cleaned by default — without this, every
    # fixpoint round leaves checkpoint files in the dir forever (ADVICE
    # r6). With it, the ContextCleaner removes a checkpoint's files once
    # the RDD is GC'd, same lifecycle as localCheckpoint blocks.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    # a TIMESTAMP(NANOS) events.parquet reads as an epoch-ns long,
    # converted exactly in sources/tables.load_table
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

# Applied on local masters only (module docstring).
LOCAL_CONF: dict[str, str] = {
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
}


def _size_shuffle_to_task_slots(spark: SparkSession) -> None:
    """One shuffle partition per task slot of the session's context."""
    spark.conf.set(SHUFFLE_PARTITIONS,
                   str(spark.sparkContext.defaultParallelism))


def get_session(app_name: str = "mapreduce_4sl08_spark",
                master: str | None = None,
                extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    for tests/bench; on a real cluster, leave it to spark-submit.

    Shuffle partitions are set to the context's task slots
    (``sc.defaultParallelism``) once the session exists, unless
    ``extra_conf`` names a count — an explicit value always wins, and
    ``cluster_conf`` is the input-sized override for a real cluster.
    The count matters most to streaming: AQE is off there, and a
    stateful query keeps the state-store partition count it started
    with (the checkpoint records it), so a fixed count tuned for a big
    box taxes every micro-batch on a small one.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(ENGINE_CONF)
    if master.startswith("local"):
        # Spark's default driver heap is 1g — in local mode that single
        # JVM is ALSO every executor, so 32 task threads share 1g and
        # anything past ~sf0.1 falls over. Only effective for the first
        # session in a process (the JVM is launched then); harmless after.
        conf.setdefault("spark.driver.memory",
                        os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        conf.update(LOCAL_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if SHUFFLE_PARTITIONS not in (extra_conf or {}):
        _size_shuffle_to_task_slots(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(total_cores: int, input_bytes: int,
                 executor_mem_bytes: int = 16 * 1024**3) -> dict[str, str]:
    """Scale-out configuration for a real cluster run (the 100 TB path;
    local[32] tests never need this). The sizing rules:

    - shuffle partitions: one per ~TARGET_SHUFFLE_PARTITION_BYTES of
      input (shuffled data is usually ≤ input after projection), floored
      at 2× total cores so every core gets work even post-AQE-coalesce.
      100 TB / 256 MB ≈ 400k partitions — large, but AQE coalesces the
      small ones and each task stays memory-safe, which is the constraint
      that matters (a too-small partition count OOMs, a too-large one
      just schedules more tasks).
    - maxPartitionBytes: scan-side split size; 256 MB keeps the task
      count ≈ file-block count without tiny-task overhead.
    - advisoryPartitionSize: what AQE coalesces toward.
    """
    target_shuffle_bytes = 256 * 1024 * 1024
    n_shuffle = max(2 * total_cores,
                    min(input_bytes // target_shuffle_bytes + 1, 500_000))
    return {
        **ENGINE_CONF,
        SHUFFLE_PARTITIONS: str(n_shuffle),
        "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(128 * 1024 * 1024),
        # keep per-task state well under executor memory
        "spark.memory.fraction": "0.6",
    }


def truncate_lineage(df: "DataFrame", eager: bool = True) -> "DataFrame":  # noqa: F821
    """Cut the logical-plan lineage of an iterative-loop intermediate.

    Every driver-side fixpoint loop (connected components, pagerank)
    MUST truncate lineage each round — with plain cache() the plan tree
    embeds all prior rounds and Catalyst re-analysis makes the loop
    driver-bound (measured 9 s/round vs 0.6 s at sf0.1; ROUND_NOTES r5).

    Storage is switchable for the cluster path (VERDICT r5 item 3):

    - default: ``localCheckpoint(eager=True)`` — executor-local blocks,
      zero configuration, right for local[] runs and tests; NOT fault
      tolerant across executor loss.
    - ``SPARK_GRAFT_CHECKPOINT_DIR`` set: reliable ``.checkpoint()``
      into that directory (HDFS/object-store path on a real cluster) —
      survives executor loss, at the cost of a distributed write per
      truncation. The context's checkpoint dir is set on first use and
      left alone if the operator already configured one.

    Both paths materialize exactly the rows the subtree computes, so
    results are bit-identical — only failure semantics differ.

    ``eager=False`` (r21) defers materialization to the caller's next
    action over the returned frame: an iterative loop that follows
    every truncation with a scalar aggregate (the convergence check)
    then pays ONE job per round — the aggregate's pass both populates
    the checkpoint blocks and computes the scalar — instead of a
    materialization job plus an aggregate job. Identical blocks,
    identical lineage cut; only job count differs.
    """
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if not ckpt_dir:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(ckpt_dir)
    return df.checkpoint(eager=eager)


def free_checkpoint(df: "DataFrame") -> None:  # noqa: F821
    """Release a SUPERSEDED truncate_lineage frame's checkpoint blocks
    (guide §5: unpersist when done — VERDICT r21 item 5: iterative
    loops left every round's localCheckpoint blocks resident for the
    session; at 100 TB a long loop accumulates dead label/rank tables).

    ONLY for frames that will never be read again: a localCheckpoint
    does NOT fall back to lineage — unpersisting makes the frame
    permanently unreadable (probed r22: CHECKPOINT_RDD_BLOCK_ID_NOT_
    FOUND on re-action). That does not worsen the failure model — any
    localCheckpoint block loss is already unrecoverable by design
    (truncate_lineage docstring) — but it makes caller discipline
    load-bearing: free round k-1 only after round k's blocks have
    materialized via an action.

    Best-effort by design: on the reliable .checkpoint() path the
    LogicalRDD wraps a ReliableCheckpointRDD that was never persisted
    (unpersist is a harmless no-op; file cleanup stays with the
    ContextCleaner via cleanCheckpoints=true), and a frame whose logical
    root is not a LogicalRDD (no ``rdd()`` method: a Py4J error) or a
    session without a JVM handle (no ``_jdf``: an AttributeError) leaves
    the blocks to the GC-driven cleaner — the pre-r22 behavior. Any
    other error propagates. tests/test_session_conf.py holds a canary
    that fails if the private-API path stops releasing the blocks."""
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except (Py4JError, AttributeError):
        pass


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Best-effort apply of *dynamic* engine confs to an externally-built
    session (the driver hands us one in ``__spark_entry__.entry``).
    Static confs (serializer, arrow) are skipped automatically by Spark.
    Shuffle partitions follow the same rule as ``get_session``: one per
    task slot of the session's context, and a local master gets
    ``LOCAL_CONF`` as well.
    """
    conf = dict(ENGINE_CONF)
    if spark.sparkContext.master.startswith("local"):
        conf.update(LOCAL_CONF)
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — keep the session's value
    _size_shuffle_to_task_slots(spark)
    return spark
