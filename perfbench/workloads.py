"""The benchmark's workloads.

Every workload runs one op at a time from this single driver process (a
closed loop with one client). A pass runs every op of the workload once;
``run_pass`` returns the pass's wall time, its CPU time and one record
per op: ``{"op": label, "lat": seconds, "ok": bool}``. Result checks run
outside the timed part of a pass.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import time
from pathlib import Path

import bench
from mapreduce_4sl08_spark.plans import QUERIES, all_session_memos
from mapreduce_4sl08_spark.operators.wordcount import word_count_files
from mapreduce_4sl08_spark.sources import write_any
from mapreduce_4sl08_spark import streaming as st

import inputs
from tracing import Tracer

# The headline queries the batch workload times: cheap single-pass
# members of bench.HEADLINE that span the layers. q5 builds from six
# load_table calls (plan build and schema inference dominate), q1 and q6
# are scan-bound aggregations, sort_customers_multi is the global range
# sort. The other members cost too much per run on a 4-CPU box: the
# iterative near-dup, vector and Python-UDF ones need seconds per query
# even on tiny inputs (see README.md).
HEADLINE_OPS = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "sort_customers_multi",
)
assert set(HEADLINE_OPS) <= set(bench.HEADLINE)


_TICK = os.sysconf("SC_CLK_TCK")
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this driver process and
    the Spark JVM, less what the JVM's live JIT compiler threads used.
    Time the hypervisor steals from the VM is not in it, and neither is
    most of the JIT's warm-up work, so it varies far less between runs
    than wall time does."""
    from pyspark import SparkContext
    proc = Path(f"/proc/{SparkContext._gateway.proc.pid}")
    ticks = _ticks((proc / "stat").read_text())
    for task in (proc / "task").iterdir():
        try:
            stat = (task / "stat").read_text()
        except OSError:
            continue  # the thread ended
        if stat[stat.index("(") + 1:].startswith(_JIT_THREADS):
            ticks -= _ticks(stat)
    t = os.times()
    return ticks / _TICK + t.user + t.system


def _ticks(stat: str) -> int:
    fields = stat.rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])  # utime, stime


def _memo_entries() -> int:
    return sum(len(m) for m in all_session_memos().values())


def _check(ok_fn) -> tuple[bool, str]:
    try:
        ok_fn()
        return True, ""
    except Exception as e:  # noqa: BLE001 - a failed check is a result
        return False, f"{type(e).__name__}: {e}".splitlines()[0][:300]


class Batch:
    """The headline registry queries over the fixture tables (noop sink),
    then the reference job: ``word_count_files`` over a Zipf corpus,
    committed as one CSV by ``write_any``."""

    name = "batch"
    WARM_PASSES = 3
    N_FILES, N_TOKENS, VOCAB = 8, 400_000, 40_000
    WORDCOUNT = "wordcount_files"

    def __init__(self, root: Path, seed: int):
        tables = inputs.tables()
        corpus = inputs.zipf_corpus(root, seed, self.N_FILES, self.N_TOKENS, self.VOCAB)
        self.inputs = {"fingerprint": {"tables": tables["fingerprint"],
                                       "corpus": corpus["fingerprint"]}}
        self.sf_dir = tables["dir"]
        self.text_dir = corpus["text_dir"]
        self.expected_wc = Path(corpus["expected"]).read_text()
        self.out = str(root.parent / ".work" / "wordcount_out")
        self.failed_checks: dict[str, str] = {}

    def prepare(self, spark, log) -> None:
        """Check every query against its DuckDB oracle, then run
        WARM_PASSES untimed passes on the timed code path (they check the
        word count against the Counter). All are the warm-up: the first
        pass after the checks takes about twice the CPU of the fourth."""
        from tests.oracle import compare_frames, duckdb_connection
        con = duckdb_connection(self.sf_dir)
        bench._reset_memos(spark)
        for name in HEADLINE_OPS:
            spec = QUERIES[name]
            ok, err = _check(lambda: compare_frames(
                spec.fn(spark, self.sf_dir).toPandas(),
                con.execute(spec.oracle).fetchdf(), name))
            if not ok:
                self.failed_checks[name] = err
        con.close()
        for _ in range(self.WARM_PASSES):
            self.run_pass(spark, None, -1)
        for name, err in self.failed_checks.items():
            log(f"CHECK FAILED {name}: {err}")

    def run_pass(self, spark, tracer: Tracer | None, pass_no: int):
        bench._reset_memos(spark)
        shutil.rmtree(self.out, ignore_errors=True)
        ops = []
        t0, c0 = time.perf_counter(), cpu_s()
        for name in HEADLINE_OPS:
            ok = name not in self.failed_checks
            try:
                if tracer is None:
                    lat = bench.run_query(spark, name, self.sf_dir)
                else:
                    lat = self._traced_query(spark, tracer, name, pass_no)
            except Exception as e:  # noqa: BLE001 - one op failing is a result
                lat, ok = float("nan"), False
                self.failed_checks.setdefault(name, f"{type(e).__name__}: {e}"[:300])
            ops.append({"op": name, "lat": lat, "ok": ok})
        lat, ok = self._wordcount(spark, tracer, pass_no)
        wall, cpu = time.perf_counter() - t0, cpu_s() - c0
        ops.append({"op": self.WORDCOUNT, "lat": lat, "ok": ok and self._wordcount_ok()})
        return {"wall": wall, "cpu": cpu, "ops": ops}

    def _traced_query(self, spark, tracer, name, pass_no) -> float:
        fn = QUERIES[name].fn
        with tracer.op(name, pass_no) as op:
            memos = _memo_entries()
            with tracer.span("plans.build"):
                df = fn(spark, self.sf_dir)
            op["memo_builds"] = _memo_entries() - memos
            with tracer.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("exec"):
                df.write.mode("overwrite").format("noop").save()
        return op["end"] - op["start"]

    def _wordcount(self, spark, tracer, pass_no) -> tuple[float, bool]:
        """One word-count job, timed from the builder call to the
        committed file (``run_pass`` clears the output first)."""
        t0 = time.perf_counter()
        try:
            if tracer is None:
                write_any(word_count_files(spark, self.text_dir), "csv",
                          self.out, single_file=True)
            else:
                with tracer.op(self.WORDCOUNT, pass_no):
                    with tracer.span("plans.build"):
                        df = word_count_files(spark, self.text_dir)
                    with tracer.span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("sources.write"):
                        write_any(df, "csv", self.out, single_file=True)
        except Exception as e:  # noqa: BLE001 - one op failing is a result
            self.failed_checks[self.WORDCOUNT] = f"{type(e).__name__}: {e}"[:300]
            return float("nan"), False
        return time.perf_counter() - t0, True

    def _wordcount_ok(self) -> bool:
        ok, err = _check(self._check_wordcount)
        if not ok:
            self.failed_checks[self.WORDCOUNT] = err
        return ok

    def _check_wordcount(self) -> None:
        parts = sorted(glob.glob(os.path.join(self.out, "part-*")))
        if len(parts) != 1:
            raise AssertionError(f"expected one output file, found {len(parts)}")
        got = Path(parts[0]).read_text()
        if got != self.expected_wc:
            raise AssertionError(
                f"word count differs from Counter: {len(got.splitlines())} "
                f"vs {len(self.expected_wc.splitlines())} lines")


class EventsStream:
    """Tumbling and session windows over a file-source event stream,
    drained with ``availableNow``; one op is one micro-batch, one pass is
    one drain of each operator. The drains' results are checked after the
    pass is timed."""

    name = "events_stream"
    N_FILES, N_ROWS, MAX_FILES_PER_TRIGGER = 2, 5000, 1
    OPERATORS = (("stream_tumbling_counts", st.stream_tumbling_counts),
                 ("stream_session_window", st.stream_session_window))

    def __init__(self, root: Path, seed: int):
        self.inputs = inputs.events_stream_files(root, seed, self.N_FILES, self.N_ROWS)
        self.work = root.parent / ".work" / "stream"
        self.failed_checks: dict[str, str] = {}
        self._expected: dict[str, list] = {}
        self._n_queries = 0

    def prepare(self, spark, log) -> None:
        """Compute the batch twins, then run one checked, untimed pass as
        the warm-up: a pass after a warm-up drain of each operator over
        one file alone still took 5-8 % more CPU than the pass after it."""
        import datetime as dt

        from pyspark.sql import functions as F
        twin = self.inputs["twin_dir"]
        ev = spark.read.parquet(os.path.join(twin, "events.parquet"))
        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        tumbling = QUERIES["events_tumbling_hourly"].fn(spark, twin)
        self._expected["stream_tumbling_counts"] = [tuple(r) for r in tumbling.collect()]
        # the batch twin's session_end is the last event; the streaming
        # session window ends one gap (30 min) later
        sessions = QUERIES["events_sessionize"].fn(spark, twin).select(
            "user_id", "session_start",
            (F.col("session_end") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
            "n_events", "sum_value")
        self._expected["stream_session_window"] = [tuple(r) for r in sessions.collect()]
        self._cut = max_ts - dt.timedelta(hours=3)
        for op_name, rows in self._expected.items():
            if not self._finalized(op_name, rows):
                self.failed_checks[op_name] = "empty batch twin: the check would be vacuous"
        self.run_pass(spark, None, -1)
        for name, err in self.failed_checks.items():
            log(f"CHECK FAILED {name}: {err}")

    def _finalized(self, op_name: str, rows: list) -> set:
        """Rows whose window ends an hour or more before the final
        watermark (max event time - 2 h): the stream must have emitted
        exactly these."""
        end = 0 if op_name == "stream_tumbling_counts" else 2
        return {r for r in rows if r[end] <= self._cut}

    def _check(self, op_name: str, rows: list) -> None:
        want = self._expected[op_name]
        got, want_final = self._finalized(op_name, rows), self._finalized(op_name, want)
        if got != want_final:
            raise AssertionError(f"{op_name}: {len(got ^ want_final)} finalized rows "
                                 f"differ from the batch twin")
        if not set(rows) <= set(want):
            raise AssertionError(f"{op_name}: emitted rows the batch twin lacks")

    def run_pass(self, spark, tracer: Tracer | None, pass_no: int):
        t0, c0 = time.perf_counter(), cpu_s()
        drains = [(op_name, *self._drain(spark, tracer, pass_no, op_name, builder,
                                          self.inputs["stream_dir"]))
                  for op_name, builder in self.OPERATORS]
        wall, cpu = time.perf_counter() - t0, cpu_s() - c0
        ops = []
        for op_name, qname, batches, err in drains:
            ok = err is None and op_name not in self.failed_checks
            if ok:
                rows = [tuple(r) for r in spark.table(qname).collect()]
                ok, err = _check(lambda: self._check(op_name, rows))
            if not ok:
                self.failed_checks.setdefault(op_name, err)
            spark.catalog.dropTempView(qname)
            ops += [{"op": op_name, "lat": b["lat"], "ok": ok, "progress": b}
                    for b in batches or [{"lat": float("nan")}]]
        return {"wall": wall, "cpu": cpu, "ops": ops}

    def _drain(self, spark, tracer, pass_no, op_name, builder, path):
        self._n_queries += 1
        qname = f"perfbench_{op_name}_{self._n_queries}"
        ckpt = self.work / qname
        shutil.rmtree(ckpt, ignore_errors=True)
        spans = tracer.span if tracer is not None else _no_span
        try:
            with spans("sources.load", label=op_name, pass_no=pass_no):
                src = st.events_stream(spark, path,
                                       max_files_per_trigger=self.MAX_FILES_PER_TRIGGER)
            with spans("plans.build", label=op_name, pass_no=pass_no):
                df = builder(src)
            with spans("exec", label=op_name, pass_no=pass_no) as sp:
                q = (df.writeStream.format("memory").queryName(qname)
                     .outputMode("append").option("checkpointLocation", str(ckpt))
                     .trigger(availableNow=True).start())
                q.awaitTermination()
                if sp is not None:
                    sp["run_id"] = str(q.runId)
            progress = [json.loads(p.json) for p in q.recentProgress]
            if len(progress) >= 100:
                raise RuntimeError("more batches than recentProgress keeps")
            batches = [{"lat": p["durationMs"]["triggerExecution"] / 1000.0, **_batch(p)}
                       for p in progress]
            return qname, batches, None
        except Exception as e:  # noqa: BLE001 - a failed drain is a result
            return qname, None, f"{type(e).__name__}: {e}"[:300]
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)


def _batch(p: dict) -> dict:
    d = p["durationMs"]
    ops = p["stateOperators"]
    return {
        "batch_id": p["batchId"], "rows": p["numInputRows"],
        "add_batch_s": d.get("addBatch", 0) / 1000.0,
        "query_planning_s": d.get("queryPlanning", 0) / 1000.0,
        "wal_commit_s": d.get("walCommit", 0) / 1000.0,
        "commit_offsets_s": d.get("commitOffsets", 0) / 1000.0,
        "get_batch_s": d.get("getBatch", 0) / 1000.0,
        "latest_offset_s": d.get("latestOffset", 0) / 1000.0,
        "state_commit_s": sum(o.get("commitTimeMs", 0) for o in ops) / 1000.0,
        "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
        "state_mem_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
        "rows_dropped_by_watermark": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
    }


def _no_span(*_args, **_attrs):
    return contextlib.nullcontext()


WORKLOADS = {w.name: w for w in (Batch, EventsStream)}
