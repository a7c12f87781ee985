"""Traced-run instrumentation, kept entirely on the benchmark side.

Spans are recorded around calls into each layer's public functions:

- ``op``            one benchmark op (a query, a word-count job);
- ``plans.build``   the plan builder call (registry ``fn``,
                    ``word_count_files``, a streaming operator builder);
- ``sources.load``  a source read inside the build: ``load_table`` where
                    the plan modules bind it, ``spark.read.text`` inside
                    ``word_count_files``, ``events_stream``;
- ``catalyst.plan`` forcing ``queryExecution().executedPlan()`` before
                    the action (traced runs only);
- ``exec``          the action (noop save, stream drain);
                    ``sources.write`` when the action is ``write_any``.

Each span runs under its own Spark job group, so the jobs it started are
read back afterwards through ``sc.statusTracker()`` and the app status
store (both work with ``spark.ui.enabled=false``). Spans stay in memory
and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import time

_JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._n_ops = 0
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        sp = {"name": name, "op": self._op,
              "parent": self._stack[-1] if self._stack else None,
              "group": f"perfbench-{idx}", "start": time.perf_counter(),
              "wall_start": time.time(), "end": None, **attrs}
        self.spans.append(sp)
        self._stack.append(idx)
        self.sc.setLocalProperty(_JOB_GROUP, sp["group"])
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            sp["wall_end"] = time.time()
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["group"] if self._stack else None
            self.sc.setLocalProperty(_JOB_GROUP, parent)

    @contextlib.contextmanager
    def op(self, name: str, pass_no: int):
        self._op = self._n_ops
        self._n_ops += 1
        try:
            with self.span("op", label=name, pass_no=pass_no) as sp:
                yield sp
        finally:
            self._op = None

    # ---------------------------------------------------------- wrappers
    def wrap(self, owner, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` by a delegating wrapper that records a
        span around every call; ``unwrap_all`` restores the original."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def install_source_wrappers(tracer: Tracer) -> None:
    """Wrap the source reads where the plan layer binds them."""
    from pyspark.sql.readwriter import DataFrameReader

    from mapreduce_4sl08_spark.plans import base, quality
    tracer.wrap(base, "load_table", "sources.load")
    tracer.wrap(quality, "load_table", "sources.load")
    tracer.wrap(DataFrameReader, "text", "sources.load")


# ------------------------------------------------------ Spark counters

_STAGE_FIELDS = {
    "task_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


class JobCounters:
    """Reads job and stage counters for job groups from the status
    tracker and the app status store. Stages are counted once per run,
    however many jobs list them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._seen_stages: set[int] = set()

    def group(self, group: str) -> dict:
        job_ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        out = {"jobs": len(job_ids), "stages": 0, "skipped_stages": 0,
               "tasks": 0, "last_job_end": None,
               **{k: 0 for k in _STAGE_FIELDS}}
        for jid in job_ids:
            job = self.store.job(jid)
            out["skipped_stages"] += job.numSkippedStages()
            end = job.completionTime()
            if end.isDefined():
                t = end.get().getTime() / 1000.0
                out["last_job_end"] = max(out["last_job_end"] or t, t)
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._seen_stages:
                    continue
                stage = self.store.lastStageAttempt(sid)
                if str(stage.status()) in ("SKIPPED", "PENDING"):
                    continue
                self._seen_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += stage.numTasks()
                for key, (getter, scale) in _STAGE_FIELDS.items():
                    out[key] += getattr(stage, getter)() * scale
        return out


def self_time(spans: list[dict], idx: int) -> float:
    """A span's duration minus what its direct children cover."""
    sp = spans[idx]
    kids = sum(c["end"] - c["start"] for c in spans if c["parent"] == idx)
    return (sp["end"] - sp["start"]) - kids
