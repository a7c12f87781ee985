#!/usr/bin/env python3
"""Benchmark of the mapreduce_4sl08_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Workloads (see README.md):
``batch`` and ``events_stream``.

One run: build the seeded inputs (untimed, cached under perfbench/.data),
start the session (the cold start), check every op's result and warm
up, run passes of the workload, one op at a time, until ``--seconds``
have elapsed, then time ``setup_s`` = the median of five session
rebuilds, each with a first trivial job. Every metric is printed by
name; the last line of stdout is the JSON result, which carries the
``end_to_end`` metrics named in BENCHMARK.json with ``--trace 0``. With
``--trace 1`` passes alternate between untraced and traced, and the
result carries the ``per_layer`` metrics of the traced passes. A failed
check makes the exit code nonzero.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA, WORK, OUT = HERE / ".data", HERE / ".work", HERE / ".out"
N_SETUPS, SETUP_WARMUPS = 5, 3


def log(msg: str) -> None:
    print(msg, flush=True)


def _import_engine():
    """The engine, its bench module and its oracle harness come from the
    checkout; without them the benchmark cannot run."""
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import bench  # noqa: F401
        import mapreduce_4sl08_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        sys.exit(2)


def _isolate_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout."""
    for d in ("tmp", "spark-local", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def _session_conf() -> dict[str, str]:
    return {
        "spark.ui.enabled": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # fixed JIT compiler threads: a thread that exits would take its
        # CPU time out of what cpu_s() subtracts as JIT work
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={WORK / 'tmp'} "
                                          "-XX:-UseDynamicNumberOfCompilerThreads"),
    }


def _cores() -> int:
    """Task threads: half the CPUs. The JVM's JIT compiler and GC
    threads and the Python driver need the rest; with every CPU running
    tasks, pass times spread three times as wide between runs (README.md)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def build_session():
    """``get_session`` plus a first trivial job: (session, seconds)."""
    from mapreduce_4sl08_spark.session import get_session
    t0 = time.perf_counter()
    spark = get_session("perfbench", master=f"local[{_cores()}]",
                        extra_conf=_session_conf())
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def rebuild_sessions(spark):
    """SETUP_WARMUPS untimed, then N_SETUPS timed rebuilds of the session
    in the running JVM. They run after the timed passes, because the
    first pass on a rebuilt session costs a third more CPU than the pass
    before the rebuild; the untimed ones, because the first rebuilds in a
    JVM take up to twice as long as the fourth."""
    setups = []
    for i in range(SETUP_WARMUPS + N_SETUPS):
        spark.stop()
        spark, dt = build_session()
        if i >= SETUP_WARMUPS:
            setups.append(dt)
    return spark, setups


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext
    pid = SparkContext._gateway.proc.pid
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return float("nan")


def tail(lats: list[float]) -> tuple[float | None, float | None, int]:
    """The highest percentile with at least 10 samples above it:
    (value, percentile, n). With 20 samples or fewer that percentile is
    not above the median, so there is no tail: (None, None, n)."""
    xs = sorted(lats)
    n = len(xs)
    if n <= 20:
        return None, None, n
    k = n - 10
    return xs[k - 1], 100.0 * k / n, n


def end_to_end(setups, passes) -> tuple[dict, dict]:
    lats = [o["lat"] for p in passes for o in p["ops"] if not math.isnan(o["lat"])]
    t_val, t_pct, t_n = tail(lats)
    metrics = {
        "setup_s": {"value": statistics.median(setups), "unit": "s"},
        "pass_s": {"value": statistics.median(p["wall"] for p in passes), "unit": "s"},
        "pass_cpu_s": {"value": statistics.median(p["cpu"] for p in passes), "unit": "s"},
        "op_p50_s": {"value": statistics.median(lats), "unit": "s"},
        "op_tail_s": {"value": t_val, "unit": "s"},
    }
    info = {"tail_percentile": t_pct, "tail_n": t_n, "passes": len(passes),
            "ops": len(lats)}
    return metrics, info


# ------------------------------------------------------------ traced run

def layer_totals(tracer, counters, ops_by_pass, cores) -> list[dict]:
    """Per-pass per-layer totals of the traced passes."""
    from tracing import self_time
    spans = tracer.spans
    op_pass = {s["op"]: s["pass_no"] for s in spans if s["name"] == "op"}

    def span_pass(s):
        return s.get("pass_no", op_pass.get(s["op"]))

    totals = []
    for pass_no, ops in ops_by_pass.items():
        t = {k: 0.0 for k in (
            "sources.load_calls", "sources.load_s", "sources.load_jobs",
            "plans.build_s", "plans.build_jobs", "plans.memo_builds",
            "catalyst.plan_s", "exec.run_s", "exec.jobs", "exec.stages",
            "exec.skipped_stages", "exec.tasks", "exec.failed_tasks",
            "exec.task_s", "exec.cpu_s", "exec.gc_s", "exec.input_bytes",
            "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
            "exec.spill_bytes", "streaming.batches", "streaming.trigger_s",
            "streaming.add_batch_s", "streaming.query_planning_s",
            "streaming.wal_commit_s", "streaming.state_commit_s",
            "streaming.state_rows", "streaming.state_mem_bytes",
            "streaming.rows_dropped_by_watermark", "sources.write_s",
            "sources.commit_s", "trace.uncovered_s")}
        for i in [i for i, s in enumerate(spans) if span_pass(s) == pass_no]:
            s = spans[i]
            name, dur = s["name"], s["end"] - s["start"]
            if name == "sources.load":
                t["sources.load_calls"] += 1
                t["sources.load_s"] += dur
                t["sources.load_jobs"] += counters.group(s["group"])["jobs"]
            elif name == "plans.build":
                t["plans.build_s"] += self_time(spans, i)
                t["plans.build_jobs"] += counters.group(s["group"])["jobs"]
            elif name == "catalyst.plan":
                t["catalyst.plan_s"] += dur
            elif name in ("exec", "sources.write"):
                c = counters.group(s.get("run_id") or s["group"])
                t["exec.run_s"] += dur
                if "run_id" in s:  # a drain: the time no batch phase covers
                    t["trace.uncovered_s"] += dur
                for k in ("jobs", "stages", "skipped_stages", "tasks", "failed_tasks",
                          "task_s", "cpu_s", "gc_s", "input_bytes",
                          "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
                    t[f"exec.{k}"] += c[k]
                if name == "sources.write":
                    t["sources.write_s"] += dur
                    if c["last_job_end"] is not None:
                        t["sources.commit_s"] += s["wall_end"] - c["last_job_end"]
            elif name == "op":
                t["plans.memo_builds"] += s.get("memo_builds", 0)
                t["trace.uncovered_s"] += self_time(spans, i)
        for o in ops:
            b = o.get("progress")
            if b is None:
                continue
            t["streaming.batches"] += 1
            t["streaming.trigger_s"] += o["lat"]
            t["catalyst.plan_s"] += b["query_planning_s"]
            t["trace.uncovered_s"] -= sum(b[k] for k in (
                "add_batch_s", "query_planning_s", "wal_commit_s",
                "commit_offsets_s", "get_batch_s", "latest_offset_s"))
            for k in ("add_batch_s", "query_planning_s", "wal_commit_s",
                      "state_commit_s", "rows_dropped_by_watermark"):
                t[f"streaming.{k}"] += b[k]
        # state size at the end of each drain (its last batch)
        last: dict[str, dict] = {}
        for o in ops:
            if o.get("progress") is not None:
                last[o["op"]] = o["progress"]
        t["streaming.state_rows"] = sum(b["state_rows"] for b in last.values())
        t["streaming.state_mem_bytes"] = sum(b["state_mem_bytes"] for b in last.values())
        t["exec.core_busy_frac"] = (t["exec.task_s"] / (t["exec.run_s"] * cores)
                                    if t["exec.run_s"] else 0.0)
        totals.append(t)
    return totals


_UNITS = {"_s": "s", "_bytes": "bytes", "_mb": "MB", "_frac": "fraction"}


def unit_of(name: str) -> str:
    for suffix, unit in _UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def per_op_breakdown(tracer, ops_by_pass) -> dict:
    """Median per-op self times of the traced spans, by op label."""
    from tracing import self_time
    spans = tracer.spans
    rows: dict[str, dict[str, list]] = {}
    for i, s in enumerate(spans):
        if s["name"] != "op":
            continue
        r = rows.setdefault(s["label"], {})
        r.setdefault("op_s", []).append(s["end"] - s["start"])
        r.setdefault("uncovered_s", []).append(self_time(spans, i))
        for j, c in enumerate(spans):
            if c["op"] == s["op"] and c["name"] != "op":
                r.setdefault(c["name"] + "_s", []).append(self_time(spans, j))
    for ops in ops_by_pass.values():
        for o in ops:
            b = o.get("progress")
            if b is not None:
                r = rows.setdefault(o["op"], {})
                r.setdefault("batch_s", []).append(o["lat"])
                for k in ("add_batch_s", "query_planning_s", "wal_commit_s", "state_commit_s"):
                    r.setdefault(k, []).append(b[k])
    return {label: {k: statistics.median(v) for k, v in r.items()} | {"n": len(r.get("op_s", r.get("batch_s", [])))}
            for label, r in rows.items()}


# ------------------------------------------------------------------ main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    _import_engine()
    from workloads import WORKLOADS
    from tracing import JobCounters, Tracer, install_source_wrappers
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    _isolate_env()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    phases = {"start": time.perf_counter()}
    wl = WORKLOADS[args.workload](DATA, args.seed)
    log(f"perfbench {wl.name} seed={args.seed} input={json.dumps(wl.inputs['fingerprint'])}")
    phases["inputs"] = time.perf_counter()
    spark, cold = build_session()
    phases["session"] = time.perf_counter()
    cores = _cores()
    try:
        wl.prepare(spark, log)
        phases["prepare"] = time.perf_counter()
        passes, traced_passes = [], []
        tracer = Tracer(spark) if args.trace else None
        counters = JobCounters(spark) if args.trace else None
        ops_by_pass: dict[int, list] = {}
        t0 = time.perf_counter()
        pass_no = 0
        # passes until --seconds have elapsed, and in a traced run at
        # least one pass of each kind
        while (time.perf_counter() - t0 < args.seconds
               or (args.trace and (not passes or not traced_passes))):
            traced = bool(args.trace) and pass_no % 2 == 1
            if traced:
                install_source_wrappers(tracer)
            try:
                res = wl.run_pass(spark, tracer if traced else None, pass_no)
            finally:
                if traced:
                    tracer.unwrap_all()
            (traced_passes if traced else passes).append(res)
            if traced:
                ops_by_pass[pass_no] = res["ops"]
            pass_no += 1
        window_s = time.perf_counter() - t0
        phases["window"] = time.perf_counter()
        if args.trace:
            # read the counters before the session they live in is stopped
            totals = layer_totals(tracer, counters, ops_by_pass, cores)
            breakdown = per_op_breakdown(tracer, ops_by_pass)
        spark, setups = rebuild_sessions(spark)
        phases["setups"] = time.perf_counter()

        all_ops = [o for p in passes + traced_passes for o in p["ops"]]
        attempted = len(all_ops)
        failed = sum(1 for o in all_ops if not o["ok"])
        metrics, info = end_to_end(setups, passes)
        log(f"{wl.name}: {len(passes)} untraced + {len(traced_passes)} traced passes "
            f"in {window_s:.2f} s, {attempted} ops, cold start {cold:.3f} s, "
            f"closed loop, 1 client, local[{cores}]")
        for k, m in metrics.items():
            if m["value"] is None:
                log(f"  {k:<10} unavailable (n={info['tail_n']} ops; a tail needs more than 20)")
                continue
            extra = (f"  (p{info['tail_percentile']:.1f}, n={info['tail_n']})"
                     if k == "op_tail_s" else "")
            log(f"  {k:<10} {m['value']:.4f} {m['unit']}{extra}")
        log(f"  failed_frac {failed / attempted:.4f}  ({failed}/{attempted})")
        for name, err in wl.failed_checks.items():
            log(f"  FAILED {name}: {err}")

        report = {"workload": wl.name, "seed": args.seed, "input": wl.inputs["fingerprint"],
                  "end_to_end": metrics, "tail": info, "cold_start_s": cold,
                  "setups_s": setups, "pass_s": [p["wall"] for p in passes],
                  "pass_cpu_s": [p["cpu"] for p in passes],
                  "op_latencies_s": [(o["op"], o["lat"]) for p in passes for o in p["ops"]],
                  "failed_checks": wl.failed_checks}
        if args.trace:
            layer = {k: statistics.median(t[k] for t in totals) for k in totals[0]}
            layer["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb()
            layer["session.cold_start_s"] = cold
            layer["trace.overhead_s"] = (statistics.median(p["wall"] for p in traced_passes)
                                         - statistics.median(p["wall"] for p in passes))
            log("  per-layer totals per traced pass (median of "
                f"{len(totals)}); overhead = traced - untraced pass_s:")
            for k in sorted(layer):
                log(f"    {k:<38} {layer[k]:.6g} {unit_of(k)}")
            log("  per-op medians (self times, s):")
            for label, r in breakdown.items():
                log(f"    {label:<28} " + " ".join(
                    f"{k}={v:.4g}" for k, v in r.items()))
            log("  not separable from outside the program (left to an in-program "
                "profile): AQE re-planning time, Python/Arrow evaluation time")
            report.update(layer=layer, layer_per_pass=totals, per_op=breakdown,
                          spans=tracer.spans)
            metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            metrics = {m["name"]: metrics[m["name"]] for m in spec["end_to_end"]}
    finally:
        stop_session(spark)
    phases["stop"] = time.perf_counter()
    marks = list(phases.items())
    phase_s = {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])}
    report["phases_s"] = phase_s
    log("  phases: " + " ".join(f"{k}={v:.1f}s" for k, v in phase_s.items()))

    OUT.mkdir(exist_ok=True)
    (OUT / f"{wl.name}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(report, indent=1, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
