#!/usr/bin/env python3
"""Steadiness evidence for the benchmark.

    # ten runs per workload, one seed each, appended as JSON lines
    python3 perfbench/steadiness.py run --out perfbench/results/set1.jsonl \\
        --seeds 1-10 [--workload batch] [--trace 0] [--reports DIR]

    # per workload and metric: median, quartile spread as a share of the
    # median, and (with two files) how far the second median moved; with
    # --reports, also the metrics a run prints but does not gate
    python3 perfbench/steadiness.py summary set1.jsonl [set2.jsonl] [--reports DIR]

    # which per-layer counts repeat exactly between traced runs of a seed
    python3 perfbench/steadiness.py counts traced.jsonl

Runs go one at a time, each a fresh ``perfbench/run.py`` process, with
the seconds from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def cmd_run(args) -> int:
    spec = _spec()
    names = [args.workload] if args.workload else [w["name"] for w in spec["workloads"]]
    out = Path(args.out)
    out.parent.mkdir(parents=True, exist_ok=True)
    worst = 0
    for name in names:
        for seed in _seeds(args.seeds):
            cmd = spec["command"] + ["--workload", name, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]),
                                     "--trace", str(args.trace)]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            rec = {"workload": name, "seed": seed, "trace": args.trace,
                   "rc": proc.returncode, "wall_s": wall, "result": result}
            with out.open("a") as f:
                f.write(json.dumps(rec) + "\n")
            if args.reports:
                report = HERE / ".out" / f"{name}-seed{seed}-trace{args.trace}.json"
                Path(args.reports).mkdir(parents=True, exist_ok=True)
                shutil.copy(report, args.reports)
            print(f"{name} seed={seed} rc={proc.returncode} wall={wall:.1f}s", flush=True)
            worst = max(worst, proc.returncode)
    return worst


def _load(path: str) -> list[dict]:
    return [json.loads(line) for line in Path(path).read_text().splitlines() if line]


def _by_metric(recs: list[dict], workload: str) -> dict[str, list[float]]:
    vals: dict[str, list[float]] = {}
    for r in recs:
        if r["workload"] == workload and r["result"]:
            for k, m in r["result"]["metrics"].items():
                vals.setdefault(k, []).append(m["value"])
    return vals


def _printed(recs: list[dict], workload: str, reports: Path) -> dict[str, list[float]]:
    """The metrics a run prints but does not gate, from its report file."""
    vals: dict[str, list[float]] = {}
    for r in recs:
        f = reports / f"{workload}-seed{r['seed']}-trace{r['trace']}.json"
        if r["workload"] != workload or not f.exists():
            continue
        rep = json.loads(f.read_text())
        for k, m in rep["end_to_end"].items():
            vals.setdefault(k, []).append(m["value"])
    return vals


def cmd_summary(args) -> int:
    spec = _spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    sets = [_load(p) for p in args.files]
    bad = 0
    for w in spec["workloads"]:
        name = w["name"]
        walls = [r["wall_s"] for r in sets[0] if r["workload"] == name]
        if not walls:
            continue
        print(f"{name}: {len(walls)} runs, run wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s, failed runs "
              f"{sum(1 for s in sets for r in s if r['workload'] == name and r['rc'])}")
        per_set = [_by_metric(s, name) for s in sets]
        for metric, bound in bounds.items():
            row = []
            meds = []
            for vals in per_set:
                v = vals.get(metric, [])
                if len(v) < 2:
                    continue
                med, spread = statistics.median(v), _spread(v)
                meds.append(med)
                flag = "" if spread < bound / 3 else (
                    " (above bound/3)" if spread < bound else " (ABOVE BOUND)")
                bad += spread >= bound
                row.append(f"median {med:.4f} spread {spread:.3f}{flag}")
            if len(meds) == 2:
                drift = meds[1] / meds[0] - 1
                bad += abs(drift) > bound
                row.append(f"second/first median {drift:+.3f}"
                           + (" (ABOVE BOUND)" if abs(drift) > bound else ""))
            print(f"  {metric:<10} bound {bound:<5} " + " | ".join(row))
        if args.reports:
            for i, recs in enumerate(sets):
                vals = _printed(recs, name, Path(args.reports))
                print(f"  printed only, set {i + 1}: " + ", ".join(
                    f"{k} median {statistics.median(v):.4f} spread "
                    f"{_spread(v):.3f}" for k, v in vals.items()
                    if k not in bounds and None not in v))
    return 1 if bad else 0


def _spread(v: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(v, n=4)
    return (q3 - q1) / statistics.median(v)


def cmd_counts(args) -> int:
    recs = [r for r in _load(args.file) if r["result"] and r["trace"] == 1]
    spec = _spec()
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in spec["workloads"]:
        for seed in sorted({r["seed"] for r in recs if r["workload"] == w["name"]}):
            runs = [r["result"]["metrics"] for r in recs
                    if r["workload"] == w["name"] and r["seed"] == seed]
            if len(runs) < 2:
                continue
            same, differ = [], []
            for k, unit in units.items():
                if unit in ("count", "bytes"):
                    vals = [m[k]["value"] for m in runs]
                    (same if len(set(vals)) == 1 else differ).append(f"{k}={vals}")
            print(f"{w['name']} seed {seed}: {len(runs)} traced runs")
            print("  repeat exactly: " + ", ".join(same))
            print("  differ:         " + (", ".join(differ) or "none"))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workload")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--reports", help="directory to copy each run's report file to")
    s = sub.add_parser("summary")
    s.add_argument("files", nargs="+")
    s.add_argument("--reports", help="directory of the runs' report files")
    c = sub.add_parser("counts")
    c.add_argument("file")
    args = ap.parse_args()
    return {"run": cmd_run, "summary": cmd_summary, "counts": cmd_counts}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
