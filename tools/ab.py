#!/usr/bin/env python3
"""Interleaved A/B of two revisions on the repo benchmark.

    python tools/ab.py PARENT [CHANGE] [--pairs N] [--first-seed K]

Checks PARENT, and CHANGE when given, out as detached git worktrees;
without CHANGE the change side is the working tree. For every workload
in BENCHMARK.json and seeds K..K+N-1 (default 1..10) it runs
``perfbench/run.py --trace 0`` for the file's ``run_seconds`` on each
side, the parent first on odd seeds, and appends every result line to
one file under ``logs/``. Then, per workload and end-to-end metric, it
prints both medians, the parent's quartile spread as a share of its
median, the pairs the change won (ties count for neither), the failed
ops per side, and a verdict:

- ``gain``: the change wins at least nine tenths of the pairs and its
  median beats the parent's by more than the parent's quartile spread;
- ``unresolved``: the parent's quartile spread is wider than the bound,
  and not every change run beats every parent run;
- ``no worse``: the change's median is within the bound of the parent's;
- ``worse``: otherwise.

It exits nonzero when any run prints ``"correct": false`` or no result.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SIDES = ("parent", "change")


def order(seed: int) -> tuple[str, str]:
    """Which side runs first: the parent on odd seeds."""
    return SIDES if seed % 2 else SIDES[::-1]


def perfbench(spec: dict, cwd: Path, workload: str, seed: int) -> tuple[int, str | None]:
    """One benchmark run in ``cwd``: (exit code, its last stdout line if
    that is the JSON result, else None)."""
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines[-1] if lines and lines[-1].startswith("{") else None


def spread(xs: list[float]) -> float:
    """Distance between the quartiles."""
    if len(xs) < 2:
        return float("inf")
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def wins(parent: list[float], change: list[float], lower_is_better: bool = True) -> int:
    """Pairs the change won; ``parent[i]`` and ``change[i]`` ran on the
    same seed, and a tie counts for neither side."""
    sign = 1 if lower_is_better else -1
    return sum(sign * (p - c) > 0 for p, c in zip(parent, change))


def verdict(parent: list[float], change: list[float], bound: float,
            lower_is_better: bool = True) -> str:
    """The verdict for one metric on one workload, from its values per
    pair."""
    sign = 1 if lower_is_better else -1
    p_med, c_med = statistics.median(parent), statistics.median(change)
    if (wins(parent, change, lower_is_better) >= 0.9 * len(parent)
            and sign * (p_med - c_med) > spread(parent)):
        return "gain"
    all_better = (max(change) < min(parent) if lower_is_better
                  else min(change) > max(parent))
    if spread(parent) > bound * abs(p_med) and not all_better:
        return "unresolved"
    return "no worse" if sign * (c_med - p_med) <= bound * abs(p_med) else "worse"


def run_pairs(spec: dict, dirs: dict[str, Path], pairs: int, log: Path,
              runner=perfbench, first_seed: int = 1) -> list[dict]:
    """Run every workload on both sides for seeds
    first_seed..first_seed+pairs-1, appending each result line to
    ``log``; returns one record per run."""
    recs = []
    for w in spec["workloads"]:
        for seed in range(first_seed, first_seed + pairs):
            for side in order(seed):
                t0 = time.perf_counter()
                rc, line = runner(spec, dirs[side], w["name"], seed)
                recs.append({"side": side, "workload": w["name"], "seed": seed, "rc": rc,
                             "result": json.loads(line) if line else None})
                with log.open("a") as f:
                    f.write(f"{side} {w['name']} {seed} rc={rc} {line}\n")
                print(f"{side} {w['name']} seed={seed} rc={rc} "
                      f"{time.perf_counter() - t0:.1f}s", flush=True)
    return recs


def summary(spec: dict, recs: list[dict]) -> list[str]:
    out = []
    for w in spec["workloads"]:
        runs = {s: {r["seed"]: r["result"] for r in recs
                    if r["side"] == s and r["workload"] == w["name"] and r["result"]}
                for s in SIDES}
        seeds = sorted(set(runs["parent"]) & set(runs["change"]))
        failed = {s: (sum(x["failed"] for x in runs[s].values()),
                      sum(x["attempted"] for x in runs[s].values())) for s in SIDES}
        out.append(f"{w['name']}: {len(seeds)} pairs; failed ops parent "
                   "{}/{}, change {}/{}".format(*failed["parent"], *failed["change"]))
        for m in spec["end_to_end"]:
            if not seeds:
                continue
            p, c = ([runs[s][k]["metrics"][m["name"]]["value"] for k in seeds] for s in SIDES)
            lower = m["better"] == "lower"
            p_med = statistics.median(p)
            out.append(
                f"  {m['name']:<11} parent {p_med:.4f} change {statistics.median(c):.4f} "
                f"{m['unit']}  parent spread {spread(p) / p_med:.3f}  "
                f"wins {wins(p, c, lower)}/{len(seeds)}  bound {m['bound']}  "
                f"-> {verdict(p, c, m['bound'], lower)}")
    return out


def ab(spec: dict, dirs: dict[str, Path], pairs: int, log: Path, runner=perfbench,
       first_seed: int = 1) -> int:
    recs = run_pairs(spec, dirs, pairs, log, runner, first_seed)
    lines = summary(spec, recs)
    print("\n".join(lines))
    with log.open("a") as f:
        f.writelines(f"# {line}\n" for line in lines)
    bad = [r for r in recs if not r["result"] or not r["result"]["correct"]]
    for r in bad:
        print(f"FAILED: {r['side']} {r['workload']} seed={r['seed']} rc={r['rc']}")
    return 1 if bad else 0


def _git(*args: str) -> str:
    return subprocess.run(["git", "-C", str(REPO), *args], check=True,
                          capture_output=True, text=True).stdout.strip()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change", nargs="?", help="a revision; default: the working tree")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    revs = {"parent": _git("rev-parse", "--short", args.parent)}
    if args.change:
        revs["change"] = _git("rev-parse", "--short", args.change)
    tmp = Path(tempfile.mkdtemp(prefix="ab-"))
    dirs = {"change": REPO}
    try:
        for side, rev in revs.items():
            dirs[side] = tmp / side
            _git("worktree", "add", "--detach", str(dirs[side]), rev)
        log = REPO / "logs" / f"ab_{revs['parent']}_{revs.get('change', 'worktree')}.txt"
        with log.open("a") as f:
            f.write(f"# perfbench/run.py --seconds {spec['run_seconds']} --trace 0; "
                    f"parent {revs['parent']}, change {revs.get('change', 'working tree')}; "
                    f"seeds {args.first_seed}..{args.first_seed + args.pairs - 1}, "
                    f"odd seeds run the parent first\n")
        return ab(spec, dirs, args.pairs, log, first_seed=args.first_seed)
    finally:
        for side in revs:
            subprocess.run(["git", "-C", str(REPO), "worktree", "remove", "--force",
                            str(tmp / side)], capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
        _git("worktree", "prune")


if __name__ == "__main__":
    sys.exit(main())
