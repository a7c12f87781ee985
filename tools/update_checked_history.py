"""Merge a driver CORRECTNESS_r{N}.json into plans/checked_history.json,
the registry's proof record: one ``{"round": N, "plan": md5, "oracle":
md5}`` entry per query, holding its last triple-green proof.

Only TRIPLE-GREEN rows (rows_match + schema_match + hash_match, no err)
are recorded — a red or errored row must stay stale so the next round's
budget re-proves it. Each row's two digests are copied from
plans/plan_fingerprints.json AS COMMITTED IN THE COMMIT THAT ADDED the
CORRECTNESS file, never from the working tree, so a plan edited after
the round can never be recorded as proven; a CORRECTNESS file that is
not committed is refused. An older round never overwrites a newer
record, and re-running a merged round is a no-op.

Run it once per driver round, after committing the round's files:

    python tools/update_checked_history.py CORRECTNESS_r23.json 23
    python tools/update_checked_history.py CORRECTNESS_r23.json 23 --dry-run
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS = "mapreduce_4sl08_spark/plans"
HISTORY = os.path.join(REPO, PLANS, "checked_history.json")


def split_green(rows: dict) -> tuple[list[str], list[str]]:
    """(triple-green names, everything else) from a CORRECTNESS dict."""
    green = sorted(
        name for name, r in rows.items()
        if r.get("rows_match") and r.get("schema_match")
        and r.get("hash_match") and not r.get("err"))
    return green, sorted(set(rows) - set(green))


def merge_round(record: dict, round_no: int, green: list[str],
                snapshot: dict) -> dict:
    """Pure merge: each green name's entry becomes ``round_no`` plus its
    ``snapshot`` digests, unless the record already holds a newer
    round. Returns a new, name-sorted dict."""
    out = dict(record)
    for name in green:
        if out.get(name, {}).get("round", 0) <= round_no:
            out[name] = {"round": round_no, **snapshot[name]}
    return dict(sorted(out.items()))


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=REPO, capture_output=True,
                          text=True, check=True).stdout


def round_snapshot(correctness_path: str) -> tuple[str, dict]:
    """(commit that added ``correctness_path``, the fingerprint snapshot
    in that commit); exits if the file was never committed."""
    rel = os.path.relpath(os.path.abspath(correctness_path), REPO)
    try:
        added = _git("log", "--diff-filter=A", "--format=%H", "--", rel)
    except subprocess.CalledProcessError as e:
        sys.exit(f"git log failed for {rel}: {e.stderr.strip()}")
    if not added:
        sys.exit(f"{rel} is not committed: commit the round's files first")
    commit = added.split()[0]
    try:
        snapshot = _git("show", f"{commit}:{PLANS}/plan_fingerprints.json")
    except subprocess.CalledProcessError as e:
        sys.exit(f"no fingerprint snapshot in {commit}: {e.stderr.strip()}")
    return commit, json.loads(snapshot)


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--dry-run"]
    dry = "--dry-run" in sys.argv[1:]
    if len(args) != 2 or not args[1].isdecimal() or int(args[1]) < 1:
        sys.exit(f"usage: {sys.argv[0]} CORRECTNESS_rN.json N [--dry-run]")
    correctness_path, round_no = args[0], int(args[1])

    commit, snapshot = round_snapshot(correctness_path)
    with open(correctness_path) as f:
        green, red = split_green(json.load(f))
    if red:
        print(f"NOT recording {len(red)} non-green rows: {red}")

    sys.path.insert(0, REPO)
    from mapreduce_4sl08_spark.plans import registry
    unknown = sorted(set(green) - (set(registry.QUERIES) & set(snapshot)))
    if unknown:
        sys.exit(f"refusing to record names unknown to the registry or to "
                 f"the snapshot in {commit[:7]}: {unknown}")

    with open(HISTORY) as f:
        prior = json.load(f)
    record = merge_round(prior, round_no, green, snapshot)
    updated = sorted(n for n in record if record[n] != prior.get(n))
    print(f"round {round_no} (snapshot {commit[:7]}): {len(green)} green, "
          f"{len(updated)} entries updated")
    if dry:
        print("dry run — history not written")
        return
    with open(HISTORY, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(f"wrote {HISTORY}")


if __name__ == "__main__":
    main()
