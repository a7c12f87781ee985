#!/usr/bin/env python
"""Validate the COMMITTED tree, not the working tree (VERDICT r8 item 2).

Round 8's failure mode: tests were green on the working tree, the
snapshot commit captured only half of a two-file refactor, and HEAD
shipped broken (`events_user_features` threw UNRESOLVED_COLUMN before a
single task ran). Nothing in the ritual ever executed the committed
tree. This tool closes that hole; run it AFTER the end-of-round
snapshot commit:

    python tools/validate_head.py [extra pytest node ids...]

It fails unless BOTH hold:

1. ``git status --porcelain`` is empty — a dirty tree means the commit
   cannot equal what was validated.
2. The fast gates pass on a CLEAN CHECKOUT of HEAD (``git archive`` to
   a temp dir, pytest run from there): ``test_plan_fingerprints`` builds
   every registry plan live, so an analysis-time break in any registry
   query cannot hide; ``test_registry_invariants`` pins the
   registry/oracle/history shape; ``test_bench_isolation`` keeps the
   bench harness loadable. Pass extra node ids for one smoke test per
   module changed this round.

Exit 0 prints the validated HEAD hash (cite it in ROUND_NOTES).
"""
from __future__ import annotations

import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FAST_GATES = [
    "tests/test_plan_fingerprints.py",
    "tests/test_registry_invariants.py",
    "tests/test_bench_isolation.py",
]


def main() -> int:
    porcelain = subprocess.run(
        ["git", "status", "--porcelain"], cwd=REPO,
        capture_output=True, text=True, check=True).stdout
    if porcelain.strip():
        print("FAIL: working tree is dirty — HEAD is not what you validated:")
        print(porcelain.rstrip())
        return 1

    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO,
        capture_output=True, text=True, check=True).stdout.strip()

    gates = FAST_GATES + sys.argv[1:]
    with tempfile.TemporaryDirectory(prefix="validate_head_") as tmp:
        # archive→tar as two checked steps, not a shell pipeline: a
        # `a | b` pipeline returns only b's status, so a git-archive
        # failure would surface as a confusing empty-dir pytest error
        # instead of failing here (ADVICE r9). No worktree: no .git
        # metadata needed by tests, nothing registered in the repo to
        # clean up on a crash.
        archive = subprocess.run(
            ["git", "archive", head], cwd=REPO,
            capture_output=True, check=True)
        subprocess.run(
            ["tar", "-x", "-C", tmp], input=archive.stdout, check=True)
        rc = subprocess.run(
            [sys.executable, "-m", "pytest", "-q", *gates], cwd=tmp,
        ).returncode
    if rc:
        print(f"FAIL: fast gates failed on clean checkout of {head[:12]}")
        return rc
    print(f"OK: HEAD {head[:12]} validated — clean tree, fast gates green "
          f"on a clean checkout ({len(gates)} gate files)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
