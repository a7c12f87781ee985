"""tools/ab.py with a fake benchmark runner: pair order, the exit code
on a failed check, and the verdict rule."""

import json

import pytest

from tools.ab import ab, order, verdict

SPEC = {"command": ["true"], "run_seconds": 1,
        "workloads": [{"name": "w"}],
        "end_to_end": [{"name": "m", "unit": "s", "better": "lower", "bound": 0.25}]}


def fake_runner(values, calls, correct=lambda side, seed: True):
    """A runner whose run of (side, seed) reads ``values[side][seed-1]``."""
    def run(spec, cwd, workload, seed):
        side = cwd.name
        calls.append((side, seed))
        ok = correct(side, seed)
        return (0 if ok else 1), json.dumps({
            "correct": ok, "attempted": 4, "failed": 0 if ok else 1,
            "metrics": {"m": {"value": values[side][seed - 1], "unit": "s"}}})
    return run


@pytest.fixture
def dirs(tmp_path):
    return {s: tmp_path / s for s in ("parent", "change")}


def test_pair_order_alternates_by_seed_parity(dirs, tmp_path):
    calls = []
    runner = fake_runner({"parent": [1.0] * 4, "change": [1.0] * 4}, calls)
    assert ab(SPEC, dirs, 4, tmp_path / "log.txt", runner) == 0
    assert calls == [("parent", 1), ("change", 1), ("change", 2), ("parent", 2),
                     ("parent", 3), ("change", 3), ("change", 4), ("parent", 4)]
    assert [order(s)[0] for s in (1, 2, 3)] == ["parent", "change", "parent"]
    # every run's result line is in the log, tagged with its side and seed
    logged = [ln for ln in (tmp_path / "log.txt").read_text().splitlines()
              if not ln.startswith("#")]
    assert [tuple(ln.split()[:3]) for ln in logged] == [
        (s, "w", str(n)) for s, n in calls]


def test_pair_order_from_an_even_first_seed(dirs, tmp_path):
    """Seeds K..K+N-1 keep the parity rule: an even first seed runs the
    change first."""
    calls = []
    runner = fake_runner({"parent": [1.0] * 14, "change": [1.0] * 14}, calls)
    assert ab(SPEC, dirs, 3, tmp_path / "log.txt", runner, first_seed=12) == 0
    assert calls == [("change", 12), ("parent", 12), ("parent", 13),
                     ("change", 13), ("change", 14), ("parent", 14)]


def test_a_failed_check_exits_nonzero(dirs, tmp_path):
    runner = fake_runner({"parent": [1.0] * 3, "change": [1.0] * 3}, [],
                         correct=lambda side, seed: (side, seed) != ("change", 2))
    assert ab(SPEC, dirs, 3, tmp_path / "log.txt", runner) == 1
    assert '"correct": false' in (tmp_path / "log.txt").read_text()


def test_gain_needs_nine_of_ten_wins_and_a_gap_beyond_the_spread():
    parent = [10.0, 10.2, 10.4, 10.1, 10.3, 10.2, 10.0, 10.4, 10.1, 10.3]
    assert verdict(parent, [p - 1.0 for p in parent], 0.25) == "gain"
    # nine wins of ten is still a gain; eight is not
    nine = [p - 1.0 for p in parent[:9]] + [parent[9] + 0.1]
    assert verdict(parent, nine, 0.25) == "gain"
    eight = [p - 1.0 for p in parent[:8]] + [p + 0.1 for p in parent[8:]]
    assert verdict(parent, eight, 0.25) == "no worse"
    # ten wins of ten, but the gap is inside the parent's quartile spread
    assert verdict(parent, [p - 0.05 for p in parent], 0.25) == "no worse"
    # higher-is-better metrics win the other way
    assert verdict(parent, [p + 1.0 for p in parent], 0.25, False) == "gain"


def test_spread_wider_than_the_bound_is_unresolved():
    parent = [1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0]
    assert verdict(parent, parent, 0.25) == "unresolved"
    # unless every change run beats every parent run
    assert verdict(parent, [0.4] * 10, 0.25) == "gain"
    assert verdict(parent, [0.9] * 10, 0.25) == "no worse"
    # a steady parent and a change past the bound is a regression
    steady = [1.0, 1.01, 0.99, 1.0, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0]
    assert verdict(steady, [1.3] * 10, 0.25) == "worse"
    assert verdict(steady, [1.2] * 10, 0.25) == "no worse"
