"""Unit pins for the sweep harness: the sweep watchdog
(tools/sweep_watchdog, r20), the guard that turns a super-linear
plan/oracle into a named FAIL line instead of a stalled round, and
tests/parallel_sweep, which runs a module's checks on a thread pool and
re-raises each outcome in its own test. No Spark/DuckDB here — the
engine cancel hooks were probed live (duckdb InterruptException +
connection reuse; Spark cancelJobGroup) when the watchdog shipped; these
pins keep the control flow honest."""
import threading
import time
from types import SimpleNamespace as NS

import pytest

from tests.parallel_sweep import reraise, selected, sweep
from tools.sweep_watchdog import budget_seconds, timeboxed


def test_fast_fn_passes_through_result():
    assert timeboxed("x", lambda: 42, lambda: None, budget=5.0) == 42


def test_overrun_fires_cancel_and_raises_named_timeout():
    cancelled = threading.Event()

    def slow():
        # simulates an engine call that only returns once cancelled
        cancelled.wait(timeout=10)
        raise RuntimeError("engine interrupted")  # what a cancel causes

    with pytest.raises(TimeoutError, match=r"myq \(oracle\) exceeded 0s"):
        timeboxed("myq (oracle)", slow, cancelled.set, budget=0.2)
    assert cancelled.is_set()


def test_overrun_timeout_raised_even_if_fn_returns():
    # an engine whose cancel hook doesn't make the call raise (it just
    # finishes late) must STILL be reported as a watchdog overrun
    with pytest.raises(TimeoutError, match="exceeded"):
        timeboxed("late", lambda: time.sleep(0.4) or 1,
                  lambda: None, budget=0.1)


def test_non_timeout_error_propagates_unwrapped():
    with pytest.raises(ValueError, match="real bug"):
        timeboxed("x", lambda: (_ for _ in ()).throw(ValueError("real bug")),
                  lambda: None, budget=5.0)


def test_budget_env_default(monkeypatch):
    monkeypatch.delenv("SWEEP_QUERY_TIMEOUT", raising=False)
    assert budget_seconds() == 600.0
    monkeypatch.setenv("SWEEP_QUERY_TIMEOUT", "42.5")
    assert budget_seconds() == 42.5


def test_parallel_sweep_outcomes_exact():
    class Boom(AssertionError):
        pass

    def check(name):
        if name == "bad":
            raise Boom(f"{name} exploded")

    results = sweep(["ok1", "bad", "ok2"], check)
    assert set(results) == {"ok1", "bad", "ok2"}
    assert results["ok1"] is None and results["ok2"] is None
    reraise(results, "ok1")  # passing item re-raises nothing
    with pytest.raises(Boom, match="bad exploded"):
        reraise(results, "bad")


def test_selected_is_the_collected_params_of_one_test_in_one_module():
    mod, other = object(), object()

    def item(module, test, param):
        return NS(module=module, originalname=test, callspec=NS(id=param))

    request = NS(module=mod, session=NS(items=[
        item(mod, "test_a", "q1"), item(mod, "test_b", "q2"),
        item(other, "test_a", "q3"), item(mod, "test_a", "q4")]))
    assert selected(request, "test_a") == ["q1", "q4"]
