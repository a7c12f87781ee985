"""Thread-pooled execution for the sweep-style parametrized suites.

The r22 suite profile (`logs/pytest_r22_profile.log`, 2941 green in
29:50) showed ~62 % of total wall-clock in ~1,600 INDEPENDENT
query-vs-oracle comparisons executed strictly serially — each one a
tiny Spark job whose duration is driver/job-scheduling latency, not
compute. Spark's scheduler happily runs concurrent jobs inside one
application (optimization guide §2.6 "overlap independent jobs");
submitting each file's sweep from a small thread pool overlaps those
latencies. NOTHING about the checks changes: every query still builds
its full plan, executes, and is compared cell-for-cell by the same
assertion; each parametrized test re-raises its own stored outcome, so
per-query failure granularity, ids, and messages are exactly as before
(the exception object carries its original traceback).

Concurrency-safety notes, audited before conversion:

- Spark job submission, plan analysis, and py4j are thread-safe (py4j
  opens one gateway connection per thread).
- Session memos (shingle index, posting lists, CC labels, …) are built
  once per key: ``@session_memo`` (plans/base.py) builds a missing key
  under that key's lock, and concurrent callers wait for the one build
  and get the same object.
- The only session-global names plan builders create (temp views via
  register_views, the chunking UDTF) are same-name/same-definition per
  fixture dir, and Spark binds temp views into the plan at analysis
  time — a concurrent re-register installs an identical definition.
- DuckDB: one connection must not run concurrent queries; each worker
  uses its own ``con.cursor()`` (verified: cursors share the catalog,
  so the per-fixture views resolve in every worker).

Worker count: 8 — enough to hide per-job latency, far below the 32
local cores so executor-side parallelism is unaffected.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor

WORKERS = 8


def sweep(names: Iterable[str],
          check: Callable[[str], None]) -> dict[str, BaseException | None]:
    """Run ``check(name)`` for every name on a thread pool; map each
    name to None (passed) or the raised exception (complete with its
    traceback) for the parametrized test to re-raise."""
    names = list(names)

    def run(name: str) -> BaseException | None:
        try:
            check(name)
            return None
        except BaseException as e:  # noqa: BLE001 — stored, re-raised per test
            return e

    with ThreadPoolExecutor(max_workers=WORKERS) as pool:
        return dict(zip(names, pool.map(run, names)))


def selected(request, test: str) -> list[str]:
    """The ids of ``test``'s parametrized items, in the module that
    requests the fixture, that this session runs (after ``-k``/``-m``
    deselection), so a module-scoped sweep checks only those."""
    return [item.callspec.id for item in request.session.items
            if item.module is request.module and item.originalname == test]


def reraise(results: dict[str, BaseException | None], name: str) -> None:
    """The per-test body: re-raise this query's stored failure, if any."""
    err = results[name]
    if err is not None:
        raise err


def cursor_per_thread(con):
    """Wrap a DuckDB connection so each worker thread transparently
    executes on its own cursor (cursors share the catalog/views)."""
    local = threading.local()

    def get():
        cur = getattr(local, "cur", None)
        if cur is None:
            cur = local.cur = con.cursor()
        return cur

    return get
