"""Plan-drift gate for the correctness treadmill (r8).

Every registry query's analyzed-plan fingerprint and oracle-SQL digest
are snapshotted in mapreduce_4sl08_spark/plans/plan_fingerprints.json,
and the registry orders the driver's proof budget from that snapshot: a
query whose digests differ from the ones recorded at its last proof is
re-proven first. So the snapshot must equal the live registry: these
tests fail on any drift until the snapshot is regenerated with
``python tools/gen_plan_fingerprints.py`` — which in turn moves the
drifted queries to the front of the driver's order. This mechanizes
the policy that was violated by hand twice (r6 ADVICE: dedup_minhash_lsh
missed after a shared-helper refactor; r8: minhash +
near_dup_containment missed again after the _verify_pairs rewrite).
"""

import importlib.util
import os

import pytest

from mapreduce_4sl08_spark.plans import QUERIES, oracle_sqls
from mapreduce_4sl08_spark.plans.registry import SNAPSHOT as _SNAPSHOT

_HERE = os.path.dirname(os.path.abspath(__file__))

_spec = importlib.util.spec_from_file_location(
    "gen_plan_fingerprints",
    os.path.join(os.path.dirname(_HERE), "tools", "gen_plan_fingerprints.py"))
_tool = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_tool)


def test_normalize_plan_renumbers_ids_but_not_string_literals():
    """The canonicalizer must renumber expression ids by first
    occurrence while leaving id-LOOKING STRING LITERALS untouched —
    the r15 ritual found the bare #\\d+ regex renumbering the MinHash
    chained-digest literal '#2' (printed unquoted after a comma), so
    whether it collided with a real low id depended on the session's
    global counter, i.e. fingerprints depended on build order."""
    norm = _tool.normalize_plan
    a = "Project [md5(concat(shingle#277, #2)) AS dg2#276]"
    b = "Project [md5(concat(shingle#35, #2)) AS dg2#36]"
    # same tree, different session counters -> identical canonical form
    assert norm(a) == norm(b)
    # the literal survives verbatim; attached ids are renumbered
    assert ", #2)" in norm(a) and "shingle#0" in norm(a)
    # distinct ids keep distinct canonical numbers (no blanking):
    # swapping join sides must NOT normalize to the same form
    assert (norm("Join (a.doc_id#10 < b.doc_id#20)")
            != norm("Join (b.doc_id#10 < a.doc_id#20)"))
    # unaliased-expression ids (after ')') and backtick-quoted names
    # are still renumbered
    assert "#0" in norm("Aggregate [count(1)#5L]")
    assert "#0" in norm("Project [`my col`#7]")
    # ADVICE r15 item 2: extraction-shaped names printed unquoted can
    # end in ']' or '.' — their ids must renumber too, or the
    # fingerprint would carry a raw session-counter number
    assert norm("Project [x[0]#9]") == norm("Project [x[0]#41]")
    assert norm("Project [col.#9]") == norm("Project [col.#41]")
    # while an id-looking literal after '(' stays verbatim
    assert "(#2," in norm("Project [concat(#2, a#7)]")
    # the fan-out's conf-derived partition count is canonicalized (r22:
    # 8-partition test sessions vs default generator sessions made the
    # r21 fan-out queries' fingerprints conf-dependent) — the KEY is
    # still hashed, so a re-keyed fan-out drifts while a resized one
    # does not
    assert (norm("RepartitionByExpression [doc_id#3L], 8")
            == norm("RepartitionByExpression [doc_id#9L], 32"))
    assert (norm("RepartitionByExpression [doc_id#3L], 8")
            != norm("RepartitionByExpression [user_id#3L], 8"))


def test_fingerprint_snapshot_covers_exactly_the_registry():
    assert set(_SNAPSHOT) == set(QUERIES), (
        "plan_fingerprints.json out of sync with the registry — run "
        "python tools/gen_plan_fingerprints.py")


def test_oracle_digests_match_snapshot():
    """Spark-free half of the drift gate: every oracle SQL, exactly as
    the driver receives it, hashes to its snapshot digest."""
    drifted = sorted(
        name for name, sql in oracle_sqls().items()
        if _tool.oracle_digest(sql) != _SNAPSHOT.get(name, {}).get("oracle"))
    assert drifted == [], (
        f"oracle SQL changed for {drifted} — regenerate the snapshot with "
        f"python tools/gen_plan_fingerprints.py")


@pytest.fixture(scope="module")
def _swept(spark, request):
    from tests.parallel_sweep import selected, sweep

    def check(name):
        assert name in _SNAPSHOT, (
            f"{name} has no fingerprint — run "
            f"python tools/gen_plan_fingerprints.py")
        # same sf_dir as the generator BY CONSTRUCTION: paths are
        # embedded in the plan's scan, so a divergence would drift all
        # fingerprints at once
        live = _tool.fingerprint(QUERIES[name].fn(spark, _tool.SF_DIR))
        assert live == _SNAPSHOT[name]["plan"], (
            f"{name}'s plan changed — regenerate the snapshot with "
            f"python tools/gen_plan_fingerprints.py so the registry "
            f"orders it into the driver's re-prove-first block")

    return sweep(selected(request, "test_plan_drift_requires_priority_reproof"), check)


@pytest.mark.parametrize("name", sorted(QUERIES), ids=str)
def test_plan_drift_requires_priority_reproof(_swept, name):
    from tests.parallel_sweep import reraise
    reraise(_swept, name)


def test_fingerprint_does_not_depend_on_memo_state(spark):
    """A memoized intermediate depends on its key alone, so a plan's
    fingerprint cannot depend on which query built a shared memo first:
    with every memo cleared, fingerprint the registry in registry order,
    serially, then again over the now-warm memos — each query's two
    fingerprints are equal and match the snapshot."""
    from mapreduce_4sl08_spark.plans import all_session_memos
    for memo in all_session_memos().values():
        memo.clear()

    def fingerprints():
        return {name: _tool.fingerprint(spec.fn(spark, _tool.SF_DIR))
                for name, spec in QUERIES.items()}

    cold, warm = fingerprints(), fingerprints()
    assert [n for n in QUERIES if cold[n] != warm[n]] == []
    assert [n for n in QUERIES if cold[n] != _SNAPSHOT[n]["plan"]] == []
