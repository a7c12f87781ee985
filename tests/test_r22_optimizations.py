"""Focused gates for the r22 optimization-round internals:

1. session.free_checkpoint: releases a truncate_lineage frame's
   localCheckpoint blocks (the CC loop's per-round free), is a silent
   no-op on non-checkpoint frames, and never raises;
2. the CC loop's O(1) checkpoint residency: after the label-propagation
   fixpoint, only a bounded number of persistent RDDs remain (NOT one
   per round — the r21 leak VERDICT item 5 flagged);
3. tests/parallel_sweep: the thread-pooled sweep preserves per-item
   outcomes exactly (exception objects re-raised with type and
   message intact, all keys present, passes map to None);
4. the fan-out env pin robustness (ADVICE r21 item 1, r22 item 2): a
   typo'd or non-positive SPARK_GRAFT_SCAN_FANOUT turns the fan-out off
   with a warning instead of crashing the plan build, passing a
   negative count to repartition, or silently enabling it;
5. langid_confusion_matrix's fan-out (the one enabled winner of the
   r22 heavy-map/low-card-agg A/B class) is present in the plan when
   the gate fires.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mapreduce_4sl08_spark.session import free_checkpoint, truncate_lineage
from mapreduce_4sl08_spark.sources.tables import _scan_fanout_n


def _n_persistent(spark) -> int:
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it, n = jmap.iterator(), 0
    while it.hasNext():
        it.next()
        n += 1
    return n


def test_free_checkpoint_releases_blocks(spark):
    base = _n_persistent(spark)
    ck = truncate_lineage(spark.range(1000).selectExpr("id", "id * 2 AS v"))
    assert _n_persistent(spark) == base + 1
    free_checkpoint(ck)
    assert _n_persistent(spark) == base


def test_free_checkpoint_noop_on_plain_frame(spark):
    # a non-checkpoint plan has no LogicalRDD -> the helper must be a
    # silent no-op (best-effort contract), never an exception
    df = spark.range(10).selectExpr("id AS x")
    free_checkpoint(df)
    assert df.count() == 10  # frame untouched


def test_cc_loop_checkpoint_residency_bounded(spark):
    """A chain graph forces one propagation round per hop (diameter
    rounds), so without the r22 per-round free the loop would leave one
    label checkpoint PER ROUND resident. The gate allows the steady
    state: edges + the live (last) labels checkpoint."""
    from mapreduce_4sl08_spark.plans.text import _min_label_propagation
    n = 9  # chain 0-1-2-...-9: diameter 9 -> ~9 propagation rounds
    rows = [(i, i + 1) for i in range(n)] + [(i + 1, i) for i in range(n)]
    edges = truncate_lineage(
        spark.createDataFrame(rows, ["src", "dst"]), eager=False)
    base = _n_persistent(spark)
    labels = _min_label_propagation(edges)
    got = {r.doc_id: r.component for r in labels.collect()}
    assert got == {i: 0 for i in range(n + 1)}  # one component, min id 0
    # residency: the returned labels checkpoint (1) — NOT one per round.
    # (edges was registered before `base` was read; transient query
    # frames may add a stray entry, hence <= 2 rather than == 1.)
    assert _n_persistent(spark) - base <= 2, (
        f"label checkpoints accumulated: {_n_persistent(spark) - base}")


def test_parallel_sweep_outcomes_exact():
    from tests.parallel_sweep import reraise, sweep

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


def test_fanout_env_pin_robust(spark, sf_dir, monkeypatch):
    path = os.path.join(sf_dir, "documents.parquet")
    assert _scan_fanout_n(spark, path) > 0  # auto fires: "off" is visible
    # a typo'd value and a non-positive pin both mean off, loudly — no
    # ValueError, no negative count into repartition, no silent auto
    for bad in ("false", "-1", "-4"):
        monkeypatch.setenv("SPARK_GRAFT_SCAN_FANOUT", bad)
        with pytest.warns(UserWarning, match="scan fan-out is off"):
            assert _scan_fanout_n(spark, path) == 0, bad
    # a sane positive pin is honored verbatim
    monkeypatch.setenv("SPARK_GRAFT_SCAN_FANOUT", "7")
    assert _scan_fanout_n(spark, path) == 7


def test_langid_confusion_fanout_in_plan(spark, sf_dir):
    from mapreduce_4sl08_spark.plans import QUERIES
    plan = QUERIES["langid_confusion_matrix"].fn(spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()
    if _scan_fanout_n(spark, os.path.join(sf_dir, "documents.parquet")):
        assert "REPARTITION_BY_NUM" in plan
        assert "hashpartitioning(doc_id" in plan
    else:
        assert "REPARTITION_BY_NUM" not in plan
