"""The post-scan fan-out (sources/tables.py): it fires only where a
caller opts in AND the size gate says a single-split scan would starve
the cores; the env pin turns it off or fixes its count, and a bad pin
means off, loudly; caller filters and projections still reach the
parquet scan; results are identical either way."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mapreduce_4sl08_spark.sources.tables import (
    _FANOUT_KEYS, _scan_fanout_n, load_table,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fanout_defaults_off_and_opt_in_fires(spark, sf_dir):
    """Default load is untouched; fanout=True adds the keyed exchange
    only when the size gate passes (documents at the test fixture is
    above the 32 KB floor)."""
    plain = load_table(spark, sf_dir, "documents")
    assert "REPARTITION_BY_NUM" not in _plan(plain)
    fanned = load_table(spark, sf_dir, "documents", fanout=True)
    expect = _scan_fanout_n(spark, os.path.join(sf_dir, "documents.parquet"))
    if expect:
        assert "REPARTITION_BY_NUM" in _plan(fanned)
        assert fanned.rdd.getNumPartitions() == expect
    else:  # tiny fixture below the floor: fanout must be a no-op
        assert "REPARTITION_BY_NUM" not in _plan(fanned)
    # values identical either way (hash exchange only moves rows)
    a = sorted(map(tuple, plain.select("doc_id").collect()))
    b = sorted(map(tuple, fanned.select("doc_id").collect()))
    assert a == b


def test_fanout_env_off_switch(spark, sf_dir, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCAN_FANOUT", "off")
    df = load_table(spark, sf_dir, "documents", fanout=True)
    assert "REPARTITION_BY_NUM" not in _plan(df)


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


def test_fanout_keys_exist_in_schemas(spark, sf_dir):
    """Every fan-out key must be a live column of its table (a renamed
    column would silently disable the fan-out via the df.columns
    guard — make that loud here instead)."""
    for name, key in _FANOUT_KEYS.items():
        assert key in load_table(spark, sf_dir, name).columns, (name, key)


def test_fanout_keeps_pushed_filters_and_read_schema(spark, sf_dir):
    """Catalyst pushes a caller's filter and projection below the
    repartition, so the scan keeps its PushedFilters and ReadSchema and
    the exchange carries only post-filter, post-projection rows."""
    assert _scan_fanout_n(spark, os.path.join(sf_dir, "documents.parquet")) > 0
    df = (load_table(spark, sf_dir, "documents", fanout=True)
          .filter(F.col("doc_id") > 5).select("text"))
    plan = _plan(df)
    assert "REPARTITION_BY_NUM" in plan
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,5)]" in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_langid_confusion_fanout_in_plan(spark, sf_dir):
    from mapreduce_4sl08_spark.plans import QUERIES
    plan = _plan(QUERIES["langid_confusion_matrix"].fn(spark, sf_dir))
    if _scan_fanout_n(spark, os.path.join(sf_dir, "documents.parquet")):
        assert "REPARTITION_BY_NUM" in plan
        assert "hashpartitioning(doc_id" in plan
    else:
        assert "REPARTITION_BY_NUM" not in plan
