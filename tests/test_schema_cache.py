"""Schema-pinned table scans (sources/tables.py ``_read_parquet``):
``load_table`` infers each parquet file's schema once per
(path, file stamp, parquet-inference confs) and reads with it pinned,
so a repeated load launches no Spark job, returns what an inferred read
returns, and sees an in-place rewrite."""

from __future__ import annotations

import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapreduce_4sl08_spark.sources import tables
from mapreduce_4sl08_spark.sources.tables import TABLE_NAMES, load_table

_JOB_GROUP = "spark.jobGroup.id"


@contextmanager
def _job_group(spark, group: str):
    """Run the body under its own job group; yields a callable giving
    the number of jobs launched in it so far."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty(_JOB_GROUP)
    sc.setLocalProperty(_JOB_GROUP, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty(_JOB_GROUP, prev)


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def test_repeated_load_launches_no_job(spark, sf_smoke_dir):
    for name in TABLE_NAMES:
        load_table(spark, sf_smoke_dir, name).schema  # fills the cache
    with _job_group(spark, "test_schema_cache.repeat") as jobs:
        for name in TABLE_NAMES:
            for fanout in (False, True):
                load_table(spark, sf_smoke_dir, name, fanout=fanout).dtypes
        assert jobs() == 0


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_pinned_read_equals_inferred_read(spark, sf_smoke_dir, monkeypatch,
                                          name):
    """The pinned read returns the inferred read's dtypes and rows, and
    so does everything load_table builds on it (quarantine, events ts
    normalization)."""
    path = os.path.join(sf_smoke_dir, f"{name}.parquet")
    inferred = spark.read.parquet(path)
    pinned = tables._read_parquet(spark, path)
    assert pinned.dtypes == inferred.dtypes
    assert _rows(pinned) == _rows(inferred)

    loaded = load_table(spark, sf_smoke_dir, name)
    monkeypatch.setattr(tables, "_read_parquet",
                        lambda s, p: s.read.parquet(p))
    unpinned = load_table(spark, sf_smoke_dir, name)
    assert loaded.dtypes == unpinned.dtypes
    assert _rows(loaded) == _rows(unpinned)


def test_in_place_rewrite_adding_a_column_is_seen(spark, tmp_path):
    p = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1], pa.int64())}), p)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1, 2], pa.int64()),
                             "r_name": ["A", "B", "C"]}), p)
    # force a distinct stamp even on coarse-mtime filesystems
    os.utime(p, ns=(time.time_ns(), time.time_ns() + 1))
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (0, "A"), (1, "B"), (2, "C")]


def _nanos_events(sf_smoke_dir: str, out_dir) -> str:
    raw = pq.read_table(os.path.join(sf_smoke_dir, "events.parquet"))
    ts_i = raw.schema.get_field_index("ts")
    out_dir.mkdir()
    pq.write_table(raw.set_column(ts_i, "ts",
                                  raw["ts"].cast(pa.timestamp("ns"))),
                   str(out_dir / "events.parquet"))
    return str(out_dir)


def test_inference_confs_are_part_of_the_key(spark, sf_smoke_dir, tmp_path):
    """A session without nanosAsLong cannot read TIMESTAMP(NANOS); it
    must fail as an inferred read does, not be served the bigint schema
    another session cached for the same file (pinned, that schema would
    read the raw ns longs without complaint)."""
    sf = _nanos_events(sf_smoke_dir, tmp_path / "sf_ns")
    raw_path = os.path.join(sf, "events.parquet")
    assert dict(tables._read_parquet(spark, raw_path).dtypes)["ts"] == "bigint"
    strict = spark.newSession()
    strict.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        strict.read.parquet(raw_path)
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        load_table(strict, sf, "events")


def test_concurrent_first_loads_agree(spark, sf_smoke_dir, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pq.read_table(os.path.join(sf_smoke_dir, "orders.parquet")),
                   str(sf / "orders.parquet"))
    start = threading.Barrier(8, timeout=60)

    def load(_):
        start.wait()
        return load_table(spark, str(sf), "orders").schema

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(load, i) for i in range(8)]
            schemas = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(prev)
    inferred = spark.read.parquet(str(sf / "orders.parquet")).schema
    assert all(s == inferred for s in schemas)
    path = os.path.abspath(str(sf / "orders.parquet"))
    assert len([k for k in tables._SCHEMA_CACHE if k[0] == path]) == 1
