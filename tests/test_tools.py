"""The measurement tools' own logic: the x-factor rung replicator
(`tools/make_rung.py`) and the per-query profiler's job count
(`tools/profile_queries.py`)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tools import make_rung, profile_queries


def _write(root, name, **cols):
    pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))


def test_replica_shift_clears_every_id():
    assert make_rung.replica_shift(0, 9_999_999) == 10_000_000
    assert make_rung.replica_shift(0, 10_000_000) == 100_000_000
    assert make_rung.replica_shift(3, 123_456_789_012) == 1_000_000_000_000
    with pytest.raises(ValueError):
        make_rung.replica_shift(-1, 5)


def test_make_rung_ids_above_old_shift_stay_distinct(spark, tmp_path):
    """An id at 12_000_000 (above the old fixed 10_000_000 shift) would
    have collided with replica 1 of id 2_000_000; the derived shift
    keeps every key distinct and the lineitem -> orders key intact."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    for name in make_rung.COPY:
        _write(src, name, k=[1])
    _write(src, "events", event_id=[1, 2_000_000, 12_000_000])
    _write(src, "documents", doc_id=[5, 7], text=["a b", "c"])
    _write(src, "embeddings", vec_id=[0, 3])
    _write(src, "orders", o_orderkey=[2_000_000, 12_000_000])
    _write(src, "lineitem", l_orderkey=[12_000_000, 12_000_000])

    assert make_rung.replicate(spark, src, out, 3) == 100_000_000

    def ids(name, col):
        return [r[0] for r in spark.read.parquet(
            os.path.join(out, f"{name}.parquet")).select(col).collect()]

    ev = ids("events", "event_id")
    assert len(ev) == len(set(ev)) == 9
    assert {1, 2_000_000, 12_000_000, 112_000_000} <= set(ev)
    orders = set(ids("orders", "o_orderkey"))
    assert len(orders) == 6
    lines = ids("lineitem", "l_orderkey")
    assert len(lines) == 6 and set(lines) <= orders
    texts = sorted(ids("documents", "text"))
    assert texts == ["a b", "a b rep1", "a b rep2", "c", "c rep1", "c rep2"]
    assert os.path.exists(os.path.join(out, "region.parquet"))


def test_profile_one_counts_only_its_own_jobs(spark):
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")

    def query(s, _sf):
        s.range(10).count()
        return s.range(3)

    first = profile_queries.profile_one(spark, "t_first", query, "unused")
    spark.range(5).count()  # a job between queries is charged to neither
    second = profile_queries.profile_one(spark, "t_second", query, "unused")
    # at least the build's count and the profiler's count, and the same
    # number both times
    assert first["jobs"] == second["jobs"] >= 2
    assert sc.getLocalProperty("spark.jobGroup.id") == prev
