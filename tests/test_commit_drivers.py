"""The replay guards of the two commit drivers (streaming/commit.py),
run on tiny synthetic stores: no fixture corpus, no streaming query.

A driver's foreachBatch body is a plain function of (batch rows,
batch id), so each test calls it the way a replayed micro-batch would.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from magictables_spark.streaming.commit import ReplaySource, StampedStore, VersionedStore


def _files(root: str) -> list[tuple[str, int]]:
    """(path relative to ``root``, mtime) of every file under it."""
    return sorted(
        (os.path.relpath(os.path.join(d, f), root), os.stat(os.path.join(d, f)).st_mtime_ns)
        for d, _dirs, files in os.walk(root)
        for f in files
    )


def _sum_merge(store, batch):
    return store.unionByName(batch).groupBy("p", "k").agg(F.sum("n").alias("n"))


def test_stamped_replay_merges_only_the_unstamped_partition(spark, tmp_path, monkeypatch):
    """Batch 0 touches partitions 0 and 1. A crash left partition 0
    already merged and stamped 0, partition 1 not. The replay merges
    partition 1 only, leaves partition 0's files as they were, and
    writes the marker."""
    monkeypatch.setenv("MTS_WAREHOUSE_DIR", str(tmp_path))
    src = ReplaySource("stamptest", "v1")
    store = StampedStore(src, "k string, n bigint, last_batch bigint, p bigint", "p")
    rows = "p bigint, k string, n bigint"
    store.seed(spark.createDataFrame([(0, "a", 1), (1, "b", 1)], rows))
    # the crashed run's rewrite of partition 0: seed + batch, stamped 0
    (
        spark.createDataFrame([(0, "a", 2, 0)], "p bigint, k string, n bigint, last_batch bigint")
        .write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("p")
        .mode("overwrite")
        .parquet(src.path("store"))
    )
    p0_before = _files(src.path("store", "p=0"))

    store.batches(lambda b: b, _sum_merge)(
        spark.createDataFrame([(0, "a", 1), (1, "b", 1)], rows), 0
    )

    got = {(r.p, r.k): (r.n, r.last_batch) for r in store.read(spark).collect()}
    assert got == {(0, "a"): (2, 0), (1, "b"): (2, 0)}
    assert _files(src.path("store", "p=0")) == p0_before
    assert os.listdir(src.path("applied")) == ["batch_0"]


def test_versioned_crash_remerges_from_seed_and_replay_touches_nothing(spark, tmp_path):
    """A crash after batch 0's write leaves CURRENT on the seed; the
    replay merges from the seed again, so the batch counts once. A
    further replay of the committed batch changes no file."""
    vs = VersionedStore(str(tmp_path / "store"))
    schema = "k string, n bigint"
    vs.seed(spark.createDataFrame([("a", 1)], schema))

    def merge(current, batch):
        return current.unionByName(batch).groupBy("k").agg(F.sum("n").alias("n"))

    batch = spark.createDataFrame([("a", 1)], schema)
    with pytest.raises(RuntimeError, match="injected crash after batch 0 write"):
        vs.batches(schema, merge, frozenset({0}))(batch, 0)
    assert vs.read_current() == (-1, VersionedStore.SEED_VERSION)
    assert os.path.isdir(vs.version_path("store_v0"))

    body = vs.batches(schema, merge)
    body(batch, 0)
    assert vs.read_current() == (0, "store_v0")
    assert {r.k: r.n for r in vs.read(spark, schema).collect()} == {"a": 2}
    assert not os.path.exists(vs.seed_path())  # pre-merge version reclaimed

    before = _files(vs.root)
    body(batch, 0)
    assert _files(vs.root) == before
    assert {r.k: r.n for r in vs.read(spark, schema).collect()} == {"a": 2}
