"""ReplaySource lifecycle checks (streaming/commit.py): the
``_READY``-guarded prepare and the mtime order of the shards."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from magictables_spark.plans.queries import REGISTRY
from magictables_spark.streaming.commit import ReplaySource
from magictables_spark.warehouse import corpus_fingerprint

from .parity import compare


def test_root_without_ready_marker_is_wiped_and_rebuilt(spark, duck, sf_dir):
    """A root holding shards but no ``_READY`` (a crash mid-prepare) is
    not trusted: it is wiped and rebuilt, and the slug still matches
    its oracle. The left-over state here would double-count if it were
    replayed: an extra copy of shard 0 and no checkpoint."""
    slug = "join_view_store_stream"
    fn = REGISTRY[slug].fn
    fn(spark, sf_dir).count()  # a complete root to damage
    src = ReplaySource(
        "jvstream",
        "v1:5",
        os.path.realpath(sf_dir),
        corpus_fingerprint(os.path.join(sf_dir, "orders.parquet")),
    )
    os.remove(src.path("_READY"))
    shutil.rmtree(src.path("ckpt"))
    extra = src.path("src", "shard_3.parquet")
    shutil.copy(src.path("src", "shard_0.parquet"), extra)

    ok, msg = compare(fn(spark, sf_dir), duck.sql(REGISTRY[slug].oracle))
    assert ok, f"{slug} after an interrupted prepare: {msg}"
    assert os.path.exists(src.path("_READY"))
    assert not os.path.exists(extra)
    assert sorted(os.listdir(src.path("src"))) == [
        f"shard_{k}.parquet" for k in range(3)
    ]


def test_shards_replay_in_shard_order(spark, tmp_path, monkeypatch):
    """Shards written back to back (a dozen tiny files, most of them
    within the same second) get strictly increasing mtimes, and the
    file source replays them in shard order, one per batch. Twelve
    shards make the name order (shard_10 before shard_2) differ from
    the shard order."""
    monkeypatch.setenv("MTS_WAREHOUSE_DIR", str(tmp_path))
    n = 12
    src = ReplaySource("replayorder", "v1")
    src.prepare(lambda: [spark.range(1).select(F.lit(k).alias("k")) for k in range(n)])

    mtimes = [
        os.stat(src.path("src", f"shard_{k}.parquet")).st_mtime_ns for k in range(n)
    ]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes

    seen = []
    src.drain(
        spark,
        "k int",
        lambda batch_df, batch_id: seen.append(
            (batch_id, [r.k for r in batch_df.collect()])
        ),
    )
    assert seen == [(k, [k]) for k in range(n)]


def test_python_datasource_slugs_run_twice_in_one_session(spark, duck, sf_dir):
    """Registering a Python data source that is already registered
    replaces it; a second run in the same session must not raise."""
    for slug in (
        "python_datasource_scan",
        "python_datasource_stream_scan",
        "python_datasource_write_roundtrip",
    ):
        for _ in range(2):
            ok, msg = compare(
                REGISTRY[slug].fn(spark, sf_dir), duck.sql(REGISTRY[slug].oracle)
            )
            assert ok, f"{slug}: {msg}"
