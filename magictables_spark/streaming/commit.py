"""Replay-source lifecycle and crash-safe commit protocols for the
streaming store maintainers (the ``*_store_stream`` slugs).

Every maintainer runs the same replay lifecycle, owned here by
``ReplaySource``; a maintainer supplies only its seed, its shard
frames and its foreachBatch merge body.

- ROOT: ``store_root(f"{prefix}_{store_tag(*key)}")``; maintainers pass
  ``key = store_key(sf_dir, table, *parts)``, the shared persisted-store
  identity (``warehouse.py`` module doc), so changed inputs get a fresh
  root and a warm call reuses the old one.
- PREPARE, guarded by ``<root>/_READY``: wipe the root, write the
  seed state, write the shards, then the marker. A root without the
  marker (a crash mid-prepare) is never trusted; it is wiped and
  rebuilt.
- SHARDS: shard ``k`` is ONE ``coalesce(1)`` parquet file,
  ``<root>/src/shard_{k}.parquet``, stamped with mtime
  ``SHARD_EPOCH + k``. The file source sorts files by modification
  time and delivers the oldest first, one file per trigger. Shards
  written within one filesystem tick would otherwise tie and arrive in
  listing order; the stamp makes replay order the shard order, which
  order-sensitive merges (SCD2 runs, watermark-driven joins) rely on.
- DRAIN: stop any active query with the maintainer's name (a second
  call in one session), ``readStream`` the shard dir with
  ``maxFilesPerTrigger=1`` and a ``*.parquet`` glob, run the merge
  body in ``foreachBatch`` with its checkpoint at ``<root>/ckpt``
  under ``Trigger.AvailableNow``, and wait. The checkpoint makes a warm
  call run zero batches; a batch that crashed is replayed on the next
  call, which the commit protocols below make safe.

foreachBatch is at-least-once: a failure AFTER the store rewrite but
BEFORE the commit record replays the batch against the already-merged
store and double-counts. Each non-idempotent maintainer therefore
commits through one of two foreachBatch body builders here, and
passes only its store math:

- ``VersionedStore.batches``, for UNPARTITIONED stores (auc,
  quantile histogram, CMS, HLL). Each batch merges ``merge(current,
  batch)`` into a fresh ``store_v{batch_id}`` directory and commits by
  atomically ``os.replace``-ing one CURRENT pointer file whose
  contents are ``"<last_batch_id>\\n<store dir name>"``. The flip is
  the single commit point: a replay either sees its batch_id already
  in CURRENT (crash after flip: skip) or re-merges from the untouched
  pre-merge version (crash before flip: the half-written store_v{b}
  is simply overwritten).

- ``StampedStore.batches``, for stores PARTITIONED on one column and
  rewritten with dynamic partition overwrite (rollup, SCD2, LSH).
  ``StampedStore.seed`` stamps every seed row ``last_batch = -1``; each
  batch stamps every partition it rewrites with its own id, then writes
  ``<root>/applied/batch_{id}``. A replay skips a batch whose marker
  exists, and otherwise re-merges ONLY the touched partitions that do
  not yet carry its stamp.

  RESIDUAL WINDOW (stamping protocol only): the guard assumes dynamic
  partition overwrite replaces each partition atomically. Spark's
  job commit deletes the old partition directory and then renames the
  staged one in — on a local filesystem those are two operations, so
  a crash INSIDE job commit (not the post-write/pre-marker window the
  fault-injection tests cover) can leave a partition with its
  pre-merge rows deleted and its merged rows not yet visible. A
  replay then re-merges from the batch alone and loses the store-side
  history for that partition. On an object store or HDFS with an
  atomic-rename committer the window is a single partition rename;
  to eliminate it entirely, route the store through ``VersionedStore``
  (merge into a fresh versioned directory, flip CURRENT once) at the
  cost of rewriting untouched partitions. The stamping maintainers
  accept the window because their stores are rebuildable caches of
  the upstream event log, and the versioned protocol guards every
  store whose history is authoritative (auc/quantile-hist/CMS/HLL).

Both builders raise ``injected crash after batch {id} write`` between
the store write and the commit record when the batch id is in the
maintainer's ``_crash_after_write`` set (the fault-injection hook).

Under ``availableNow`` only the most recent batch can replay, so
reclaiming the pre-merge version directory after a successful flip is
safe: a replay of the committed batch short-circuits on CURRENT and
never reads it.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magictables_spark.warehouse import store_root, store_tag

__all__ = [
    "ReplaySource",
    "StampedStore",
    "VersionedStore",
    "batch_subdir",
    "stop_query",
    "subdir_store_paths",
]

# shard k's mtime is SHARD_EPOCH + k: strictly increasing in k, and
# independent of the clock and of how fast the shards were written
SHARD_EPOCH = 1_600_000_000


def stop_query(spark: SparkSession, name: str) -> None:
    """Stop the active streaming query called ``name``, if any, so a
    second call in the same session can start it again."""
    for active in spark.streams.active:
        if active.name == name:
            active.stop()
            active.awaitTermination()


class ReplaySource:
    """One maintainer's replay source: content-keyed root, ``_READY``-
    guarded prepare, one-file mtime-ordered shards, and the
    ``availableNow`` foreachBatch drain (module doc)."""

    def __init__(self, prefix: str, *key):
        tag = store_tag(*key)
        self.root = store_root(f"{prefix}_{tag}")
        self.name = f"mts_{prefix}_{tag}"

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def prepare(self, seed: Callable[[], Iterable[DataFrame]]) -> None:
        """Build the root unless ``_READY`` is present. ``seed()`` runs
        on a freshly wiped root whose ``src`` dir exists; it writes the
        store's initial state and returns the shard frames in replay
        order."""
        ready = self.path("_READY")
        if os.path.exists(ready):
            return
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.path("src"))
        for k, shard in enumerate(seed()):
            self._write_shard(k, shard)
        with open(ready, "w") as f:
            f.write("ok")

    def _write_shard(self, k: int, shard: DataFrame) -> None:
        part_dir = self.path(f"part{k}")
        shard.coalesce(1).write.mode("overwrite").parquet(part_dir)
        (part,) = [p for p in os.listdir(part_dir) if p.endswith(".parquet")]
        dst = self.path("src", f"shard_{k}.parquet")
        os.replace(os.path.join(part_dir, part), dst)
        os.utime(dst, (SHARD_EPOCH + k, SHARD_EPOCH + k))
        shutil.rmtree(part_dir, ignore_errors=True)

    def stream(self, spark: SparkSession, schema) -> DataFrame:
        """The shards as a file-source stream, one shard per trigger."""
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(self.path("src"))
        )

    def drain(
        self,
        spark: SparkSession,
        schema,
        merge: Callable[[DataFrame, int], None],
    ) -> None:
        """Feed every shard not yet in the checkpoint through ``merge``
        (one foreachBatch call per shard) and wait until done."""
        stop_query(spark, self.name)
        query = (
            self.stream(spark, schema)
            .writeStream.foreachBatch(merge)
            .option("checkpointLocation", self.path("ckpt"))
            .queryName(self.name)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()


def batch_subdir(store_dir: str, batch_id) -> str:
    """Per-batch overwrite target for APPEND-maintained stores: a
    replayed batch overwrites its own subdirectory instead of
    appending twice (the join_view_store_stream pattern, now shared).
    The seed lives in ``<store>/seed``."""
    return os.path.join(store_dir, f"b{batch_id}")


def subdir_store_paths(store_dir: str, exclude_batch=None) -> list[str]:
    """All committed subdirectory paths of an append-maintained store,
    optionally excluding one batch's own subdir. In-batch probes MUST
    exclude their own batch: a replay would otherwise see its previous
    partial output and compute a different (empty) admission set."""
    skip = None if exclude_batch is None else f"b{exclude_batch}"
    return sorted(
        os.path.join(store_dir, d)
        for d in os.listdir(store_dir)
        if d != skip
        and not d.startswith(("_", "."))
        and os.path.isdir(os.path.join(store_dir, d))
    )


def _crash_hook(batch_id: int, crash_after_write: frozenset[int]) -> None:
    """Die between the store write and the commit record (tests)."""
    if batch_id in crash_after_write:
        raise RuntimeError(f"injected crash after batch {batch_id} write")


class VersionedStore:
    """CURRENT-pointer versioned store for non-idempotent merges."""

    SEED_VERSION = "store_vinit"

    def __init__(self, root: str):
        self.root = root
        self._current = os.path.join(root, "CURRENT")

    # -- paths -----------------------------------------------------------
    def seed_path(self) -> str:
        return os.path.join(self.root, self.SEED_VERSION)

    def version_path(self, version: str) -> str:
        return os.path.join(self.root, version)

    def batch_version(self, batch_id: int) -> str:
        return f"store_v{batch_id}"

    # -- pointer ---------------------------------------------------------
    def read_current(self) -> tuple[int, str]:
        """(last committed batch id, current store dir name)."""
        with open(self._current) as f:
            batch, version = f.read().splitlines()[:2]
        return int(batch), version

    def current_path(self) -> str:
        return self.version_path(self.read_current()[1])

    def is_applied(self, batch_id: int) -> bool:
        return batch_id <= self.read_current()[0]

    def commit(self, batch_id: int) -> None:
        """Atomically flip CURRENT to the batch's own store_v{batch_id}
        and reclaim the pre-merge directory."""
        _, old_version = self.read_current()
        self._flip(batch_id, self.batch_version(batch_id))
        shutil.rmtree(self.version_path(old_version), ignore_errors=True)

    def _flip(self, batch_id: int, version: str) -> None:
        tmp = f"{self._current}.tmp{batch_id}"
        with open(tmp, "w") as f:
            f.write(f"{batch_id}\n{version}")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._current)

    # -- lifecycle -------------------------------------------------------
    def seed(self, df: DataFrame) -> None:
        """Write ``df`` as the seed version and commit it as batch -1."""
        df.write.mode("overwrite").parquet(self.seed_path())
        self._flip(-1, self.SEED_VERSION)

    def read(self, spark: SparkSession, schema: str) -> DataFrame:
        """The committed store."""
        return spark.read.schema(schema).parquet(self.current_path())

    def batches(
        self,
        schema: str,
        merge: Callable[[DataFrame, DataFrame], DataFrame],
        crash_after_write: frozenset[int] = frozenset(),
    ) -> Callable[[DataFrame, int], None]:
        """foreachBatch body of the versioned protocol (module doc): a
        batch not yet in CURRENT writes ``merge(committed store, batch
        rows)`` to its own ``store_v{batch_id}`` and commits it with one
        flip."""

        def body(batch_df: DataFrame, batch_id: int) -> None:
            if self.is_applied(batch_id):  # replay of a committed batch
                return
            current = self.read(batch_df.sparkSession, schema)
            merge(current, batch_df).write.mode("overwrite").parquet(
                self.version_path(self.batch_version(batch_id))
            )
            _crash_hook(batch_id, crash_after_write)
            self.commit(batch_id)

        return body


class StampedStore:
    """A store partitioned on ``part`` at ``<root>/store`` and advanced
    by the stamping protocol (module doc): every row carries the
    ``last_batch`` that wrote its partition, and a fully merged batch
    leaves ``<root>/applied/batch_{id}``. ``schema`` is the stored
    one, ``last_batch`` and ``part`` included: a store seeded from an
    empty history has no partition dirs to infer it from."""

    def __init__(self, src: ReplaySource, schema: str, part: str):
        self.dir = src.path("store")
        self.applied = src.path("applied")
        self.schema = schema
        self.part = part

    def seed(self, df: DataFrame) -> None:
        """Write ``df`` as the seed store, stamped ``last_batch = -1``."""
        os.makedirs(self.applied)
        self._write(df, -1)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(self.schema).parquet(self.dir)

    def _write(self, df: DataFrame, batch_id: int) -> None:
        # dynamic overwrite replaces only the partitions ``df`` holds
        df.withColumn("last_batch", F.lit(batch_id).cast("long")).write.option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(self.part).mode("overwrite").parquet(self.dir)

    def batches(
        self,
        prepare: Callable[[DataFrame], DataFrame],
        merge: Callable[[DataFrame, DataFrame], DataFrame],
        crash_after_write: frozenset[int] = frozenset(),
    ) -> Callable[[DataFrame, int], None]:
        """foreachBatch body of the stamping protocol. ``prepare(batch
        rows)`` runs once per call and must carry ``part``.
        ``merge(store rows, batch rows)`` gets both sides restricted to
        the partitions still to merge, the store rows without
        ``last_batch``, and returns those partitions' new rows."""
        part = F.col(self.part)

        def body(batch_df: DataFrame, batch_id: int) -> None:
            marker = os.path.join(self.applied, f"batch_{batch_id}")
            if os.path.exists(marker):  # fast path: batch fully committed
                return
            batch = prepare(batch_df).localCheckpoint(eager=True)
            touched = [r[0] for r in batch.select(part).distinct().collect()]
            if touched:
                store = self.read(batch_df.sparkSession).filter(part.isin(touched))
                # a crash between the overwrite and the marker left some
                # partitions stamped with this batch: merging them again
                # would fold the batch in twice
                done = {
                    r[0]
                    for r in store.filter(F.col("last_batch") == batch_id)
                    .select(part)
                    .distinct()
                    .collect()
                }
                redo = [p for p in touched if p not in done]
                if redo:
                    in_redo = part.isin(redo)
                    merged = merge(
                        store.filter(in_redo).drop("last_batch"), batch.filter(in_redo)
                    )
                    # cut lineage: the overwrite replaces files it reads
                    self._write(merged.localCheckpoint(eager=True), batch_id)
            _crash_hook(batch_id, crash_after_write)
            with open(marker, "w") as f:
                f.write("ok")

        return body
