"""Structured Streaming twins of the batch event-time operators
(SURVEY §2.C: the reference is fully batch; these are the same window
expressions behind readStream/writeStream).

Each builder takes an input streaming DataFrame with the `events`
schema (event_id, ts timestamp, user_id, event_type, value) and returns
the transformed streaming DataFrame — source/sink agnostic, so tests
drive them with a file source + memory sink and production would use
Kafka + Delta. Watermarks bound state: late events beyond the watermark
are dropped instead of growing state forever (the 100 TB requirement
for any stateful operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EVENTS_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"


def stream_tumbling_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of the batch `window_tumbling` query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "sum_value")
    )


def stream_session_counts(events: DataFrame, gap: str = "5 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Streaming twin of `window_session` (session_window state merges
    as events arrive; watermark finalizes sessions)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def stream_dedup_latest(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of `event_dedup_latest`: exactly-once per
    (user_id, event_id) within the watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicates(["user_id", "event_id"])


def stream_dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """The STATE-BOUNDED streaming dedup: `dropDuplicates` keeps one
    state row per key FOREVER (the key-space grows without bound on an
    unbounded stream), while `dropDuplicatesWithinWatermark` evicts a
    key's state once the watermark passes its event time — the only
    form whose state is O(keys per watermark window) instead of
    O(all keys ever), i.e. the one you can actually run for months on
    a 100 TB/day ingest firehose. Semantics: duplicates arriving
    within the watermark horizon of the first occurrence are dropped;
    the dedup guarantee matches the at-least-once ingest contract."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_id"]
    )


def read_events_stream(spark, path: str, max_files_per_trigger: int = 10) -> DataFrame:
    """File-source stream with the events schema (tests write JSON files
    here; production swaps in Kafka — the transformations are source
    agnostic)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def stream_running_totals(
    events: DataFrame, watermark: str = "1 hour", idle_timeout_ms: int = 3_600_000
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + value total maintained as explicit state —
    the arbitrary-stateful-processing escape hatch for logic windowed
    aggs can't express (SURVEY §2.C streaming gap). State IS bounded:
    EventTimeTimeout with the timeout timestamp re-armed to
    (current watermark + ``idle_timeout_ms``) on every update, so a key
    idle for that long past the watermark is dropped from the store —
    per-key state cannot grow with the key space forever (the 100 TB
    state-boundedness requirement). A key seen again after eviction
    restarts from zero."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd

        if state.hasTimedOut:
            # watermark passed the armed timeout: evict this key's state
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, float(total)))
        # re-arm: evict after idle_timeout_ms of event-time inactivity
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + idle_timeout_ms)
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id bigint, n_events bigint, total_value double",
            stateStructType="n bigint, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_interval_join(
    clicks: DataFrame,
    views: DataFrame,
    watermark: str = "1 hour",
    within: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: each click pairs with the same
    user's views from the preceding ``within`` interval. Both sides are
    watermarked so the join state store evicts rows once they can no
    longer match (without the time bound a stream-stream join would
    buffer both streams forever — the 100 TB state-boundedness
    requirement). The same expression joins two batch frames
    identically (parity test)."""
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    return c.join(
        v,
        F.expr(
            f"""
            user_id = v_user_id AND
            view_ts >= click_ts - INTERVAL {within} AND
            view_ts <= click_ts
            """
        ),
    ).select("user_id", "click_id", "view_id", "click_ts", "view_ts")


def stream_upsert_foreach_batch(
    events: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    key_cols: tuple[str, ...] = ("user_id",),
    status_col: str = "event_type",
):
    """Streaming SCD-1 upsert sink via foreachBatch: every micro-batch
    merges latest-record-per-key into a parquet table — MERGE INTO
    semantics without a table format (the batch twin is the
    `merge_upsert_latest` slug). Each batch:

      read current snapshot -> union new rows -> take the MAX of a
      (ts, event_id, status) struct per key (one atomic winner row —
      never a hybrid of fields from different events; full timestamp
      precision, no epoch-second truncation) -> write a new versioned
      snapshot dir -> atomically repoint a manifest file at it.

    Crash safety: the manifest (`LATEST`) is updated with os.replace —
    atomic on POSIX — so readers either resolve the old snapshot or
    the new one, never a half state; a crash between write and
    repoint leaves the old snapshot intact and the checkpoint simply
    re-runs the batch. Superseded snapshot dirs are pruned after the
    repoint. At production scale the same foreachBatch body targets
    Delta/Iceberg MERGE and the manifest disappears. State is
    bounded: the snapshot carries one row per key, not the event
    history. Read back with :func:`read_upsert_snapshot`.
    """
    return (
        events.writeStream.foreachBatch(
            upsert_merge_batch(target_dir, key_cols, status_col)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
    )


def upsert_merge_batch(target_dir: str, key_cols: tuple[str, ...], status_col: str):
    """The foreachBatch body of :func:`stream_upsert_foreach_batch`."""
    import os

    keys = list(key_cols)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        incoming = batch_df.select(
            *keys, F.col(status_col), F.col("ts"), F.col("event_id")
        )
        current_dir = _resolve_snapshot(target_dir)
        if current_dir is not None:
            current = spark.read.parquet(current_dir).select(*incoming.columns)
            incoming = current.unionByName(incoming)
        # one struct MAX picks the whole winning row atomically:
        # lexicographic (ts, event_id) is the version order, and the
        # status rides inside the struct so fields can never mix
        winner = F.max(
            F.struct(F.col("ts"), F.col("event_id"), F.col(status_col).alias("_s"))
        ).alias("_w")
        merged = (
            incoming.groupBy(*keys)
            .agg(winner)
            .select(
                *keys,
                F.col("_w._s").alias(status_col),
                F.col("_w.ts").alias("ts"),
                F.col("_w.event_id").alias("event_id"),
            )
        )
        fresh = os.path.join(target_dir, f"snapshot_b{batch_id}")
        merged.write.mode("overwrite").parquet(fresh)
        publish_snapshot(target_dir, fresh)

    return merge_batch


def publish_snapshot(target_dir: str, fresh: str) -> None:
    """Atomically repoint ``<target_dir>/LATEST`` at the snapshot dir
    ``fresh`` (readers see the old snapshot or the new one), then prune
    every other ``snapshot_*`` dir."""
    import os
    import shutil

    tmp = os.path.join(target_dir, "LATEST.tmp")
    with open(tmp, "w") as f:
        f.write(os.path.basename(fresh))
    os.replace(tmp, os.path.join(target_dir, "LATEST"))
    for name in os.listdir(target_dir):
        p = os.path.join(target_dir, name)
        if name.startswith("snapshot_") and p != fresh and os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)


def _resolve_snapshot(target_dir: str) -> str | None:
    import os

    manifest = os.path.join(target_dir, "LATEST")
    if not os.path.exists(manifest):
        return None
    with open(manifest) as f:
        name = f.read().strip()
    path = os.path.join(target_dir, name)
    return path if os.path.isdir(path) else None


def read_upsert_snapshot(spark, target_dir: str) -> DataFrame:
    """Read the current upsert snapshot via the manifest pointer."""
    path = _resolve_snapshot(target_dir)
    if path is None:
        raise FileNotFoundError(f"no snapshot manifest in {target_dir}")
    return spark.read.parquet(path)
