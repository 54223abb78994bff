"""Event-time pack over the `events` fixture (SURVEY.md §2.C streaming).

The reference is fully batch (SURVEY §2.C); these are the
batch-equivalent time-window operators whose Structured Streaming twins
are the same expressions behind ``readStream`` (see
magictables_spark/streaming/). Windows use built-in ``F.window`` /
``F.session_window`` — event-time semantics identical to streaming.

Determinism: window starts emitted as formatted strings; value sums in
scaled int64 (value column carries 2 decimals).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from magictables_spark.plans.registry import _t, q

VAL_I = "CAST(ROUND(value * 100) AS BIGINT)"
TS_FMT = "yyyy-MM-dd HH:mm:ss"


@q(
    "window_tumbling",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM({VAL_I}) AS DOUBLE) / 100.0 AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour event-time windows per event type — the batch "
    "twin of a streaming groupBy(window(ts)). One shuffle on "
    "(window, type); partial aggregation map-side.",
    tags=("events", "window"),
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(f"CAST(SUM({VAL_I}) AS DOUBLE) / 100.0").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@q(
    "window_sliding",
    oracle=f"""
    WITH buckets AS (
      SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start, {VAL_I} AS v
      FROM events
      UNION ALL
      SELECT strftime(time_bucket(INTERVAL '1 hour', ts, INTERVAL '30 minutes') , '%Y-%m-%d %H:%M:%S') AS win_start, {VAL_I} AS v
      FROM events
      WHERE time_bucket(INTERVAL '1 hour', ts, INTERVAL '30 minutes') <> time_bucket(INTERVAL '1 hour', ts)
    )
    SELECT win_start, COUNT(*) AS n_events, CAST(SUM(v) AS DOUBLE) / 100.0 AS sum_value
    FROM buckets GROUP BY 1
    """,
    doc="Sliding windows (1h length, 30m slide): each event lands in 2 "
    "overlapping windows. Spark F.window(ts, '1 hour', '30 minutes') "
    "expands rows map-side; the DuckDB oracle is the union of the two "
    "bucket phases.",
    tags=("events", "window"),
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.expr(f"CAST(SUM({VAL_I}) AS DOUBLE) / 100.0").alias("sum_value"),
        )
        .select(F.date_format("w.start", TS_FMT).alias("win_start"), "n_events", "sum_value")
    )


@q(
    "window_session",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '5 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), islands AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM islands
    GROUP BY user_id, sid
    """,
    doc="Session windows (5-minute gap) per user — F.session_window, the "
    "stateful-streaming primitive, in batch mode. DuckDB oracle uses the "
    "classic gaps-and-islands construction; session_start = first event "
    "ts in both. Second-granularity timestamps make the comparison "
    "exact. Boundary pinned (tests/test_session_boundary.py): Spark "
    "MERGES touching session windows — an event at exactly prev_ts + "
    "5 min extends the session (sessions merge when next.start <= "
    "prev.end), so the oracle marks new_session only on gap > 5 "
    "minutes, verified by experiment on a synthetic exact-300s-gap "
    "fixture.",
    tags=("events", "window", "session"),
)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", TS_FMT).alias("session_start"),
            "n_events",
        )
    )


@q(
    "event_dedup_latest",
    oracle="""
    SELECT user_id, event_id, event_type
    FROM (
      SELECT user_id, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="Latest event per user — the streaming dropDuplicates-by-key "
    "pattern in batch form (deterministic: ties broken by event_id).",
    tags=("events", "dedup"),
)
def event_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_id", "event_type", "ts")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


@q(
    "gaps_islands_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ), grp AS (
      SELECT user_id, d,
             CAST(d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                           AS INTEGER) AS DATE) AS anchor
      FROM days
    ), islands AS (
      SELECT user_id, COUNT(*) AS streak_days,
             strftime(MIN(d), '%Y-%m-%d') AS streak_start
      FROM grp GROUP BY user_id, anchor
    )
    SELECT user_id, streak_days, streak_start FROM (
      SELECT user_id, streak_days, streak_start,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY streak_days DESC, streak_start) AS rn
      FROM islands
    ) WHERE rn = 1
    """,
    doc="Gaps-and-islands: each user's longest consecutive-day "
    "activity streak via the date-minus-row-number anchor trick "
    "(consecutive days share an anchor; any gap starts a new island). "
    "The distinct-day projection collapses the event stream before "
    "any window — the windows and island aggregate run over "
    "|user x active-day|, not |events|. Ties broken by earliest "
    "streak start.",
    tags=("events", "window", "analytics"),
)
def gaps_islands_streaks(spark, sf_dir):
    from pyspark.sql.window import Window

    days = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    islands = grp.groupBy("user_id", "anchor").agg(
        F.count("*").alias("streak_days"),
        F.date_format(F.min("d"), "yyyy-MM-dd").alias("streak_start"),
    )
    wbest = Window.partitionBy("user_id").orderBy(
        F.desc("streak_days"), F.asc("streak_start")
    )
    return (
        islands.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select("user_id", "streak_days", "streak_start")
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream file source over the events fixture. The fixture is
    one flat file and the file stream source wants a directory, so
    stream the fixture DIR with a glob pinning this table."""
    from magictables_spark.plans.catalog import fixture_schema

    return (
        spark.readStream.schema(fixture_schema(spark, sf_dir, "events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def _events_stream_sharded(
    spark: SparkSession, sf_dir: str, rows_per_shard: int = 250_000
) -> DataFrame:
    """readStream over a TIME-ORDERED multi-file copy of the events
    fixture, one file per trigger. A single-file source delivers the
    whole month as ONE micro-batch, so a stream-stream join must buffer
    the entire table in state before the watermark can evict anything —
    that is O(input) state and OOMed an 8 GB heap at sf2. Slicing the
    fixture into contiguous time ranges and replaying them one file per
    trigger (``ReplaySource``) advances the watermark between batches, so
    join state plateaus at ~watermark-window x event-rate regardless of
    total input size — the shape a production stream has anyway. Below
    ``rows_per_shard`` the single-file fast path is kept (identical to
    _events_stream, no copy)."""
    import os

    from magictables_spark.plans.catalog import fixture_schema
    from magictables_spark.streaming.commit import ReplaySource
    from magictables_spark.warehouse import store_key

    schema = fixture_schema(spark, sf_dir, "events")
    path = os.path.join(sf_dir, "events.parquet")
    n_rows = spark.read.schema(schema).parquet(path).count()
    n_shards = n_rows // rows_per_shard
    if n_shards < 2:
        return _events_stream(spark, sf_dir)
    src = ReplaySource(
        "evshard", *store_key(sf_dir, "events", f"v1:evshard:{n_shards}")
    )

    def _seed():
        ev = spark.read.schema(schema).parquet(path)
        lo, hi = ev.agg(
            F.min(F.unix_millis(F.col("ts").cast("timestamp"))),
            F.max(F.unix_millis(F.col("ts").cast("timestamp"))),
        ).first()
        span = max(hi - lo + 1, 1)
        sliced = ev.withColumn(
            "_shard",
            F.least(
                F.lit(n_shards - 1),
                (
                    (F.unix_millis(F.col("ts").cast("timestamp")) - F.lit(lo))
                    * n_shards
                    / F.lit(span)
                ).cast("long"),
            ),
        )
        # oldest time range first: replay order is what lets the
        # watermark advance between batches and evict join state
        return [
            sliced.filter(F.col("_shard") == k).drop("_shard")
            for k in range(n_shards)
        ]

    src.prepare(_seed)
    return src.stream(spark, schema)


def _run_available_now(
    spark: SparkSession,
    agg: DataFrame,
    name: str,
    output_mode: str = "complete",
    shuffle_partitions: int | None = None,
    sink: str = "memory",
) -> DataFrame:
    """Drive a streaming aggregation to completion: memory sink +
    Trigger.AvailableNow; returns the sink table. Stops any prior query
    with the same sink name first (idempotent re-invocation). Append
    mode relies on the trailing no-data micro-batch (on by default) to
    advance the watermark past the last data batch and flush closed
    windows. ``shuffle_partitions`` scopes a state-partition override
    to this query only (the partition count is fixed at the FIRST
    batch by the checkpoint, and each stateful partition pays a
    per-batch state-store commit: stream-stream joins measured 4.4x
    faster at fixture scale with 8 instead of 32 — at production
    scale size it to state volume, not to the session default)."""
    from magictables_spark.streaming.commit import stop_query

    stop_query(spark, name)
    saved = None
    if shuffle_partitions is not None:
        saved = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        if sink == "parquet":
            # distributed file sink for append-mode queries whose
            # OUTPUT is data-sized: the memory sink accumulates every
            # row on the driver heap (the sf2 interval join emits 39M
            # rows — a guaranteed driver OOM that a cluster would
            # never see). Fresh per-invocation dir + checkpoint.
            import os
            import shutil

            from magictables_spark.warehouse import store_root

            root = store_root(f"sink_{name}")
            shutil.rmtree(root, ignore_errors=True)
            out_dir = os.path.join(root, "out")
            query = (
                agg.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .queryName(name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
            return spark.read.schema(agg.schema).parquet(out_dir)
        query = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        if saved is not None:
            spark.conf.set("spark.sql.shuffle.partitions", saved)
    return spark.table(name)


@q(
    "stream_tumbling_availablenow",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM({VAL_I}) AS DOUBLE) / 100.0 AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="A REAL Structured Streaming execution inside the oracle gate: "
    "the events fixture is consumed via readStream (file source), "
    "aggregated with the same window(ts, '1 hour') x event_type "
    "expression as the batch twin `window_tumbling`, and driven to "
    "completion with Trigger.AvailableNow into a complete-mode memory "
    "sink; the returned DataFrame is the sink table. Because "
    "event-time windowing is deterministic and complete mode holds "
    "every window, the streaming result is bit-identical to the batch "
    "query — so the DuckDB oracle hash-checks an actual streaming "
    "job, not just a batch twin (the streaming/ module's unit parity "
    "asserts the same equivalence shape on synthetic micro-batches). "
    "At scale this is the backfill pattern: AvailableNow chews a "
    "bounded backlog with streaming semantics, then stops.",
    tags=("events", "window", "streaming"),
)
def stream_tumbling_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream(spark, sf_dir)
    agg = (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(f"CAST(SUM({VAL_I}) AS DOUBLE) / 100.0").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_available_now(spark, agg, "mts_stream_tumbling_sink")


@q(
    "stream_sliding_availablenow",
    oracle=f"""
    WITH buckets AS (
      SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start, {VAL_I} AS v
      FROM events
      UNION ALL
      SELECT strftime(time_bucket(INTERVAL '1 hour', ts, INTERVAL '30 minutes'), '%Y-%m-%d %H:%M:%S') AS win_start, {VAL_I} AS v
      FROM events
      WHERE time_bucket(INTERVAL '1 hour', ts, INTERVAL '30 minutes') <> time_bucket(INTERVAL '1 hour', ts)
    )
    SELECT win_start, COUNT(*) AS n_events, CAST(SUM(v) AS DOUBLE) / 100.0 AS sum_value
    FROM buckets GROUP BY 1
    """,
    doc="The OVERLAPPING-window streaming twin: sliding windows (1h "
    "length, 30m slide) through readStream + Trigger.AvailableNow + "
    "complete-mode memory sink — each event expands into 2 window "
    "rows map-side inside the streaming aggregation, exactly as in "
    "the batch twin `window_sliding`, and the sink table hash-checks "
    "against the DuckDB two-phase-bucket oracle. Together with "
    "stream_tumbling_availablenow this verifies both the aligned and "
    "overlapping event-time window forms of Structured Streaming "
    "cross-engine.",
    tags=("events", "window", "streaming"),
)
def stream_sliding_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream(spark, sf_dir)
    agg = (
        src.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.expr(f"CAST(SUM({VAL_I}) AS DOUBLE) / 100.0").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("win_start"),
            "n_events",
            "sum_value",
        )
    )
    return _run_available_now(spark, agg, "mts_stream_sliding_sink")


@q(
    "stream_session_availablenow",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '5 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), islands AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM islands
    GROUP BY user_id, sid
    """,
    doc="SESSION windows as a REAL Structured Streaming job — the "
    "hardest window semantics (dynamic extent, merge-on-overlap as "
    "late rows bridge two open sessions) now in the cross-engine "
    "oracle gate alongside the tumbling/sliding streaming twins: "
    "readStream file source -> groupBy(session_window(ts, '5 min'), "
    "user_id) -> Trigger.AvailableNow -> complete-mode memory sink, "
    "hash-checked against the DuckDB gaps-and-islands construction "
    "(same oracle as the batch twin `window_session`, and a test "
    "asserts the sink table equals the batch plan row-for-row). "
    "Complete mode keeps all session state so merges settle before "
    "the sink is read; at scale the production form adds a watermark "
    "to bound state, which only drops sessions older than the "
    "allowed lateness — semantics verified here are the same.",
    tags=("events", "window", "session", "streaming"),
)
def stream_session_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream(spark, sf_dir)
    agg = (
        src.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", TS_FMT).alias("session_start"),
            "n_events",
        )
    )
    return _run_available_now(spark, agg, "mts_stream_session_sink")


@q(
    "stream_session_watermarked",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '5 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), islands AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    ), sess AS (
      SELECT user_id,
             MIN(ts) AS start_ts,
             MAX(ts) AS last_ts,
             COUNT(*) AS n_events
      FROM islands
      GROUP BY user_id, sid
    ), wm AS (
      SELECT MAX(ts) - INTERVAL '10 minutes' AS w FROM events
    )
    SELECT user_id,
           strftime(start_ts, '%Y-%m-%d %H:%M:%S') AS session_start,
           n_events
    FROM sess, wm
    WHERE last_ts + INTERVAL '5 minutes' <= w
    """,
    doc="The PRODUCTION session-window shape: watermark + APPEND mode, "
    "bounded state — unlike stream_session_availablenow's complete "
    "mode, the state store only holds OPEN sessions; closed ones are "
    "emitted exactly once and evicted. readStream -> withWatermark(ts, "
    "'10 minutes') -> session_window(ts, '5 min') x user -> append "
    "memory sink via Trigger.AvailableNow (the trailing no-data "
    "micro-batch advances the watermark to max(ts) - 10 min and "
    "flushes every closed session). Emission boundary pinned by "
    "experiment: a session is emitted iff its END (last event + 5 min "
    "gap) <= watermark — end == watermark EMITS — so the DuckDB "
    "oracle takes the gaps-and-islands sessions and keeps exactly "
    "those with last_ts + 5 min <= max(ts) - 10 min. Late rows behind "
    "the watermark are provably dropped — with Spark's one-batch lag "
    "on the late-event filter (eviction uses the current watermark, "
    "filtering the PREVIOUS batch's; pinned by experiment) — "
    "tests/test_stream_watermark.py feeds a 3-batch stream and "
    "asserts both the drop and numRowsDroppedByWatermark. At 100 TB "
    "this is the only viable session shape: state is O(open "
    "sessions), not O(all sessions).",
    tags=("events", "window", "session", "streaming"),
)
def stream_session_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream(spark, sf_dir)
    # the fixture's ts is TIMESTAMP_NTZ; watermarks require TIMESTAMP
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise). The cast reads
    # the wall clock in the session tz, and date_format emits the same
    # wall clock back, so the emitted strings are tz-independent.
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", TS_FMT).alias("session_start"),
            "n_events",
        )
    )
    return _run_available_now(
        spark, agg, "mts_stream_session_wm_sink", output_mode="append"
    )


@q(
    "stream_dedup_availablenow",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    ORDER BY user_id, event_type
    """,
    doc="Streaming stateful dedup as a REAL streaming job: readStream "
    "over the events fixture -> project to the dedup key (user_id, "
    "event_type) -> dropDuplicates -> Trigger.AvailableNow -> memory "
    "sink, hash-checked against SELECT DISTINCT. Projecting to the "
    "key BEFORE dedup makes the kept row deterministic (any kept row "
    "IS the key), so the streaming result is value-hash-comparable "
    "even though dropDuplicates keeps an arbitrary first-seen row "
    "under parallelism; the state store holds one entry per distinct "
    "key -- the fourth stateful-streaming family verified cross-engine "
    "(after tumbling/sliding/session windows). The watermarked "
    "TTL-eviction variant of the same operator is unit-tested in "
    "streaming/ (state cannot grow unboundedly in production; here "
    "AvailableNow bounds the run).",
    tags=("streaming", "dedup"),
)
def stream_dedup_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream(spark, sf_dir)
    deduped = src.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    out = _run_available_now(spark, deduped, "mts_stream_dedup", output_mode="append")
    return out


@q(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ), pair AS (
      SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY from_type, to_type
    ), tot AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM pair
      GROUP BY from_type
    )
    SELECT p.from_type, p.to_type, p.n AS n_transitions,
           CAST(p.n AS DOUBLE) / t.n_from AS prob
    FROM pair p JOIN tot t ON p.from_type = t.from_type
    ORDER BY p.from_type, p.to_type
    """,
    doc="First-order event-transition matrix: P(next event type | "
    "current) per user timeline -- the Markov-chain view of behavioral "
    "sequences (drop-off detection, anomalous-flow flags, synthetic "
    "session generation priors). One LEAD window partitioned by "
    "user_id (the exchange is user-keyed and reusable by every other "
    "per-user window in the pack), one pair count, one 25-row "
    "from-type total joined back broadcast. (ts, event_id) ordering "
    "makes the successor deterministic under timestamp ties; prob is "
    "one int/int division on identical integers, bit-identical "
    "cross-engine.",
    tags=("events", "analytics", "scale"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pair = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count("*").alias("n_transitions"))
    tot = pair.groupBy("from_type").agg(
        F.sum("n_transitions").cast("bigint").alias("n_from")
    )
    return (
        pair.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            (F.col("n_transitions").cast("double") / F.col("n_from")).alias("prob"),
        )
        .orderBy("from_type", "to_type")
    )


@q(
    "top_event_paths",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= 5
      GROUP BY user_id
    )
    SELECT path, COUNT(*) AS n_users
    FROM paths
    GROUP BY path
    HAVING COUNT(*) >= 2
    ORDER BY n_users DESC, path
    """,
    doc="Top onboarding paths: each user's first 5 events (by ts, "
    "event_id -- deterministic under ties) concatenated into a path "
    "string, then path frequencies with a >= 2 users support floor. "
    "The product-analytics 'common journeys' query and the prior for "
    "synthetic-session curricula. One user-keyed window (shared "
    "exchange geometry with the rest of the pack), the rank filter "
    "prunes to <= 5 rows per user BEFORE the path aggregation, and "
    "path counting is an ordinary partial-agg groupBy on the "
    "bounded-length string key.",
    tags=("events", "analytics", "scale"),
)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 5)
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .filter(F.col("n_users") >= 2)
        .orderBy(F.desc("n_users"), "path")
    )


# NULLIF on the denominator: when the pooled rate is exactly 0 or 1
# the variance is zero and the statistic is undefined — emit NULL in
# both engines instead of tripping ANSI division-by-zero (happens on
# corpora where every user converts, e.g. the scale-probe events)
_AB_Z = (
    "(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    " / NULLIF(sqrt((CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
    " * (1.0 - CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
    " * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 0.0)"
)


@q(
    "ab_test_zscore",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS variant,
             MAX(CASE WHEN event_type = 'purchase' AND value > 95 THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ), s AS (
      SELECT
        COUNT(*) FILTER (WHERE variant = 0) AS n1,
        SUM(converted) FILTER (WHERE variant = 0) AS c1,
        COUNT(*) FILTER (WHERE variant = 1) AS n2,
        SUM(converted) FILTER (WHERE variant = 1) AS c2
      FROM per_user
    )
    SELECT CAST(n1 AS BIGINT) AS n_control, CAST(c1 AS BIGINT) AS conv_control,
           CAST(n2 AS BIGINT) AS n_treat, CAST(c2 AS BIGINT) AS conv_treat,
           CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS rate_control,
           CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS rate_treat,
           {_AB_Z} AS z,
           ABS({_AB_Z}) > 1.959963984540054 AS significant_95
    FROM s
    """,
    doc="Two-proportion z-test over a deterministic experiment split "
    "(variant = user_id %% 2, conversion = user ever made a large "
    "purchase, value > 95): the "
    "A/B readout every event pipeline ends in. Counts are exact "
    "integers from one user-keyed agg + one 1-row conditional agg; "
    "the z statistic touches doubles only through a FIXED chain of "
    "correctly-rounded IEEE ops (div/mul/add/sqrt -- the identical "
    "expression text in both engines, shared via one fragment), so "
    "even the test statistic and the 1.96 significance verdict are "
    "value-hash-checked. The critical value is the double literal of "
    "Phi^-1(0.975). Scale shape: per-user conversion flags partial-"
    "aggregate map-side; the final frame is 1 row.",
    tags=("events", "analytics", "stats"),
)
def ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_type") == "purchase") & (F.col("value") > 95), 1).otherwise(0)
        ).alias("converted")
    ).withColumn("variant", F.col("user_id") % 2)
    s = per_user.agg(
        F.count_if(F.col("variant") == 0).alias("n1"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted"))).alias("c1"),
        F.count_if(F.col("variant") == 1).alias("n2"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted"))).alias("c2"),
    )
    return s.selectExpr(
        "CAST(n1 AS BIGINT) AS n_control",
        "CAST(c1 AS BIGINT) AS conv_control",
        "CAST(n2 AS BIGINT) AS n_treat",
        "CAST(c2 AS BIGINT) AS conv_treat",
        "CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS rate_control",
        "CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS rate_treat",
        f"{_AB_Z} AS z",
        f"ABS({_AB_Z}) > 1.959963984540054 AS significant_95",
    )


@q(
    "stream_stateful_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(CAST(value AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Arbitrary-stateful streaming verified cross-engine: readStream "
    "-> groupBy(user_id) -> applyInPandasWithState maintaining an "
    "explicit (count, integer-cents total) state per user -> update-"
    "mode memory sink, hash-checked against the batch GROUP BY. The "
    "fifth stateful-streaming family (after 3 window kinds + dedup), "
    "and the one that proves the ESCAPE HATCH -- custom Python state "
    "logic windowed aggs can't express -- still lands bit-identical: "
    "values accumulate as int64 cents inside the state handler, so "
    "the result is order-independent where a float accumulator would "
    "drift with batch order. Single AvailableNow batch here; the "
    "watermark+EventTimeTimeout eviction variant of the same handler "
    "is unit-tested in streaming/ (state boundedness). Handler is a "
    "closure (ships by value, any-cwd safe).",
    tags=("streaming", "events", "scale"),
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["cents"].sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "value_cents": [cents]}
        )

    src = _events_stream(spark, sf_dir).select(
        "user_id",
        "ts",
        F.expr("CAST(ROUND(CAST(value AS DOUBLE) * 100) AS BIGINT)").alias("cents"),
    )
    totals = src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, value_cents bigint",
        stateStructType="n bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_available_now(
        spark, totals, "mts_stream_stateful", output_mode="update"
    )
    # the memory sink APPENDS update-mode emissions; if AvailableNow
    # ever splits the source into multiple batches a key emits once per
    # batch — keep the FINAL (largest-count) emission per key so the
    # query is correct under any batch split
    return (
        out.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "value_cents")).alias("b"))
        .select("user_id", F.col("b.n_events"), F.col("b.value_cents"))
    )


@q(
    "stream_stream_interval_join",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           date_diff('microsecond', c.ts, p.ts) AS us_to_purchase,
           CAST(ROUND(p.value * 100) AS BIGINT) AS purchase_cents
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    ORDER BY click_id, purchase_id
    """,
    doc="STREAM-STREAM interval join as a REAL Structured Streaming "
    "job -- the ad-attribution shape (every purchase within 1 hour of "
    "a click by the same user): two readStream sources over the events "
    "fixture, BOTH watermarked 1 hour (Spark requires watermarks on "
    "both sides plus a time-range join condition to bound the join "
    "state -- click state is evicted once the purchase-side watermark "
    "passes click.ts + 1 hour, so state is O(events per hour), not "
    "O(stream)), inner-joined on user_id AND p.ts IN [c.ts, c.ts + 1h], "
    "Trigger.AvailableNow, append sink. Inner stream-stream joins emit "
    "a pair exactly when both rows have arrived, so the result is "
    "deterministic and value-hash-checked against the DuckDB interval "
    "self-join. At 100 TB: the join state is watermark-bounded, the "
    "equality key is (user, HOUR BUCKET) -- purchases key on their own "
    "bucket, clicks probe (b, b+1), the only buckets the interval "
    "admits -- so a Zipf-heavy user's state splits across time buckets "
    "and state partitions instead of cross-multiplying on one task "
    "(round-7 sf1 catch: user-only keying put 5.9e9 comparisons on one "
    "partition), and the time-range predicate prunes within each key "
    "-- the canonical production funnel join. "
    "Completes the streaming family: windows (3 kinds), dedup, "
    "stateful totals, watermarked sessions, and now stream-stream "
    "joins, each hash-checked cross-engine. Output-density boundary "
    "(measured, not guessed): PAIR output grows with clicks-per-hour "
    "x purchases -- the sf1 probe month packs 33x the fixture's "
    "event density and yields 9,830,095 pairs (DuckDB-verified), so "
    "single-batch availableNow replay of dense HISTORY through the "
    "pair form is the anti-pattern; backfill belongs to the batch "
    "twin interval_join_attribution (equi-bucketized, aggregated to "
    "one row per purchase), while this operator's regime is "
    "continuous operation where the watermark keeps per-batch pair "
    "volume at the stream rate.",
    tags=("streaming", "events", "join"),
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-7 skew fix, the streaming twin of the funnel_ordered_steps
    # bucketization: with user_id as the ONLY equality key, the join
    # state keys on user alone, and one Zipf-heavy user turns the
    # within-key cross product into a single-task straggler (sf1: user 0
    # holds 77k clicks x 76k purchases = 5.9e9 in-state comparisons on
    # ONE state partition — measured 20+ min while the other 7 tasks
    # finished in <2 min). Adding the HOUR BUCKET to the equality —
    # purchases key on their own bucket, clicks explode into (b, b+1),
    # which is exactly the bucket set p_ts can land in given
    # p_ts IN [c_ts, c_ts+1h] — splits that user's state across the
    # month's 720 buckets AND across state partitions, shrinking
    # per-key comparisons to events-per-user-per-2-hours. Each pair
    # still matches EXACTLY once (at b = p_b), so the output — and the
    # oracle hash — is unchanged; watermark semantics ride the same
    # c_ts/p_ts columns.
    H_MS = 3_600_000
    # sharded source (round 10): one time-slice per micro-batch keeps
    # join state at ~2 hours of events at ANY scale — the single-file
    # source buffered the whole month in state and OOMed at sf2
    src = _events_stream_sharded(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
            F.explode(
                F.array(
                    F.floor(F.unix_millis("ts") / H_MS),
                    F.floor(F.unix_millis("ts") / H_MS) + 1,
                )
            ).alias("c_b"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.floor(F.unix_millis("ts") / H_MS).alias("p_b"),
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("purchase_cents"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND c_b = p_b AND p_ts >= c_ts "
            "AND p_ts <= c_ts + INTERVAL 1 HOUR"
        ),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.expr("timestampdiff(MICROSECOND, c_ts, p_ts)").alias("us_to_purchase"),
        "purchase_cents",
    )
    # 8 state partitions, measured: 12.8 s -> 2.9 s at sf0.1 (the
    # HDFS-backed state store pays a per-partition-per-side commit
    # each batch; 32 partitions x 2 sides dwarfed the ~400-row state)
    out = _run_available_now(
        spark, joined, "mts_stream_ss_join", output_mode="append",
        shuffle_partitions=8, sink="parquet",
    )
    return out


TS_US_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


_SCD2_ORACLE = """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), versioned AS (
      SELECT user_id, ts, event_type,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM ordered
    ), runs AS (
      SELECT user_id, CAST(version AS INT) AS version,
             MIN(event_type) AS status,
             MIN(ts) AS vf, COUNT(*) AS n_events
      FROM versioned GROUP BY user_id, version
    )
    SELECT user_id, version, status,
           strftime(vf, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(LEAD(vf) OVER (PARTITION BY user_id ORDER BY version),
                    '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           n_events,
           LEAD(vf) OVER (PARTITION BY user_id ORDER BY version) IS NULL
             AS is_current
    FROM runs
    ORDER BY user_id, version
    """


def _scd2_runs(ev_weighted: DataFrame) -> DataFrame:
    """Gaps-and-islands run collapse over weighted change events
    (user_id, ts, event_id, event_type, weight) -> one row per run:
    (user_id, version, status, vf, vf_event_id, n_events). ``weight``
    lets an already-collapsed run re-enter as ONE pseudo-event carrying
    its event count — collapse-of-collapse is exact because stored runs
    alternate status by construction, which is what makes the
    incremental twin provably equal to a full recompute."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type"))
    ).cast("int")
    versioned = ev_weighted.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "weight",
        F.sum(chg)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("version"),
    )
    return (
        versioned.groupBy(
            "user_id", F.col("version").cast("int").alias("version")
        )
        .agg(
            F.min("event_type").alias("status"),
            F.min(F.struct("ts", "event_id")).alias("opener"),
            F.sum("weight").alias("n_events"),
        )
        .select(
            "user_id",
            "version",
            "status",
            F.col("opener.ts").alias("vf"),
            F.col("opener.event_id").alias("vf_event_id"),
            "n_events",
        )
    )


def _scd2_finalize(runs: DataFrame) -> DataFrame:
    """Run rows -> the SCD2 output: [valid_from, valid_to) + is_current
    via one LEAD on the user-keyed exchange. No presentation sort: a
    total orderBy here would range-exchange + serially sort the WHOLE
    dimension after the window (readers needing key order have the
    bucketed+sorted store layout; comparisons are order-insensitive) —
    the same defect dropped from join_view_incremental_store this
    round, and the very claim in scd2_from_changelog's doc ("one
    user-hash shuffle end to end") requires its absence."""
    wv = Window.partitionBy("user_id").orderBy("version")
    closing = F.lead("vf").over(wv)
    return runs.select(
        "user_id",
        "version",
        "status",
        F.date_format("vf", TS_US_FMT).alias("valid_from"),
        F.date_format(closing, TS_US_FMT).alias("valid_to"),
        "n_events",
        closing.isNull().alias("is_current"),
    )


def _scd2_fold(stored: DataFrame, batch: DataFrame) -> DataFrame:
    """New runs of the users a changelog ``batch`` touches: each of
    their ``stored`` runs re-enters as ONE pseudo-event at its opening
    (ts, event_id) carrying its event count, and the batch events fold
    in after them (collapse-of-collapse, ``_scd2_runs``)."""
    touched = batch.select("user_id").distinct()
    synth = stored.join(touched, "user_id", "left_semi").select(
        "user_id",
        F.col("vf").alias("ts"),
        F.col("vf_event_id").alias("event_id"),
        F.col("status").alias("event_type"),
        F.col("n_events").alias("weight"),
    )
    return _scd2_runs(
        synth.unionByName(
            batch.select(
                "user_id", "ts", "event_id", "event_type",
                F.lit(1).cast("bigint").alias("weight"),
            )
        )
    )


@q(
    "scd2_from_changelog",
    oracle=_SCD2_ORACLE,
    doc="SCD TYPE-2 dimension history built from an append-only "
    "changelog (events as per-user attribute updates): consecutive "
    "runs of the same value collapse to ONE version row (true SCD2 -- "
    "only CHANGES mint versions), each carrying [valid_from, valid_to) "
    "validity and an is_current flag, via the standard gaps-and-islands "
    "build: one LAG change flag, one running SUM for the version id, "
    "one (user, version) aggregate, one LEAD for the closing bound. "
    "All four steps sort/shuffle on the SAME user-keyed exchange, so "
    "Catalyst plans a single exchange reused across the windows and "
    "the aggregate -- at 100 TB this is one user-hash shuffle end to "
    "end, no matter how long the history. Complements "
    "merge_upsert_latest (SCD-1 latest-snapshot) and "
    "stream_upsert_foreach_batch (the streaming sink twin): together "
    "the three cover the warehouse dimension-maintenance triangle. "
    "valid_from/valid_to emit at full microsecond precision "
    "(date_format SSSSSS == strftime %f, both exact on the same "
    "parquet int64 micros).",
    tags=("events", "window", "pipeline", "merge"),
)
def scd2_from_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("weight", F.lit(1).cast("bigint"))
    return _scd2_finalize(_scd2_runs(ev))


_SCD2_SPLIT_TS = "2024-01-16 00:00:00"  # history/batch time boundary


@q(
    "scd2_incremental_store",
    oracle=_SCD2_ORACLE,
    doc="INCREMENTAL SCD2 dimension maintenance against a persisted "
    "run store — the MERGE-INTO-SCD2 pattern every warehouse runs "
    f"nightly: the history changelog (ts < {_SCD2_SPLIT_TS}) collapses "
    "to version rows ONCE and persists bucketed on user_id (each row "
    "retains its run-opening event_id and event count); a later "
    "changelog batch then recomputes ONLY the touched users, by "
    "replaying each stored run as ONE pseudo-event weighted with its "
    "event count and folding the batch events after it — "
    "collapse-of-collapse is EXACT because stored runs alternate "
    "status by construction (a batch prefix matching the open run's "
    "status merges into it, extending n_events and keeping valid_from; "
    "a change closes it and mints the next version, numbering "
    "continuing). Untouched users serve their stored rows unchanged; "
    "the delta write is O(touched users' runs + batch), never "
    "O(dimension). The ORACLE IS the full-changelog recompute (the "
    "same gaps-and-islands SQL as scd2_from_changelog), so "
    "incremental ≡ full is value-hash-checked — the same proof shape "
    "as the LSH/IVF append and incremental-LPA oracles. At 100 TB: "
    "nightly dimension maintenance costs one user-keyed shuffle of "
    "(touched runs + batch), and the store rides the versioned "
    "warehouse (time-travel to yesterday's dimension included).",
    tags=("events", "pipeline", "merge", "warehouse", "scale"),
)
def scd2_incremental_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magictables_spark.warehouse import Store

    ev = _t(spark, sf_dir, "events")
    split = F.lit(_SCD2_SPLIT_TS).cast("timestamp")
    store = Store("scd2", sf_dir, "events", f"v1:scd2:{_SCD2_SPLIT_TS}")
    layout = dict(bucket_by=["user_id"], n_buckets=16, sort_by=["user_id", "version"])
    stored = store.table(
        spark,
        "scd2H",
        lambda: _scd2_runs(
            ev.filter(F.col("ts") < split).withColumn(
                "weight", F.lit(1).cast("bigint")
            )
        ),
        **layout,
    )

    delta = store.table(
        spark,
        "scd2D",
        lambda: _scd2_fold(stored, ev.filter(F.col("ts") >= split)),
        **layout,
    )

    cols = ["user_id", "version", "status", "vf", "n_events"]
    untouched = stored.join(
        delta.select("user_id").distinct(), "user_id", "left_anti"
    )
    return _scd2_finalize(
        untouched.select(*cols).unionByName(delta.select(*cols))
    )


@q(
    "scd2_store_stream",
    oracle=_SCD2_ORACLE,
    doc="STREAMING SCD2 dimension maintenance — the foreachBatch twin "
    "of scd2_incremental_store and the terminal shape of the "
    "dimension-maintenance triangle (SCD-1 streaming upsert landed as "
    "stream_upsert_foreachbatch; this is the version-history leg): "
    f"the history changelog (ts < {_SCD2_SPLIT_TS}) collapses once "
    "into a run store PARTITIONED BY a 32-way user-hash bucket; the "
    "rest of the month splits into 3 CONTIGUOUS TIME shards (days "
    "16-20 / 21-25 / 26-31, mtime-ordered so the file source replays "
    "them in changelog order — SCD2 merge REQUIRES in-order batches, "
    "the same append-only contract a CDC feed gives you) consumed via "
    "readStream, one shard per trigger: Trigger.AvailableNow executes "
    "THREE real micro-batches. Each foreachBatch turn (a) finds the "
    "batch's touched user-buckets, (b) reads the store pruned to those "
    "partitions only, (c) replays each TOUCHED user's stored runs as "
    "weighted pseudo-events (collapse-of-collapse is exact: stored "
    "runs alternate status by construction — the scd2_incremental_"
    "store proof), folds the batch after them, and (d) rewrites ONLY "
    "the touched bucket-partitions via dynamic partitionOverwriteMode "
    "— untouched users in a touched bucket pass through row-identical, "
    "untouched buckets are never read nor written. Per-batch cost is "
    "O(touched buckets + batch) regardless of dimension size; the "
    "order-sensitive merge is replay-guarded per PARTITION — every "
    "rewritten bucket carries a last_batch stamp, so an at-least-once "
    "replay that crashed between the dynamic overwrite and the marker "
    "re-merges only the unstamped buckets (streaming/commit.py). "
    "The ORACLE is the full-changelog gaps-and-islands recompute, so "
    "the whole streamed merge lifecycle — three ordered merges over a "
    "partitioned store — is value-hash-checked cross-engine.",
    tags=("events", "pipeline", "merge", "warehouse", "streaming", "scale"),
)
def scd2_store_stream(
    spark: SparkSession,
    sf_dir: str,
    _crash_after_write: frozenset[int] = frozenset(),
) -> DataFrame:
    from magictables_spark.streaming.commit import ReplaySource, StampedStore
    from magictables_spark.warehouse import store_key

    NB = 32  # user-hash bucket partitions (the overwrite/pruning unit)
    ev = _t(spark, sf_dir, "events")
    split = F.lit(_SCD2_SPLIT_TS).cast("timestamp")
    src = ReplaySource(
        "scd2stream", *store_key(sf_dir, "events", f"v2:scd2s:{NB}:{_SCD2_SPLIT_TS}")
    )
    _ub = F.pmod(F.xxhash64("user_id"), F.lit(NB)).alias("ub")
    run_cols = ["user_id", "version", "status", "vf", "vf_event_id", "n_events"]
    store = StampedStore(
        src,
        "user_id bigint, version int, status string, vf timestamp, "
        "vf_event_id bigint, n_events bigint, last_batch bigint, ub bigint",
        "ub",
    )

    def _seed():
        hist = ev.filter(F.col("ts") < split).withColumn(
            "weight", F.lit(1).cast("bigint")
        )
        store.seed(_scd2_runs(hist).select(*run_cols, _ub))
        # 3 contiguous time shards in changelog order, because SCD2
        # merge is order-sensitive by contract
        d = F.dayofmonth(F.col("ts").cast("date"))
        return [
            ev.filter((F.col("ts") >= split) & (d >= lo) & (d < hi))
            for lo, hi in [(16, 21), (21, 26), (26, 32)]
        ]

    def _merge(runs: DataFrame, batch: DataFrame) -> DataFrame:
        # touched users' runs are refolded; the rest pass through
        keep = runs.join(batch.select("user_id").distinct(), "user_id", "left_anti")
        return keep.select(*run_cols, "ub").unionByName(
            _scd2_fold(runs, batch).select(*run_cols, _ub)
        )

    src.prepare(_seed)
    src.drain(
        spark,
        ev.schema,
        store.batches(
            lambda b: b.select("user_id", "ts", "event_id", "event_type", _ub),
            _merge,
            _crash_after_write,
        ),
    )
    return _scd2_finalize(
        store.read(spark).select("user_id", "version", "status", "vf", "n_events")
    )


@q(
    "stream_upsert_foreachbatch",
    oracle="""
    SELECT user_id, event_type AS latest_status,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, event_id
    FROM (SELECT user_id, event_type, ts, event_id,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    ORDER BY user_id
    """,
    doc="Streaming MERGE-INTO (SCD-1 upsert) sink at the driver "
    "surface, run as a REAL multi-batch incremental job: the events "
    "fixture is split once into 3 parquet shards (by event_id % 3, "
    "deterministic), readStream consumes them one shard per trigger "
    "so Trigger.AvailableNow executes THREE micro-batches, and "
    "each batch merges latest-record-per-key into a versioned parquet "
    "snapshot behind an atomic manifest repoint "
    "(streaming/stream_upsert_foreach_batch -- foreachBatch is how "
    "production Spark upserts into Delta/Iceberg; here the same body "
    "targets plain parquet + manifest). The merge takes MAX of a "
    "(ts, event_id, status) struct per key, which is associative and "
    "commutative, so the final snapshot is INDEPENDENT of the batch "
    "split -- exactly what the oracle's row_number-latest computes "
    "over the unsplit table; the whole incremental path is therefore "
    "value-hash-checked. Re-invocation reuses the checkpoint: the "
    "AvailableNow run sees no new files and serves the warm snapshot "
    "(the incremental-store contract shared with "
    "dedup_incremental_store / ann_lsh_index_append). State: one row "
    "per key in the snapshot, never the event history.",
    tags=("streaming", "merge", "pipeline"),
)
def stream_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magictables_spark.streaming import read_upsert_snapshot, upsert_merge_batch
    from magictables_spark.streaming.commit import ReplaySource
    from magictables_spark.warehouse import store_key

    ev = _t(spark, sf_dir, "events")
    src = ReplaySource("upsert_q", *store_key(sf_dir, "events"))
    src.prepare(lambda: [ev.filter(F.col("event_id") % 3 == k) for k in range(3)])
    target = src.path("target")
    src.drain(spark, ev.schema, upsert_merge_batch(target, ("user_id",), "event_type"))
    snap = read_upsert_snapshot(spark, target)
    return snap.select(
        "user_id",
        F.col("event_type").alias("latest_status"),
        F.date_format("ts", TS_US_FMT).alias("ts"),
        "event_id",
    )


def _rollup_partials(events: DataFrame, day: Column) -> DataFrame:
    """(day, event_type) count and sum-of-cents partials of ``events``,
    with ``day`` as the rollup's day key."""
    return (
        events.select(day.alias("day"), "event_type", F.expr(VAL_I).alias("cents"))
        .groupBy("day", "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("cents").alias("sum_cents"))
    )


def _rollup_merge(stored: DataFrame, partials: DataFrame) -> DataFrame:
    """Partials merge group-wise: count and sum are associative and
    commutative."""
    return (
        stored.unionByName(partials)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )


_ROLLUP_ORACLE = f"""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS n_events,
           CAST(SUM({VAL_I}) AS BIGINT) AS sum_cents
    FROM events
    GROUP BY 1, 2
    ORDER BY day, event_type
    """


@q(
    "rollup_incremental_store",
    oracle=_ROLLUP_ORACLE,
    doc="INCREMENTAL materialized-aggregate maintenance -- the rollup "
    "leg of the incremental-warehouse family (with "
    "dedup_incremental_store, dedup_minhash_incremental, "
    "ann_lsh_index_append, stream_upsert_foreachbatch): the "
    "historical (day, event_type) partial aggregates (count + "
    "sum-of-cents, both MERGEABLE) are computed ONCE over the history "
    "split (day < 16) and persisted bucketed on the rollup key; each "
    "new batch aggregates ONLY ITS OWN rows and merges into the store "
    "by summing partials group-wise -- untouched groups pass through "
    "byte-identical, so maintenance cost scales with the INCREMENT "
    "(one batch-sized exchange riding the store's bucket layout), "
    "never the history. Because count/sum are associative and "
    "commutative, the merged rollup is PROVABLY row-identical to a "
    "from-scratch GROUP BY over the whole table -- which is exactly "
    "what the oracle computes, so the entire incremental path is "
    "value-hash-checked. The non-mergeable aggregates (exact median, "
    "distinct counts) are the documented boundary: those need their "
    "own stores (quantile sketch / HLL rollup slugs) or a rebuild. "
    "Same versioned/atomic warehouse machinery as ann_lsh_persisted.",
    tags=("events", "pipeline", "warehouse", "scale"),
)
def rollup_incremental_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magictables_spark.warehouse import Store

    ev = _t(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    store = Store("rollup", sf_dir, "events", "v2:16").table(
        spark,
        "rollup",
        lambda: _rollup_partials(ev.filter(F.dayofmonth(day) < 16), day),
        bucket_by=["day", "event_type"],
        n_buckets=32,
        sort_by=["day", "event_type"],
    )
    # the store side arrives pre-bucketed on the rollup key, so only
    # the batch partials shuffle
    return (
        _rollup_merge(store, _rollup_partials(ev.filter(F.dayofmonth(day) >= 16), day))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
            "sum_cents",
        )
        .orderBy("day", "event_type")
    )


@q(
    "rollup_store_stream",
    oracle=_ROLLUP_ORACLE,
    doc="STREAMING maintenance of the materialized (day, event_type) "
    "rollup — the streaming twin of rollup_incremental_store and the "
    "production materialized-view shape: the history split (day < 16) "
    "seeds a parquet store PARTITIONED BY day; the rest of the month "
    "is sharded 3 ways on event_id % 3 (all shards hit the SAME days, "
    "so the merge path genuinely sums partials rather than appending "
    "disjoint keys) and consumed via readStream, one shard per trigger "
    "— Trigger.AvailableNow executes THREE real micro-batches. Each "
    "foreachBatch turn (a) aggregates ONLY its own rows to (day, "
    "event_type) partials, (b) reads the store pruned to the batch's "
    "TOUCHED day-partitions only (isin filter -> partition pruning), "
    "(c) merges group-wise (count/sum are associative+commutative "
    "partials), and (d) rewrites ONLY the touched partitions via "
    "dynamic partitionOverwriteMode — untouched history partitions "
    "are never read NOR rewritten (file-mtime-asserted in "
    "tests/test_rollup_stream.py), so per-batch cost is O(batch + "
    "touched groups) regardless of store size. localCheckpoint cuts "
    "the merged plan's lineage before the overwrite (you cannot "
    "overwrite files an active plan still reads). A per-batch applied-"
    "marker makes replay idempotent under foreachBatch's at-least-once "
    "contract (merge is NOT naturally idempotent — the marker is the "
    "guard; a transactional table format would close the remaining "
    "crash window between overwrite and marker, documented boundary). "
    "Because the merged partials are PROVABLY equal to a from-scratch "
    "GROUP BY, the oracle is the full-table rollup — the entire "
    "streamed merge lifecycle is value-hash-checked.",
    tags=("events", "pipeline", "warehouse", "streaming", "scale"),
)
def rollup_store_stream(
    spark: SparkSession,
    sf_dir: str,
    _crash_after_write: frozenset[int] = frozenset(),
) -> DataFrame:
    from magictables_spark.streaming.commit import ReplaySource, StampedStore
    from magictables_spark.warehouse import store_key

    src = ReplaySource("rollstream", *store_key(sf_dir, "events", "v2:16"))
    ev = _t(spark, sf_dir, "events")
    # the stream store keeps day as the formatted string: it is the
    # partition column (pruning + dynamic overwrite unit)
    day = F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd")
    dom = F.dayofmonth(F.col("ts").cast("date"))
    # explicit schema keeps day a string (inference would type the
    # partition column DATE)
    store = StampedStore(
        src,
        "event_type string, n_events bigint, sum_cents bigint,"
        " last_batch bigint, day string",
        "day",
    )

    def _seed():
        store.seed(_rollup_partials(ev.filter(dom < 16), day))
        return [
            ev.filter((dom >= 16) & (F.col("event_id") % 3 == k)) for k in range(3)
        ]

    src.prepare(_seed)
    src.drain(
        spark,
        ev.schema,
        store.batches(lambda b: _rollup_partials(b, day), _rollup_merge, _crash_after_write),
    )
    return (
        store.read(spark)
        .select("day", "event_type", "n_events", "sum_cents")
        .orderBy("day", "event_type")
    )


@q(
    "pit_feature_join",
    oracle="""
    WITH feat AS (
      SELECT user_id, ts, event_id, event_type,
             COUNT(*) FILTER (WHERE event_type = 'click') OVER w AS n_clicks_before,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'view'
                                    THEN CAST(ROUND(value * 100) AS BIGINT) END)
                           OVER w, 0) AS BIGINT) AS view_cents_before
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id AS query_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           n_clicks_before, view_cents_before
    FROM feat WHERE event_type = 'purchase'
    ORDER BY query_id
    """,
    doc="POINT-IN-TIME-correct feature retrieval -- the feature-store "
    "join that prevents label leakage in training pipelines: for every "
    "prediction point (purchase), fetch each feature's value AS OF "
    "strictly before that moment (clicks-so-far count, view-spend "
    "cumulative sum). Implemented with the UNION-TIMELINE form: "
    "instead of N as-of joins (one per feature table), probes and "
    "feature events ride ONE user-keyed window ordered by (ts, "
    "event_id) with ROWS UNBOUNDED PRECEDING TO 1 PRECEDING (the '1 "
    "PRECEDING' bound IS the leakage guard -- the prediction row's own "
    "event never feeds its features), then probe rows filter out. At "
    "100 TB this is a single user-hash exchange regardless of how "
    "many features stack into the same window -- the reason "
    "production feature stores materialize timelines rather than "
    "running per-feature as-of joins (asof_join covers the two-table "
    "form). Deterministic under timestamp ties via the event_id "
    "tiebreak; both engines run the identical window spec.",
    tags=("events", "window", "pipeline", "ml"),
)
def pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    feat = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.count(F.when(F.col("event_type") == "click", 1)).over(w).alias(
            "n_clicks_before"
        ),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "view",
                    F.expr("CAST(ROUND(value * 100) AS BIGINT)"),
                )
            ).over(w),
            F.lit(0),
        ).alias("view_cents_before"),
    )
    return (
        feat.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("query_id"),
            F.date_format("ts", TS_US_FMT).alias("ts"),
            "n_clicks_before",
            "view_cents_before",
        )
    )


@q(
    "stream_static_join",
    oracle=f"""
    WITH dim(event_type, stage, weight) AS (
      VALUES ('view', 1, 1), ('click', 2, 3), ('purchase', 3, 10),
             ('signup', 0, 5), ('error', -1, 0)
    )
    SELECT d.stage,
           COUNT(*) AS n_events,
           CAST(SUM({VAL_I} * d.weight) AS BIGINT) AS weighted_cents
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY d.stage ORDER BY d.stage
    """,
    doc="STREAM-STATIC join as a real Structured Streaming job -- the "
    "third and last join kind the streaming family needs (after "
    "stream-stream interval joins and the foreachBatch merge sink): "
    "the events stream enriches against a STATIC dimension table "
    "(event_type -> funnel stage + weight) -- stateless by "
    "construction (no watermark, no join state: the static side is "
    "broadcast to every micro-batch task, the production shape for "
    "dimension enrichment at any scale), then aggregates weighted "
    "spend per stage in complete mode under Trigger.AvailableNow. "
    "Hash-checked against the identical batch join+aggregate in "
    "DuckDB. At 100 TB the dimension broadcast is the whole point: "
    "enrichment adds ZERO exchanges to the stream; only the 5-group "
    "aggregate shuffles.",
    tags=("streaming", "events", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = spark.createDataFrame(
        [("view", 1, 1), ("click", 2, 3), ("purchase", 3, 10),
         ("signup", 0, 5), ("error", -1, 0)],
        "event_type string, stage int, weight int",
    )
    src = _events_stream(spark, sf_dir)
    agg = (
        src.join(F.broadcast(dim), "event_type")
        .groupBy("stage")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.expr("CAST(ROUND(value * 100) AS BIGINT)") * F.col("weight")
            ).alias("weighted_cents"),
        )
    )
    out = _run_available_now(spark, agg, "mts_stream_static_join")
    return out.orderBy("stage")


@q(
    "funnel_ordered_steps",
    oracle="""
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    vc AS (
      SELECT DISTINCT v.user_id
      FROM v JOIN c ON c.user_id = v.user_id
       AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
    ), vcp AS (
      SELECT DISTINCT v.user_id
      FROM v JOIN c ON c.user_id = v.user_id
       AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
      JOIN p ON p.user_id = v.user_id
       AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    )
    SELECT (SELECT COUNT(DISTINCT user_id) FROM v) AS n_view,
           (SELECT COUNT(*) FROM vc) AS n_view_click,
           (SELECT COUNT(*) FROM vcp) AS n_full_funnel
    """,
    doc="ORDERED multi-step funnel with per-step time bounds -- the "
    "product-analytics sequence query funnel_conversion (unordered "
    "stage presence) cannot express: a user converts iff some view is "
    "followed by a click within 1 hour which is followed by a "
    "purchase within another hour, ORDER REQUIRED at every step. "
    "Implemented as two user-keyed interval joins with strict-"
    "inequality chaining (view < click <= view+1h < purchase <= "
    "click+1h) collapsed to per-user existence -- the same plan a "
    "funnel engine compiles sequence-match to when the pattern is "
    "fixed. All three legs reuse ONE user-hash exchange; per-user "
    "candidate volume is (views x clicks x purchases) within an hour "
    "window, the time bound that keeps the chained join linear in "
    "events at 100 TB (the unbounded form is the documented "
    "anti-pattern -- same lesson as the stream-stream pair join). "
    "Emits the three funnel stage counts in one row.",
    tags=("events", "join", "pipeline"),
)
def funnel_ordered_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-7 sf1 sweep catch (the tool's third real find): the original
    # user-key-only interval joins are quadratic in PER-USER event
    # counts, and the fixtures' Zipf skew makes that fatal — at sf1 the
    # heaviest user alone has 76k views x 77k clicks = 5.9e9 candidate
    # pairs (measured: >500 s). Two exact fixes, both semantics-
    # preserving under the oracle:
    # 1. TIME-BUCKETIZATION (the interval_join_attribution idiom): both
    #    legs equi-join on (user, hour bucket) with each left row
    #    probing (b, b+1) and the exact interval as a post-filter —
    #    per-probe candidates shrink from all the user's events to the
    #    user's events in two hours (the window's semantic bound).
    # 2. EXISTS reduction: the purchase leg depends only on (user,
    #    click time), so the view x click pair stream collapses to
    #    DISTINCT qualified clicks (<= |clicks|) before the second join
    #    — the funnel twin of simhash_dedup_survivors' O(n)-output
    #    lesson.
    H_US = 3_600_000_000
    ev = _t(spark, sf_dir, "events")
    ms = F.unix_micros(F.col("ts").cast("timestamp_ltz"))

    def leg(kind: str) -> DataFrame:
        return ev.filter(F.col("event_type") == kind).select(
            F.col("user_id").alias("u"), ms.alias("ms")
        )

    v, c, p = leg("view"), leg("click"), leg("purchase")
    cb = c.withColumn("b", F.floor(F.col("ms") / H_US)).withColumnRenamed(
        "ms", "c_ms"
    )
    v_probes = v.select(
        "u",
        F.col("ms").alias("v_ms"),
        F.explode(
            F.array(F.floor(F.col("ms") / H_US), F.floor(F.col("ms") / H_US) + 1)
        ).alias("b"),
    )
    # each click lives in exactly ONE bucket, so the two probes never
    # produce the same (view, click) pair twice — no dedup needed
    vc = v_probes.join(cb, ["u", "b"]).filter(
        (F.col("c_ms") > F.col("v_ms")) & (F.col("c_ms") <= F.col("v_ms") + H_US)
    )
    qc = vc.select("u", "c_ms").distinct()
    pb = p.withColumn("b", F.floor(F.col("ms") / H_US)).withColumnRenamed(
        "ms", "p_ms"
    )
    qc_probes = qc.select(
        "u",
        "c_ms",
        F.explode(
            F.array(
                F.floor(F.col("c_ms") / H_US), F.floor(F.col("c_ms") / H_US) + 1
            )
        ).alias("b"),
    )
    vcp = qc_probes.join(pb, ["u", "b"]).filter(
        (F.col("p_ms") > F.col("c_ms")) & (F.col("p_ms") <= F.col("c_ms") + H_US)
    )
    n_view = v.select(F.countDistinct("u").alias("n_view"))
    n_vc = vc.select(F.countDistinct("u").alias("n_view_click"))
    n_vcp = vcp.select(F.countDistinct("u").alias("n_full_funnel"))
    return n_view.crossJoin(n_vc).crossJoin(n_vcp)


@q(
    "snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT user_id, event_type AS status,
             strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, event_id
      FROM (SELECT user_id, event_type, ts, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00')
      WHERE rn = 1
    ), new AS (
      SELECT user_id, event_type AS status,
             strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, event_id
      FROM (SELECT user_id, event_type, ts, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1
    )
    SELECT COALESCE(n.user_id, o.user_id) AS user_id,
           CASE WHEN o.user_id IS NULL THEN 'added'
                WHEN n.user_id IS NULL THEN 'removed'
                ELSE 'changed' END AS change,
           o.status AS old_status, n.status AS new_status,
           o.event_id AS old_event_id, n.event_id AS new_event_id
    FROM old o FULL OUTER JOIN new n ON o.user_id = n.user_id
    WHERE o.user_id IS NULL OR n.user_id IS NULL
       OR o.event_id <> n.event_id
    ORDER BY user_id
    """,
    doc="Snapshot DIFF — the table_changes/CDC-read primitive every "
    "warehouse audit runs between two versions of a dimension: the "
    "SCD-1 latest-per-user snapshot AS OF the mid-month boundary vs "
    "the current one, full-outer-joined on the key, emitting "
    "added/removed/changed rows with before/after values (rows whose "
    "winning event is unchanged drop out — the diff is the DELTA, "
    "not the table). Both snapshots derive from the same "
    "row_number-latest spec the upsert family uses, so at 100 TB "
    "this is two key-partitioned windows + ONE key-keyed full-outer "
    "join — the diff costs one exchange regardless of how many "
    "columns changed, and in practice the old side reads a "
    "time-travel version (warehouse.read_table(version=...)) rather "
    "than recomputing; here both sides recompute from the changelog "
    "so the WHOLE diff is value-hash-checked cross-engine.",
    tags=("events", "pipeline", "merge", "warehouse"),
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))

    def _snap(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("event_type").alias("status"),
                F.date_format("ts", TS_US_FMT).alias("ts"),
                "event_id",
            )
        )

    old = _snap(
        ev.filter(F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"))
    ).select(
        F.col("user_id").alias("o_user"),
        F.col("status").alias("old_status"),
        F.col("event_id").alias("old_event_id"),
    )
    new = _snap(ev).select(
        F.col("user_id").alias("n_user"),
        F.col("status").alias("new_status"),
        F.col("event_id").alias("new_event_id"),
    )
    return (
        old.join(new, old["o_user"] == new["n_user"], "full_outer")
        .filter(
            F.col("o_user").isNull()
            | F.col("n_user").isNull()
            | (F.col("old_event_id") != F.col("new_event_id"))
        )
        .select(
            F.coalesce("n_user", "o_user").alias("user_id"),
            F.when(F.col("o_user").isNull(), "added")
            .when(F.col("n_user").isNull(), "removed")
            .otherwise("changed")
            .alias("change"),
            "old_status",
            "new_status",
            "old_event_id",
            "new_event_id",
        )
    )


@q(
    "audience_overlap_matrix",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), sizes AS (
      SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           COUNT(*) AS n_overlap,
           sa.n AS n_a, sb.n AS n_b,
           CAST(COUNT(*) AS DOUBLE)
             / (sa.n + sb.n - COUNT(*)) AS jaccard
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    JOIN sizes sa ON sa.event_type = a.event_type
    JOIN sizes sb ON sb.event_type = b.event_type
    GROUP BY a.event_type, b.event_type, sa.n, sb.n
    ORDER BY type_a, type_b
    """,
    doc="Audience-overlap matrix: distinct-user intersection, segment "
    "sizes and Jaccard for every pair of event types — the "
    "co-engagement query behind every audience-planning dashboard. "
    "Plan shape is the key: the per-(user, type) DISTINCT collapses "
    "the event stream FIRST (the only data-sized exchange), then the "
    "pair join runs user-keyed over rows bounded by |users| x "
    "|types| — with T segments each user contributes at most "
    "T(T-1)/2 pairs, so the matrix costs O(n*T^2) with tiny T, never "
    "O(n^2); segment sizes ride a broadcast dim. The canonical "
    "a < b ordering halves the matrix and makes output deterministic. "
    "Fully value-hash-oracled (counts + one exact IEEE divide); at "
    "billions of users the same shape runs sketch-backed "
    "(hll_sketch_rollup's union + inclusion-exclusion) at O(T^2) "
    "sketch merges — the documented approximate sibling.",
    tags=("events", "analytics", "scale"),
)
def audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ut = (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .localCheckpoint(eager=True)  # shared by the pair join + sizes
    )
    sizes = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.withColumnRenamed("event_type", "type_a")
                        .withColumnRenamed("n", "n_a")),
            "type_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("event_type", "type_b")
                        .withColumnRenamed("n", "n_b")),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_overlap",
            "n_a",
            "n_b",
            (
                F.col("n_overlap").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_overlap"))
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )
