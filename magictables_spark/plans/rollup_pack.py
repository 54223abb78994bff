"""Time-series rollups and change analytics: hypertable-style
multi-resolution aggregation, period-over-period growth, interval
RANGE window frames, snapshot merge (SCD upsert).

The hypertable rollup is the continuous-aggregate pattern from
time-series stores (TimescaleDB-style): one pass over the fact stream
produces hour, day, and month resolutions together via GROUPING SETS
over pre-computed bucket columns — Spark expands grouping sets
map-side (one Expand node, one shuffle) instead of three separate
scans.

Determinism: bucket labels are formatted strings; value sums in scaled
int64 (registry rule 1); growth ratios are one double division of
identical integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from magictables_spark.plans.features import _shards, _split
from magictables_spark.plans.registry import REV_I, _t, q

VAL_I = "CAST(ROUND(value * 100) AS BIGINT)"  # events.value cents


@q(
    "hypertable_rollup",
    oracle=f"""
    SELECT 'hour' AS resolution,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS bucket,
           event_type, COUNT(*) AS n_events,
           CAST(SUM({VAL_I}) AS BIGINT) AS value_sum_i
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'day', strftime(date_trunc('day', ts), '%Y-%m-%d'),
           event_type, COUNT(*), CAST(SUM({VAL_I}) AS BIGINT)
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'month', strftime(date_trunc('month', ts), '%Y-%m'),
           event_type, COUNT(*), CAST(SUM({VAL_I}) AS BIGINT)
    FROM events GROUP BY 2, 3
    """,
    doc="Hypertable-style continuous aggregate: hour + day + month "
    "resolutions of the event stream in ONE pass. Spark uses GROUPING "
    "SETS over three pre-truncated bucket columns — a single Expand "
    "(3x map-side row fan-out) feeding one shuffle, versus three "
    "separate scans of a 100 TB fact table — exactly what the oracle's "
    "three-way UNION ALL pays.",
    tags=("timeseries", "rollup", "events"),
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr(VAL_I).alias("v"),
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hour_b"),
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day_b"),
            F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("month_b"),
        )
    )
    ev.createOrReplaceTempView("_rollup_src")
    # GROUPING SETS: one Expand node, one shuffle, all three resolutions
    rolled = spark.sql(
        """
        SELECT hour_b, day_b, month_b, event_type,
               COUNT(*) AS n_events, SUM(v) AS value_sum_i
        FROM _rollup_src
        GROUP BY event_type
        GROUPING SETS ((hour_b, event_type), (day_b, event_type),
                       (month_b, event_type))
        """
    )
    return rolled.select(
        F.when(F.col("hour_b").isNotNull(), "hour")
        .when(F.col("day_b").isNotNull(), "day")
        .otherwise("month")
        .alias("resolution"),
        F.coalesce("hour_b", "day_b", "month_b").alias("bucket"),
        "event_type",
        "n_events",
        "value_sum_i",
    )


@q(
    "period_over_period",
    oracle=f"""
    WITH monthly AS (
      SELECT o_orderpriority AS series,
             strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_i
      FROM orders GROUP BY 1, 2
    )
    SELECT series, month, CAST(rev_i AS DOUBLE) / 100.0 AS revenue,
           CAST(rev_i - LAG(rev_i) OVER (PARTITION BY series ORDER BY month)
                AS DOUBLE) / 100.0 AS mom_change
    FROM monthly
    """,
    doc="Period-over-period change PER SERIES: monthly revenue per "
    "order priority with month-over-month delta via LAG partitioned by "
    "the series id — the registered default is the keyed form a user "
    "should copy-paste (windows stay partition-parallel over any "
    "number of series). Aggregate first, window second: the LAG runs "
    "over the aggregated monthly grid, never the fact table. The "
    "single-series corpus-total form is `period_over_period_global`.",
    tags=("timeseries", "window"),
)
def period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    monthly = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("series"),
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"),
        )
        .agg(F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).alias("rev_i"))
    )
    w = Window.partitionBy("series").orderBy("month")
    return monthly.select(
        "series",
        "month",
        (F.col("rev_i").cast("double") / 100.0).alias("revenue"),
        ((F.col("rev_i") - F.lag("rev_i").over(w)).cast("double") / 100.0).alias(
            "mom_change"
        ),
    )


@q(
    "period_over_period_global",
    oracle=f"""
    WITH monthly AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_i
      FROM orders GROUP BY 1
    )
    SELECT month, CAST(rev_i AS DOUBLE) / 100.0 AS revenue,
           CAST(rev_i - LAG(rev_i) OVER (ORDER BY month) AS DOUBLE) / 100.0
             AS mom_change
    FROM monthly
    """,
    doc="Corpus-total period-over-period — the single-series GLOBAL "
    "variant, demoted from the default. The un-partitioned LAG runs "
    "over the *aggregated* monthly series (dozens of rows), so the "
    "single-partition window sort is trivial no matter how large the "
    "fact table: aggregate first, window second. For many series use "
    "the keyed `period_over_period` default.",
    tags=("timeseries", "window"),
)
def period_over_period_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    monthly = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"))
        .agg(F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).alias("rev_i"))
    )
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        (F.col("rev_i").cast("double") / 100.0).alias("revenue"),
        ((F.col("rev_i") - F.lag("rev_i").over(w)).cast("double") / 100.0).alias(
            "mom_change"
        ),
    )


@q(
    "window_range_interval",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(SUM({REV_I})) OVER (
             PARTITION BY l_orderkey ORDER BY epoch(l_shipdate)
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rev_7d_i
    FROM lineitem
    WHERE l_orderkey % 50 = 0
    GROUP BY l_orderkey, l_linenumber, epoch(l_shipdate)
    """,
    doc="RANGE window frame over a real time axis: per-order trailing "
    "7-day revenue, frame bounded by *value* (seconds) not row count — "
    "the frame semantics Polars' rolling_sum_by maps to. Both engines "
    "order by epoch seconds so the 604800-second bound is integer-"
    "exact. The inner GROUP BY collapses same-timestamp rows first "
    "(RANGE frames treat peers atomically — engines agree only when "
    "peers are pre-merged).",
    tags=("timeseries", "window"),
)
def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 50 == 0)
        .groupBy(
            "l_orderkey",
            "l_linenumber",
            F.unix_timestamp("l_shipdate").alias("_epoch"),
        )
        .agg(F.sum(F.expr(REV_I)).alias("_rev_i"))
    )
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("_epoch")
        .rangeBetween(-604800, Window.currentRow)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sum("_rev_i").over(w).alias("rev_7d_i"),
    )


@q(
    "merge_upsert_latest",
    oracle="""
    SELECT o_custkey,
           MAX_BY(o_orderstatus,
                  CAST(epoch(o_orderdate) AS BIGINT) * 4294967296 + o_orderkey)
             AS latest_status,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    """,
    doc="SCD-1 snapshot merge: collapse an append-only change stream "
    "(orders as status updates) to latest-record-per-key in one "
    "aggregate — max_by over a packed (epoch << 32 | unique-id) "
    "version key, a deterministic scalar tie-break both engines "
    "honor (scalar packing because DuckDB's max_by cannot order by a "
    "struct; epoch-second granularity is lossless here since "
    "o_orderdate is day-grained — the streaming twin "
    "stream_upsert_foreach_batch uses a full-precision struct MAX "
    "instead). This is the upsert pattern for engines without MERGE "
    "INTO: one shuffle, no window sort, map-side partial max_by.",
    tags=("pipeline", "merge"),
)
def merge_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    version = (
        F.unix_timestamp("o_orderdate").cast("long") * F.lit(4294967296).cast("long")
        + F.col("o_orderkey")
    )
    return orders.groupBy("o_custkey").agg(
        F.max_by("o_orderstatus", version).alias("latest_status"),
        F.count("*").alias("n_orders"),
    )


@q(
    "pct_change",
    oracle="""
    WITH monthly AS (
      SELECT o_orderpriority AS series,
             strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_i
      FROM orders GROUP BY 1, 2
    )
    SELECT series, month,
           CAST(rev_i - LAG(rev_i) OVER w AS DOUBLE)
             / CAST(LAG(rev_i) OVER w AS DOUBLE) AS pct_change
    FROM monthly
    WINDOW w AS (PARTITION BY series ORDER BY month)
    """,
    doc="Relative period-over-period change PER SERIES (Polars "
    "pct_change parity): (cur - prev) / prev over each priority "
    "class's aggregated monthly series, LAG partitioned by the series "
    "id so any number of series stays partition-parallel — the keyed "
    "registered default. Both operands are exact int64 sums, the "
    "division is one IEEE double op — bit-identical across engines; "
    "each series' first month is NULL on both. Single-series form: "
    "`pct_change_global`.",
    tags=("timeseries", "window"),
)
def pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    monthly = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("series"),
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"),
        )
        .agg(F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).alias("rev_i"))
    )
    w = Window.partitionBy("series").orderBy("month")
    prev = F.lag("rev_i").over(w)
    return monthly.select(
        "series",
        "month",
        ((F.col("rev_i") - prev).cast("double") / prev.cast("double")).alias(
            "pct_change"
        ),
    )


@q(
    "pct_change_global",
    oracle="""
    WITH monthly AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_i
      FROM orders GROUP BY 1
    )
    SELECT month,
           CAST(rev_i - LAG(rev_i) OVER (ORDER BY month) AS DOUBLE)
             / CAST(LAG(rev_i) OVER (ORDER BY month) AS DOUBLE) AS pct_change
    FROM monthly
    """,
    doc="Corpus-total relative change — the single-series GLOBAL "
    "variant, demoted from the default: the un-partitioned LAG runs "
    "over the aggregated monthly series (dozens of rows), so the "
    "single-partition sort is trivial regardless of fact-table size. "
    "For many series use the keyed `pct_change` default.",
    tags=("timeseries", "window"),
)
def pct_change_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    monthly = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
        )
        .agg(F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).alias("rev_i"))
    )
    w = Window.orderBy("month")
    prev = F.lag("rev_i").over(w)
    return monthly.select(
        "month",
        ((F.col("rev_i") - prev).cast("double") / prev.cast("double")).alias(
            "pct_change"
        ),
    )


@q(
    "value_counts_share",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM orders) AS DOUBLE) AS share
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Normalized frequency table (Polars value_counts(normalize) "
    "parity): category counts with share-of-total. The 1-row grand "
    "total broadcasts into the grouped counts; the share is one "
    "exact-int double division. No second scan of the data — Spark "
    "reuses the aggregated side for both.",
    tags=("stats", "agg"),
)
def value_counts_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("_total"))
    return counts.join(F.broadcast(total)).select(
        "o_orderpriority",
        "n",
        (F.col("n").cast("double") / F.col("_total").cast("double")).alias("share"),
    )


@q(
    "cdc_apply_changelog",
    oracle="""
    WITH ops AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'error' THEN 'D'
                  WHEN event_type = 'signup' THEN 'I'
                  ELSE 'U' END AS op
      FROM events
    ), latest AS (
      SELECT user_id, op, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM ops
    )
    SELECT user_id, op AS last_op, event_type AS status,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, event_id
    FROM latest WHERE rn = 1 AND op <> 'D'
    ORDER BY user_id
    """,
    doc="CDC changelog APPLY with delete semantics -- the Debezium/"
    "binlog materialization step that merge_upsert_latest (upserts "
    "only) cannot express: each event carries an op code (I/U/D, "
    "derived deterministically from event_type: error=D, signup=I, "
    "else U), and the applied table holds, per key, the payload of "
    "the LATEST op -- unless that op is a DELETE, in which case the "
    "key is ABSENT (a delete followed by nothing erases the row; a "
    "delete followed by a later insert resurrects it, both falling "
    "out of the same latest-op rule). One MAX of a (ts, event_id, "
    "op, status) struct per key -- the whole op row wins atomically, "
    "exactly the SCD-1 aggregate shape plus a post-filter on the "
    "winning op -- so one hash exchange at any scale, map-side "
    "partial max. Full-microsecond version ordering with event_id "
    "tiebreak; hash-checked against the row_number-latest oracle.",
    tags=("pipeline", "merge", "events"),
)
def cdc_apply_changelog(spark, sf_dir):
    from magictables_spark.plans.registry import _t

    ev = _t(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
    )
    winner = F.max(
        F.struct(
            F.col("ts"),
            F.col("event_id"),
            op.alias("_op"),
            F.col("event_type").alias("_status"),
        )
    ).alias("_w")
    return (
        ev.groupBy("user_id")
        .agg(winner)
        .filter(F.col("_w._op") != "D")
        .select(
            "user_id",
            F.col("_w._op").alias("last_op"),
            F.col("_w._status").alias("status"),
            F.date_format("_w.ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            F.col("_w.event_id").alias("event_id"),
        )
        .orderBy("user_id")
    )


_QH_W = 1024  # histogram bin width in cents; 64 bins cover [0, 65536)
_QH_B = 64


_QH_SCHEMA = "event_type string, bin bigint, c bigint"


def _qh_hist(events: DataFrame) -> DataFrame:
    b = F.least(
        F.lit(_QH_B - 1),
        F.expr(f"CAST(ROUND(value * 100) AS BIGINT) div {_QH_W}"),
    )
    return events.select("event_type", b.alias("bin")).groupBy(
        "event_type", "bin"
    ).agg(F.count("*").alias("c"))


def _qh_merge(hist: DataFrame, events: DataFrame) -> DataFrame:
    """Stored bin counts plus a batch of ``events``: bin counts sum."""
    return (
        hist.unionByName(_qh_hist(events))
        .groupBy("event_type", "bin")
        .agg(F.sum("c").alias("c"))
    )


def _qh_estimate(hist: DataFrame) -> DataFrame:
    """p50/p90/p99 per event_type, interpolated inside the crossing bin."""
    wb = Window.partitionBy("event_type").orderBy("bin")
    wn = Window.partitionBy("event_type")
    cum = hist.withColumn("cum", F.sum("c").over(wb)).withColumn(
        "n", F.sum("c").over(wn)
    )
    qs = hist.sparkSession.createDataFrame([(0.5,), (0.9,), (0.99,)], "q double")
    target = F.ceil(F.col("q") * F.col("n")).cast("bigint")
    est = (
        cum.crossJoin(F.broadcast(qs))
        .withColumn(
            "v",
            # the CROSSING bin only: cum-c < target <= cum
            F.when(
                (F.col("cum") >= target)
                & (F.col("cum") - F.col("c") < target),
                F.col("bin") * _QH_W
                + (target - (F.col("cum") - F.col("c")))
                / F.col("c").cast("double")
                * _QH_W,
            ),
        )
        .groupBy("event_type", "n", "q")
        .agg(F.min("v").alias("v"))
    )
    return (
        est.groupBy("event_type", "n")
        .agg(
            F.max(F.when(F.col("q") == 0.5, F.col("v"))).alias("p50_cents"),
            F.max(F.when(F.col("q") == 0.9, F.col("v"))).alias("p90_cents"),
            F.max(F.when(F.col("q") == 0.99, F.col("v"))).alias("p99_cents"),
        )
        .select(
            "event_type", F.col("n").cast("bigint").alias("n"),
            "p50_cents", "p90_cents", "p99_cents",
        )
        .orderBy("event_type")
    )


@q(
    "quantile_hist_incremental",
    oracle=f"""
    WITH ev AS (
      SELECT event_type,
             LEAST({_QH_B - 1},
                   CAST(ROUND(value * 100) AS BIGINT) // {_QH_W}) AS bin
      FROM events
    ), hist AS (
      SELECT event_type, bin, COUNT(*) AS c FROM ev GROUP BY event_type, bin
    ), cum AS (
      SELECT event_type, bin, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM hist
    ), est AS (
      SELECT event_type, n, q.q,
             -- the CROSSING bin is the unique one with
             -- cum-c < target <= cum; every other bin yields NULL
             MIN(CASE WHEN cum >= CAST(CEIL(q.q * n) AS BIGINT)
                       AND cum - c < CAST(CEIL(q.q * n) AS BIGINT)
                      THEN bin * {_QH_W}
                        + (CAST(CEIL(q.q * n) AS BIGINT) - (cum - c))
                          / CAST(c AS DOUBLE) * {_QH_W}
                 END) AS v
      FROM cum CROSS JOIN (VALUES (0.5), (0.9), (0.99)) q(q)
      GROUP BY event_type, n, q.q
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           MAX(CASE WHEN q = 0.5 THEN v END) AS p50_cents,
           MAX(CASE WHEN q = 0.9 THEN v END) AS p90_cents,
           MAX(CASE WHEN q = 0.99 THEN v END) AS p99_cents
    FROM est
    GROUP BY event_type, n
    ORDER BY event_type
    """,
    doc="INCREMENTAL quantile maintenance via a persisted MERGEABLE "
    "histogram store — closing the non-mergeable-aggregate boundary "
    "rollup_incremental_store documents (exact medians can't maintain "
    "incrementally; fixed-bin COUNTS can, exactly): per-event_type "
    f"counts over {_QH_B} fixed {_QH_W}-cent bins are built once for "
    "the history half (ts < Jan 16) and persisted; a new batch "
    "histograms ONLY ITSELF and merges by summing bin counts — "
    "associative/commutative integer partials, so the merged "
    "histogram is PROVABLY identical to a full-scan histogram, and "
    "the p50/p90/p99 estimates (deterministic linear interpolation "
    "inside the crossing bin, identical IEEE divide in both engines) "
    "are hash-oracled against the full-scan oracle — unlike a "
    "t-digest, nothing here is approximate ABOUT THE MERGE; only the "
    "bin width bounds the estimate error, and that error is gated "
    "against exact percentile_disc in tests/test_quantile_hist.py. "
    "At 100 TB this is how latency/price dashboards maintain "
    "percentiles O(batch) per refresh: the store is |keys| x "
    f"{_QH_B} small ints, the merge is a group-sum, and the estimate "
    "is a window over the tiny store — never a rescan, never a "
    "global sort.",
    tags=("stats", "sketch", "scale", "warehouse", "events"),
)
def quantile_hist_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magictables_spark.warehouse import Store

    hist, batch = _split(_t(spark, sf_dir, "events"))
    stored = Store("qhist", sf_dir, "events", f"v1:{_QH_B}x{_QH_W}").table(
        spark, "qhist", lambda: _qh_hist(hist)
    )
    return _qh_estimate(_qh_merge(stored, batch))


@q(
    "quantile_hist_store_stream",
    oracle=f"""
    WITH ev AS (
      SELECT event_type,
             LEAST({_QH_B - 1},
                   CAST(ROUND(value * 100) AS BIGINT) // {_QH_W}) AS bin
      FROM events
    ), hist AS (
      SELECT event_type, bin, COUNT(*) AS c FROM ev GROUP BY event_type, bin
    ), cum AS (
      SELECT event_type, bin, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM hist
    ), est AS (
      SELECT event_type, n, q.q,
             MIN(CASE WHEN cum >= CAST(CEIL(q.q * n) AS BIGINT)
                       AND cum - c < CAST(CEIL(q.q * n) AS BIGINT)
                      THEN bin * {_QH_W}
                        + (CAST(CEIL(q.q * n) AS BIGINT) - (cum - c))
                          / CAST(c AS DOUBLE) * {_QH_W}
                 END) AS v
      FROM cum CROSS JOIN (VALUES (0.5), (0.9), (0.99)) q(q)
      GROUP BY event_type, n, q.q
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           MAX(CASE WHEN q = 0.5 THEN v END) AS p50_cents,
           MAX(CASE WHEN q = 0.9 THEN v END) AS p90_cents,
           MAX(CASE WHEN q = 0.99 THEN v END) AS p99_cents
    FROM est
    GROUP BY event_type, n
    ORDER BY event_type
    """,
    doc="STREAMING maintenance of the mergeable histogram store — the "
    "foreachBatch twin of quantile_hist_incremental, keeping the "
    "store-maintenance symmetry complete (every persisted incremental "
    "store ships with both a batch and a streaming driver): history "
    "(ts < Jan 16) seeds the per-(event_type, bin) count store; the "
    "rest streams in 3 shards (event_id % 3) and each micro-batch "
    "histograms ONLY ITSELF and group-sums into the store (an "
    "O(|keys| x 64) integer frame — the rewrite is the size of the "
    "SKETCH, never the data). Count-merge is associative+commutative "
    "but NOT idempotent, so each batch merges into a fresh versioned "
    "store directory committed by an atomic CURRENT-pointer flip "
    "(streaming/commit.py — replay either sees its batch id in "
    "CURRENT or re-merges from the untouched pre-merge version; "
    "contrast hll_store_stream, whose register-max union needs no "
    "guard — the two slugs bracket the idempotence spectrum of "
    "mergeable state). "
    "Because merged counts are provably the full-scan histogram, the "
    "streamed store's p50/p90/p99 interpolations hash-match the "
    "full-scan oracle exactly — the whole streamed lifecycle is "
    "value-hash-checked.",
    tags=("stats", "sketch", "scale", "warehouse", "streaming", "events"),
)
def quantile_hist_store_stream(
    spark: SparkSession,
    sf_dir: str,
    _crash_after_write: frozenset[int] = frozenset(),
) -> DataFrame:
    from magictables_spark.streaming.commit import ReplaySource, VersionedStore
    from magictables_spark.warehouse import store_key

    ev = _t(spark, sf_dir, "events")
    src = ReplaySource(
        "qhstream", *store_key(sf_dir, "events", f"v2:qhs:{_QH_B}x{_QH_W}")
    )
    vs = VersionedStore(src.root)  # the count merge is not idempotent

    def _seed():
        hist, batch = _split(ev)
        vs.seed(_qh_hist(hist))
        return _shards(batch)

    src.prepare(_seed)
    src.drain(spark, ev.schema, vs.batches(_QH_SCHEMA, _qh_merge, _crash_after_write))
    return _qh_estimate(vs.read(spark, _QH_SCHEMA))


_CMS_D, _CMS_W = 4, 256  # depth x width; ~2.7k ints per store
_CMS_SCHEMA = "j bigint, col bigint, c bigint"
# the sketch row j's column for user_id: md5-derived, identical hex
# cross-engine
_CMS_COL = (
    "CAST(CONV(SUBSTRING(md5(CONCAT(CAST(j AS STRING), ':',"
    f" CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % {_CMS_W}"
)


def _cms_cells(users: DataFrame) -> DataFrame:
    """(user_id, j, col): each row's cell for every ``users`` row."""
    js = users.sparkSession.range(_CMS_D).select(F.col("id").alias("j"))
    return users.select("user_id").crossJoin(F.broadcast(js)).select(
        "user_id", "j", F.expr(_CMS_COL).alias("col")
    )


def _cms_sketch(events: DataFrame) -> DataFrame:
    return _cms_cells(events).groupBy("j", "col").agg(F.count("*").alias("c"))


def _cms_merge(sketch: DataFrame, events: DataFrame) -> DataFrame:
    """Stored counters plus a batch of ``events``: counters sum."""
    return (
        sketch.unionByName(_cms_sketch(events))
        .groupBy("j", "col")
        .agg(F.sum("c").alias("c"))
    )


def _cms_topk(sketch: DataFrame, ev: DataFrame) -> DataFrame:
    """The 15 users of ``ev`` with the largest estimates (min over the
    d rows' counters)."""
    est = (
        _cms_cells(ev.select("user_id").distinct())
        .join(sketch, ["j", "col"])
        .groupBy("user_id")
        .agg(F.min("c").cast("bigint").alias("est_count"))
    )
    return est.orderBy(F.desc("est_count"), F.asc("user_id")).limit(15)


_CMS_ORACLE = f"""
    WITH js AS (FROM range(0, {_CMS_D}) t(j)),
    cells AS (
      SELECT j.j,
             CAST(('0x' || substring(md5(CAST(j.j AS VARCHAR) || ':'
               || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % {_CMS_W}
               AS col,
             COUNT(*) AS c
      FROM events CROSS JOIN js j
      GROUP BY 1, 2
    ), users AS (
      SELECT DISTINCT user_id FROM events
    ), est AS (
      SELECT u.user_id, MIN(c.c) AS est_count
      FROM users u CROSS JOIN js j
      JOIN cells c ON c.j = j.j
        AND c.col = CAST(('0x' || substring(md5(CAST(j.j AS VARCHAR) || ':'
              || CAST(u.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % {_CMS_W}
      GROUP BY u.user_id
    )
    SELECT user_id, CAST(est_count AS BIGINT) AS est_count
    FROM est
    ORDER BY est_count DESC, user_id LIMIT 15
    """


@q(
    "cms_topk_incremental",
    oracle=_CMS_ORACLE,
    doc="INCREMENTAL heavy-hitters via a persisted COUNT-MIN sketch "
    "store (Cormode & Muthukrishnan 2005) — the frequency leg of the "
    "mergeable-sketch family (HLL = distinct counts, fixed-bin "
    f"histogram = quantiles, CMS = frequencies): a {_CMS_D} x "
    f"{_CMS_W} counter matrix (md5-derived row hashes, identical hex "
    "cross-engine) is built once for the history half of the month "
    "and persisted; a new batch sketches ONLY ITSELF and merges by "
    "summing counters — integer partials, so the merged sketch is "
    "PROVABLY the full-scan sketch and the per-key estimates "
    "(min over the d rows — the CMS query) are fully value-hash-"
    "oracled, not merely gated. The declared approximation is the "
    "ESTIMATE vs the true count (est >= truth always, inflated only "
    "by collisions — asserted in tests/test_cms.py together with the "
    "top-set overlap against exact heavy hitters). At 100 TB: the "
    "store is ~1k ints regardless of key cardinality, refresh is "
    "O(batch), and any key's frequency answers from d lookups — the "
    "reason count-min backs every streaming top-k dashboard; "
    "heavy_hitters_exact remains the exact sibling.",
    tags=("stats", "sketch", "scale", "warehouse", "events"),
)
def cms_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magictables_spark.warehouse import Store

    ev = _t(spark, sf_dir, "events")
    hist, batch = _split(ev)
    stored = Store("cms", sf_dir, "events", f"v1:{_CMS_D}x{_CMS_W}").table(
        spark, "cms", lambda: _cms_sketch(hist)
    )
    return _cms_topk(_cms_merge(stored, batch), ev)


@q(
    "cms_store_stream",
    oracle=_CMS_ORACLE,
    doc="STREAMING maintenance of the count-min sketch store — the "
    "foreachBatch twin of cms_topk_incremental (symmetry preserved "
    "across the whole mergeable-sketch family): history seeds the "
    f"{_CMS_D} x {_CMS_W} counter matrix; the rest of the month "
    "streams in 3 shards (event_id % 3) and each micro-batch sketches "
    "ONLY ITSELF then counter-sums into the store — an O(d*w) integer "
    "frame rewrite, the size of the SKETCH, never the data. Counter "
    "merge is mergeable-but-NOT-idempotent (the quantile-histogram "
    "side of the idempotence spectrum), so each batch commits through "
    "the versioned store's atomic CURRENT flip (streaming/commit.py). "
    "The streamed store is provably the full-scan "
    "sketch, so the top-15 estimates hash-match the full-scan oracle "
    "exactly; the est >= truth guarantee carries over unchanged "
    "(tests/test_cms.py).",
    tags=("stats", "sketch", "scale", "warehouse", "streaming", "events"),
)
def cms_store_stream(
    spark: SparkSession,
    sf_dir: str,
    _crash_after_write: frozenset[int] = frozenset(),
) -> DataFrame:
    from magictables_spark.streaming.commit import ReplaySource, VersionedStore
    from magictables_spark.warehouse import store_key

    ev = _t(spark, sf_dir, "events")
    src = ReplaySource(
        "cmsstream", *store_key(sf_dir, "events", f"v2:cmss:{_CMS_D}x{_CMS_W}")
    )
    vs = VersionedStore(src.root)  # the counter merge is not idempotent

    def _seed():
        hist, batch = _split(ev)
        vs.seed(_cms_sketch(hist))
        return _shards(batch)

    src.prepare(_seed)
    src.drain(spark, ev.schema, vs.batches(_CMS_SCHEMA, _cms_merge, _crash_after_write))
    return _cms_topk(vs.read(spark, _CMS_SCHEMA), ev)


def _join_view(o: DataFrame, c: DataFrame) -> DataFrame:
    """The orders-customer view rows of orders ``o`` and customers ``c``."""
    return o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey",
        F.col("c_name").alias("cust_name"),
        "c_nationkey",
        "c_mktsegment",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("price_cents"),
    )


_JOIN_VIEW_ORACLE = """
    SELECT o.o_orderkey,
           c.c_name AS cust_name,
           c.c_nationkey,
           c.c_mktsegment,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_orderkey
    """


@q(
    "join_view_incremental_store",
    oracle=_JOIN_VIEW_ORACLE,
    doc="INCREMENTAL materialized JOIN-VIEW maintenance — the join leg "
    "of the incremental-warehouse family (rollup_incremental_store "
    "maintains aggregates; this maintains an enriched orders-customer "
    "view, the shape every feature/serving pipeline materializes). "
    "The bilinear delta rule for insert-only deltas: with O = Oh u dO "
    "and C = Ch u dC (disjoint splits: o_orderkey%5, c_custkey%10), "
    "O JOIN C = (Oh JOIN Ch) u (dO JOIN C) u (Oh JOIN dC). The first "
    "term is computed ONCE and persisted bucketed+sorted on "
    "o_orderkey; each refresh computes only the two delta legs — "
    "dO JOIN C is batch-sized, and Oh JOIN dC broadcasts the tiny "
    "customer delta against the history scan (map-side, no shuffle "
    "of history) — so maintenance cost scales with the DELTAS, and "
    "dim-side changes cost one broadcast pass, never a re-join of "
    "the whole view. Keys are unique per side, so the three legs are "
    "provably disjoint and their union is row-identical to the "
    "from-scratch join the oracle computes — the entire incremental "
    "path is value-hash-checked. Same versioned warehouse machinery "
    "as rollup_incremental_store / ann_lsh_persisted.",
    tags=("tpch", "pipeline", "warehouse", "scale"),
)
def join_view_incremental_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magictables_spark.warehouse import Store

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")

    o_hist = orders.filter(F.col("o_orderkey") % 5 < 4)
    o_delta = orders.filter(F.col("o_orderkey") % 5 == 4)
    c_hist = cust.filter(F.col("c_custkey") % 10 < 9)
    c_delta = cust.filter(F.col("c_custkey") % 10 == 9)

    store = Store("joinview", sf_dir, "orders", "v2:5:10").table(
        spark,
        "joinview",
        lambda: _join_view(o_hist, c_hist),
        bucket_by=["o_orderkey"],
        n_buckets=32,
        sort_by=["o_orderkey"],
    )
    # delta legs: batch-sized dO against the full dim; history against
    # the broadcast dim delta (map-side — history never shuffles)
    leg_do = _join_view(o_delta, cust)
    leg_dc = _join_view(o_hist, F.broadcast(c_delta))
    # no final global sort: the driver canon is order-insensitive and a
    # total sort of the whole materialized view per refresh is exactly
    # the corpus-sized range exchange the incremental split exists to
    # avoid (readers needing key order rely on the bucketed+sorted
    # store layout, not a per-read sort)
    return store.unionByName(leg_do).unionByName(leg_dc)


@q(
    "join_view_store_stream",
    oracle=_JOIN_VIEW_ORACLE,
    doc="STREAMING maintenance of the materialized join view — the "
    "foreachBatch twin of join_view_incremental_store, preserving the "
    "round's store symmetry (every persisted incremental store has "
    "BOTH a batch and a streaming maintainer). The order history "
    "(o_orderkey%5 < 4) joined to the customer dim seeds the store; "
    "the delta orders stream in 3 shards, one shard per trigger "
    "(three REAL micro-batches under Trigger.AvailableNow), and each "
    "foreachBatch turn joins ONLY its batch rows against the static "
    "dim (broadcast — batch-sized work, the store is never read or "
    "rewritten) and appends to a per-batch subdirectory: overwrite-"
    "into-own-subdir makes replay under the at-least-once contract "
    "naturally idempotent with NO marker files (insert-only views "
    "need no merge — the contrast with rollup_store_stream's marker-"
    "guarded group merge is the point of the pair). Dim-side deltas "
    "are the batch twin's bilinear leg; a streamed dim would need the "
    "same broadcast pass, documented boundary. Because the legs "
    "partition the orders rows, seed + batches equal the from-scratch "
    "join — which IS the oracle, so the streamed lifecycle is "
    "value-hash-checked end to end.",
    tags=("tpch", "pipeline", "warehouse", "streaming", "scale"),
)
def join_view_store_stream(
    spark: SparkSession,
    sf_dir: str,
    _crash_after_write: frozenset[int] = frozenset(),
) -> DataFrame:
    import os

    from magictables_spark.streaming.commit import ReplaySource
    from magictables_spark.warehouse import store_key

    orders = _t(spark, sf_dir, "orders")
    src = ReplaySource("jvstream", *store_key(sf_dir, "orders", "v1:5"))
    store_dir = src.path("store")

    def _seed():
        _join_view(
            orders.filter(F.col("o_orderkey") % 5 < 4),
            _t(spark, sf_dir, "customer"),
        ).write.mode("overwrite").parquet(os.path.join(store_dir, "seed"))
        return [
            orders.filter(
                (F.col("o_orderkey") % 5 == 4) & (F.col("o_orderkey") % 3 == k)
            )
            for k in range(3)
        ]

    src.prepare(_seed)

    def _append_batch(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        cust = _t(ss, sf_dir, "customer")
        # own-subdir overwrite = idempotent replay, no marker needed
        _join_view(batch_df, F.broadcast(cust)).write.mode("overwrite").parquet(
            os.path.join(store_dir, f"b{batch_id}")
        )
        if batch_id in _crash_after_write:
            raise RuntimeError(f"injected crash after batch {batch_id} write")

    src.drain(spark, orders.schema, _append_batch)
    view_schema = (
        "o_orderkey bigint, cust_name string, c_nationkey int, "
        "c_mktsegment string, order_date string, price_cents bigint"
    )
    # unsorted like the batch twin: order-insensitive canon, and the
    # per-read total sort of the whole view is the cost the
    # incremental store exists to avoid
    return (
        spark.read.schema(view_schema)
        .option("recursiveFileLookup", "true")
        .parquet(store_dir)
    )
