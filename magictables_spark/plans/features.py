"""Feature-engineering pack (the north star names "feature engineering
pipelines" as a first-class capability; the reference's Polars surface
exposes describe/quantile/cut-style stats).

Determinism notes (registry.py rules):
- histogram buckets via pure int64 division — never the engines'
  width_bucket internals (double-division rounding at bucket edges
  differs between implementations).
- quantiles via PERCENTILE_DISC semantics (returns an actual data
  value, an exact int) — never interpolating PERCENTILE_CONT.
- min-max / z-score outputs are single IEEE ops (div, sqrt) on exact
  integer/decimal moments, so the doubles are bit-identical across
  engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from magictables_spark.plans.registry import TOTALPRICE_I, _t, q

# 24 buckets of 2.5M cents over [0, 60M) — o_totalprice tops out ~530k$
_BUCKET_CENTS = 2_500_000


@q(
    "histogram",
    oracle=f"""
    SELECT ({TOTALPRICE_I} // {_BUCKET_CENTS}) AS bucket,
           CAST(({TOTALPRICE_I} // {_BUCKET_CENTS}) * {_BUCKET_CENTS} AS DOUBLE) / 100.0 AS lo_edge,
           COUNT(*) AS n
    FROM orders
    GROUP BY 1
    """,
    doc="Fixed-width histogram of order totals (width_bucket surface, "
    "Polars cut). Bucket id from exact int64 division; one shuffle on "
    "the bucket id with map-side partial counts — at scale this is a "
    "24-row result regardless of input size.",
    tags=("stats", "features"),
)
def histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = F.expr(f"{TOTALPRICE_I} div {_BUCKET_CENTS}")
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
        .select(
            "bucket",
            ((F.col("bucket") * _BUCKET_CENTS).cast("double") / 100.0).alias("lo_edge"),
            "n",
        )
    )


@q(
    "quantiles_disc",
    oracle=f"""
    SELECT o_orderpriority,
           quantile_disc({TOTALPRICE_I}, 0.25) AS p25_cents,
           quantile_disc({TOTALPRICE_I}, 0.50) AS p50_cents,
           quantile_disc({TOTALPRICE_I}, 0.90) AS p90_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Discrete quantiles per priority class: PERCENTILE_DISC returns "
    "an actual data value (exact int64 cents) — cross-engine safe where "
    "interpolating quantiles are not. Computed by two-pass histogram "
    "refinement instead of the builtin aggregate (the iqr_outliers "
    "shape): the builtin buffers a value->count map per group sized by "
    "the number of DISTINCT values, which near-unique cents make "
    "corpus-sized; the histogram path shuffles only domain-bounded "
    "aggregates. percentile_disc(p) = the value at 1-based rank "
    "ceil(p*n) (smallest value whose cume_dist >= p) — pure integer "
    "order statistics, no interpolation, so the refinement is exactly "
    "the builtin's answer.",
    tags=("stats", "features"),
)
def quantiles_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", F.expr(TOTALPRICE_I).alias("cents")
    )
    kv = _disc_rank_values(o, "o_orderpriority", "cents", (0.25, 0.50, 0.90))
    return kv.groupBy("o_orderpriority").agg(
        F.min(F.when(F.col("p") == 0.25, F.col("v"))).cast("bigint").alias("p25_cents"),
        F.min(F.when(F.col("p") == 0.50, F.col("v"))).cast("bigint").alias("p50_cents"),
        F.min(F.when(F.col("p") == 0.90, F.col("v"))).cast("bigint").alias("p90_cents"),
    )


def _disc_rank_values(
    o: DataFrame, g: str, v: str, fracs: tuple[float, ...]
) -> DataFrame:
    """(g, p, v): for each group g and fraction p, the exact
    PERCENTILE_DISC value — the group's 1-based rank-ceil(p*n) order
    statistic (the smallest value whose cume_dist >= p; k's double
    multiply mirrors the builtin's arithmetic) — by two-pass histogram
    refinement so nothing corpus-sized is ever buffered (the
    iqr_outliers shape; the builtin aggregate buffers a value->count
    map per group sized by the number of DISTINCT values, which
    near-unique cents make corpus-sized).

    Pass 1 counts rows per (g, v>>16) bucket: occupied buckets are
    bounded by the value DOMAIN, not the corpus; a cumulative sum over
    that tiny frame locates the bucket holding each target rank.
    Pass 2 counts exact values inside only the needed buckets
    (<= 65536 distinct values each)."""
    from pyspark.sql import Window

    bucket = F.shiftright(v, 16).alias("b")
    hist = o.groupBy(g, bucket).agg(F.count("*").alias("c"))
    wb = Window.partitionBy(g).orderBy("b")
    # eager checkpoint: hist is domain-bounded and referenced by several
    # downstream frames (ntab, targets, kb) — without the barrier every
    # reference re-plans the full upstream of `o` (for callers whose
    # input is itself an aggregate, that re-runs the aggregation)
    hist = (
        hist.withColumn("cum_hi", F.sum("c").over(wb))
        .withColumn("cum_lo", F.col("cum_hi") - F.col("c"))
        .localCheckpoint(eager=True)
    )
    ntab = hist.groupBy(g).agg(F.sum("c").alias("n"))
    # 1-based target rank per fraction: k = max(1, ceil(p*n)) — the
    # same double multiply the builtin evaluates internally
    targets = ntab.select(
        g, "n", F.explode(F.array(*[F.lit(p) for p in fracs])).alias("p")
    ).withColumn(
        "k",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.ceil(F.col("p") * F.col("n").cast("double")),
        ),
    )
    # bucket holding each target rank (hist is domain-bounded — broadcast)
    kb = (
        targets.join(F.broadcast(hist), g)
        .filter((F.col("k") > F.col("cum_lo")) & (F.col("k") <= F.col("cum_hi")))
        .select(g, "p", "k", "b", "cum_lo")
    )
    needb = (
        kb.select(g, "b", "cum_lo")
        .distinct()
        .select(F.col(g).alias("nb_g"), F.col("b").alias("nb_b"), "cum_lo")
    )
    # pass 2: exact per-value counts inside the needed buckets only
    # (<= 65536 distinct values per bucket)
    vals = (
        o.join(
            F.broadcast(needb),
            (F.col(g) == F.col("nb_g")) & (F.shiftright(v, 16) == F.col("nb_b")),
        )
        .select(g, v, F.col("nb_b").alias("b"), "cum_lo")
        .groupBy(g, "b", "cum_lo", v)
        .agg(F.count("*").alias("vc"))
    )
    wv = Window.partitionBy(g, "b").orderBy(v)
    # eager checkpoint for the same reason: vals is bucket-bounded and
    # its consumers would otherwise re-run the pass-2 scan of `o`
    vals = (
        vals.withColumn("vcum_hi", F.col("cum_lo") + F.sum("vc").over(wv))
        .withColumn("vcum_lo", F.col("vcum_hi") - F.col("vc"))
        .localCheckpoint(eager=True)
    )
    # the value whose global rank interval contains k (intervals are
    # disjoint -> exactly one match per target)
    return (
        kb.select(g, "p", "k")
        .join(F.broadcast(vals), g)
        .filter((F.col("k") > F.col("vcum_lo")) & (F.col("k") <= F.col("vcum_hi")))
        .select(g, "p", F.col(v).alias("v"))
    )


@q(
    "feat_minmax",
    oracle=f"""
    SELECT o_orderkey, o_orderpriority,
           CAST(cents - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE) AS scaled
    FROM (
      SELECT o_orderkey, o_orderpriority, {TOTALPRICE_I} AS cents,
             MIN({TOTALPRICE_I}) OVER (PARTITION BY o_orderpriority) AS mn,
             MAX({TOTALPRICE_I}) OVER (PARTITION BY o_orderpriority) AS mx
      FROM orders
      WHERE o_orderkey % 5 = 0
    )
    """,
    doc="Per-group min-max scaling to [0,1] (MLlib MinMaxScaler "
    "semantics, grouped). The scale factors are exact int64 window "
    "aggregates; the output is ONE double division of two exact ints — "
    "bit-identical across engines. One shuffle on the group key.",
    tags=("features", "window"),
)
def feat_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_orderpriority")
    cents = F.expr(TOTALPRICE_I)
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            cents.alias("cents"),
            F.min(cents).over(w).alias("mn"),
            F.max(cents).over(w).alias("mx"),
        )
        .select(
            "o_orderkey",
            "o_orderpriority",
            (
                (F.col("cents") - F.col("mn")).cast("double")
                / (F.col("mx") - F.col("mn")).cast("double")
            ).alias("scaled"),
        )
    )


@q(
    "feat_zscore",
    oracle=f"""
    SELECT o_orderkey, o_orderpriority,
           (CAST(n * cents - s AS DOUBLE))
             / sqrt(CAST(n AS DOUBLE) * CAST(n * ssq - s * s AS DOUBLE)) AS z
    FROM (
      SELECT o_orderkey, o_orderpriority,
             CAST({TOTALPRICE_I} AS DECIMAL(38, 0)) AS cents,
             SUM(CAST({TOTALPRICE_I} AS DECIMAL(38, 0)))
               OVER (PARTITION BY o_orderpriority) AS s,
             SUM(CAST({TOTALPRICE_I} AS DECIMAL(38, 0)) * CAST({TOTALPRICE_I} AS DECIMAL(38, 0)))
               OVER (PARTITION BY o_orderpriority) AS ssq,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
      WHERE o_orderkey % 5 = 0
    )
    """,
    doc="Per-group z-score (MLlib StandardScaler semantics, population "
    "variance). Moments accumulate in exact DECIMAL(38) (order-"
    "independent); z = (n*x - s) / sqrt(n * (n*ssq - s^2)) touches "
    "doubles only in the final correctly-rounded div/sqrt, so results "
    "are bit-identical across engines.",
    tags=("features", "window"),
)
def feat_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_orderpriority")
    dec = F.expr(f"CAST({TOTALPRICE_I} AS DECIMAL(38, 0))")
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            dec.alias("cents"),
            F.sum(dec).over(w).alias("s"),
            F.sum(dec * dec).over(w).alias("ssq"),
            F.count("*").over(w).alias("n"),
        )
        .select(
            "o_orderkey",
            "o_orderpriority",
            (
                (F.col("n") * F.col("cents") - F.col("s")).cast("double")
                / F.sqrt(
                    F.col("n").cast("double")
                    * (F.col("n") * F.col("ssq") - F.col("s") * F.col("s")).cast(
                        "double"
                    )
                )
            ).alias("z"),
        )
    )


@q(
    "approx_quantiles",
    oracle=None,
    doc="Approximate quantiles via percentile_approx (Greenwald-Khanna "
    "sketch, accuracy=1000) — the 100 TB path where exact PERCENTILE_"
    "DISC's per-group sort is too expensive: the sketch merges "
    "map-side, one small shuffle, constant memory per group. "
    "Rows-only (sketch internals are engine-specific); closeness to "
    "the exact quantiles_disc is asserted in tests/test_features.py.",
    tags=("stats", "features", "scale"),
)
def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.expr(TOTALPRICE_I)
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.percentile_approx(cents, 0.25, 1000).alias("p25_cents"),
            F.percentile_approx(cents, 0.50, 1000).alias("p50_cents"),
            F.percentile_approx(cents, 0.90, 1000).alias("p90_cents"),
        )
    )


@q(
    "mode_per_group",
    oracle="""
    SELECT lang, source AS mode_source, n FROM (
      SELECT lang, source, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY COUNT(*) DESC, source) AS rn
      FROM documents
      GROUP BY lang, source
    ) WHERE rn = 1
    """,
    doc="Statistical mode per group (most frequent source per "
    "language), deterministic via (count DESC, value ASC) ranking. "
    "Two-level aggregate: the inner count shrinks to |lang x source| "
    "rows before the window, so the window sort is over a tiny "
    "grouped set — never the raw table.",
    tags=("stats",),
)
def mode_per_group(spark, sf_dir):
    from pyspark.sql import Window

    counted = (
        _t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("source"))
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("source").alias("mode_source"), "n")
    )


@q(
    "mad_robust_stats",
    oracle="""
    WITH med AS (
      SELECT lang,
             CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY n_chars)
                  AS BIGINT) AS med_chars
      FROM documents GROUP BY lang
    )
    SELECT d.lang, m.med_chars,
           CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (
                ORDER BY abs(d.n_chars - m.med_chars)) AS BIGINT) AS mad_chars
    FROM documents d JOIN med m ON d.lang = m.lang
    GROUP BY d.lang, m.med_chars
    """,
    doc="Median absolute deviation per group — the robust spread "
    "statistic quality filters should use instead of stddev (one "
    "10M-char outlier doc barely moves MAD but wrecks sigma). "
    "Two-pass exact: per-group integer median, broadcast back, median "
    "of absolute deviations. All integer PERCENTILE_DISC — no float "
    "drift possible.",
    tags=("stats", "quality"),
)
def mad_robust_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("lang", "n_chars")
    med = docs.groupBy("lang").agg(
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)"
        ).alias("med_chars")
    )
    return (
        docs.join(F.broadcast(med), "lang")
        .withColumn("_dev", F.abs(F.col("n_chars") - F.col("med_chars")))
        .groupBy("lang", "med_chars")
        .agg(
            F.expr(
                "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY _dev) AS BIGINT)"
            ).alias("mad_chars")
        )
    )


@q(
    "hll_sketch_rollup",
    oracle=None,  # sketch estimates; gated vs exact distincts in tests
    doc="Mergeable HLL sketch rollup (Apache DataSketches via Spark 4 "
    "hll_sketch_agg): per-day user sketches union-merged into weekly "
    "distinct-user estimates WITHOUT re-touching the events — the "
    "pattern that makes 100 TB distinct-count rollups incremental "
    "(store tiny daily sketches, merge any horizon on demand; exact "
    "COUNT DISTINCT would re-scan the raw data per horizon). Tests "
    "gate every estimate within 5% of the exact distinct count.",
    tags=("stats", "sketch", "scale"),
)
def hll_sketch_rollup(spark, sf_dir):
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week"),
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    return (
        daily.groupBy("week")
        .agg(
            F.count("*").alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_weekly_users"),
        )
        .orderBy("week")
    )


def _split(ev: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``ev`` before Jan 16 (the history a sketch store is seeded
    with), and from then on (the batch a twin merges)."""
    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    return ev.filter(F.col("ts") < split), ev.filter(F.col("ts") >= split)


def _shards(batch: DataFrame) -> list[DataFrame]:
    """A stream twin replays its batch in 3 event_id shards."""
    return [batch.filter(F.col("event_id") % 3 == k) for k in range(3)]


_HLL_SCHEMA = "event_type string, sk binary"


def _hll_sketch(events: DataFrame) -> DataFrame:
    return events.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))


def _hll_merge(sketches: DataFrame, events: DataFrame) -> DataFrame:
    """Register-max union of the stored ``sketches`` and a batch of
    ``events`` — the one merge of both HLL twins."""
    return (
        sketches.unionByName(_hll_sketch(events))
        .groupBy("event_type")
        .agg(F.hll_union_agg("sk").alias("sk"))
    )


def _hll_serve(sketches: DataFrame) -> DataFrame:
    return sketches.select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
    ).orderBy("event_type")


@q(
    "hll_rollup_incremental",
    oracle=None,  # sketch estimates; invariant-gated in tests:
    # incremental ≡ full-scan sketch EXACTLY + estimate within 5% of
    # the exact distinct count (tests/test_hll_incremental.py)
    doc="INCREMENTAL distinct-count maintenance via a persisted HLL "
    "sketch store — the MERGEABLE-sketch answer to the boundary "
    "rollup_incremental_store documents (exact NDV/medians are "
    "non-mergeable partials, so incremental exact rollups can't cover "
    "them): per-event_type HLL sketches over the history half of the "
    "month (ts < Jan 16) are built ONCE and persisted as binary "
    "columns; a new batch sketches ONLY ITSELF, and distinct-user "
    "estimates for any horizon come from hll_union_agg over the tiny "
    "stored + batch sketches — never a rescan of history. Because "
    "DataSketches HLL union is a register-wise max at fixed lgConfigK "
    "and item hashing is deterministic, the merged sketch is "
    "REGISTER-IDENTICAL to a single-pass sketch of the union — so the "
    "incremental path is invariant-gated EXACTLY equal to the "
    "full-scan estimate, and the estimate itself is gated within 5% "
    "of the exact COUNT DISTINCT (rows-only slug: sketch internals "
    "are engine-specific, so no DuckDB hash oracle by construction; "
    "`ndv_exact` is the hash-checked exact sibling). At 100 TB this "
    "is how distinct-count dashboards stay O(batch) per refresh.",
    tags=("stats", "sketch", "scale", "warehouse"),
)
def hll_rollup_incremental(spark, sf_dir):
    from magictables_spark.warehouse import Store

    hist, batch = _split(_t(spark, sf_dir, "events"))
    stored = Store("hll", sf_dir, "events", "v1").table(
        spark, "hllstore", lambda: _hll_sketch(hist)
    )
    return _hll_serve(_hll_merge(stored, batch))


@q(
    "hll_store_stream",
    oracle=None,  # sketch internals are engine-specific (same
    # declaration as hll_rollup_incremental; ndv_exact is the
    # hash-checked exact sibling). Invariant-gated in
    # tests/test_hll_stream.py: streamed store ≡ full-scan sketch
    # EXACTLY (register-identical estimates), double-merge idempotence,
    # warm-serve contract.
    doc="STREAMING maintenance of the persisted HLL sketch store — "
    "the foreachBatch twin of hll_rollup_incremental, closing the "
    "streaming side of the mergeable-sketch family: the history half "
    "of the month seeds per-event_type HLL sketches once; the rest "
    "streams in 3 shards (event_id % 3) via readStream, one shard "
    "per trigger, and each micro-batch sketches ONLY ITSELF "
    "then register-wise-maxes into the store (hll_union_agg over "
    "stored + batch sketches, O(groups) rewrite of a store that holds "
    "one tiny binary row per event_type — never a rescan of history). "
    "Two properties carry the proof: (1) HLL union at fixed lgConfigK "
    "with deterministic item hashing is associative AND commutative, "
    "so shard order doesn't matter and the streamed store is "
    "register-identical to a single-pass sketch of everything — "
    "asserted exactly in tests; (2) union is also IDEMPOTENT "
    "(merge(store ∪ batch, batch) = store ∪ batch), so foreachBatch's "
    "at-least-once replay needs NO applied-marker guard — re-merging "
    "a delivered batch is a no-op by algebra, the property that makes "
    "sketch stores the easiest incremental state to run exactly-once-"
    "correct at 100 TB. Estimates gated within 5% of exact COUNT "
    "DISTINCT (ndv_exact family).",
    tags=("stats", "sketch", "scale", "warehouse", "streaming"),
)
def hll_store_stream(
    spark,
    sf_dir,
    _crash_after_write: frozenset[int] = frozenset(),
):
    from magictables_spark.streaming.commit import ReplaySource, VersionedStore
    from magictables_spark.warehouse import store_key

    ev = _t(spark, sf_dir, "events")
    src = ReplaySource("hllstream", *store_key(sf_dir, "events", "v2:hlls"))
    # register-max union is idempotent under replay, but an in-place
    # overwrite reads the directory it rewrites: a kill mid-write would
    # corrupt the only copy of the merged history
    vs = VersionedStore(src.path("store"))

    def _seed():
        hist, batch = _split(ev)
        vs.seed(_hll_sketch(hist))
        return _shards(batch)

    src.prepare(_seed)
    src.drain(spark, ev.schema, vs.batches(_HLL_SCHEMA, _hll_merge, _crash_after_write))
    return _hll_serve(vs.read(spark, _HLL_SCHEMA))


@q(
    "winsorize_clip",
    oracle="""
    WITH bounds AS (
      SELECT lang,
             CAST(PERCENTILE_DISC(0.05) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS lo,
             CAST(PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS hi
      FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang,
           CASE WHEN d.n_chars < b.lo THEN b.lo
                WHEN d.n_chars > b.hi THEN b.hi
                ELSE d.n_chars END AS clipped_chars,
           (d.n_chars < b.lo OR d.n_chars > b.hi) AS was_clipped
    FROM documents d JOIN bounds b ON d.lang = b.lang
    WHERE d.doc_id % 10 = 0
    """,
    doc="Winsorization (Polars clip parity): cap values at per-stratum "
    "p05/p95 instead of dropping outlier rows — the transform twin of "
    "quality_band_filter's filter. Exact integer percentiles on the "
    "tiny grouped side broadcast back into a map-side clamp; the "
    "was_clipped flag gives the audit trail.",
    tags=("stats", "quality", "pipeline"),
)
def winsorize_clip(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    bounds = docs.groupBy("lang").agg(
        F.expr(
            "CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)"
        ).alias("lo"),
        F.expr(
            "CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)"
        ).alias("hi"),
    )
    return (
        docs.filter(F.col("doc_id") % 10 == 0)
        .join(F.broadcast(bounds), "lang")
        .select(
            "doc_id",
            "lang",
            F.greatest(F.least(F.col("n_chars"), F.col("hi")), F.col("lo")).alias(
                "clipped_chars"
            ),
            (
                (F.col("n_chars") < F.col("lo")) | (F.col("n_chars") > F.col("hi"))
            ).alias("was_clipped"),
        )
    )


@q(
    "target_encoding",
    oracle="""
    WITH stats AS (
      SELECT lang,
             COUNT(*) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS s
      FROM documents GROUP BY lang
    ), g AS (
      SELECT CAST(SUM(n_chars) AS BIGINT) AS gs, COUNT(*) AS gn FROM documents
    )
    SELECT lang, n,
           CAST(s AS DOUBLE) / n AS cat_mean,
           (CAST(s AS DOUBLE) + 20.0 * (CAST(gs AS DOUBLE) / gn)) / (n + 20.0)
             AS smoothed_encoding
    FROM stats CROSS JOIN g
    ORDER BY lang
    """,
    doc="Target encoding with additive smoothing: per-category mean of "
    "the target blended toward the global mean by a pseudo-count "
    "prior (m=20) — the leakage-averse categorical encoder for "
    "gradient-boosted / linear models. Sums stay exact int64; the "
    "global mean is a 1-row broadcast crossJoin, so the plan is two "
    "partial-agg shuffles regardless of corpus size.",
    tags=("features", "ml"),
)
def target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    stats = docs.groupBy("lang").agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("s")
    )
    glob = docs.agg(F.sum("n_chars").alias("gs"), F.count("*").alias("gn"))
    prior = F.col("gs").cast("double") / F.col("gn")
    return (
        stats.crossJoin(F.broadcast(glob))
        .select(
            "lang",
            "n",
            (F.col("s").cast("double") / F.col("n")).alias("cat_mean"),
            ((F.col("s").cast("double") + 20.0 * prior) / (F.col("n") + 20.0)).alias(
                "smoothed_encoding"
            ),
        )
        .orderBy("lang")
    )


@q(
    "width_bucket_binning",
    oracle="""
    -- DuckDB lacks width_bucket; this is its exact formula for
    -- lo=0, hi=4000, n=16 (left-closed bins, n+1 = overflow bucket)
    SELECT LEAST(CAST(FLOOR(n_chars / 250.0) AS BIGINT) + 1, 17) AS bin,
           COUNT(*) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS lo_chars,
           CAST(MAX(n_chars) AS BIGINT) AS hi_chars
    FROM documents
    GROUP BY 1 ORDER BY bin
    """,
    doc="Equi-width binning via the SQL-standard width_bucket (both "
    "engines implement the identical bucket formula on doubles, so "
    "bin ids match exactly) — the discretizer for feature binning "
    "and drift histograms. Map-side bucket id + one partial-agg "
    "shuffle on <= 18 groups.",
    tags=("features", "ml"),
)
def width_bucket_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .select(
            F.expr("width_bucket(CAST(n_chars AS DOUBLE), 0.0, 4000.0, 16)").alias("bin"),
            "n_chars",
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("lo_chars"),
            F.max("n_chars").alias("hi_chars"),
        )
        .orderBy("bin")
    )


@q(
    "lag_features",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, CAST(d AS VARCHAR) AS day, n,
           LAG(n, 1) OVER w AS n_lag1,
           LAG(n, 7) OVER w AS n_lag7,
           CAST(SUM(s) OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_7d
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ORDER BY event_type, d
    """,
    doc="Forecasting feature frame: per-key daily series with lag-1, "
    "lag-7 and a 7-day rolling sum in ONE window pass (all three "
    "share the same (key, date) sort, so Spark plans a single window "
    "exchange). Aggregate-then-window: the windows run over |keys| x "
    "|days| rows, never over raw events — the only survivable shape "
    "at 100 TB.",
    tags=("features", "timeseries", "ml", "window"),
)
def lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias("s"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("d")
    w7 = w.rowsBetween(-6, 0)
    return daily.select(
        "event_type",
        F.col("d").cast("string").alias("day"),
        "n",
        F.lag("n", 1).over(w).alias("n_lag1"),
        F.lag("n", 7).over(w).alias("n_lag7"),
        F.sum("s").over(w7).alias("s_7d"),
    ).orderBy("event_type", "day")
