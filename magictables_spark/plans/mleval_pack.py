"""Model-evaluation & second-tier statistics pack.

The reference's analytics surface (describe/corr via Polars,
magictable.py:214-259) stops short of the evaluation loop every
training-data pipeline closes: you score a candidate corpus with a
model, then ask *how good the scores are* — ROC-AUC against held-out
labels, gains/lift tables for threshold picking, calibration
(reliability) tables, and the two-sample / higher-moment tests that
decide whether a data shift is real. This pack adds that family as
exact-arithmetic, hash-oracled queries:

  roc_auc                 binned rank-sum AUC (ties exact) on embeddings
  welch_ttest             unequal-variance two-sample t on event values
  moments_skew_kurtosis   exact 3rd/4th standardized moments per group
  gains_decile_table      score-band gains/lift table (capture curves)
  calibration_bins        reliability table: predicted vs observed rate
  ndcg_at_k               NDCG@10 of the exact-cosine retriever
  avg_precision_at_k      AP@10 on an exact LCM(1..10) integer grid
  kaplan_meier_retention  product-limit survival over user lifetimes
  uplift_by_band          treatment-vs-control lift per score band

Determinism strategy (registry.py rules, applied hard):
- every sufficient statistic is an exact integer (cents, int64 dot
  scores, count frames); higher moments accumulate in DECIMAL(38,0) /
  HUGEINT so nothing overflows before the final conversion;
- doubles appear only in a FIXED chain of IEEE ops (*, /, sqrt are
  correctly rounded; no libm ln/exp anywhere) whose expression text is
  SHARED between the Spark plan and the DuckDB oracle via the
  fragment builders below — so AUC, t, g1/g2 hash-match bit-for-bit;
- ordered frames run over DOMAIN-bounded key sets (score bins, cents
  values, band ids), never over n rows — the mannwhitney_u scale
  pattern.

Scale notes: every slug is one keyed map-side-combining aggregate plus
a window over a domain-bounded frame. No per-row Python, no global
sort of data-sized inputs, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from magictables_spark.plans.joins_advanced import _dec_dbl_duck, _dec_dbl_spark
from magictables_spark.plans.registry import _t, q
from magictables_spark.plans.catalog import spread
from magictables_spark.plans.similarity import QUANT_DUCK, QUANT_SPARK

VAL_I = "CAST(ROUND(value * 100) AS BIGINT)"  # exact cents

__all__ = [
    "roc_auc",
    "welch_ttest",
    "moments_skew_kurtosis",
    "gains_decile_table",
    "calibration_bins",
    "ndcg_at_k",
    "avg_precision_at_k",
    "kaplan_meier_retention",
    "uplift_by_band",
]

# ---------------------------------------------------------------------------
# roc_auc — binned rank-sum AUC over embeddings
# ---------------------------------------------------------------------------

# Fixed integer "model" weights (a deterministic linear scorer): the
# Knuth multiplicative hash of the dimension index folded into
# [-500, 500]. The score is an EXACT int64 dot with the 1e6-quantized
# embedding — both engines compute identical integers.
_AUC_W = [((i + 1) * 2654435761) % 1001 - 500 for i in range(64)]
_AUC_SCORE_SPARK = "(" + " + ".join(f"q[{i}] * ({w})" for i, w in enumerate(_AUC_W)) + ")"
_AUC_SCORE_DUCK = "(" + " + ".join(f"q[{i+1}] * ({w})" for i, w in enumerate(_AUC_W)) + ")"

# Bin width 2^24: scores land in a value-domain-bounded range (unit-ish
# embeddings x |w|<=500 x 64 dims => |score| <~ 2^32), so the distinct
# bin count is a few hundred REGARDLESS of row count — the ordered
# below-count frame is bounded by the score domain, not n. Binned AUC
# (ROC from a histogram) is the standard big-data estimator; ties
# inside a bin get the exact average-rank (trapezoidal) treatment via
# the doubled-rank trick shared with mannwhitney_u.
_AUC = (
    "(CAST(r1d - n1 * (n1 + 1) AS DOUBLE)"
    " / NULLIF(2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE), 0.0))"
)


@q(
    "roc_auc",
    oracle=f"""
    WITH e AS (
      SELECT {QUANT_DUCK} AS q, label % 2 AS y FROM embeddings
    ), b AS (
      SELECT {_AUC_SCORE_DUCK} // 16777216 AS bin, y FROM e
    ), per_bin AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(COUNT(*) FILTER (WHERE y = 1) AS BIGINT) AS c1
      FROM b GROUP BY bin
    ), w AS (
      SELECT bin, c, c1,
             COALESCE(SUM(c) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM per_bin
    ), agg AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c - c1) AS BIGINT) AS n0,
             CAST(COUNT(*) AS BIGINT) AS n_bins,
             CAST(SUM(c1 * (2 * below + c + 1)) AS BIGINT) AS r1d
      FROM w
    )
    SELECT n1 AS n_pos, n0 AS n_neg, n_bins,
           {_AUC} AS auc,
           (2.0 * {_AUC} - 1.0) AS gini
    FROM agg
    """,
    doc="ROC-AUC of a fixed linear scorer against the label%2 split of "
    "`embeddings` — the held-out-eval primitive of every quality/"
    "filter-model loop. Scores are exact int64 dots (1e6-quantized "
    "vectors x fixed integer weights), binned at width 2^24 so the "
    "rank frame is bounded by the SCORE DOMAIN (a few hundred bins), "
    "not n; within-bin ties get exact average ranks via the doubled-"
    "rank collapse (AUC = U1/(n1*n0), the Mann-Whitney identity), so "
    "the result is the trapezoidal ROC area of the binned curve, "
    "reproducible bit-for-bit. Plan: one map-side-combining agg keyed "
    "on bin, one domain-bounded ordered frame, a 1-row final agg.",
    tags=("embeddings", "mleval", "stats"),
)
def roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").selectExpr(
        f"{QUANT_SPARK} AS q", "label % 2 AS y"
    )
    b = e.selectExpr(f"{_AUC_SCORE_SPARK} div 16777216 AS bin", "y")
    per_bin = b.groupBy("bin").agg(
        F.count("*").cast("long").alias("c"),
        F.count_if(F.col("y") == 1).cast("long").alias("c1"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    wdf = per_bin.withColumn("below", F.coalesce(F.sum("c").over(w), F.lit(0)))
    agg = wdf.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.expr("c - c1")).cast("long").alias("n0"),
        F.count("*").cast("long").alias("n_bins"),
        F.sum(F.expr("c1 * (2 * below + c + 1)")).cast("long").alias("r1d"),
    )
    return agg.selectExpr(
        "n1 AS n_pos",
        "n0 AS n_neg",
        "n_bins",
        f"{_AUC} AS auc",
        f"(2.0 * {_AUC} - 1.0) AS gini",
    )


# ---------------------------------------------------------------------------
# welch_ttest — unequal-variance two-sample t on purchase values
# ---------------------------------------------------------------------------


def _welch_frags(dd) -> tuple[str, str, str, str, str]:
    """(mean0, mean1, t, df, se) fragments over columns n0,n1 (BIGINT),
    s0,s1 (BIGINT sums of cents), q0,q1 (DECIMAL(38,0)/HUGEINT sums of
    squared cents); ``dd`` renders the wide integer as a
    deterministically-converted double."""
    n0d, n1d = "CAST(n0 AS DOUBLE)", "CAST(n1 AS DOUBLE)"
    m0 = f"(CAST(s0 AS DOUBLE) / {n0d})"
    m1 = f"(CAST(s1 AS DOUBLE) / {n1d})"
    v0 = f"(({dd('q0')} - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / {n0d}) / ({n0d} - 1.0))"
    v1 = f"(({dd('q1')} - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / {n1d}) / ({n1d} - 1.0))"
    a = f"({v0} / {n0d})"
    b = f"({v1} / {n1d})"
    se2 = f"({a} + {b})"
    t = f"(({m0} - {m1}) / NULLIF(sqrt({se2}), 0.0))"
    df = (
        f"(({se2} * {se2}) / NULLIF("
        f"{a} * {a} / ({n0d} - 1.0) + {b} * {b} / ({n1d} - 1.0), 0.0))"
    )
    return m0, m1, t, df, f"sqrt({se2})"


_WT_DUCK = _welch_frags(_dec_dbl_duck)
_WT_SPARK = _welch_frags(_dec_dbl_spark)


@q(
    "welch_ttest",
    oracle=f"""
    WITH s AS (
      SELECT user_id % 2 AS grp, {VAL_I} AS y
      FROM events WHERE event_type = 'purchase'
    ), agg AS (
      SELECT CAST(COUNT(*) FILTER (WHERE grp = 0) AS BIGINT) AS n0,
             CAST(COUNT(*) FILTER (WHERE grp = 1) AS BIGINT) AS n1,
             CAST(SUM(y) FILTER (WHERE grp = 0) AS BIGINT) AS s0,
             CAST(SUM(y) FILTER (WHERE grp = 1) AS BIGINT) AS s1,
             SUM(CAST(y AS HUGEINT) * y) FILTER (WHERE grp = 0) AS q0,
             SUM(CAST(y AS HUGEINT) * y) FILTER (WHERE grp = 1) AS q1
      FROM s
    )
    SELECT n0, n1,
           {_WT_DUCK[0]} AS mean0_cents,
           {_WT_DUCK[1]} AS mean1_cents,
           {_WT_DUCK[2]} AS t_stat,
           {_WT_DUCK[3]} AS df_welch,
           ABS({_WT_DUCK[2]}) > 1.959963984540054 AS significant_95
    FROM agg
    """,
    doc="Welch's unequal-variance two-sample t-test on purchase cents "
    "between the user_id%2 experiment arms — the parametric sibling "
    "of mannwhitney_u (and the default test when arm sizes/variances "
    "differ). One pass: per-arm n / sum / sum-of-squares via FILTER "
    "aggregates (sums exact BIGINT, squares in DECIMAL(38,0)//HUGEINT "
    "so ~5e17-per-million-rows never overflows), then mean, sample "
    "variance, t and the Welch-Satterthwaite df through the shared "
    "fixed IEEE chain (*, /, sqrt only — all correctly rounded, so "
    "both engines emit identical doubles). The 5%% verdict uses the "
    "normal critical value (df is in the thousands at every sf). "
    "Plan: one map-side-combining global agg, 1-row result — no "
    "shuffle of data-sized rows at any scale.",
    tags=("events", "mleval", "stats", "hypothesis-test"),
)
def welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .selectExpr("user_id % 2 AS grp", f"{VAL_I} AS y")
    )
    dec = "DECIMAL(38, 0)"
    agg = s.agg(
        F.count_if(F.col("grp") == 0).cast("long").alias("n0"),
        F.count_if(F.col("grp") == 1).cast("long").alias("n1"),
        F.sum(F.when(F.col("grp") == 0, F.col("y"))).cast("long").alias("s0"),
        F.sum(F.when(F.col("grp") == 1, F.col("y"))).cast("long").alias("s1"),
        F.sum(F.when(F.col("grp") == 0, F.expr(f"CAST(y AS {dec}) * y"))).alias("q0"),
        F.sum(F.when(F.col("grp") == 1, F.expr(f"CAST(y AS {dec}) * y"))).alias("q1"),
    )
    return agg.selectExpr(
        "n0",
        "n1",
        f"{_WT_SPARK[0]} AS mean0_cents",
        f"{_WT_SPARK[1]} AS mean1_cents",
        f"{_WT_SPARK[2]} AS t_stat",
        f"{_WT_SPARK[3]} AS df_welch",
        f"ABS({_WT_SPARK[2]}) > 1.959963984540054 AS significant_95",
    )


# ---------------------------------------------------------------------------
# moments_skew_kurtosis — exact standardized 3rd/4th moments per group
# ---------------------------------------------------------------------------


def _moment_frags(dd) -> tuple[str, str, str, str]:
    """(mean, var_pop, skewness, kurtosis_excess) over columns n
    (BIGINT), s1 (BIGINT), s2/s3/s4 (DECIMAL(38,0)/HUGEINT power
    sums). Central moments come from the raw-moment expansion in one
    fixed order; g1 = m3/m2^1.5 (via m2*sqrt(m2)), g2 = m4/m2^2 - 3."""
    nd = "CAST(n AS DOUBLE)"
    m = f"(CAST(s1 AS DOUBLE) / {nd})"
    r2 = f"({dd('s2')} / {nd})"
    r3 = f"({dd('s3')} / {nd})"
    r4 = f"({dd('s4')} / {nd})"
    m2 = f"({r2} - {m} * {m})"
    m3 = f"({r3} - 3.0 * {m} * {r2} + 2.0 * {m} * {m} * {m})"
    m4 = (
        f"({r4} - 4.0 * {m} * {r3} + 6.0 * {m} * {m} * {r2}"
        f" - 3.0 * {m} * {m} * {m} * {m})"
    )
    g1 = f"({m3} / NULLIF({m2} * sqrt({m2}), 0.0))"
    g2 = f"({m4} / NULLIF({m2} * {m2}, 0.0) - 3.0)"
    return m, m2, g1, g2


_MOM_DUCK = _moment_frags(_dec_dbl_duck)
_MOM_SPARK = _moment_frags(_dec_dbl_spark)


@q(
    "moments_skew_kurtosis",
    oracle=f"""
    WITH b AS (
      SELECT event_type, {VAL_I} AS y FROM events
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS s1,
             SUM(CAST(y AS HUGEINT) * y) AS s2,
             SUM(CAST(y AS HUGEINT) * y * y) AS s3,
             SUM(CAST(y AS HUGEINT) * y * y * y) AS s4
      FROM b GROUP BY event_type
    )
    SELECT event_type, n,
           {_MOM_DUCK[0]} AS mean_cents,
           {_MOM_DUCK[1]} AS var_pop,
           {_MOM_DUCK[2]} AS skewness,
           {_MOM_DUCK[3]} AS kurtosis_excess
    FROM s ORDER BY event_type
    """,
    doc="Exact population skewness (g1) and excess kurtosis (g2) of "
    "value-cents per event_type — the distribution-shape profile "
    "describe() stops short of, and the drift diagnostic that "
    "catches a shifted tail when means/variances still match. Power "
    "sums s1..s4 accumulate exactly (cents^4 <= 5.8e18 per row rides "
    "DECIMAL(38,0)//HUGEINT, so ~1e10 rows fit with 9 digits to "
    "spare) in ONE map-side-combining keyed agg; the central-moment "
    "expansion m2/m3/m4 and the standardized ratios run in the shared "
    "fixed IEEE chain (m2^1.5 as m2*sqrt(m2) — no libm pow). Plan: "
    "one keyed exchange, 5-row result.",
    tags=("events", "mleval", "stats"),
)
def moments_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _t(spark, sf_dir, "events").selectExpr("event_type", f"{VAL_I} AS y")
    dec = "DECIMAL(38, 0)"
    s = b.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s1"),
        F.sum(F.expr(f"CAST(y AS {dec}) * y")).alias("s2"),
        F.sum(F.expr(f"CAST(y AS {dec}) * y * y")).alias("s3"),
        F.sum(F.expr(f"CAST(y AS {dec}) * y * y * y")).alias("s4"),
    )
    return s.selectExpr(
        "event_type",
        "n",
        f"{_MOM_SPARK[0]} AS mean_cents",
        f"{_MOM_SPARK[1]} AS var_pop",
        f"{_MOM_SPARK[2]} AS skewness",
        f"{_MOM_SPARK[3]} AS kurtosis_excess",
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# gains_decile_table — score-band gains/lift (capture curve)
# ---------------------------------------------------------------------------

@q(
    "gains_decile_table",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(COUNT(*) FILTER (WHERE event_type IN ('click', 'view'))
                  AS BIGINT) AS score,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos
      FROM events GROUP BY user_id
    ), per_score AS (
      SELECT score,
             CAST(COUNT(*) AS BIGINT) AS nu,
             CAST(SUM(pos) AS BIGINT) AS np
      FROM u GROUP BY score
    ), ranked AS (
      SELECT score, nu, np,
             COALESCE(SUM(nu) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above,
             SUM(nu) OVER () AS tot_u,
             SUM(np) OVER () AS tot_p
      FROM per_score
    ), banded AS (
      SELECT CAST(above * 10 // tot_u AS BIGINT) AS band,
             CAST(SUM(nu) AS BIGINT) AS n_users,
             CAST(SUM(np) AS BIGINT) AS n_pos,
             CAST(MAX(tot_u) AS BIGINT) AS tot_u,
             CAST(MAX(tot_p) AS BIGINT) AS tot_p
      FROM ranked GROUP BY 1
    )
    SELECT band, n_users, n_pos,
           CAST(SUM(n_pos) OVER (ORDER BY band
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_pos,
           (CAST(SUM(n_pos) OVER (ORDER BY band
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            / NULLIF(CAST(tot_p AS DOUBLE), 0.0)) AS cum_capture,
           ((CAST(n_pos AS DOUBLE) / CAST(n_users AS DOUBLE))
            / NULLIF(CAST(tot_p AS DOUBLE) / CAST(tot_u AS DOUBLE), 0.0)) AS lift
    FROM banded ORDER BY band
    """,
    doc="Gains/lift table of an engagement scorer (click+view count "
    "per user) against the purchase label — the threshold-picking "
    "table every targeting/quality-cut decision reads. Bands are "
    "SCORE-GROUP deciles: users sort by score descending, and each "
    "distinct score lands wholly in the band where its group starts "
    "(above*10 div total) — the grouped-gains convention, which "
    "keeps every ordered frame bounded by the SCORE DOMAIN (event "
    "counts, a few hundred distinct values) instead of user count. "
    "cum_capture is the fraction of all positives caught at-or-above "
    "the band; lift is the band's positive rate over the base rate. "
    "All counts exact int64; the two divisions per row are the only "
    "doubles. Plan: user-keyed agg, score-keyed agg, two domain-"
    "bounded windows (<=10-row band spine at the end).",
    tags=("events", "mleval", "stats"),
)
def gains_decile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count_if(F.col("event_type").isin("click", "view"))
            .cast("long")
            .alias("score"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("pos"),
        )
    )
    per_score = u.groupBy("score").agg(
        F.count("*").cast("long").alias("nu"),
        F.sum("pos").cast("long").alias("np"),
    )
    w_above = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = per_score.select(
        "score",
        "nu",
        "np",
        F.coalesce(F.sum("nu").over(w_above), F.lit(0)).alias("above"),
        F.sum("nu").over(w_all).alias("tot_u"),
        F.sum("np").over(w_all).alias("tot_p"),
    )
    banded = ranked.groupBy(
        F.expr("CAST(above * 10 div tot_u AS BIGINT)").alias("band")
    ).agg(
        F.sum("nu").cast("long").alias("n_users"),
        F.sum("np").cast("long").alias("n_pos"),
        F.max("tot_u").cast("long").alias("tot_u"),
        F.max("tot_p").cast("long").alias("tot_p"),
    )
    w_cum = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
    return (
        banded.withColumn("cum_pos", F.sum("n_pos").over(w_cum).cast("long"))
        .selectExpr(
            "band",
            "n_users",
            "n_pos",
            "cum_pos",
            "(CAST(cum_pos AS DOUBLE) / NULLIF(CAST(tot_p AS DOUBLE), 0.0))"
            " AS cum_capture",
            "((CAST(n_pos AS DOUBLE) / CAST(n_users AS DOUBLE))"
            " / NULLIF(CAST(tot_p AS DOUBLE) / CAST(tot_u AS DOUBLE), 0.0))"
            " AS lift",
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# calibration_bins — reliability table (predicted vs observed rate)
# ---------------------------------------------------------------------------

@q(
    "calibration_bins",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(COUNT(*) FILTER (WHERE event_type IN ('click', 'view'))
                  AS BIGINT) AS s,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos
      FROM events GROUP BY user_id
    ), p AS (
      -- saturating "model probability" s/(s+5) on an exact milli grid:
      -- integer division keeps every per-user value an exact integer,
      -- so bin sums are order-independent
      SELECT CAST(s * 1000 // (s + 5) AS BIGINT) AS p_milli, pos FROM u
    ), b AS (
      SELECT p_milli // 100 AS bin,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(p_milli) AS BIGINT) AS sum_milli,
             CAST(SUM(pos) AS BIGINT) AS n_pos
      FROM p GROUP BY 1
    )
    SELECT bin, n_users, n_pos,
           (CAST(sum_milli AS DOUBLE) / (1000.0 * CAST(n_users AS DOUBLE)))
             AS avg_predicted,
           (CAST(n_pos AS DOUBLE) / CAST(n_users AS DOUBLE)) AS observed_rate,
           ((CAST(sum_milli AS DOUBLE) / (1000.0 * CAST(n_users AS DOUBLE)))
            - (CAST(n_pos AS DOUBLE) / CAST(n_users AS DOUBLE))) AS calib_gap
    FROM b ORDER BY bin
    """,
    doc="Calibration (reliability) table: users score a saturating "
    "engagement probability s/(s+5) — held on an exact integer milli "
    "grid via integer division, so the per-bin mean prediction is a "
    "ratio of exact int64 sums, never an order-dependent double sum — "
    "bucketed into 10 probability bins and compared with the observed "
    "purchase rate. calib_gap > 0 means the scorer overpredicts in "
    "that bin (the table a Platt/isotonic recalibration would consume). "
    "Plan: user-keyed agg then bin-keyed agg, both map-side-"
    "combining; <=11-row result, no windows, no data-sized sort.",
    tags=("events", "mleval", "stats"),
)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count_if(F.col("event_type").isin("click", "view"))
            .cast("long")
            .alias("s"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("pos"),
        )
    )
    p = u.selectExpr("CAST(s * 1000 div (s + 5) AS BIGINT) AS p_milli", "pos")
    b = p.groupBy(F.expr("p_milli div 100").alias("bin")).agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("p_milli").cast("long").alias("sum_milli"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    return b.selectExpr(
        "bin",
        "n_users",
        "n_pos",
        "(CAST(sum_milli AS DOUBLE) / (1000.0 * CAST(n_users AS DOUBLE)))"
        " AS avg_predicted",
        "(CAST(n_pos AS DOUBLE) / CAST(n_users AS DOUBLE)) AS observed_rate",
        "((CAST(sum_milli AS DOUBLE) / (1000.0 * CAST(n_users AS DOUBLE)))"
        " - (CAST(n_pos AS DOUBLE) / CAST(n_users AS DOUBLE))) AS calib_gap",
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# ndcg_at_k — graded retrieval quality of the exact-cosine ranker
# ---------------------------------------------------------------------------

# Literal DCG discounts 1/log2(i+1), i = 1..10: Python-computed ONCE and
# embedded as identical double literals in both engines — no libm log in
# either plan, so the weighted sums are bit-identical.
_NDCG_K = 10
# Discounts held on an exact FEMTO grid (round(1/log2(i+1) * 1e15)):
# a float addition chain proved 1-ulp engine-divergent at sf0.01
# (reassociation/FMA differences are allowed by SQL engines), so the
# weighted sums accumulate as exact int64 (<= 4.6e15 < 2^53, so even
# the final doubles are exact) and touch doubles in ONE division.
_NDCG_W_FEMTO = [
    round(1e15 / __import__("math").log2(i + 1)) for i in range(1, _NDCG_K + 1)
]
_DCG_S = "(" + " + ".join(
    f"SUM(CASE WHEN rn = {i+1} THEN rel ELSE 0 END) * {w}"
    for i, w in enumerate(_NDCG_W_FEMTO)
) + ")"
_IDCG_PREFIX = [0]
for _w in _NDCG_W_FEMTO:
    _IDCG_PREFIX.append(_IDCG_PREFIX[-1] + _w)
_IDCG_S = (
    "(CASE "
    + " ".join(
        f"WHEN n_rel = {m} THEN {_IDCG_PREFIX[m]}" for m in range(_NDCG_K)
    )
    + f" ELSE {_IDCG_PREFIX[_NDCG_K]} END)"
)
_DCG = f"(CAST({_DCG_S} AS DOUBLE) / 1e15)"


@q(
    "ndcg_at_k",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, {QUANT_DUCK} AS q, label FROM embeddings
    ), norms AS (
      SELECT vec_id, q, label,
             CAST(list_sum(list_transform(range(1, 65), i -> q[i]*q[i])) AS BIGINT) AS nrm
      FROM e
    ), scored AS (
      SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
             CASE WHEN c.label = p.label THEN 1 ELSE 0 END AS rel,
             CAST(list_sum(list_transform(range(1, 65), i -> p.q[i]*c.q[i])) AS BIGINT)
               / (sqrt(CAST(p.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cosine
      FROM norms p JOIN norms c ON p.vec_id < 5 AND c.vec_id <> p.vec_id
    ), ranked AS (
      SELECT query_id, rel,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    ), nrel AS (
      SELECT p.vec_id AS query_id,
             CAST(COUNT(*) FILTER (WHERE c.label = p.label
                                   AND c.vec_id <> p.vec_id) AS BIGINT) AS n_rel
      FROM norms p JOIN norms c ON p.vec_id < 5
      GROUP BY p.vec_id
    ), dcg AS (
      SELECT query_id, {_DCG_S} AS dcg_s
      FROM ranked WHERE rn <= {_NDCG_K} GROUP BY query_id
    )
    SELECT d.query_id, n.n_rel,
           (CAST(d.dcg_s AS DOUBLE) / 1e15) AS dcg,
           (CAST({_IDCG_S} AS DOUBLE) / 1e15) AS idcg,
           (CAST(d.dcg_s AS DOUBLE)
            / NULLIF(CAST({_IDCG_S} AS DOUBLE), 0.0)) AS ndcg
    FROM dcg d JOIN nrel n USING (query_id)
    ORDER BY query_id
    """,
    doc="NDCG@10 of the exact-cosine retriever against same-label "
    "relevance — the ranking-quality gate every retrieval/RAG change "
    "ships behind (sibling of the recall gates on the ANN family, but "
    "position-sensitive). Rankings come from exact int64-quantized "
    "dots (identical doubles => identical order, neighbor_id "
    "tie-break); the DCG discounts 1/log2(i+1) and the ideal-DCG "
    "prefix table are Python-computed INTEGER literals on an exact "
    "femto grid (round(w*1e15) — a plain double addition chain "
    "measured 1-ulp engine-divergent, and sums stay < 2^53 so even "
    "the final doubles are exact) — no libm log in either plan; "
    "doubles appear in one division, so NDCG hash-matches "
    "bit-for-bit. n_rel "
    "counts corpus-wide relevant docs (ideal ranking fills the top-k "
    "when n_rel >= k, a prefix of it otherwise — the CASE lookup). "
    "Plan: 5-probe broadcast over the candidate scan (the "
    "sim_cosine_topk shape), one window per probe partition, "
    "5-row result.",
    tags=("embeddings", "mleval", "similarity"),
)
def ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magictables_spark.plans.similarity import _dot_unrolled, _quantized

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(QUANT_SPARK).alias("q"), "label"
    )
    norms = e.withColumn("nrm", _dot_unrolled("q", "q"))
    probes = norms.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("pq"),
        F.col("label").alias("plabel"),
        F.col("nrm").alias("pnrm"),
    )
    # spread the candidate side before the 5-probe broadcast fan-out:
    # the single-split fixture scan would otherwise evaluate every
    # unrolled 64-term dot on one core; the two consumers (scored,
    # nrel) share the identical exchange subtree, so the scan+spread
    # plans once (ReusedExchange) instead of twice
    cand = norms.select(
        F.col("vec_id").alias("neighbor_id"), "q", "label", "nrm"
    ).transform(spread)
    scored = cand.join(
        F.broadcast(probes), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.when(F.col("label") == F.col("plabel"), 1).otherwise(0).alias("rel"),
        (
            _dot_unrolled("pq", "q").cast("double")
            / (F.sqrt(F.col("pnrm").cast("double")) * F.sqrt(F.col("nrm").cast("double")))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    ranked = scored.withColumn("rn", F.row_number().over(w))
    nrel = (
        cand.join(F.broadcast(probes), F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id")
        .agg(
            F.count_if(F.col("label") == F.col("plabel")).cast("long").alias("n_rel")
        )
    )
    dcg = (
        ranked.filter(F.col("rn") <= _NDCG_K)
        .groupBy("query_id")
        .agg(F.expr(f"{_DCG_S} AS dcg_s"))
    )
    return (
        dcg.join(nrel, "query_id")
        .selectExpr(
            "query_id",
            "n_rel",
            "(CAST(dcg_s AS DOUBLE) / 1e15) AS dcg",
            f"(CAST({_IDCG_S} AS DOUBLE) / 1e15) AS idcg",
            f"(CAST(dcg_s AS DOUBLE) / NULLIF(CAST({_IDCG_S} AS DOUBLE), 0.0)) AS ndcg",
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# kaplan_meier_retention — survival curve over user lifetimes
# ---------------------------------------------------------------------------

@q(
    "kaplan_meier_retention",
    oracle="""
    WITH byu AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE)) AS fd,
             MAX(CAST(ts AS DATE)) AS ld
      FROM events GROUP BY user_id
    ), mx AS (
      SELECT MAX(ld) AS mxd FROM byu
    ), u AS (
      SELECT date_diff('day', fd, ld) AS d,
             CASE WHEN ld >= mxd - INTERVAL 2 DAY THEN 0 ELSE 1 END AS ev
      FROM byu CROSS JOIN mx
    ), per_d AS (
      SELECT CAST(d AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS n_at,
             CAST(SUM(ev) AS BIGINT) AS n_events
      FROM u GROUP BY 1
    ), w AS (
      SELECT d, n_at, n_events,
             CAST(SUM(n_at) OVER (ORDER BY d DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_risk
      FROM per_d
    ), arr AS (
      SELECT list(struct_pack(
               d := d,
               f := CAST(n_risk - n_events AS DOUBLE) / CAST(n_risk AS DOUBLE)
             ) ORDER BY d) AS a
      FROM w
    )
    SELECT w.d AS lifetime_days, w.n_risk, w.n_events,
           (w.n_at - w.n_events) AS n_censored,
           list_reduce(
             list_prepend(CAST(1.0 AS DOUBLE),
               list_transform(list_filter(arr.a, x -> x.d <= w.d), x -> x.f)),
             (acc, x) -> acc * x) AS survival
    FROM w CROSS JOIN arr
    ORDER BY lifetime_days
    """,
    doc="Kaplan-Meier survival curve over user lifetimes (days between "
    "first and last event), right-censoring users still active in the "
    "final 3 days of the corpus — the retention estimator that "
    "handles not-yet-churned users correctly where naive churn rates "
    "undercount. The product-limit estimator S(d) = prod_{d'<=d} "
    "(1 - deaths/at-risk) is an ORDERED LEFT FOLD over the "
    "lifetime-day factor list (sort_array + aggregate in Spark, "
    "list(ORDER BY) + list_reduce in DuckDB): multiplication is a "
    "correctly-rounded IEEE op, so the identical fold order makes "
    "both engines emit identical doubles — no libm exp/ln laundering "
    "of the product. Every frame after the user-keyed agg is bounded "
    "by the LIFETIME-DAY DOMAIN (<= corpus-span rows, ~30): the "
    "reverse-cumulative risk window, the factor list (one tiny "
    "broadcast cross), and the fold are all constant-size at any n. "
    "Plan: one user-keyed exchange; 1-row max-date broadcast.",
    tags=("events", "mleval", "stats", "timeseries"),
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    byu = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("fd"),
            F.max(F.col("ts").cast("date")).alias("ld"),
        )
    )
    mx = byu.agg(F.max("ld").alias("mxd"))
    u = byu.crossJoin(F.broadcast(mx)).select(
        F.datediff("ld", "fd").cast("long").alias("d"),
        F.when(F.col("ld") >= F.date_sub(F.col("mxd"), 2), 0)
        .otherwise(1)
        .cast("long")
        .alias("ev"),
    )
    per_d = u.groupBy("d").agg(
        F.count("*").cast("long").alias("n_at"),
        F.sum("ev").cast("long").alias("n_events"),
    )
    w_risk = Window.orderBy(F.desc("d")).rowsBetween(Window.unboundedPreceding, 0)
    w = per_d.withColumn("n_risk", F.sum("n_at").over(w_risk).cast("long"))
    # per-day hazard factor as ONE division, gathered into the (tiny)
    # ordered factor list the product-limit fold consumes
    factors = w.select(
        "d",
        (
            (F.col("n_risk") - F.col("n_events")).cast("double")
            / F.col("n_risk").cast("double")
        ).alias("f"),
    ).agg(F.sort_array(F.collect_list(F.struct("d", "f"))).alias("a"))
    return (
        w.crossJoin(F.broadcast(factors))
        .select(
            F.col("d").alias("lifetime_days"),
            "n_risk",
            "n_events",
            (F.col("n_at") - F.col("n_events")).alias("n_censored"),
            F.expr(
                "aggregate(filter(a, x -> x.d <= d), CAST(1.0 AS DOUBLE),"
                " (acc, x) -> acc * x.f)"
            ).alias("survival"),
        )
        .orderBy("lifetime_days")
    )


# ---------------------------------------------------------------------------
# avg_precision_at_k — exact-rational mean of precision at hit ranks
# ---------------------------------------------------------------------------

# AP@10 = (1/min(n_rel,10)) * sum_{i<=10, rel_i=1} precision@i, with
# precision@i = cumrel_i / i. Every term is a rational with denominator
# i in 1..10, so scaling by LCM(1..10) = 2520 keeps the WHOLE numerator
# an exact int64: num = sum(rel_i * cumrel_i * (2520/i)); AP is then
# ONE division of exact integers — no float accumulation at all.
_AP_K = 10
_AP_LCM = 2520
_AP_NUM = (
    "CAST(SUM(rel * cumrel * (" + str(_AP_LCM) + " div rn)) AS BIGINT)"
)
_AP_NUM_DUCK = (
    "CAST(SUM(rel * cumrel * (" + str(_AP_LCM) + " // rn)) AS BIGINT)"
)


@q(
    "avg_precision_at_k",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, {QUANT_DUCK} AS q, label FROM embeddings
    ), norms AS (
      SELECT vec_id, q, label,
             CAST(list_sum(list_transform(range(1, 65), i -> q[i]*q[i])) AS BIGINT) AS nrm
      FROM e
    ), scored AS (
      SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
             CASE WHEN c.label = p.label THEN 1 ELSE 0 END AS rel,
             CAST(list_sum(list_transform(range(1, 65), i -> p.q[i]*c.q[i])) AS BIGINT)
               / (sqrt(CAST(p.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cosine
      FROM norms p JOIN norms c ON p.vec_id < 5 AND c.vec_id <> p.vec_id
    ), ranked AS (
      SELECT query_id, rel,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    ), topk AS (
      SELECT query_id, rel, rn,
             CAST(SUM(rel) OVER (PARTITION BY query_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cumrel
      FROM ranked WHERE rn <= {_AP_K}
    ), nrel AS (
      SELECT p.vec_id AS query_id,
             CAST(COUNT(*) FILTER (WHERE c.label = p.label
                                   AND c.vec_id <> p.vec_id) AS BIGINT) AS n_rel
      FROM norms p JOIN norms c ON p.vec_id < 5
      GROUP BY p.vec_id
    ), num AS (
      SELECT query_id, {_AP_NUM_DUCK} AS ap_num
      FROM topk GROUP BY query_id
    )
    SELECT n.query_id, n.n_rel,
           (CAST(ap_num AS DOUBLE)
            / CAST({_AP_LCM} * LEAST(n.n_rel, {_AP_K}) AS DOUBLE)) AS ap_at_k
    FROM num JOIN nrel n USING (query_id)
    ORDER BY query_id
    """,
    doc="Average Precision @10 of the exact-cosine retriever against "
    "same-label relevance — the area-under-PR-curve companion to "
    "ndcg_at_k (AP rewards putting ALL hits early; NDCG discounts "
    "positionally). Arithmetic is EXACT end-to-end: precision@i is "
    "the rational cumrel_i/i with i <= 10, so scaling by LCM(1..10) "
    "= 2520 makes the whole AP numerator one int64 sum "
    "(rel*cumrel*(2520 div rn)); AP emerges in ONE division of exact "
    "integers — nothing to reassociate, so both engines are "
    "bit-identical by construction. The cumrel window is bounded at "
    "10 rows per query partition. Plan: the sim_cosine_topk "
    "broadcast-probe shape + one bounded window + a 5-row join.",
    tags=("embeddings", "mleval", "similarity"),
)
def avg_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magictables_spark.plans.similarity import _dot_unrolled

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(QUANT_SPARK).alias("q"), "label"
    )
    norms = e.withColumn("nrm", _dot_unrolled("q", "q"))
    probes = norms.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("pq"),
        F.col("label").alias("plabel"),
        F.col("nrm").alias("pnrm"),
    )
    # spread the candidate side before the 5-probe broadcast fan-out:
    # both consumers (scored, nrel) reuse the one exchange (the
    # ndcg_at_k shape — ReusedExchange in the after plan)
    cand = norms.select(
        F.col("vec_id").alias("neighbor_id"), "q", "label", "nrm"
    ).transform(spread)
    joined = cand.join(F.broadcast(probes), F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.when(F.col("label") == F.col("plabel"), 1).otherwise(0).alias("rel"),
        (
            _dot_unrolled("pq", "q").cast("double")
            / (F.sqrt(F.col("pnrm").cast("double")) * F.sqrt(F.col("nrm").cast("double")))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    ranked = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _AP_K
    )
    w_cum = (
        Window.partitionBy("query_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    topk = ranked.withColumn("cumrel", F.sum("rel").over(w_cum).cast("long"))
    num = topk.groupBy("query_id").agg(F.expr(f"{_AP_NUM} AS ap_num"))
    nrel = joined.groupBy("query_id").agg(
        F.count_if(F.col("label") == F.col("plabel")).cast("long").alias("n_rel")
    )
    return (
        num.join(nrel, "query_id")
        .selectExpr(
            "query_id",
            "n_rel",
            f"(CAST(ap_num AS DOUBLE)"
            f" / CAST({_AP_LCM} * LEAST(n_rel, {_AP_K}) AS DOUBLE)) AS ap_at_k",
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# uplift_by_band — treatment-vs-control outcome lift per score band
# ---------------------------------------------------------------------------

@q(
    "uplift_by_band",
    oracle="""
    WITH u AS (
      SELECT user_id,
             user_id % 2 AS arm,
             CAST(COUNT(*) FILTER (WHERE event_type IN ('click', 'view'))
                  AS BIGINT) AS score,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos
      FROM events GROUP BY user_id
    ), per_score AS (
      SELECT score,
             CAST(COUNT(*) AS BIGINT) AS nu,
             CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS nt,
             CAST(COALESCE(SUM(pos) FILTER (WHERE arm = 1), 0) AS BIGINT) AS pt,
             CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS nc,
             CAST(COALESCE(SUM(pos) FILTER (WHERE arm = 0), 0) AS BIGINT) AS pc
      FROM u GROUP BY score
    ), ranked AS (
      SELECT score, nu, nt, pt, nc, pc,
             COALESCE(SUM(nu) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above,
             SUM(nu) OVER () AS tot_u
      FROM per_score
    )
    SELECT CAST(above * 10 // tot_u AS BIGINT) AS band,
           CAST(SUM(nt) AS BIGINT) AS n_treat,
           CAST(SUM(nc) AS BIGINT) AS n_ctrl,
           CAST(SUM(pt) AS BIGINT) AS pos_treat,
           CAST(SUM(pc) AS BIGINT) AS pos_ctrl,
           (CAST(SUM(pt) AS DOUBLE) / NULLIF(CAST(SUM(nt) AS DOUBLE), 0.0)
            - CAST(SUM(pc) AS DOUBLE) / NULLIF(CAST(SUM(nc) AS DOUBLE), 0.0)) AS uplift
    FROM ranked
    GROUP BY 1 ORDER BY band
    """,
    doc="Uplift (incremental-response) table: within each engagement-"
    "score band (the SAME arm-agnostic grouped-decile construction as "
    "gains_decile_table, so bands don't leak treatment information), "
    "the purchase-rate difference between the user_id%2 arms — the "
    "heterogeneous-treatment-effect readout a targeting policy is "
    "built from (treat the bands with positive uplift), complementing "
    "the single-number diff_in_diff (COALESCE keeps one-arm score "
    "groups at 0, matching the Spark otherwise(0) semantics). A band "
    "holding only one arm "
    "(possible at tiny scales) yields NULL uplift via NULLIF in BOTH "
    "engines rather than a divide-by-zero; rates are exact-int "
    "ratios, uplift one fixed subtraction. All ordered frames are bounded by the score "
    "domain; the final spine is <=10 bands.",
    tags=("events", "mleval", "stats", "causal"),
)
def uplift_by_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count_if(F.col("event_type").isin("click", "view"))
            .cast("long")
            .alias("score"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("pos"),
        )
        .withColumn("arm", F.expr("user_id % 2"))
    )
    per_score = u.groupBy("score").agg(
        F.count("*").cast("long").alias("nu"),
        F.count_if(F.col("arm") == 1).cast("long").alias("nt"),
        F.sum(F.when(F.col("arm") == 1, F.col("pos")).otherwise(0))
        .cast("long")
        .alias("pt"),
        F.count_if(F.col("arm") == 0).cast("long").alias("nc"),
        F.sum(F.when(F.col("arm") == 0, F.col("pos")).otherwise(0))
        .cast("long")
        .alias("pc"),
    )
    w_above = Window.orderBy(F.desc("score")).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = per_score.select(
        "score",
        "nu",
        "nt",
        "pt",
        "nc",
        "pc",
        F.coalesce(F.sum("nu").over(w_above), F.lit(0)).alias("above"),
        F.sum("nu").over(w_all).alias("tot_u"),
    )
    return (
        ranked.groupBy(F.expr("CAST(above * 10 div tot_u AS BIGINT)").alias("band"))
        .agg(
            F.sum("nt").cast("long").alias("n_treat"),
            F.sum("nc").cast("long").alias("n_ctrl"),
            F.sum("pt").cast("long").alias("pos_treat"),
            F.sum("pc").cast("long").alias("pos_ctrl"),
        )
        .selectExpr(
            "band",
            "n_treat",
            "n_ctrl",
            "pos_treat",
            "pos_ctrl",
            "(CAST(pos_treat AS DOUBLE) / NULLIF(CAST(n_treat AS DOUBLE), 0.0)"
            " - CAST(pos_ctrl AS DOUBLE) / NULLIF(CAST(n_ctrl AS DOUBLE), 0.0))"
            " AS uplift",
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# permutation_test_diff — deterministic-relabel permutation test
# ---------------------------------------------------------------------------

# 32 deterministic pseudo-permutations: each relabels users by a Knuth
# multiplicative hash of (user_id, perm) — pure int64 ops, so both
# engines assign identical arms. user_id*2654435761 <= ~4e15 « 2^63:
# no overflow; the +j*40503 stream offset decorrelates the perms.
# The arm is the hash's TOP bit: the low bit of u*ODD + j*ODD is just
# parity(u+j), which mirrors the observed split every time (caught by
# the first-principles unit test as p_value = 1.0 on a real effect).
_PERM_N = 32
_PERM_ARM_SPARK = "((user_id * 2654435761 + j * 40503) % 4294967296) div 2147483648"
_PERM_ARM_DUCK = "((user_id * 2654435761 + j * 40503) % 4294967296) // 2147483648"


@q(
    "permutation_test_diff",
    oracle=f"""
    WITH s AS (
      SELECT user_id, {VAL_I} AS y
      FROM events WHERE event_type = 'purchase'
    ), obs AS (
      SELECT CAST(SUM(y) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS s1,
             CAST(COUNT(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS n1,
             CAST(SUM(y) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS s0,
             CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n0
      FROM s
    ), perms AS (
      SELECT unnest(range(0, {_PERM_N})) AS j
    ), rel AS (
      SELECT j, {_PERM_ARM_DUCK} AS arm, y FROM s CROSS JOIN perms
    ), per_perm AS (
      SELECT j,
             CAST(SUM(y) FILTER (WHERE arm = 1) AS BIGINT) AS s1,
             CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS n1,
             CAST(SUM(y) FILTER (WHERE arm = 0) AS BIGINT) AS s0,
             CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS n0
      FROM rel GROUP BY j
    ), d AS (
      SELECT (SELECT CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                   - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM obs) AS d_obs,
             (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS d_j
      FROM per_perm
    )
    SELECT MAX(d_obs) AS diff_obs_cents,
           CAST(COUNT(*) AS BIGINT) AS n_perms,
           CAST(COUNT(*) FILTER (WHERE ABS(d_j) >= ABS(d_obs)) AS BIGINT) AS n_ge,
           ((1.0 + CAST(COUNT(*) FILTER (WHERE ABS(d_j) >= ABS(d_obs)) AS DOUBLE))
            / (1.0 + CAST(COUNT(*) AS DOUBLE))) AS p_value
    FROM d
    """,
    doc="Permutation test of the purchase-value difference between the "
    "user_id%2 arms — the assumption-free companion to welch_ttest / "
    "mannwhitney_u (and the standard validity check when neither "
    "normality nor rank assumptions hold). True random relabeling is "
    "oracle-hostile, so the 32 permutations are DETERMINISTIC "
    "pseudo-relabels: arm_j(u) = knuth_hash(u, j) % 2 — pure int64 "
    "ops both engines replay bit-for-bit (the bootstrap_ci_mean "
    "deterministic-resampling discipline). The plan is ONE map-side "
    "x32 fan-out (explode over the perm spine, no data re-scan per "
    "perm) into a 64-group exact-integer agg; per-perm mean diffs "
    "and the add-one p-value come from the shared fixed IEEE chain. "
    "At 100 TB: cost = 32x one keyed agg, zero extra scans, zero "
    "driver loops.",
    tags=("events", "mleval", "stats", "hypothesis-test"),
)
def permutation_test_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .selectExpr("user_id", f"{VAL_I} AS y")
    )
    obs = s.agg(
        F.sum(F.when(F.expr("user_id % 2 = 1"), F.col("y"))).cast("long").alias("s1"),
        F.count_if(F.expr("user_id % 2 = 1")).cast("long").alias("n1"),
        F.sum(F.when(F.expr("user_id % 2 = 0"), F.col("y"))).cast("long").alias("s0"),
        F.count_if(F.expr("user_id % 2 = 0")).cast("long").alias("n0"),
    ).selectExpr(
        "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
        " - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS d_obs"
    )
    rel = s.select(
        "user_id", "y", F.explode(F.expr(f"sequence(0, {_PERM_N - 1})")).alias("j")
    ).selectExpr("j", f"{_PERM_ARM_SPARK} AS arm", "y")
    per_perm = rel.groupBy("j").agg(
        F.sum(F.when(F.col("arm") == 1, F.col("y"))).cast("long").alias("s1"),
        F.count_if(F.col("arm") == 1).cast("long").alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("y"))).cast("long").alias("s0"),
        F.count_if(F.col("arm") == 0).cast("long").alias("n0"),
    )
    d = per_perm.selectExpr(
        "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
        " - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS d_j"
    ).crossJoin(F.broadcast(obs))
    return d.agg(
        F.max("d_obs").alias("diff_obs_cents"),
        F.count("*").cast("long").alias("n_perms"),
        F.count_if(F.expr("ABS(d_j) >= ABS(d_obs)")).cast("long").alias("n_ge"),
        F.expr(
            "((1.0 + CAST(COUNT_IF(ABS(d_j) >= ABS(d_obs)) AS DOUBLE))"
            " / (1.0 + CAST(COUNT(*) AS DOUBLE))) AS p_value"
        ),
    )


# ---------------------------------------------------------------------------
# hhi_concentration — Herfindahl concentration of activity per group
# ---------------------------------------------------------------------------

@q(
    "hhi_concentration",
    oracle=f"""
    WITH cu AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, user_id
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(c) AS BIGINT) AS total_events,
             SUM(CAST(c AS HUGEINT) * c) AS sum_sq
      FROM cu GROUP BY event_type
    )
    SELECT event_type, n_users, total_events,
           ({_dec_dbl_duck('sum_sq')}
            / (CAST(total_events AS DOUBLE) * CAST(total_events AS DOUBLE)))
             AS hhi,
           ((CAST(total_events AS DOUBLE) * CAST(total_events AS DOUBLE))
            / {_dec_dbl_duck('sum_sq')}) AS effective_users
    FROM s ORDER BY event_type
    """,
    doc="Herfindahl-Hirschman concentration of per-user activity "
    "within each event_type: HHI = sum(share_u^2) = sum(c_u^2) / "
    "(sum c_u)^2, plus its reciprocal (the 'effective number of "
    "users' — the inverse-Simpson diversity index). The skew "
    "diagnostic that tells a pipeline whether a key's traffic is a "
    "broad base or three whales (key_skew_gini's quadratic-form "
    "sibling; HHI is the one that decomposes under rollups). "
    "sum(c^2) rides DECIMAL(38,0)/HUGEINT (a 1e9-event user "
    "contributes 1e18 — int64 would overflow at one whale), entering "
    "doubles once via the deterministic hi/lo split; HHI and its "
    "reciprocal are fixed chains of those exact values. Plan: two "
    "keyed map-side-combining aggs, 5-row result.",
    tags=("events", "stats", "scale"),
)
def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    dec = "DECIMAL(38, 0)"
    s = cu.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("c").cast("long").alias("total_events"),
        F.sum(F.expr(f"CAST(c AS {dec}) * c")).alias("sum_sq"),
    )
    return s.selectExpr(
        "event_type",
        "n_users",
        "total_events",
        f"({_dec_dbl_spark('sum_sq')}"
        " / (CAST(total_events AS DOUBLE) * CAST(total_events AS DOUBLE)))"
        " AS hhi",
        "((CAST(total_events AS DOUBLE) * CAST(total_events AS DOUBLE))"
        f" / {_dec_dbl_spark('sum_sq')}) AS effective_users",
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# cramervonmises_2sample — integrated-CDF-gap drift statistic
# ---------------------------------------------------------------------------

# Two-sample Cramer-von-Mises with ties, on EXACT integers: over the
# distinct-cents frame, the CDF gap F-G = (cum1*m - cum2*n)/(n*m) is a
# rational; the integrated square sums S = sum_v (c1+c2)*(cum1*m -
# cum2*n)^2 as one DECIMAL(38,0)/HUGEINT aggregate, and
# T = n*m/(n+m)^2 * S/(n*m)^2 collapses to S/(n*m*(n+m)^2) — ONE fixed
# double chain at the end. |cum1*m - cum2*n| <= n*m, so S <=
# (n+m)*(n*m)^2: n = m = 1e7 rows/side still fits 38 digits (6.4e36);
# the ~1e8-per-side ceiling is the documented fixed-point boundary.
_CVM_T = (
    "({dd} / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    " * (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE))))"
)


@q(
    "cramervonmises_2sample",
    oracle=f"""
    WITH s AS (
      SELECT user_id % 2 AS grp, {VAL_I} AS y
      FROM events WHERE event_type = 'purchase'
    ), per_y AS (
      SELECT y,
             CAST(COUNT(*) FILTER (WHERE grp = 0) AS BIGINT) AS c1,
             CAST(COUNT(*) FILTER (WHERE grp = 1) AS BIGINT) AS c2
      FROM s GROUP BY y
    ), w AS (
      SELECT y, c1, c2,
             CAST(SUM(c1) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1,
             CAST(SUM(c2) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2
      FROM per_y
    ), tot AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
             SUM(CAST(c1 + c2 AS HUGEINT)
                 * (cum1 * (SELECT CAST(SUM(c2) AS BIGINT) FROM per_y)
                    - cum2 * (SELECT CAST(SUM(c1) AS BIGINT) FROM per_y))
                 * (cum1 * (SELECT CAST(SUM(c2) AS BIGINT) FROM per_y)
                    - cum2 * (SELECT CAST(SUM(c1) AS BIGINT) FROM per_y))) AS s_int
      FROM w
    )
    SELECT n1, n2,
           {_CVM_T.format(dd=_dec_dbl_duck('s_int'))} AS cvm_t
    FROM tot
    """,
    doc="Two-sample Cramer-von-Mises statistic on purchase cents "
    "between the user_id%2 arms — the INTEGRATED CDF-gap drift "
    "measure (ks_test_2sample takes the supremum; CvM integrates the "
    "whole squared gap, so a broad small shift that never crosses the "
    "KS threshold still registers). Tie-exact on integers: the gap at "
    "each distinct cents value is the rational (cum1*m - cum2*n)/"
    "(n*m); its weighted square sum accumulates in DECIMAL(38,0)/"
    "HUGEINT (fits two 1e7-row samples; the fixed-point ceiling is "
    "documented above) and T = S/(n*m*(n+m)^2) is ONE shared IEEE "
    "chain. The ordered frame is bounded by the VALUE DOMAIN (<=56k "
    "distinct cents), not n — the mannwhitney_u collapse. Plan: one "
    "cents-keyed agg, one domain-bounded window, a 1-row result.",
    tags=("events", "mleval", "stats", "hypothesis-test"),
)
def cramervonmises_2sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .selectExpr("user_id % 2 AS grp", f"{VAL_I} AS y")
    )
    per_y = s.groupBy("y").agg(
        F.count_if(F.col("grp") == 0).cast("long").alias("c1"),
        F.count_if(F.col("grp") == 1).cast("long").alias("c2"),
    )
    w_cum = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, 0)
    w = per_y.select(
        "y",
        "c1",
        "c2",
        F.sum("c1").over(w_cum).cast("long").alias("cum1"),
        F.sum("c2").over(w_cum).cast("long").alias("cum2"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w2 = w.withColumn("n1", F.sum("c1").over(w_all).cast("long")).withColumn(
        "n2", F.sum("c2").over(w_all).cast("long")
    )
    dec = "DECIMAL(38, 0)"
    tot = w2.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(
            F.expr(
                f"CAST(c1 + c2 AS {dec})"
                " * (cum1 * n2 - cum2 * n1) * (cum1 * n2 - cum2 * n1)"
            )
        ).alias("s_int"),
    )
    return tot.selectExpr(
        "n1",
        "n2",
        f"{_CVM_T.format(dd=_dec_dbl_spark('s_int'))} AS cvm_t",
    )


# ---------------------------------------------------------------------------
# energy_distance_2sample — pairwise-gap drift statistic, closed form
# ---------------------------------------------------------------------------

# All three pairwise-mean terms E|X-Y|, E|X-X'|, E|Y-Y'| come from ONE
# sorted pass over the distinct-value frame: for counts c_v with
# cumulative count C and cumulative value-sum S strictly below v,
# sum over pairs |a - b| = sum_v c_v * (v*C_below - S_below) doubled
# into unordered-pair form by the closed expressions below. Exact
# integers end-to-end (v*C_below <= vmax*n, summed in DECIMAL(38,0));
# the energy distance 2*Exy - Exx - Eyy is three divisions and a
# fixed chain.
def _energy_frags(dd) -> str:
    exy = f"({dd('sxy')} / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))"
    exx = f"(2.0 * {dd('sxx')} / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)))"
    eyy = f"(2.0 * {dd('syy')} / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)))"
    return f"(2.0 * {exy} - {exx} - {eyy})"


@q(
    "energy_distance_2sample",
    oracle=f"""
    WITH s AS (
      SELECT user_id % 2 AS grp, {VAL_I} AS y
      FROM events WHERE event_type = 'purchase'
    ), per_y AS (
      SELECT y,
             CAST(COUNT(*) FILTER (WHERE grp = 0) AS BIGINT) AS c1,
             CAST(COUNT(*) FILTER (WHERE grp = 1) AS BIGINT) AS c2
      FROM s GROUP BY y
    ), w AS (
      SELECT y, c1, c2,
             COALESCE(CAST(SUM(c1) OVER bw AS BIGINT), 0) AS cb1,
             COALESCE(CAST(SUM(c2) OVER bw AS BIGINT), 0) AS cb2,
             COALESCE(CAST(SUM(c1 * y) OVER bw AS BIGINT), 0) AS sb1,
             COALESCE(CAST(SUM(c2 * y) OVER bw AS BIGINT), 0) AS sb2
      FROM per_y
      WINDOW bw AS (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), tot AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c2) AS BIGINT) AS n2,
             SUM(CAST(c1 AS HUGEINT) * (y * cb2 - sb2)
                 + CAST(c2 AS HUGEINT) * (y * cb1 - sb1)) AS sxy,
             SUM(CAST(c1 AS HUGEINT) * (y * cb1 - sb1)) AS sxx,
             SUM(CAST(c2 AS HUGEINT) * (y * cb2 - sb2)) AS syy
      FROM w
    )
    SELECT n1, n2, {_energy_frags(_dec_dbl_duck)} AS energy_distance
    FROM tot
    """,
    doc="Two-sample energy distance on purchase cents (Szekely-Rizzo "
    "2*E|X-Y| - E|X-X'| - E|Y-Y'|) — zero iff the distributions are "
    "identical, the drift statistic that generalizes to embeddings "
    "where CDF tests don't. The O(n^2) pairwise means collapse to ONE "
    "sorted pass: with below-v cumulative counts/sums, sum of "
    "|a-b| over pairs = sum_v c_v*(v*C_below - S_below) — three such "
    "sums (cross, within-X doubled, within-Y doubled) accumulate "
    "exactly in DECIMAL(38,0)/HUGEINT in the same frame, and the "
    "distance is a fixed chain of three divisions. Ordered frame "
    "bounded by the VALUE DOMAIN, not n; no pair materialization "
    "anywhere. Plan: one cents-keyed agg + one domain-bounded window "
    "+ a 1-row result.",
    tags=("events", "mleval", "stats", "hypothesis-test"),
)
def energy_distance_2sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .selectExpr("user_id % 2 AS grp", f"{VAL_I} AS y")
    )
    per_y = s.groupBy("y").agg(
        F.count_if(F.col("grp") == 0).cast("long").alias("c1"),
        F.count_if(F.col("grp") == 1).cast("long").alias("c2"),
    )
    bw = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    w = per_y.select(
        "y",
        "c1",
        "c2",
        F.coalesce(F.sum("c1").over(bw), F.lit(0)).cast("long").alias("cb1"),
        F.coalesce(F.sum("c2").over(bw), F.lit(0)).cast("long").alias("cb2"),
        F.coalesce(F.sum(F.expr("c1 * y")).over(bw), F.lit(0)).cast("long").alias("sb1"),
        F.coalesce(F.sum(F.expr("c2 * y")).over(bw), F.lit(0)).cast("long").alias("sb2"),
    )
    dec = "DECIMAL(38, 0)"
    tot = w.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(
            F.expr(
                f"CAST(c1 AS {dec}) * (y * cb2 - sb2)"
                f" + CAST(c2 AS {dec}) * (y * cb1 - sb1)"
            )
        ).alias("sxy"),
        F.sum(F.expr(f"CAST(c1 AS {dec}) * (y * cb1 - sb1)")).alias("sxx"),
        F.sum(F.expr(f"CAST(c2 AS {dec}) * (y * cb2 - sb2)")).alias("syy"),
    )
    return tot.selectExpr(
        "n1", "n2", f"{_energy_frags(_dec_dbl_spark)} AS energy_distance"
    )


# ---------------------------------------------------------------------------
# brier_score_decomposition — Murphy reliability/resolution/uncertainty
# ---------------------------------------------------------------------------

# The probability bins form a FIXED domain (p_milli = s*1000//(s+5) <
# 1000 => bin 0..9), so the over-bins sums pivot into ONE left-to-right
# expression per statistic (the chi2/ANOVA fixed-vocabulary trick) —
# no SUM() over a bin frame whose accumulation order an engine could
# choose. Per-bin terms are rationals of exact integers; each enters
# doubles through the same two divisions in both engines.
_BRIER_BINS = list(range(10))


def _brier_pivots() -> tuple[str, str]:
    rel_terms, res_terms = [], []
    for k in _BRIER_BINS:
        n_k = f"CAST(n{k} AS DOUBLE)"
        gap = f"(CAST(sm{k} - 1000 * pos{k} AS DOUBLE) / (1000.0 * {n_k}))"
        rel_terms.append(f"(CASE WHEN n{k} = 0 THEN 0.0 ELSE {n_k} * {gap} * {gap} END)")
        dev = (
            f"(CAST(pos{k} AS DOUBLE) / {n_k}"
            " - CAST(pos_all AS DOUBLE) / NULLIF(CAST(n_all AS DOUBLE), 0.0))"
        )
        res_terms.append(f"(CASE WHEN n{k} = 0 THEN 0.0 ELSE {n_k} * {dev} * {dev} END)")
    return (
        "((" + " + ".join(rel_terms) + ") / NULLIF(CAST(n_all AS DOUBLE), 0.0))",
        "((" + " + ".join(res_terms) + ") / NULLIF(CAST(n_all AS DOUBLE), 0.0))",
    )


_BRIER_REL, _BRIER_RES = _brier_pivots()
_BRIER = (
    "(CAST(sq_all AS DOUBLE)"
    " / NULLIF(1000000.0 * CAST(n_all AS DOUBLE), 0.0))"
)
_BRIER_UNC = (
    "((CAST(pos_all AS DOUBLE) / NULLIF(CAST(n_all AS DOUBLE), 0.0))"
    " * (1.0 - CAST(pos_all AS DOUBLE) / NULLIF(CAST(n_all AS DOUBLE), 0.0)))"
)


def _brier_agg_cols_duck() -> str:
    cols = [
        "CAST(COUNT(*) AS BIGINT) AS n_all",
        "CAST(SUM(pos) AS BIGINT) AS pos_all",
        "CAST(SUM((p_milli - 1000 * pos) * (p_milli - 1000 * pos)) AS BIGINT) AS sq_all",
    ]
    for k in _BRIER_BINS:
        cols.append(f"CAST(COUNT(*) FILTER (WHERE bin = {k}) AS BIGINT) AS n{k}")
        cols.append(
            f"CAST(COALESCE(SUM(p_milli) FILTER (WHERE bin = {k}), 0) AS BIGINT) AS sm{k}"
        )
        cols.append(
            f"CAST(COALESCE(SUM(pos) FILTER (WHERE bin = {k}), 0) AS BIGINT) AS pos{k}"
        )
    return ",\n             ".join(cols)


@q(
    "brier_score_decomposition",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(COUNT(*) FILTER (WHERE event_type IN ('click', 'view'))
                  AS BIGINT) AS s,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos
      FROM events GROUP BY user_id
    ), p AS (
      SELECT CAST(s * 1000 // (s + 5) AS BIGINT) AS p_milli,
             CAST(s * 1000 // (s + 5) AS BIGINT) // 100 AS bin,
             pos
      FROM u
    ), agg AS (
      SELECT {_brier_agg_cols_duck()}
      FROM p
    )
    SELECT n_all AS n_users, pos_all AS n_pos,
           {_BRIER} AS brier,
           {_BRIER_REL} AS reliability,
           {_BRIER_RES} AS resolution,
           {_BRIER_UNC} AS uncertainty
    FROM agg
    """,
    doc="Brier score of the saturating engagement scorer against the "
    "purchase label, with the Murphy decomposition brier = "
    "reliability - resolution + uncertainty — the one-row summary "
    "behind calibration_bins (reliability = how far the reliability "
    "curve sits from the diagonal; resolution = how much the bins "
    "separate outcomes; uncertainty = base-rate variance). The raw "
    "Brier sum is exact int64 ((p_milli - 1000y)^2 on the milli "
    "grid); the over-bins sums exploit the FIXED 0..9 bin domain to "
    "pivot into one left-to-right expression per statistic (the "
    "chi2/ANOVA fixed-vocabulary trick), so no engine ever chooses a "
    "double accumulation order. The identity rel - res + unc equals "
    "the BINNED forecaster's Brier exactly (asserted in numpy in the "
    "unit test); the gap to the raw Brier is the within-bin "
    "variance/covariance remainder of the generalized (Stephenson) "
    "decomposition. Plan: user-keyed agg then ONE global agg (33 "
    "pivoted exact-int columns), 1-row result.",
    tags=("events", "mleval", "stats"),
)
def brier_score_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count_if(F.col("event_type").isin("click", "view"))
            .cast("long")
            .alias("s"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("pos"),
        )
    )
    p = u.selectExpr(
        "CAST(s * 1000 div (s + 5) AS BIGINT) AS p_milli",
        "CAST(s * 1000 div (s + 5) AS BIGINT) div 100 AS bin",
        "pos",
    )
    aggs = [
        F.count("*").cast("long").alias("n_all"),
        F.sum("pos").cast("long").alias("pos_all"),
        F.sum(F.expr("(p_milli - 1000 * pos) * (p_milli - 1000 * pos)"))
        .cast("long")
        .alias("sq_all"),
    ]
    for k in _BRIER_BINS:
        aggs.append(F.count_if(F.col("bin") == k).cast("long").alias(f"n{k}"))
        aggs.append(
            F.coalesce(F.sum(F.when(F.col("bin") == k, F.col("p_milli"))), F.lit(0))
            .cast("long")
            .alias(f"sm{k}")
        )
        aggs.append(
            F.coalesce(F.sum(F.when(F.col("bin") == k, F.col("pos"))), F.lit(0))
            .cast("long")
            .alias(f"pos{k}")
        )
    agg = p.agg(*aggs)
    return agg.selectExpr(
        "n_all AS n_users",
        "pos_all AS n_pos",
        f"{_BRIER} AS brier",
        f"{_BRIER_REL} AS reliability",
        f"{_BRIER_RES} AS resolution",
        f"{_BRIER_UNC} AS uncertainty",
    )


# ---------------------------------------------------------------------------
# forecast_eval_mase — scaled forecast-accuracy backtest
# ---------------------------------------------------------------------------

@q(
    "forecast_eval_mase",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM({VAL_I}) AS BIGINT) AS tot
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, day, tot,
             LAG(tot, 7) OVER w AS season_pred,
             LAG(tot, 1) OVER w AS prev_tot
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), split AS (
      SELECT event_type,
             CAST(COUNT(*) FILTER (WHERE day >= DATE '2024-01-25'
                                   AND season_pred IS NOT NULL) AS BIGINT) AS n_test,
             CAST(COALESCE(SUM(ABS(tot - season_pred))
                  FILTER (WHERE day >= DATE '2024-01-25'
                          AND season_pred IS NOT NULL), 0) AS BIGINT) AS ae_fcst,
             CAST(COUNT(*) FILTER (WHERE day < DATE '2024-01-25'
                                   AND prev_tot IS NOT NULL) AS BIGINT) AS n_train,
             CAST(COALESCE(SUM(ABS(tot - prev_tot))
                  FILTER (WHERE day < DATE '2024-01-25'
                          AND prev_tot IS NOT NULL), 0) AS BIGINT) AS ae_naive
      FROM lagged GROUP BY event_type
    )
    SELECT event_type, n_test, n_train,
           (CAST(ae_fcst AS DOUBLE) / NULLIF(CAST(n_test AS DOUBLE), 0.0))
             AS mae_forecast,
           (CAST(ae_naive AS DOUBLE) / NULLIF(CAST(n_train AS DOUBLE), 0.0))
             AS mae_naive_insample,
           ((CAST(ae_fcst AS DOUBLE) / NULLIF(CAST(n_test AS DOUBLE), 0.0))
            / NULLIF(CAST(ae_naive AS DOUBLE)
                     / NULLIF(CAST(n_train AS DOUBLE), 0.0), 0.0)) AS mase
    FROM split ORDER BY event_type
    """,
    doc="MASE forecast backtest (Hyndman-Koehler mean-absolute-scaled "
    "error) — the metric that makes forecast accuracy comparable "
    "across series of different volume, closing the eval loop for the "
    "forecasting family (ses/holt/hw/seasonal_naive produce the "
    "forecasts; this grades one): the weekly seasonal-naive predictor "
    "(lag-7 daily total) is backtested on the last corpus week, "
    "scaled by the IN-SAMPLE one-step naive MAE (lag-1, pre-cutoff) — "
    "MASE < 1 beats naive. Absolute errors are exact int64 cents "
    "sums; the three ratios are a fixed chain. Frames are per-type "
    "DAY series (<=31 rows each, keyed window); an empty split "
    "yields NULL (NULLIF) identically in both engines. The 2024-01-25 "
    "cutoff is the fixture's final week (TESTDATA contract, same "
    "anchor family as the funnel stages).",
    tags=("events", "mleval", "timeseries"),
)
def forecast_eval_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.expr(VAL_I)).cast("long").alias("tot"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "day",
        "tot",
        F.lag("tot", 7).over(w).alias("season_pred"),
        F.lag("tot", 1).over(w).alias("prev_tot"),
    )
    cutoff = "DATE '2024-01-25'"
    split = lagged.groupBy("event_type").agg(
        F.count_if(F.expr(f"day >= {cutoff} AND season_pred IS NOT NULL"))
        .cast("long")
        .alias("n_test"),
        F.coalesce(
            F.sum(
                F.when(
                    F.expr(f"day >= {cutoff} AND season_pred IS NOT NULL"),
                    F.expr("ABS(tot - season_pred)"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("ae_fcst"),
        F.count_if(F.expr(f"day < {cutoff} AND prev_tot IS NOT NULL"))
        .cast("long")
        .alias("n_train"),
        F.coalesce(
            F.sum(
                F.when(
                    F.expr(f"day < {cutoff} AND prev_tot IS NOT NULL"),
                    F.expr("ABS(tot - prev_tot)"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("ae_naive"),
    )
    return split.selectExpr(
        "event_type",
        "n_test",
        "n_train",
        "(CAST(ae_fcst AS DOUBLE) / NULLIF(CAST(n_test AS DOUBLE), 0.0))"
        " AS mae_forecast",
        "(CAST(ae_naive AS DOUBLE) / NULLIF(CAST(n_train AS DOUBLE), 0.0))"
        " AS mae_naive_insample",
        "((CAST(ae_fcst AS DOUBLE) / NULLIF(CAST(n_test AS DOUBLE), 0.0))"
        " / NULLIF(CAST(ae_naive AS DOUBLE)"
        " / NULLIF(CAST(n_train AS DOUBLE), 0.0), 0.0)) AS mase",
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# embedding_drift_by_label — centroid shift between corpus halves
# ---------------------------------------------------------------------------

# ||mu_a - mu_b||^2 per label on EXACT integers: with per-half
# coordinate sums s_a, s_b (int64 of 1e6-quantized values) and counts
# n_a, n_b, the squared centroid gap along dim i is
# (s_a[i]*n_b - s_b[i]*n_a)^2 / (n_a*n_b)^2 — the numerator sums over
# the 64 dims in HUGEINT/DECIMAL(38,0) and ONE division lands the
# distance. s*n <= 3e6*64? s[i] <= n*3e6, times n_b => ~n^2*3e6:
# 20k-vector halves give ~1.2e15, squared 1.4e30, x64 dims ~9e31 —
# inside 38 digits through ~300k vectors/label; documented ceiling.
_DRIFT_NUM_SPARK = "(" + " + ".join(
    f"CAST(sa[{i}] * nb - sb[{i}] * na AS DECIMAL(38, 0))"
    f" * (sa[{i}] * nb - sb[{i}] * na)"
    for i in range(64)
) + ")"
_DRIFT_NUM_DUCK = "(" + " + ".join(
    f"CAST(sa[{i+1}] * nb - sb[{i+1}] * na AS HUGEINT)"
    f" * (sa[{i+1}] * nb - sb[{i+1}] * na)"
    for i in range(64)
) + ")"


@q(
    "embedding_drift_by_label",
    oracle=f"""
    WITH e AS (
      SELECT label, vec_id % 2 AS half, {QUANT_DUCK} AS q FROM embeddings
    ), sums AS (
      SELECT label,
             CAST(COUNT(*) FILTER (WHERE half = 0) AS BIGINT) AS na,
             CAST(COUNT(*) FILTER (WHERE half = 1) AS BIGINT) AS nb,
             list_value(CAST(COALESCE(SUM(q[1]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[2]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[3]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[4]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[5]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[6]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[7]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[8]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[9]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[10]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[11]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[12]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[13]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[14]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[15]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[16]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[17]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[18]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[19]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[20]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[21]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[22]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[23]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[24]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[25]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[26]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[27]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[28]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[29]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[30]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[31]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[32]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[33]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[34]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[35]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[36]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[37]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[38]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[39]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[40]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[41]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[42]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[43]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[44]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[45]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[46]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[47]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[48]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[49]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[50]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[51]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[52]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[53]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[54]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[55]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[56]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[57]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[58]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[59]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[60]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[61]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[62]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[63]) FILTER (WHERE half = 0), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[64]) FILTER (WHERE half = 0), 0) AS BIGINT)) AS sa,
             list_value(CAST(COALESCE(SUM(q[1]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[2]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[3]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[4]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[5]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[6]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[7]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[8]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[9]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[10]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[11]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[12]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[13]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[14]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[15]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[16]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[17]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[18]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[19]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[20]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[21]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[22]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[23]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[24]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[25]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[26]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[27]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[28]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[29]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[30]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[31]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[32]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[33]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[34]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[35]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[36]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[37]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[38]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[39]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[40]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[41]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[42]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[43]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[44]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[45]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[46]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[47]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[48]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[49]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[50]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[51]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[52]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[53]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[54]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[55]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[56]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[57]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[58]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[59]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[60]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[61]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[62]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[63]) FILTER (WHERE half = 1), 0) AS BIGINT),
               CAST(COALESCE(SUM(q[64]) FILTER (WHERE half = 1), 0) AS BIGINT)) AS sb
      FROM e GROUP BY label
    )
    SELECT label, na, nb,
           ({_dec_dbl_duck(_DRIFT_NUM_DUCK)}
            / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
               * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / 1e12)
             AS centroid_gap_sq
    FROM sums ORDER BY label
    """,
    doc="Embedding drift per label: squared distance between the "
    "class centroids of the two corpus halves (vec_id%2 — the "
    "deterministic stand-in for train/serve snapshots) — the "
    "embedding-space drift monitor that catches a re-embedded or "
    "shifted class before a CDF test on any single scalar can. The "
    "whole statistic is exact integers until ONE division: per-dim "
    "centroid gaps cross-multiply to (sa_i*nb - sb_i*na), square and "
    "sum across 64 dims in DECIMAL(38,0)/HUGEINT (ceiling ~3e5 "
    "vectors/label, documented above), then normalize by (na*nb)^2 "
    "and the 1e12 quantization scale. The per-label coordinate sums "
    "are ONE map-side agg over the quantized arrays (vector sum = 64 "
    "independent int sums — no shuffle of vectors, only of 10 "
    "64-long sum rows). Plan: one label-keyed agg, 10-row result.",
    tags=("embeddings", "mleval", "stats", "scale"),
)
def embedding_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread before the 128-column partial aggregate: the quantize +
    # per-dimension conditional sums are the query's whole CPU and the
    # single-split fixture scan would evaluate them on one core
    e = (
        _t(spark, sf_dir, "embeddings")
        .transform(spread)
        .selectExpr("label", "vec_id % 2 AS half", f"{QUANT_SPARK} AS q")
    )
    sums = e.groupBy("label").agg(
        F.count_if(F.col("half") == 0).cast("long").alias("na"),
        F.count_if(F.col("half") == 1).cast("long").alias("nb"),
        *[
            F.coalesce(F.sum(F.when(F.col("half") == 0, F.expr(f"q[{i}]"))), F.lit(0))
            .cast("long")
            .alias(f"sa_{i}")
            for i in range(64)
        ],
        *[
            F.coalesce(F.sum(F.when(F.col("half") == 1, F.expr(f"q[{i}]"))), F.lit(0))
            .cast("long")
            .alias(f"sb_{i}")
            for i in range(64)
        ],
    ).selectExpr(
        "label",
        "na",
        "nb",
        "array(" + ", ".join(f"sa_{i}" for i in range(64)) + ") AS sa",
        "array(" + ", ".join(f"sb_{i}" for i in range(64)) + ") AS sb",
    )
    return sums.selectExpr(
        "label",
        "na",
        "nb",
        f"({_dec_dbl_spark(_DRIFT_NUM_SPARK)}"
        " / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)"
        " * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / 1e12)"
        " AS centroid_gap_sq",
    ).orderBy("label")


# ---------------------------------------------------------------------------
# mcnemar_paired — paired binary outcome test (behavior change)
# ---------------------------------------------------------------------------

@q(
    "mcnemar_paired",
    oracle="""
    WITH byu AS (
      SELECT user_id,
             CAST(MAX(CASE WHEN event_type = 'purchase' AND value > 100.0
                           AND CAST(ts AS DATE) <  DATE '2024-01-16'
                      THEN 1 ELSE 0 END) AS BIGINT) AS p1,
             CAST(MAX(CASE WHEN event_type = 'purchase' AND value > 100.0
                           AND CAST(ts AS DATE) >= DATE '2024-01-16'
                      THEN 1 ELSE 0 END) AS BIGINT) AS p2
      FROM events GROUP BY user_id
    ), cells AS (
      SELECT CAST(COUNT(*) FILTER (WHERE p1 = 1 AND p2 = 1) AS BIGINT) AS both_,
             CAST(COUNT(*) FILTER (WHERE p1 = 1 AND p2 = 0) AS BIGINT) AS only_first,
             CAST(COUNT(*) FILTER (WHERE p1 = 0 AND p2 = 1) AS BIGINT) AS only_second,
             CAST(COUNT(*) FILTER (WHERE p1 = 0 AND p2 = 0) AS BIGINT) AS neither
      FROM byu
    )
    SELECT both_, only_first, only_second, neither,
           (CAST((only_first - only_second) * (only_first - only_second) AS DOUBLE)
            / NULLIF(CAST(only_first + only_second AS DOUBLE), 0.0)) AS chi2_stat,
           ((CAST((only_first - only_second) * (only_first - only_second) AS DOUBLE)
             / NULLIF(CAST(only_first + only_second AS DOUBLE), 0.0))
            > 3.841458820694124) AS significant_95
    FROM cells
    """,
    doc="McNemar's test on PAIRED binary outcomes: did each user make "
    "a HIGH-VALUE (>100) purchase in the first vs second half-month (the within-subject "
    "before/after question chi2_independence cannot answer — it "
    "assumes independent samples; McNemar conditions on the "
    "discordant pairs only). The 2x2 concordance cells are one "
    "user-keyed agg + one global FILTER agg; the statistic "
    "(b-c)^2/(b+c) (no continuity correction) and the chi2(1) 5% "
    "verdict (literal critical value 3.8415) are a fixed chain of "
    "exact integers. NULLIF degrades the no-discordant-pairs corpus "
    "to NULL identically in both engines. Plan: two map-side aggs, "
    "1-row result at any scale.",
    tags=("events", "mleval", "stats", "hypothesis-test"),
)
def mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    byu = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    F.expr(
                        "event_type = 'purchase' AND value > 100.0"
                        " AND CAST(ts AS DATE) < DATE '2024-01-16'"
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("p1"),
            F.max(
                F.when(
                    F.expr(
                        "event_type = 'purchase' AND value > 100.0"
                        " AND CAST(ts AS DATE) >= DATE '2024-01-16'"
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("p2"),
        )
    )
    cells = byu.agg(
        F.count_if(F.expr("p1 = 1 AND p2 = 1")).cast("long").alias("both_"),
        F.count_if(F.expr("p1 = 1 AND p2 = 0")).cast("long").alias("only_first"),
        F.count_if(F.expr("p1 = 0 AND p2 = 1")).cast("long").alias("only_second"),
        F.count_if(F.expr("p1 = 0 AND p2 = 0")).cast("long").alias("neither"),
    )
    chi2 = (
        "(CAST((only_first - only_second) * (only_first - only_second) AS DOUBLE)"
        " / NULLIF(CAST(only_first + only_second AS DOUBLE), 0.0))"
    )
    return cells.selectExpr(
        "both_",
        "only_first",
        "only_second",
        "neither",
        f"{chi2} AS chi2_stat",
        f"({chi2} > 3.841458820694124) AS significant_95",
    )


# ---------------------------------------------------------------------------
# lorenz_curve_table — cumulative value-share inequality curve
# ---------------------------------------------------------------------------

@q(
    "lorenz_curve_table",
    oracle="""
    WITH u AS (
      SELECT user_id, CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY user_id
    ), per_v AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS nu FROM u GROUP BY v
    ), ranked AS (
      SELECT v, nu,
             COALESCE(SUM(nu) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below_u,
             SUM(nu) OVER () AS tot_u,
             SUM(v * nu) OVER () AS tot_v
      FROM per_v
    ), banded AS (
      SELECT CAST(below_u * 10 // tot_u AS BIGINT) AS decile,
             CAST(SUM(nu) AS BIGINT) AS n_users,
             CAST(SUM(v * nu) AS BIGINT) AS value_cents,
             CAST(MAX(tot_u) AS BIGINT) AS tot_u,
             CAST(MAX(tot_v) AS BIGINT) AS tot_v
      FROM ranked GROUP BY 1
    )
    SELECT decile, n_users, value_cents,
           (CAST(value_cents AS DOUBLE) / CAST(tot_v AS DOUBLE)) AS value_share,
           (CAST(SUM(value_cents) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            / CAST(tot_v AS DOUBLE)) AS cum_value_share
    FROM banded ORDER BY decile
    """,
    doc="Lorenz curve table: users sorted by total spend ASCENDING, "
    "grouped into value-band deciles (the gains_decile_table "
    "construction mirrored — each distinct spend value lands wholly "
    "in the band where its group starts), with each band's share and "
    "cumulative share of total value. The curve key_skew_gini "
    "summarizes to one number, materialized so 'the bottom 50%% of "
    "users hold X%% of spend' reads off a row — the whale-exposure "
    "readout capacity planning and monetization both consume. All "
    "counts/sums exact int64; two divisions per row. Ordered frames "
    "bounded by the DISTINCT-SPEND domain and the 10-row decile "
    "spine.",
    tags=("events", "stats"),
)
def lorenz_curve_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.sum(F.expr(VAL_I)).cast("long").alias("v"))
    )
    per_v = u.groupBy("v").agg(F.count("*").cast("long").alias("nu"))
    w_below = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = per_v.select(
        "v",
        "nu",
        F.coalesce(F.sum("nu").over(w_below), F.lit(0)).alias("below_u"),
        F.sum("nu").over(w_all).alias("tot_u"),
        F.sum(F.expr("v * nu")).over(w_all).alias("tot_v"),
    )
    banded = ranked.groupBy(
        F.expr("CAST(below_u * 10 div tot_u AS BIGINT)").alias("decile")
    ).agg(
        F.sum("nu").cast("long").alias("n_users"),
        F.sum(F.expr("v * nu")).cast("long").alias("value_cents"),
        F.max("tot_u").cast("long").alias("tot_u"),
        F.max("tot_v").cast("long").alias("tot_v"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        banded.withColumn(
            "cum_v", F.sum("value_cents").over(w_cum).cast("long")
        )
        .selectExpr(
            "decile",
            "n_users",
            "value_cents",
            "(CAST(value_cents AS DOUBLE) / CAST(tot_v AS DOUBLE)) AS value_share",
            "(CAST(cum_v AS DOUBLE) / CAST(tot_v AS DOUBLE)) AS cum_value_share",
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# pinball_loss_eval — quantile-forecast evaluation (P50/P90 backtest)
# ---------------------------------------------------------------------------

@q(
    "pinball_loss_eval",
    oracle=f"""
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, {VAL_I} AS y FROM events
    ), train_y AS (
      SELECT event_type, y, CAST(COUNT(*) AS BIGINT) AS c
      FROM base WHERE day < DATE '2024-01-25' GROUP BY event_type, y
    ), cum AS (
      SELECT event_type, y,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM train_y
    ), preds AS (
      SELECT event_type,
             CAST(MIN(CASE WHEN 2 * cum >= n THEN y END) AS BIGINT) AS q50,
             CAST(MIN(CASE WHEN 10 * cum >= 9 * n THEN y END) AS BIGINT) AS q90
      FROM cum GROUP BY event_type
    ), test AS (
      SELECT b.event_type, b.y, p.q50, p.q90
      FROM base b JOIN preds p USING (event_type)
      WHERE b.day >= DATE '2024-01-25'
    ), loss AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(MAX(q50) AS BIGINT) AS q50,
             CAST(MAX(q90) AS BIGINT) AS q90,
             CAST(SUM(CASE WHEN y >= q50 THEN 5 * (y - q50)
                           ELSE 5 * (q50 - y) END) AS BIGINT) AS l50x10,
             CAST(SUM(CASE WHEN y >= q90 THEN 9 * (y - q90)
                           ELSE 1 * (q90 - y) END) AS BIGINT) AS l90x10
      FROM test GROUP BY event_type
    )
    SELECT event_type, n_test, q50 AS q50_pred_cents, q90 AS q90_pred_cents,
           (CAST(l50x10 AS DOUBLE) / (10.0 * CAST(n_test AS DOUBLE)))
             AS pinball50,
           (CAST(l90x10 AS DOUBLE) / (10.0 * CAST(n_test AS DOUBLE)))
             AS pinball90
    FROM loss ORDER BY event_type
    """,
    doc="Pinball (quantile) loss backtest: the train split's exact "
    "discrete P50/P90 of value-cents per event_type serve as constant "
    "quantile forecasts for the final corpus week, scored with the "
    "losses that are MINIMIZED by true quantiles — the eval that "
    "grades approx_quantiles/quantile_hist outputs as predictors, "
    "completing the quantile family's loop the way forecast_eval_mase "
    "does the point-forecast family's. Both quantile selection "
    "(2*cum >= n, 10*cum >= 9*n — cross-multiplied integer "
    "predicates, no double quantile math) and the losses (x10-scaled "
    "integer pinball: 5/5 and 9/1 asymmetric weights) are exact "
    "int64; two divisions land the per-type means. The train "
    "quantile frame is value-domain-bounded per type; the 5-row pred "
    "dim broadcasts back into the test scan.",
    tags=("events", "mleval", "timeseries", "stats"),
)
def pinball_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "events").selectExpr(
        "event_type", "CAST(ts AS DATE) AS day", f"{VAL_I} AS y"
    )
    train_y = (
        base.filter(F.expr("day < DATE '2024-01-25'"))
        .groupBy("event_type", "y")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cum = train_y.select(
        "event_type",
        "y",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_all).cast("long").alias("n"),
    )
    preds = cum.groupBy("event_type").agg(
        F.min(F.when(F.expr("2 * cum >= n"), F.col("y"))).cast("long").alias("q50"),
        F.min(F.when(F.expr("10 * cum >= 9 * n"), F.col("y"))).cast("long").alias("q90"),
    )
    test = base.filter(F.expr("day >= DATE '2024-01-25'")).join(
        F.broadcast(preds), "event_type"
    )
    loss = test.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_test"),
        F.max("q50").cast("long").alias("q50"),
        F.max("q90").cast("long").alias("q90"),
        F.sum(
            F.expr("CASE WHEN y >= q50 THEN 5 * (y - q50) ELSE 5 * (q50 - y) END")
        )
        .cast("long")
        .alias("l50x10"),
        F.sum(
            F.expr("CASE WHEN y >= q90 THEN 9 * (y - q90) ELSE 1 * (q90 - y) END")
        )
        .cast("long")
        .alias("l90x10"),
    )
    return loss.selectExpr(
        "event_type",
        "n_test",
        "q50 AS q50_pred_cents",
        "q90 AS q90_pred_cents",
        "(CAST(l50x10 AS DOUBLE) / (10.0 * CAST(n_test AS DOUBLE))) AS pinball50",
        "(CAST(l90x10 AS DOUBLE) / (10.0 * CAST(n_test AS DOUBLE))) AS pinball90",
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# multiple_testing_bh — Benjamini-Hochberg over the per-type test family
# ---------------------------------------------------------------------------

# BH on the FIXED 5-type family at FDR q = 0.10 without any libm in
# either engine: p_(i) <= (i/5)q  <=>  |z|_(i) >= PHI^-1(1 - (i/5)q/2),
# and the five critical values are Python-stdlib literals
# (statistics.NormalDist().inv_cdf — computed once at import, embedded
# in both SQL texts).
from statistics import NormalDist  # noqa: E402

_BH_M, _BH_Q = 5, 0.10
_BH_THR = [
    NormalDist().inv_cdf(1.0 - (i / _BH_M) * _BH_Q / 2.0) for i in range(1, _BH_M + 1)
]
# exponent syntax ({t!r}e0) forces a DOUBLE literal in BOTH engines:
# a bare 17-digit decimal literal binds as DECIMAL(17,16) in DuckDB,
# whose decimal->double cast is 1 ulp off (measured) — the same class
# of issue _dec_dbl_duck exists for.
_BH_THR_CASE = (
    "(CASE rank "
    + " ".join(f"WHEN {i+1} THEN {t!r}e0" for i, t in enumerate(_BH_THR))
    + " END)"
)


@q(
    "multiple_testing_bh",
    oracle=f"""
    WITH s AS (
      SELECT event_type, user_id % 2 AS grp, {VAL_I} AS y FROM events
    ), agg AS (
      SELECT event_type,
             CAST(COUNT(*) FILTER (WHERE grp = 0) AS BIGINT) AS n0,
             CAST(COUNT(*) FILTER (WHERE grp = 1) AS BIGINT) AS n1,
             CAST(SUM(y) FILTER (WHERE grp = 0) AS BIGINT) AS s0,
             CAST(SUM(y) FILTER (WHERE grp = 1) AS BIGINT) AS s1,
             SUM(CAST(y AS HUGEINT) * y) FILTER (WHERE grp = 0) AS q0,
             SUM(CAST(y AS HUGEINT) * y) FILTER (WHERE grp = 1) AS q1
      FROM s GROUP BY event_type
    ), z AS (
      SELECT event_type, {_WT_DUCK[2]} AS z_stat FROM agg
    ), ranked AS (
      SELECT event_type, z_stat,
             CAST(ROW_NUMBER() OVER (ORDER BY ABS(z_stat) DESC, event_type)
                  AS BIGINT) AS rank
      FROM z
    ), marked AS (
      SELECT event_type, z_stat, rank,
             {_BH_THR_CASE} AS z_threshold,
             (ABS(z_stat) >= {_BH_THR_CASE}) AS passes
      FROM ranked
    ), kstar AS (
      SELECT COALESCE(MAX(rank) FILTER (WHERE passes), 0) AS k FROM marked
    )
    SELECT event_type, z_stat, rank, z_threshold,
           (rank <= (SELECT k FROM kstar)) AS rejected
    FROM marked ORDER BY event_type
    """,
    doc="Benjamini-Hochberg FDR control over the per-event-type family "
    "of arm-difference tests (5 simultaneous Welch z's at q = 0.10) — "
    "the correction every metrics platform applies before declaring "
    "any of a dashboard's K tests significant. The step-up rule runs "
    "entirely in the z domain: p_(i) <= (i/m)q iff |z|_(i) >= "
    "PHI^-1(1-(i/m)q/2), and the five critical values are stdlib-"
    "computed double LITERALS shared by both engines (no erf/CDF in "
    "either plan). Per-type z's reuse the welch_ttest exact-moment "
    "chain; the rank window and the step-up max run on the FIXED "
    "5-row family frame. Rejected = rank <= k* where k* is the "
    "largest passing rank — the step-up subtlety (a rank can be "
    "rejected without passing its own threshold) is preserved.",
    tags=("events", "mleval", "stats", "hypothesis-test"),
)
def multiple_testing_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "events").selectExpr(
        "event_type", "user_id % 2 AS grp", f"{VAL_I} AS y"
    )
    dec = "DECIMAL(38, 0)"
    agg = s.groupBy("event_type").agg(
        F.count_if(F.col("grp") == 0).cast("long").alias("n0"),
        F.count_if(F.col("grp") == 1).cast("long").alias("n1"),
        F.sum(F.when(F.col("grp") == 0, F.col("y"))).cast("long").alias("s0"),
        F.sum(F.when(F.col("grp") == 1, F.col("y"))).cast("long").alias("s1"),
        F.sum(F.when(F.col("grp") == 0, F.expr(f"CAST(y AS {dec}) * y"))).alias("q0"),
        F.sum(F.when(F.col("grp") == 1, F.expr(f"CAST(y AS {dec}) * y"))).alias("q1"),
    )
    z = agg.selectExpr("event_type", f"{_WT_SPARK[2]} AS z_stat")
    w = Window.orderBy(F.expr("ABS(z_stat)").desc(), F.col("event_type"))
    ranked = z.withColumn("rank", F.row_number().over(w).cast("long"))
    marked = ranked.selectExpr(
        "event_type",
        "z_stat",
        "rank",
        f"{_BH_THR_CASE} AS z_threshold",
        f"(ABS(z_stat) >= {_BH_THR_CASE}) AS passes",
    )
    kstar = marked.agg(
        F.coalesce(F.max(F.when(F.col("passes"), F.col("rank"))), F.lit(0)).alias("k")
    )
    return (
        marked.crossJoin(F.broadcast(kstar))
        .selectExpr(
            "event_type",
            "z_stat",
            "rank",
            "z_threshold",
            "(rank <= k) AS rejected",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# mrr_at_k — mean reciprocal rank (completes the IR-metric trio)
# ---------------------------------------------------------------------------

# Reciprocal ranks 1/i for i <= 10 on the exact 2520-LCM grid (the
# avg_precision_at_k trick): per-query first-hit rank contributes
# 2520/i exactly, the mean is ONE division.
_MRR_K = 10


@q(
    "mrr_at_k",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, {QUANT_DUCK} AS q, label FROM embeddings
    ), norms AS (
      SELECT vec_id, q, label,
             CAST(list_sum(list_transform(range(1, 65), i -> q[i]*q[i])) AS BIGINT) AS nrm
      FROM e
    ), scored AS (
      SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
             CASE WHEN c.label = p.label THEN 1 ELSE 0 END AS rel,
             CAST(list_sum(list_transform(range(1, 65), i -> p.q[i]*c.q[i])) AS BIGINT)
               / (sqrt(CAST(p.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cosine
      FROM norms p JOIN norms c ON p.vec_id < 5 AND c.vec_id <> p.vec_id
    ), ranked AS (
      SELECT query_id, rel,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    ), firsthit AS (
      SELECT query_id,
             CAST(COALESCE(MIN(CASE WHEN rel = 1 THEN rn END), 0) AS BIGINT)
               AS first_rank
      FROM ranked WHERE rn <= {_MRR_K} GROUP BY query_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) FILTER (WHERE first_rank > 0) AS BIGINT) AS n_hit,
           (CAST(SUM(CASE WHEN first_rank > 0
                          THEN 2520 // first_rank ELSE 0 END) AS DOUBLE)
            / (2520.0 * CAST(COUNT(*) AS DOUBLE))) AS mrr
    FROM firsthit
    """,
    doc="Mean reciprocal rank @10 of the exact-cosine retriever against "
    "same-label relevance — the first-answer-quality metric that "
    "completes the IR trio (AP rewards all hits early, NDCG discounts "
    "positionally, MRR cares only where the FIRST hit lands; the "
    "question-answering/navigation eval). Reciprocal ranks live on "
    "the exact LCM(1..10)=2520 integer grid (2520 div rank — the "
    "avg_precision_at_k discipline), queries with no top-10 hit "
    "contribute 0, and MRR is ONE division of exact integers. Plan: "
    "the 5-probe broadcast ranking shape + a 5-row agg.",
    tags=("embeddings", "mleval", "similarity"),
)
def mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magictables_spark.plans.similarity import _dot_unrolled

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(QUANT_SPARK).alias("q"), "label"
    )
    norms = e.withColumn("nrm", _dot_unrolled("q", "q"))
    probes = norms.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("pq"),
        F.col("label").alias("plabel"),
        F.col("nrm").alias("pnrm"),
    )
    # spread the candidate side before the 5-probe broadcast fan-out
    # (single-split fixture scan; the ndcg_at_k/sim_cosine_topk spread)
    cand = norms.select(
        F.col("vec_id").alias("neighbor_id"), "q", "label", "nrm"
    ).transform(spread)
    scored = cand.join(
        F.broadcast(probes), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.when(F.col("label") == F.col("plabel"), 1).otherwise(0).alias("rel"),
        (
            _dot_unrolled("pq", "q").cast("double")
            / (F.sqrt(F.col("pnrm").cast("double")) * F.sqrt(F.col("nrm").cast("double")))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    ranked = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _MRR_K
    )
    firsthit = ranked.groupBy("query_id").agg(
        F.coalesce(F.min(F.when(F.col("rel") == 1, F.col("rn"))), F.lit(0))
        .cast("long")
        .alias("first_rank")
    )
    return firsthit.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.count_if(F.col("first_rank") > 0).cast("long").alias("n_hit"),
        F.expr(
            "(CAST(SUM(CASE WHEN first_rank > 0"
            " THEN 2520 div first_rank ELSE 0 END) AS DOUBLE)"
            " / (2520.0 * CAST(COUNT(*) AS DOUBLE))) AS mrr"
        ),
    )


# ---------------------------------------------------------------------------
# roc_auc_sliced — per-segment AUC (the sliced-eval / fairness readout)
# ---------------------------------------------------------------------------

@q(
    "roc_auc_sliced",
    oracle=f"""
    WITH e AS (
      SELECT vec_id % 3 AS segment, {QUANT_DUCK} AS q, label % 2 AS y
      FROM embeddings
    ), b AS (
      SELECT segment, {_AUC_SCORE_DUCK} // 16777216 AS bin, y FROM e
    ), per_bin AS (
      SELECT segment, bin,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(COUNT(*) FILTER (WHERE y = 1) AS BIGINT) AS c1
      FROM b GROUP BY segment, bin
    ), w AS (
      SELECT segment, bin, c, c1,
             COALESCE(SUM(c) OVER (PARTITION BY segment ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM per_bin
    ), agg AS (
      SELECT segment,
             CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c - c1) AS BIGINT) AS n0,
             CAST(SUM(c1 * (2 * below + c + 1)) AS BIGINT) AS r1d
      FROM w GROUP BY segment
    )
    SELECT segment, n1 AS n_pos, n0 AS n_neg,
           {_AUC} AS auc
    FROM agg ORDER BY segment
    """,
    doc="Per-segment ROC-AUC of the fixed linear scorer (segments = "
    "vec_id %% 3, the deterministic stand-in for cohort/source/"
    "demographic slices) — the SLICED evaluation every model QA and "
    "fairness review runs: a global AUC can hide a segment where the "
    "scorer inverts. Same binned doubled-rank machinery as roc_auc "
    "with every frame PARTITIONED BY segment, so the rank windows "
    "stay (segment x score-domain)-bounded and the whole statistic "
    "remains exact integers until one division per segment. Plan: "
    "one (segment, bin)-keyed agg, one segment-partitioned "
    "domain-bounded window, a 3-row result.",
    tags=("embeddings", "mleval", "stats"),
)
def roc_auc_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id % 3 AS segment", f"{QUANT_SPARK} AS q", "label % 2 AS y"
    )
    b = e.selectExpr("segment", f"{_AUC_SCORE_SPARK} div 16777216 AS bin", "y")
    per_bin = b.groupBy("segment", "bin").agg(
        F.count("*").cast("long").alias("c"),
        F.count_if(F.col("y") == 1).cast("long").alias("c1"),
    )
    w = (
        Window.partitionBy("segment")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wdf = per_bin.withColumn("below", F.coalesce(F.sum("c").over(w), F.lit(0)))
    agg = wdf.groupBy("segment").agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.expr("c - c1")).cast("long").alias("n0"),
        F.sum(F.expr("c1 * (2 * below + c + 1)")).cast("long").alias("r1d"),
    )
    return agg.selectExpr(
        "segment", "n1 AS n_pos", "n0 AS n_neg", f"{_AUC} AS auc"
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# auc_store_stream — streaming maintenance of the binned-AUC histogram
# ---------------------------------------------------------------------------

@q(
    "auc_store_stream",
    oracle=f"""
    WITH e AS (
      SELECT {QUANT_DUCK} AS q, label % 2 AS y FROM embeddings
    ), b AS (
      SELECT {_AUC_SCORE_DUCK} // 16777216 AS bin, y FROM e
    ), per_bin AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(COUNT(*) FILTER (WHERE y = 1) AS BIGINT) AS c1
      FROM b GROUP BY bin
    ), w AS (
      SELECT bin, c, c1,
             COALESCE(SUM(c) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM per_bin
    ), agg AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c - c1) AS BIGINT) AS n0,
             CAST(COUNT(*) AS BIGINT) AS n_bins,
             CAST(SUM(c1 * (2 * below + c + 1)) AS BIGINT) AS r1d
      FROM w
    )
    SELECT n1 AS n_pos, n0 AS n_neg, n_bins,
           {_AUC} AS auc,
           (2.0 * {_AUC} - 1.0) AS gini
    FROM agg
    """,
    doc="STREAMING maintenance of the binned-AUC histogram — the "
    "model-monitoring shape that joins the eval family to the "
    "streaming-store symmetry (every other mergeable store — rollup, "
    "HLL, CMS, quantile-histogram — already has a foreachBatch twin): "
    "the history split (vec_id%%4 < 3) seeds a per-bin (count, "
    "positives) store; the remaining vectors stream in 3 shards "
    "(one shard per trigger under AvailableNow = 3 REAL micro-batches), "
    "each foreachBatch turn scoring ONLY its batch with the fixed "
    "int64 linear scorer, aggregating to bin partials, and merging "
    "group-wise. Per-bin (c, c1) counts are associative+commutative "
    "partials, so the merged histogram — and therefore the doubled-"
    "rank AUC served from it — is PROVABLY identical to the "
    "from-scratch computation, which IS the oracle (the roc_auc SQL "
    "verbatim): the whole streamed lifecycle is value-hash-checked. "
    "The store is SCORE-DOMAIN bounded (a few hundred bins at any n), "
    "so the per-batch rewrite is O(domain), not O(data) — the one "
    "store in the family small enough that partition-pruned rewrites "
    "would cost more than they save (contrast rollup_store_stream's "
    "day-pruned dynamic overwrite). The non-idempotent merge commits "
    "by writing a fresh store_v{batch} directory and atomically "
    "os.replace-ing the CURRENT pointer (which also records the last "
    "applied batch id) — a replayed batch either sees its id in "
    "CURRENT and skips, or re-merges from the untouched pre-merge "
    "version, so a crash between store write and commit can never "
    "double-count.",
    tags=("embeddings", "mleval", "streaming", "warehouse", "scale"),
)
def auc_store_stream(
    spark: SparkSession,
    sf_dir: str,
    _crash_after_write: frozenset[int] = frozenset(),
) -> DataFrame:
    from magictables_spark.streaming.commit import ReplaySource, VersionedStore
    from magictables_spark.warehouse import store_key

    emb = _t(spark, sf_dir, "embeddings")
    src = ReplaySource("aucstream", *store_key(sf_dir, "embeddings", "v2:4"))

    # Versioned store + atomic CURRENT pointer flip as the single
    # commit point (streaming/commit.py — the r8 ADVICE fix: the old
    # overwrite-then-marker scheme double-counted a batch replayed
    # between the two writes).
    vs = VersionedStore(src.root)

    def _bins(df: DataFrame) -> DataFrame:
        return (
            df.selectExpr(f"{QUANT_SPARK} AS q", "label % 2 AS y")
            .selectExpr(f"{_AUC_SCORE_SPARK} div 16777216 AS bin", "y")
            .groupBy("bin")
            .agg(
                F.count("*").cast("long").alias("c"),
                F.count_if(F.col("y") == 1).cast("long").alias("c1"),
            )
        )

    def _seed():
        _bins(emb.filter(F.col("vec_id") % 4 < 3)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(vs.seed_path())
        vs.init()
        return [
            emb.filter((F.col("vec_id") % 4 == 3) & (F.col("vec_id") % 3 == k))
            for k in range(3)
        ]

    src.prepare(_seed)

    store_schema = "bin bigint, c bigint, c1 bigint"

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if vs.is_applied(batch_id):  # replay of a committed batch
            return
        parts = _bins(batch_df).localCheckpoint(eager=True)
        if parts.rdd.isEmpty():
            vs.commit(batch_id, vs.read_current()[1])  # commit the no-op
            return
        ss = batch_df.sparkSession
        cur = ss.read.schema(store_schema).parquet(vs.current_path())
        merged = (
            cur.unionByName(parts)
            .groupBy("bin")
            .agg(F.sum("c").cast("long").alias("c"), F.sum("c1").cast("long").alias("c1"))
        )
        merged.coalesce(1).write.mode("overwrite").parquet(
            vs.version_path(vs.batch_version(batch_id))
        )
        if batch_id in _crash_after_write:
            # test hook: die in the ADVICE-flagged window — new store
            # version on disk, CURRENT not yet flipped
            raise RuntimeError(f"injected crash after batch {batch_id} write")
        vs.commit(batch_id)  # atomic flip + pre-merge reclaim

    src.drain(spark, emb.schema, _merge_batch)

    per_bin = spark.read.schema(store_schema).parquet(vs.current_path())
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    wdf = per_bin.withColumn("below", F.coalesce(F.sum("c").over(w), F.lit(0)))
    agg = wdf.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.expr("c - c1")).cast("long").alias("n0"),
        F.count("*").cast("long").alias("n_bins"),
        F.sum(F.expr("c1 * (2 * below + c + 1)")).cast("long").alias("r1d"),
    )
    return agg.selectExpr(
        "n1 AS n_pos",
        "n0 AS n_neg",
        "n_bins",
        f"{_AUC} AS auc",
        f"(2.0 * {_AUC} - 1.0) AS gini",
    )


# ---------------------------------------------------------------------------
# roc_curve_table — the materialized ROC operating points behind roc_auc
# ---------------------------------------------------------------------------

@q(
    "roc_curve_table",
    oracle=f"""
    WITH e AS (
      SELECT {QUANT_DUCK} AS q, label % 2 AS y FROM embeddings
    ), b AS (
      SELECT {_AUC_SCORE_DUCK} // 16777216 AS bin, y FROM e
    ), per_bin AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(COUNT(*) FILTER (WHERE y = 1) AS BIGINT) AS c1
      FROM b GROUP BY bin
    ), cum AS (
      -- predict positive when score >= threshold: descending cumulatives
      SELECT bin,
             CAST(SUM(c1) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
             CAST(SUM(c - c1) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
             CAST(SUM(c1) OVER () AS BIGINT) AS p,
             CAST(SUM(c - c1) OVER () AS BIGINT) AS n
      FROM per_bin
    )
    SELECT bin AS threshold_bin, tp, fp,
           (CAST(tp AS DOUBLE) / NULLIF(CAST(p AS DOUBLE), 0.0)) AS tpr,
           (CAST(fp AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0.0)) AS fpr,
           (CAST(tp AS DOUBLE) / NULLIF(CAST(tp + fp AS DOUBLE), 0.0))
             AS precision_
    FROM cum ORDER BY threshold_bin DESC
    """,
    doc="The materialized ROC/PR operating points behind roc_auc: one "
    "row per score-bin threshold ('predict positive when score >= "
    "threshold') with exact TP/FP counts and TPR/FPR/precision — the "
    "table a threshold-picking decision or a plotted ROC curve "
    "actually consumes, where the AUC scalar only summarizes. "
    "Descending cumulative sums over the same score-domain-bounded "
    "bin frame (a few hundred rows at any n); counts exact int64, "
    "three divisions per row. precision_ carries the trailing "
    "underscore to dodge reserved-word friction in both engines.",
    tags=("embeddings", "mleval", "stats"),
)
def roc_curve_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").selectExpr(
        f"{QUANT_SPARK} AS q", "label % 2 AS y"
    )
    b = e.selectExpr(f"{_AUC_SCORE_SPARK} div 16777216 AS bin", "y")
    per_bin = b.groupBy("bin").agg(
        F.count("*").cast("long").alias("c"),
        F.count_if(F.col("y") == 1).cast("long").alias("c1"),
    )
    w_desc = Window.orderBy(F.desc("bin")).rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = per_bin.select(
        "bin",
        F.sum("c1").over(w_desc).cast("long").alias("tp"),
        F.sum(F.expr("c - c1")).over(w_desc).cast("long").alias("fp"),
        F.sum("c1").over(w_all).cast("long").alias("p"),
        F.sum(F.expr("c - c1")).over(w_all).cast("long").alias("n"),
    )
    return cum.selectExpr(
        "bin AS threshold_bin",
        "tp",
        "fp",
        "(CAST(tp AS DOUBLE) / NULLIF(CAST(p AS DOUBLE), 0.0)) AS tpr",
        "(CAST(fp AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0.0)) AS fpr",
        "(CAST(tp AS DOUBLE) / NULLIF(CAST(tp + fp AS DOUBLE), 0.0)) AS precision_",
    ).orderBy(F.desc("threshold_bin"))


# ---------------------------------------------------------------------------
# qq_plot_table — quantile-quantile comparison between the two arms
# ---------------------------------------------------------------------------

@q(
    "qq_plot_table",
    oracle=f"""
    WITH s AS (
      SELECT user_id % 2 AS grp, {VAL_I} AS y
      FROM events WHERE event_type = 'purchase'
    ), per_y AS (
      SELECT grp, y, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY grp, y
    ), cum AS (
      SELECT grp, y,
             CAST(SUM(c) OVER (PARTITION BY grp ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
             CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS tw
      FROM per_y
    ), levels AS (
      SELECT unnest(range(1, 20)) AS lv
    ), qs AS (
      SELECT l.lv,
             CAST(MIN(CASE WHEN c.grp = 0 AND 20 * c.cw >= l.lv * c.tw
                           THEN c.y END) AS BIGINT) AS q0,
             CAST(MIN(CASE WHEN c.grp = 1 AND 20 * c.cw >= l.lv * c.tw
                           THEN c.y END) AS BIGINT) AS q1
      FROM levels l CROSS JOIN cum c
      GROUP BY l.lv
    )
    SELECT lv * 5 AS pct, q0 AS q_ctrl_cents, q1 AS q_treat_cents,
           (q1 - q0) AS gap_cents
    FROM qs ORDER BY pct
    """,
    doc="Quantile-quantile table between the user_id%2 arms at the 19 "
    "vigintile levels (5%..95%) — the distribution-shift DIAGNOSTIC "
    "behind the scalar tests (welch/mannwhitney/cvm say THAT the arms "
    "differ; the QQ gaps say WHERE: a constant gap = location shift, "
    "a fanning gap = scale/tail change). Discrete quantiles via the "
    "cross-multiplied integer predicate 20*cum >= lv*total per arm — "
    "no double quantile math — over the per-arm distinct-cents "
    "frames; the 19-level spine cross-joins the DOMAIN-bounded "
    "cumulative frame (<=2x56k rows), not the data. All integers "
    "until the output.",
    tags=("events", "mleval", "stats"),
)
def qq_plot_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .selectExpr("user_id % 2 AS grp", f"{VAL_I} AS y")
    )
    per_y = s.groupBy("grp", "y").agg(F.count("*").cast("long").alias("c"))
    w_cum = (
        Window.partitionBy("grp").orderBy("y").rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("grp")
    cum = per_y.select(
        "grp",
        "y",
        F.sum("c").over(w_cum).cast("long").alias("cw"),
        F.sum("c").over(w_tot).cast("long").alias("tw"),
    )
    levels = _t(spark, sf_dir, "events").sparkSession.range(1, 20).select(
        F.col("id").alias("lv")
    )
    qs = (
        cum.crossJoin(F.broadcast(levels))
        .groupBy("lv")
        .agg(
            F.min(
                F.when(F.expr("grp = 0 AND 20 * cw >= lv * tw"), F.col("y"))
            )
            .cast("long")
            .alias("q0"),
            F.min(
                F.when(F.expr("grp = 1 AND 20 * cw >= lv * tw"), F.col("y"))
            )
            .cast("long")
            .alias("q1"),
        )
    )
    return qs.selectExpr(
        "lv * 5 AS pct",
        "q0 AS q_ctrl_cents",
        "q1 AS q_treat_cents",
        "(q1 - q0) AS gap_cents",
    ).orderBy("pct")


# ---------------------------------------------------------------------------
# concordance_cindex — Harrell's C for the survival family
# ---------------------------------------------------------------------------

@q(
    "concordance_cindex",
    oracle="""
    WITH byu AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE)) AS fd,
             MAX(CAST(ts AS DATE)) AS ld,
             CAST(COUNT(*) FILTER (WHERE event_type IN ('click', 'view'))
                  AS BIGINT) AS s
      FROM events GROUP BY user_id
    ), mx AS (
      SELECT MAX(ld) AS mxd FROM byu
    ), u AS (
      SELECT CAST(date_diff('day', fd, ld) AS BIGINT) AS d,
             CASE WHEN ld >= mxd - INTERVAL 2 DAY THEN 0 ELSE 1 END AS ev,
             s
      FROM byu CROSS JOIN mx
    ), grid AS (
      SELECT d, s,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ev) AS BIGINT) AS nev
      FROM u GROUP BY d, s
    ), dense AS (
      -- densify over distinct-days x distinct-scores: the dominance
      -- windows must see EVERY (d, s) cell, including zero cells (a
      -- sparse grid silently drops longer-lived users at scores that
      -- never co-occur with day d — caught by the brute-force test)
      SELECT dd.d, ss.s,
             COALESCE(g.n, 0) AS n,
             COALESCE(g.nev, 0) AS nev
      FROM (SELECT DISTINCT d FROM grid) dd
      CROSS JOIN (SELECT DISTINCT s FROM grid) ss
      LEFT JOIN grid g USING (d, s)
    ), tsuf AS (
      -- T(d, s): users with lifetime strictly longer than d at score s
      SELECT d, s, n, nev,
             CAST(COALESCE(SUM(n) OVER (PARTITION BY s ORDER BY d
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS BIGINT)
               AS t_longer
      FROM dense
    ), dom AS (
      SELECT d, s, nev,
             CAST(COALESCE(SUM(t_longer) OVER (PARTITION BY d ORDER BY s
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS BIGINT)
               AS c_gt,
             t_longer AS c_eq,
             CAST(SUM(t_longer) OVER (PARTITION BY d) AS BIGINT) AS c_all
      FROM tsuf
    ), agg AS (
      SELECT CAST(SUM(nev * (2 * c_gt + c_eq)) AS BIGINT) AS conc2,
             CAST(SUM(nev * c_all) AS BIGINT) AS comparable
      FROM dom
    )
    SELECT comparable AS n_comparable_pairs,
           (CAST(conc2 AS DOUBLE)
            / NULLIF(2.0 * CAST(comparable AS DOUBLE), 0.0)) AS c_index
    FROM agg
    """,
    doc="Harrell's concordance index between user LIFETIME (the "
    "kaplan_meier_retention outcome, same right-censoring rule) and "
    "the engagement score as a longevity predictor — THE survival-"
    "model eval metric (c = P(score orders a comparable pair the way "
    "survival does); 0.5 = uninformative, with censored users "
    "entering only as the longer member, which a naive correlation "
    "gets wrong). The O(n^2) pair count collapses to the (lifetime-"
    "day x score) GRID: T(d,s) = longer-lived users at score s via a "
    "per-score suffix window over days, then dominance counts via a "
    "per-day suffix window over scores, over the DENSIFIED day x "
    "score grid (distinct-days cross distinct-scores — zero cells "
    "must participate or dominance undercounts; caught by the "
    "brute-force test) — frames bounded by the domain (~30 x a few "
    "hundred cells), never n. Tied scores "
    "earn the standard half credit (doubled-integer arithmetic, the "
    "mannwhitney discipline); everything is exact int64 until ONE "
    "division. Plan: user-keyed agg, grid-keyed agg, two domain-"
    "bounded windows, a 1-row result.",
    tags=("events", "mleval", "stats", "timeseries"),
)
def concordance_cindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    byu = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("fd"),
            F.max(F.col("ts").cast("date")).alias("ld"),
            F.count_if(F.col("event_type").isin("click", "view"))
            .cast("long")
            .alias("s"),
        )
    )
    mx = byu.agg(F.max("ld").alias("mxd"))
    u = byu.crossJoin(F.broadcast(mx)).select(
        F.datediff("ld", "fd").cast("long").alias("d"),
        F.when(F.col("ld") >= F.date_sub(F.col("mxd"), 2), 0)
        .otherwise(1)
        .cast("long")
        .alias("ev"),
        "s",
    )
    grid = u.groupBy("d", "s").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ev").cast("long").alias("nev"),
    )
    # densify over distinct-days x distinct-scores (see oracle comment)
    dense = (
        grid.select("d")
        .distinct()
        .crossJoin(grid.select("s").distinct())
        .join(grid, ["d", "s"], "left")
        .select(
            "d",
            "s",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.coalesce(F.col("nev"), F.lit(0)).cast("long").alias("nev"),
        )
    )
    w_suf_d = (
        Window.partitionBy("s")
        .orderBy("d")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    tsuf = dense.withColumn(
        "t_longer",
        F.coalesce(F.sum("n").over(w_suf_d), F.lit(0)).cast("long"),
    )
    w_suf_s = (
        Window.partitionBy("d")
        .orderBy("s")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    w_all_s = Window.partitionBy("d")
    dom = tsuf.select(
        "d",
        "s",
        "nev",
        F.coalesce(F.sum("t_longer").over(w_suf_s), F.lit(0))
        .cast("long")
        .alias("c_gt"),
        F.col("t_longer").alias("c_eq"),
        F.sum("t_longer").over(w_all_s).cast("long").alias("c_all"),
    )
    agg = dom.agg(
        F.sum(F.expr("nev * (2 * c_gt + c_eq)")).cast("long").alias("conc2"),
        F.sum(F.expr("nev * c_all")).cast("long").alias("comparable"),
    )
    return agg.selectExpr(
        "comparable AS n_comparable_pairs",
        "(CAST(conc2 AS DOUBLE)"
        " / NULLIF(2.0 * CAST(comparable AS DOUBLE), 0.0)) AS c_index",
    )


# ---------------------------------------------------------------------------
# roc_auc_ci_delong — AUC with the DeLong variance / confidence interval
# ---------------------------------------------------------------------------

# DeLong structural components on the binned frame, held as EXACT
# doubled integers: for a positive in bin b, v10 = (below_neg +
# eq_neg/2)/n0 — doubled numerator w = 2*below0 + c0 is an int; for a
# negative, v01 uses pos-above: w' = 2*above1 + c1. Sample variances
# come from the moments trick (sums in DECIMAL(38,0)/HUGEINT — S2 <=
# n*4n^2 passes int64 near 1e6 rows), and Var(AUC) = var(v10)/n1 +
# var(v01)/n0 with the CI one fixed sqrt chain.
def _delong_frags(dd) -> tuple[str, str, str]:
    n1d, n0d = "CAST(n1 AS DOUBLE)", "CAST(n0 AS DOUBLE)"
    var10 = (
        f"((({dd('s2p')} - CAST(s1p AS DOUBLE) * CAST(s1p AS DOUBLE) / {n1d})"
        f" / ({n1d} - 1.0)) / (4.0 * {n0d} * {n0d}))"
    )
    var01 = (
        f"((({dd('s2n')} - CAST(s1n AS DOUBLE) * CAST(s1n AS DOUBLE) / {n0d})"
        f" / ({n0d} - 1.0)) / (4.0 * {n1d} * {n1d}))"
    )
    se = f"sqrt({var10} / {n1d} + {var01} / {n0d})"
    return var10, var01, se


_DL_DUCK = _delong_frags(_dec_dbl_duck)
_DL_SPARK = _delong_frags(_dec_dbl_spark)
_Z95 = "1.959963984540054"


@q(
    "roc_auc_ci_delong",
    oracle=f"""
    WITH e AS (
      SELECT {QUANT_DUCK} AS q, label % 2 AS y FROM embeddings
    ), b AS (
      SELECT {_AUC_SCORE_DUCK} // 16777216 AS bin, y FROM e
    ), per_bin AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(COUNT(*) FILTER (WHERE y = 1) AS BIGINT) AS c1
      FROM b GROUP BY bin
    ), w AS (
      SELECT bin, c, c1, (c - c1) AS c0,
             CAST(COALESCE(SUM(c - c1) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS below0,
             CAST(COALESCE(SUM(c1) OVER (ORDER BY bin
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS BIGINT)
               AS above1
      FROM per_bin
    ), agg AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c0) AS BIGINT) AS n0,
             CAST(SUM(c1 * (2 * below0 + c0)) AS BIGINT) AS s1p,
             SUM(CAST(c1 AS HUGEINT) * (2 * below0 + c0) * (2 * below0 + c0))
               AS s2p,
             CAST(SUM(c0 * (2 * above1 + c1)) AS BIGINT) AS s1n,
             SUM(CAST(c0 AS HUGEINT) * (2 * above1 + c1) * (2 * above1 + c1))
               AS s2n
      FROM w
    )
    SELECT n1 AS n_pos, n0 AS n_neg,
           (CAST(s1p AS DOUBLE) / NULLIF(2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE), 0.0))
             AS auc,
           {_DL_DUCK[2]} AS auc_se,
           ((CAST(s1p AS DOUBLE) / NULLIF(2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE), 0.0))
            - {_Z95} * {_DL_DUCK[2]}) AS ci_lo,
           ((CAST(s1p AS DOUBLE) / NULLIF(2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE), 0.0))
            + {_Z95} * {_DL_DUCK[2]}) AS ci_hi
    FROM agg
    """,
    doc="AUC with the DeLong (1988) variance and 95%% CI — the number "
    "that turns roc_auc's point estimate into a decision ('is this "
    "scorer BETTER than that one, or is the gap noise?'). The "
    "structural components stay exact: each positive's v10 is the "
    "doubled integer 2*below_neg + eq_neg over 2*n0 (mean of v10 IS "
    "the AUC — asserted in the unit test), each negative's v01 "
    "mirrors with the pos-above suffix cumulative; their sample "
    "variances come from the exact moments trick (squares in "
    "DECIMAL(38,0)/HUGEINT) and Var(AUC) = var(v10)/n1 + var(v01)/n0 "
    "with a literal z. Same score-domain-bounded bin frame as "
    "roc_auc — two domain windows, one 1-row agg, a fixed sqrt "
    "chain.",
    tags=("embeddings", "mleval", "stats"),
)
def roc_auc_ci_delong(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").selectExpr(
        f"{QUANT_SPARK} AS q", "label % 2 AS y"
    )
    b = e.selectExpr(f"{_AUC_SCORE_SPARK} div 16777216 AS bin", "y")
    per_bin = b.groupBy("bin").agg(
        F.count("*").cast("long").alias("c"),
        F.count_if(F.col("y") == 1).cast("long").alias("c1"),
    )
    w_below = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    w_above = Window.orderBy("bin").rowsBetween(1, Window.unboundedFollowing)
    w = per_bin.select(
        "bin",
        "c1",
        F.expr("c - c1").alias("c0"),
        F.coalesce(F.sum(F.expr("c - c1")).over(w_below), F.lit(0))
        .cast("long")
        .alias("below0"),
        F.coalesce(F.sum("c1").over(w_above), F.lit(0)).cast("long").alias("above1"),
    )
    dec = "DECIMAL(38, 0)"
    agg = w.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c0").cast("long").alias("n0"),
        F.sum(F.expr("c1 * (2 * below0 + c0)")).cast("long").alias("s1p"),
        F.sum(
            F.expr(f"CAST(c1 AS {dec}) * (2 * below0 + c0) * (2 * below0 + c0)")
        ).alias("s2p"),
        F.sum(F.expr("c0 * (2 * above1 + c1)")).cast("long").alias("s1n"),
        F.sum(
            F.expr(f"CAST(c0 AS {dec}) * (2 * above1 + c1) * (2 * above1 + c1)")
        ).alias("s2n"),
    )
    auc = "(CAST(s1p AS DOUBLE) / NULLIF(2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE), 0.0))"
    return agg.selectExpr(
        "n1 AS n_pos",
        "n0 AS n_neg",
        f"{auc} AS auc",
        f"{_DL_SPARK[2]} AS auc_se",
        f"({auc} - {_Z95} * {_DL_SPARK[2]}) AS ci_lo",
        f"({auc} + {_Z95} * {_DL_SPARK[2]}) AS ci_hi",
    )


# ---------------------------------------------------------------------------
# decision_stump_gini — exact-integer decision-stump training
# ---------------------------------------------------------------------------


@q(
    "decision_stump_gini",
    oracle=f"""
    WITH base AS (
      SELECT hour(ts) AS h,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), per_h AS (
      SELECT h, CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(y) AS BIGINT) AS pos_h
      FROM base GROUP BY h
    ), pre AS (
      SELECT h AS t,
             CAST(SUM(n_h) OVER w AS BIGINT) AS n_l,
             CAST(SUM(pos_h) OVER w AS BIGINT) AS pos_l,
             CAST(SUM(n_h) OVER () AS BIGINT) AS n_t,
             CAST(SUM(pos_h) OVER () AS BIGINT) AS pos_t
      FROM per_h
      WINDOW w AS (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ), cand AS (
      SELECT t, n_l, pos_l,
             n_t - n_l AS n_r, pos_t - pos_l AS pos_r,
             (CAST(pos_l AS HUGEINT) * pos_l
              + CAST(n_l - pos_l AS HUGEINT) * (n_l - pos_l)) AS a,
             (CAST(pos_t - pos_l AS HUGEINT) * (pos_t - pos_l)
              + CAST((n_t - n_l) - (pos_t - pos_l) AS HUGEINT)
                * ((n_t - n_l) - (pos_t - pos_l))) AS b,
             n_t
      FROM pre WHERE n_l > 0 AND n_t - n_l > 0
    )
    SELECT CAST(c.t AS INT) AS threshold_hour,
           c.n_l AS n_left, c.pos_l AS pos_left,
           c.n_r AS n_right, c.pos_r AS pos_right,
           (1.0 - (CAST(c.a AS DOUBLE) / CAST(c.n_l AS DOUBLE)
                   + CAST(c.b AS DOUBLE) / CAST(c.n_r AS DOUBLE))
                  / CAST(c.n_t AS DOUBLE)) AS weighted_gini
    FROM cand c
    WHERE NOT EXISTS (
      SELECT 1 FROM cand o
      WHERE (o.a * o.n_r + o.b * o.n_l) * (c.n_l * CAST(c.n_r AS HUGEINT))
            > (c.a * c.n_r + c.b * c.n_l) * (o.n_l * CAST(o.n_r AS HUGEINT))
         OR ((o.a * o.n_r + o.b * o.n_l) * (c.n_l * CAST(c.n_r AS HUGEINT))
             = (c.a * c.n_r + c.b * c.n_l) * (o.n_l * CAST(o.n_r AS HUGEINT))
             AND o.t < c.t)
    )
    """,
    doc="DECISION-STUMP training ('is this event a purchase?' split on "
    "hour-of-day) with the split chosen by minimum weighted Gini "
    "impurity — and the argmin decided in EXACT integer arithmetic: "
    "minimizing n_L*gini_L + n_R*gini_R is maximizing A/n_L + B/n_R "
    "with A = pos_L^2 + neg_L^2 (B likewise), and candidate i beats j "
    "iff (A_i*m_i + B_i*n_i) * n_j*m_j > (A_j*m_j + B_j*n_j) * n_i*m_i "
    "— a cross-multiplied comparison over exact HUGEINT/DECIMAL(38) "
    "products, evaluated as a NOT-EXISTS anti-join over the 23-"
    "candidate frame (bounded by the HOUR DOMAIN, so the pairwise "
    "comparison is 23x23 scalars regardless of corpus size; the "
    "corpus pays one per-hour count agg). No float touches the "
    "decision — ties break to the earliest threshold deterministically "
    "— and the reported impurity is one shared IEEE expression over "
    "identical integers. The tree-learning primitive (CART's inner "
    "loop) as a hash-oracled distributed query; sibling of "
    "changepoint_binary_seg's SSE argmin and ols_normal_equations' "
    "Cramer solve.",
    tags=("events", "ml", "mleval", "stats"),
)
def decision_stump_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_h = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            "hour(ts) AS h",
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y",
        )
        .groupBy("h")
        .agg(
            F.count("*").cast("long").alias("n_h"),
            F.sum("y").cast("long").alias("pos_h"),
        )
    )
    wc = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    dec = "DECIMAL(38, 0)"
    cand = (
        per_h.select(
            F.col("h").alias("t"),
            F.sum("n_h").over(wc).cast("long").alias("n_l"),
            F.sum("pos_h").over(wc).cast("long").alias("pos_l"),
            F.sum("n_h").over(wt).cast("long").alias("n_t"),
            F.sum("pos_h").over(wt).cast("long").alias("pos_t"),
        )
        .filter("n_l > 0 AND n_t - n_l > 0")
        .selectExpr(
            "t",
            "n_l",
            "pos_l",
            "n_t - n_l AS n_r",
            "pos_t - pos_l AS pos_r",
            f"(CAST(pos_l AS {dec}) * pos_l"
            f" + CAST(n_l - pos_l AS {dec}) * (n_l - pos_l)) AS a",
            f"(CAST(pos_t - pos_l AS {dec}) * (pos_t - pos_l)"
            f" + CAST((n_t - n_l) - (pos_t - pos_l) AS {dec})"
            f"   * ((n_t - n_l) - (pos_t - pos_l))) AS b",
            "n_t",
        )
        .localCheckpoint(eager=True)  # 23-row frame, reused on both sides
    )
    o = cand.selectExpr(
        "t AS o_t", "n_l AS o_nl", "n_r AS o_nr", "a AS o_a", "b AS o_b"
    )
    # NOT EXISTS via left-anti join on the cross-multiplied comparison
    beaten = cand.join(
        o,
        F.expr(
            f"(o_a * o_nr + o_b * o_nl) * (n_l * CAST(n_r AS {dec}))"
            f" > (a * n_r + b * n_l) * (o_nl * CAST(o_nr AS {dec}))"
            f" OR ((o_a * o_nr + o_b * o_nl) * (n_l * CAST(n_r AS {dec}))"
            f"     = (a * n_r + b * n_l) * (o_nl * CAST(o_nr AS {dec}))"
            f"     AND o_t < t)"
        ),
        "left_anti",
    )
    return beaten.selectExpr(
        "CAST(t AS INT) AS threshold_hour",
        "n_l AS n_left",
        "pos_l AS pos_left",
        "n_r AS n_right",
        "pos_r AS pos_right",
        "(1.0 - (CAST(a AS DOUBLE) / CAST(n_l AS DOUBLE)"
        "        + CAST(b AS DOUBLE) / CAST(n_r AS DOUBLE))"
        "       / CAST(n_t AS DOUBLE)) AS weighted_gini",
    )


# ---------------------------------------------------------------------------
# naive_bayes_classify — exact-integer NB train + classify
# ---------------------------------------------------------------------------


@q(
    "naive_bayes_classify",
    oracle="""
    WITH base AS (
      SELECT hour(ts) // 6 AS v1, (day(ts) - 1) // 8 AS v2,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), cls AS (
      SELECT CAST(SUM(y) AS HUGEINT) AS n1,
             CAST(COUNT(*) - SUM(y) AS HUGEINT) AS n0
      FROM base
    ), c1 AS (
      SELECT v1, CAST(SUM(y) AS HUGEINT) AS p1,
             CAST(COUNT(*) - SUM(y) AS HUGEINT) AS q1
      FROM base GROUP BY v1
    ), c2 AS (
      SELECT v2, CAST(SUM(y) AS HUGEINT) AS p2,
             CAST(COUNT(*) - SUM(y) AS HUGEINT) AS q2
      FROM base GROUP BY v2
    ), cells AS (
      SELECT b.v1, b.v2,
             CAST(SUM(b.y) AS BIGINT) AS n_pos,
             CAST(COUNT(*) - SUM(b.y) AS BIGINT) AS n_neg
      FROM base b GROUP BY b.v1, b.v2
    ), scored AS (
      SELECT cells.v1, cells.v2, n_pos, n_neg,
             cls.n1 * (c1.p1 + 1) * (c2.p2 + 1)
               * (cls.n0 + 4) * (cls.n0 + 4) AS s1,
             cls.n0 * (c1.q1 + 1) * (c2.q2 + 1)
               * (cls.n1 + 4) * (cls.n1 + 4) AS s0
      FROM cells
      JOIN c1 ON c1.v1 = cells.v1
      JOIN c2 ON c2.v2 = cells.v2
      CROSS JOIN cls
    )
    SELECT CAST(v1 AS INT) AS hour_bucket, CAST(v2 AS INT) AS day_bucket,
           n_pos, n_neg,
           CAST(CASE WHEN s1 > s0 THEN 1 ELSE 0 END AS INT) AS predicted,
           CAST((1000 * s1) // (s0 + s1) AS BIGINT) AS posterior_milli
    FROM scored
    ORDER BY hour_bucket, day_bucket
    """,
    doc="Naive Bayes TRAIN + CLASSIFY end to end, hash-oracled: learn "
    "Laplace-smoothed class priors and per-feature conditionals for "
    "'is this event a purchase?' over (hour-of-day quartile, "
    "day-of-month octile), then classify every feature cell by "
    "comparing the two class posteriors as EXACT cross-multiplied "
    "integer products — score_c = N_c*(C1_c+1)*(C2_c+1) / "
    "((N_c+K)*(N_c+K)) compared via a common-denominator HUGEINT/"
    "DECIMAL(38) product, and the reported posterior is the exact "
    "truncated millesimal (1000*s1) div (s0+s1) — so the learned "
    "decision surface AND its confidence are value-hash-checked with "
    "no libm exp/log anywhere (the generative-model counterpart of "
    "decision_stump_gini's discriminative split). Plan shape: three "
    "grouped count aggregates over one scan (class totals, two "
    "conditional tables — the sufficient statistics, all map-side-"
    "combinable) joined onto the 16-cell feature grid — NB training "
    "IS count aggregation, which is why it map-reduces at any scale.",
    tags=("events", "ml", "mleval", "stats"),
)
def naive_bayes_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = "DECIMAL(38, 0)"
    base = _t(spark, sf_dir, "events").selectExpr(
        "hour(ts) div 6 AS v1",
        "(day(ts) - 1) div 8 AS v2",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y",
    )
    cls = base.agg(
        F.sum("y").cast("long").alias("n1"),
        (F.count("*") - F.sum("y")).cast("long").alias("n0"),
    )
    c1 = base.groupBy("v1").agg(
        F.sum("y").cast("long").alias("p1"),
        (F.count("*") - F.sum("y")).cast("long").alias("q1"),
    )
    c2 = base.groupBy("v2").agg(
        F.sum("y").cast("long").alias("p2"),
        (F.count("*") - F.sum("y")).cast("long").alias("q2"),
    )
    cells = base.groupBy("v1", "v2").agg(
        F.sum("y").cast("long").alias("n_pos"),
        (F.count("*") - F.sum("y")).cast("long").alias("n_neg"),
    )
    scored = (
        cells.join(c1, "v1")
        .join(c2, "v2")
        .crossJoin(F.broadcast(cls))
        .selectExpr(
            "v1",
            "v2",
            "n_pos",
            "n_neg",
            f"CAST(n1 AS {dec}) * (p1 + 1) * (p2 + 1)"
            f" * (n0 + 4) * (n0 + 4) AS s1",
            f"CAST(n0 AS {dec}) * (q1 + 1) * (q2 + 1)"
            f" * (n1 + 4) * (n1 + 4) AS s0",
        )
    )
    return scored.selectExpr(
        "CAST(v1 AS INT) AS hour_bucket",
        "CAST(v2 AS INT) AS day_bucket",
        "n_pos",
        "n_neg",
        "CAST(CASE WHEN s1 > s0 THEN 1 ELSE 0 END AS INT) AS predicted",
        "CAST((1000 * s1) div (s0 + s1) AS BIGINT) AS posterior_milli",
    ).orderBy("hour_bucket", "day_bucket")
