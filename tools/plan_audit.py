"""Plan audit: dump physical plans for every registered query and flag
scale anti-patterns. Usage: python tools/plan_audit.py [slug ...]

Red flags:
  CartesianProduct            unbounded cross join (only tiny dims may)
  BatchEvalPython             row-at-a-time Python UDF in the plan
  Exchange SinglePartition    global serialization point (windows
                              without PARTITION BY, global sorts)
  PushedFilters: []           a filtered scan pushing nothing

Informational counts: Exchange (shuffles), BroadcastExchange,
WholeStageCodegen spans, ArrowEvalPython/MapInPandas (vectorized
Python, expected for the UDF/chain slugs).

Waivers: a flag on a slug listed in WAIVERS with a matching code is a
REVIEWED intentional pattern (tiny-broadcast nested loop, vocab-sized
global window, declared single-series semantics); it prints as
``ok (waived: ...)`` and counts clean. Any unwaived flag still fails
the sweep, so new regressions can't hide behind old justifications.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

NLJ = "NESTED_LOOP_JOIN"
SPE = "SINGLE_PARTITION_EXCHANGE"

# slug -> {flag-code: one-line justification}. Every entry names WHY the
# pattern is safe (what bounds the broadcast side / the exchanged rows).
WAIVERS: dict[str, dict[str, str]] = {
    "ann_ivf_topk": {NLJ: "broadcast side is the ~sqrt(n) centroid table"},
    "vocab_growth_curve": {SPE: "cumulative sum over the 10-row decile spine; the data-sized aggs are distributed upstream"},
    "token_id_encode": {
        SPE: "dense-id rank over the VOCAB-sized token-count dim "
        "(distinct tokens, not n; the corpus-sized explode/join/agg "
        "stages are all keyed exchanges)"
    },
    "mannwhitney_u": {SPE: "running below-count over DISTINCT cents values — bounded by the value domain (<=56k rows), not n; the per-row rank collapse happens in the upstream keyed agg"},
    "auc_store_stream": {SPE: "running below-count over the persisted SCORE-BIN store (a few hundred rows at any n — the score-domain bound); batch merges happened inside foreachBatch"},
    "roc_auc_ci_delong": {SPE: "below/above cumulatives over the SCORE-BIN domain (a few hundred rows at any n); the per-row collapse is the upstream bin-keyed agg"},
    "roc_curve_table": {SPE: "descending TP/FP cumulatives over the SCORE-BIN domain (a few hundred rows at any n); the per-row collapse is the upstream bin-keyed agg"},
    "qq_plot_table": {NLJ: "broadcast side is the 19-row vigintile spine crossed into the per-arm DISTINCT-cents cumulative frame (value-domain bounded)", SPE: "per-arm cumulative windows over DISTINCT cents values — bounded by the value domain, not n"},
    "roc_auc": {SPE: "running below-count over DISTINCT score bins (width-2^24 binned int64 scores — a few hundred bins at any n); the per-row rank collapse is the upstream bin-keyed agg"},
    "gains_decile_table": {SPE: "capture/band windows over the DISTINCT engagement-score frame (bounded by the per-user event-count domain) and the <=10-row band spine; the data-sized aggs are user-/score-keyed upstream"},
    "contamination_check": {NLJ: "broadcast side is the bounded held-out shingle set"},
    "embed_neardup": {NLJ: "declared exact quadratic baseline, guarded >50k rows; ann_lsh_topk is the scale path"},
    "interpolate_linear": {NLJ: "range join against the bounded per-series gap calendar"},
    "locf_fill": {NLJ: "range join against the bounded per-series gap calendar"},
    "resample_gapfill": {NLJ: "range join against the bounded resample calendar"},
    "join_cross": {NLJ: "the op IS a cross join; registered on tiny dims by contract"},
    "key_skew_gini": {NLJ: "cross join over the count-of-counts frame — bounded by the distinct-load domain (hundreds of rows at any n); the data-sized agg is keyed upstream"},
    "rfm_segmentation": {NLJ: "broadcast sides are 1-row aggregates (global anchor date, the 9-value quartile-cut row); the customer aggregate is keyed upstream"},
    "bm25_ratio_topk": {NLJ: "broadcast side is the 1-row (n_docs, avgdl) corpus-stats frame crossed into the 3-term matched set"},
    "basket_pair_lift": {NLJ: "broadcast side is the 1-row order count crossed into the already-reduced pair table; marginals broadcast-hash-join"},
    "bootstrap_ci_median": {
        NLJ: "1-row point-median frame cross-joined to the 1-row CI frame; the data-sized work is the map-side x32 reweight + (b, cents)-keyed agg",
        SPE: "point-estimate cumulative count over DISTINCT cents values — bounded by the value domain, not n (the replicate windows are b-partitioned)",
    },
    "bootstrap_ci_mean": {NLJ: "1-row point-estimate frame cross-joined to the 1-row CI frame; the data-sized work is the map-side x32 reweight + 32-group agg"},
    "diff_in_diff": {NLJ: "1-row period-midpoint scalar broadcast-crossed into the scan; the data-sized work is one conditional aggregate"},
    "acf_volume": {NLJ: "dense-grid build: distinct keys x 1-row bounds (the resample-calendar pattern); the data-sized count agg is keyed upstream"},
    "seasonal_strength_hourly": {NLJ: "dense-grid build: distinct keys x 1-row bounds (the resample-calendar pattern); the data-sized hourly agg is keyed upstream"},
    "ljung_box_white_noise": {NLJ: "dense-grid build: distinct keys x 1-row bounds (the resample-calendar pattern), repeated per lag branch; the data-sized hourly agg is keyed upstream"},
    "ks_test_2sample": {
        NLJ: "1-row totals frame broadcast-crossed into the CDF frame and the 1-row result",
        SPE: "cumulative CDF over DISTINCT cents values — bounded by the value domain (<=56k rows), not n; per-row work is the upstream keyed agg",
    },
    "kmeans_assign": {NLJ: "broadcast side is the 8-row centroid table"},
    "cluster_balanced_sample": {NLJ: "broadcast side is the 8-row centroid table"},
    "purged_timeseries_cv": {NLJ: "broadcast side is the 5-row fold table"},
    "funnel_ordered_steps": {
        NLJ: "cross-join of three 1-row scalar stage counts; the interval joins hash on user_id"
    },
    "knn_label_vote": {NLJ: "broadcast side is the ~sqrt(n) probe set"},
    "sim_cosine_topk": {NLJ: "broadcast side is the 5-row query-probe set"},
    "naive_bayes_classify": {
        NLJ: "broadcast side is the 1-row class-prior aggregate "
        "crossed into the 16-cell feature grid (the kaplan_meier "
        "scalar-cross pattern); conditional-table joins are key-equi"
    },
    "decision_stump_gini": {
        NLJ: "the argmin anti-join compares the 23-candidate frame "
        "against itself (hour-domain-bounded, 23x23 scalars at any "
        "corpus size); the data-sized work is the per-hour count agg "
        "upstream"
    },
    "ann_recall_eval": {
        NLJ: "broadcast side is the 50-row query-probe set (exact "
        "ground-truth leg — probe-bounded by design; the LSH leg and "
        "the recall join are key-equi)"
    },
    "ndcg_at_k": {NLJ: "broadcast side is the 5-row query-probe set (ranking + n_rel legs)"},
    "avg_precision_at_k": {NLJ: "broadcast side is the 5-row query-probe set (ranking + n_rel legs)"},
    "mrr_at_k": {NLJ: "broadcast side is the 5-row query-probe set"},
    "uplift_by_band": {SPE: "band windows over the DISTINCT engagement-score frame (bounded by the per-user event-count domain); the data-sized aggs are user-/score-keyed upstream"},
    "permutation_test_diff": {NLJ: "broadcast side is the 1-row observed-diff scalar crossed into the 32-row per-perm frame"},
    "collocation_lift_topk": {NLJ: "broadcast side is the 1-row total-bigram scalar crossed into the min-count-filtered pair frame"},
    "multiple_testing_bh": {
        NLJ: "broadcast side is the 1-row step-up k* scalar crossed into the fixed 5-row family frame",
        SPE: "rank window over the FIXED 5-test family frame (one row per event type); the data-sized moment aggs are type-keyed upstream",
    },
    "lorenz_curve_table": {SPE: "value-band windows over the DISTINCT per-user-spend frame (bounded by the spend domain) and the 10-row decile spine; the data-sized agg is user-keyed upstream"},
    "cramervonmises_2sample": {SPE: "cumulative CDF gap over DISTINCT cents values — bounded by the value domain (<=56k rows), not n; the per-row collapse is the upstream cents-keyed agg"},
    "energy_distance_2sample": {SPE: "below-value cumulative count/sum window over DISTINCT cents values — bounded by the value domain, not n; the per-row collapse is the upstream cents-keyed agg"},
    "concordance_cindex": {NLJ: "broadcast side is the 1-row max-date scalar (censor cutoff) crossed into the user frame — the kaplan_meier pattern"},
    "kaplan_meier_retention": {
        NLJ: "broadcast sides are the 1-row max-date scalar and the "
        "lifetime-day factor list (one ~30-element array row)",
        SPE: "reverse-cumulative risk window and factor-list collect "
        "over the LIFETIME-DAY domain (<= corpus-span rows, ~30), "
        "not n; the data-sized agg is user-keyed upstream",
    },
    "rrf_hybrid_rank": {
        NLJ: "broadcast side is the 1-row probe embedding (semantic "
        "leg); the fusion join is a 50x50-row full-outer"
    },
    "ann_int8_rescore": {NLJ: "broadcast side is the 5-row int8 probe set"},
    "ann_pq_rescore": {
        NLJ: "broadcast side is the 5-row full-precision probe set "
        "(ADC coarse pass); the re-rank joins are key-equi"
    },
    "ann_pq_persisted": {
        NLJ: "broadcast side is the 5-row probe set over the stored "
        "8-byte code scan (serve-side ADC); re-rank joins are key-equi"
    },
    "ann_pq_index_append": {
        NLJ: "broadcast side is the 5-row probe set over the appended "
        "code table (serve-side ADC); re-rank joins are key-equi"
    },
    "pq_store_stream": {
        NLJ: "broadcast side is the 5-row probe set over the streamed "
        "code store (serve-side ADC; appends happened inside "
        "foreachBatch); re-rank joins are key-equi"
    },
    "q11_important_parts": {NLJ: "broadcast side is the 1-row scalar-subquery threshold"},
    "q22_dormant_customers": {NLJ: "broadcast side is the 1-row average-balance scalar"},
    "range_join": {NLJ: "the residual band predicate after bucket-equi blocking"},
    "target_encoding": {NLJ: "broadcast side is the 1-row global-prior scalar"},
    "value_counts_share": {NLJ: "broadcast side is the 1-row total-count scalar"},
    "cms_topk_incremental": {
        NLJ: "broadcast side is the 4-row sketch-depth spine crossed "
        "into the event scan and the distinct-user dim"
    },
    "cms_store_stream": {
        NLJ: "broadcast side is the 4-row sketch-depth spine crossed "
        "into the distinct-user dim at serve (batch sketching happened "
        "inside foreachBatch)"
    },
    "quantile_hist_incremental": {
        NLJ: "broadcast side is the 3-row quantile spine crossed into "
        "the |keys| x 64-bin store frame — both bounded dims"
    },
    "quantile_hist_store_stream": {
        NLJ: "broadcast side is the 3-row quantile spine crossed into "
        "the |keys| x 64-bin store frame — both bounded dims"
    },
    "triangle_count": {NLJ: "broadcast side is the bounded oriented-edge set of the demo graph; production pagerank/components paths are equi-join only"},
    "cumulative_distinct": {SPE: "global running-distinct IS a total-order op; keyed twin: window_rolling/lag_features"},
    "pareto_frontier_2d": {
        SPE: "the skyline is a GLOBAL property by definition (one "
        "price-ordered window replaces the n^2 pair join); at scale a "
        "coarse-grid pre-prune bounds the windowed residual (doc)"
    },
    "pct_change_global": {SPE: "declared single-series variant; LAG runs over the aggregated ~24-row monthly series — the keyed `pct_change` is the registered default"},
    "period_over_period_global": {SPE: "declared single-series variant; LAG runs over the aggregated ~24-row monthly series — the keyed `period_over_period` is the registered default"},
    "sequence_packing": {SPE: "exact-parity baseline; sequence_packing_sharded is the registered scale path"},
    "simjoin_prefix_filter": {SPE: "global rank window runs over the VOCAB-sized token dim, not the corpus"},
    "window_ntile_global": {SPE: "declared corpus-wide quartiling demo on a filtered subset; the keyed `window_ntile` is the registered default"},
}


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.001"
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]

    from magictables_spark.plans.queries import REGISTRY
    from magictables_spark.session import get_spark

    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    slugs = args or sorted(REGISTRY)
    n_flagged = 0
    for slug in slugs:
        try:
            df = REGISTRY[slug].fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"{slug}: PLAN ERROR {type(e).__name__}: {str(e)[:120]}")
            n_flagged += 1
            continue
        from magictables_spark.plans.audit import audit_plan

        res = audit_plan(df)
        waived = WAIVERS.get(slug, {})
        hard = [f.code for f in res.findings if f.code not in waived]
        soft = [f.code for f in res.findings if f.code in waived]
        n_ex, n_bc, n_py = res.shuffles, res.broadcasts, res.arrow_python
        if hard:
            status = "FLAG " + ",".join(hard)
            n_flagged += 1
        elif soft:
            status = "ok (waived: " + "; ".join(f"{c} — {waived[c]}" for c in soft) + ")"
        else:
            status = "ok"
        print(f"{slug}: {status}  shuffles={n_ex} broadcasts={n_bc} arrow_python={n_py}")
    print(f"\n{len(slugs) - n_flagged}/{len(slugs)} clean")
    return 1 if n_flagged else 0


if __name__ == "__main__":
    sys.exit(main())
