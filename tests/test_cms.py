"""cms_topk_incremental: the count-min frequency-sketch store.

The hash oracle proves merged-store ≡ full-scan sketch and the min-
over-rows query; these tests gate the sketch-quality properties:
- one-sided error: est(u) >= true count(u) for EVERY key (the CMS
  guarantee — a violation means the merge or hashing broke);
- the estimated top set overlaps the exact heavy hitters (collisions
  can promote, never demote, so the true top keys must appear);
- store reuse on re-invocation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from magictables_spark.plans.queries import REGISTRY


def test_one_sided_error_and_top_overlap(spark, sf_dir):
    rows = REGISTRY["cms_topk_incremental"].fn(spark, sf_dir).collect()
    assert len(rows) == 15
    truth = {
        r.user_id: r.n
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for r in rows:
        assert r.est_count >= truth[r.user_id], (r.user_id, r.est_count)
    # true top-5 keys must appear in the estimated top-15 (one-sided
    # error can only promote keys into the top, never push true heavy
    # hitters out past the collision inflation of lighter keys)
    true_top5 = {
        u for u, _ in sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    }
    est_top = {r.user_id for r in rows}
    assert true_top5 <= est_top, true_top5 - est_top


def test_history_store_is_reused(spark, sf_dir):
    from magictables_spark.plans.rollup_pack import _CMS_D, _CMS_W
    from magictables_spark.warehouse import Store

    r1 = sorted(
        tuple(r) for r in REGISTRY["cms_topk_incremental"].fn(spark, sf_dir).collect()
    )
    store = Store("cms", sf_dir, "events", f"v1:{_CMS_D}x{_CMS_W}")
    key = store.table_id("cms")
    v1 = store.warehouse.list_versions(key)
    assert len(v1) == 1 and v1[0]["live"]  # the key names the built store
    r2 = sorted(
        tuple(r) for r in REGISTRY["cms_topk_incremental"].fn(spark, sf_dir).collect()
    )
    assert r1 == r2
    assert store.warehouse.list_versions(key) == v1
