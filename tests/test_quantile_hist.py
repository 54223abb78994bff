"""quantile_hist_incremental: the mergeable-histogram quantile store.

The hash oracle proves merged-store ≡ full-scan histogram and the
deterministic interpolation; these tests gate what the oracle can't:
- estimate accuracy vs EXACT percentile_disc (bin-width-bounded error);
- store reuse: second invocation reads the persisted history histogram
  (no rebuild — same warehouse contract as the other stores).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from magictables_spark.plans.queries import REGISTRY


def test_estimates_within_bin_width_of_exact(spark, sf_dir):
    from magictables_spark.plans.rollup_pack import _QH_W

    got = {
        r.event_type: (r.p50_cents, r.p90_cents, r.p99_cents)
        for r in REGISTRY["quantile_hist_incremental"].fn(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents")
    )
    exact = {
        r.event_type: (r.p50, r.p90, r.p99)
        for r in ev.groupBy("event_type")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)").alias("p50"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY cents)").alias("p90"),
            F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY cents)").alias("p99"),
        )
        .collect()
    }
    assert set(got) == set(exact) and got
    for et, (e50, e90, e99) in exact.items():
        g50, g90, g99 = got[et]
        # interpolation lands inside the crossing bin: error < one width
        assert abs(g50 - e50) <= _QH_W, (et, g50, e50)
        assert abs(g90 - e90) <= _QH_W, (et, g90, e90)
        assert abs(g99 - e99) <= _QH_W, (et, g99, e99)


def test_history_store_is_reused(spark, sf_dir):
    from magictables_spark.plans.rollup_pack import _QH_B, _QH_W
    from magictables_spark.warehouse import Store

    r1 = sorted(
        tuple(r)
        for r in REGISTRY["quantile_hist_incremental"].fn(spark, sf_dir).collect()
    )
    store = Store("qhist", sf_dir, "events", f"v1:{_QH_B}x{_QH_W}")
    key = store.table_id("qhist")
    v1 = store.warehouse.list_versions(key)
    assert len(v1) == 1 and v1[0]["live"]  # the key names the built store
    r2 = sorted(
        tuple(r)
        for r in REGISTRY["quantile_hist_incremental"].fn(spark, sf_dir).collect()
    )
    assert r1 == r2
    assert store.warehouse.list_versions(key) == v1
