"""label_propagation_incremental: O(touched)-write + exactness contracts
(round-6 verdict item 3).

The oracle already proves incremental ≡ full recompute (it IS the full
3-round LPA over the union graph). Here: the persisted delta really is
O(touched components), the touched set is closed under adjacency (the
exactness lemma's precondition), the merged labels equal the full
recompute's communities in-session, and a second call serves warm.
"""

from __future__ import annotations

import json

SF = "/root/testdata/sf0.001"


def _store(sf_dir):
    from magictables_spark.plans.textops import _LPA_HIST_SPLIT
    from magictables_spark.warehouse import Store

    store = Store("lpa", sf_dir, "documents", f"v1:lpa:{_LPA_HIST_SPLIT}")
    return store.warehouse, store.tag


def test_delta_is_o_touched_and_closed_under_adjacency(spark):
    from pyspark.sql import functions as F

    from magictables_spark.plans.textops import (
        _LPA_HIST_SPLIT as H,
        dedup_ngram_jaccard,
        label_propagation_communities,
        label_propagation_incremental,
    )

    inc = sorted(tuple(r) for r in label_propagation_incremental(spark, SF).collect())
    full = sorted(tuple(r) for r in label_propagation_communities(spark, SF).collect())
    assert inc == full and len(inc) > 0  # incremental ≡ full recompute

    wh, tag = _store(SF)
    stored_n = wh.read_table(spark, f"lpaL_{tag}").count()
    delta = wh.read_table(spark, f"lpaD_{tag}")
    delta_n = delta.count()
    assert stored_n == H  # one label per history node

    # O(touched)-write: the delta must cover exactly the touched
    # components, independently recomputed here as the undirected
    # closure of the new edges' endpoints
    pairs = dedup_ngram_jaccard(spark, SF).select("doc_a", "doc_b")
    new_pairs = pairs.filter((F.col("doc_a") >= H) | (F.col("doc_b") >= H))
    sym = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    adj = {}
    for r in sym.collect():
        adj.setdefault(r["doc_a"], set()).add(r["doc_b"])
    frontier = set()
    for r in new_pairs.collect():
        frontier |= {r["doc_a"], r["doc_b"]}
    touched = set(frontier)
    while frontier:
        frontier = {
            nb for v in frontier for nb in adj.get(v, ()) if nb not in touched
        }
        touched |= frontier
    delta_vs = {r["v"] for r in delta.select("v").collect()}
    assert delta_vs == touched  # exactly the touched components, no more
    assert delta_n < stored_n + new_pairs.count()  # strictly sub-linear
    # closure precondition of the exactness lemma: no edge leaves the set
    for v in delta_vs:
        assert adj.get(v, set()) <= delta_vs


def test_second_call_serves_warm(spark):
    from magictables_spark.plans.textops import label_propagation_incremental

    r1 = sorted(tuple(r) for r in label_propagation_incremental(spark, SF).collect())
    wh, tag = _store(SF)
    v1 = {k: m["version"] for k, m in wh.list_tables().items() if tag in k}
    assert len(v1) == 3  # labels + edges + delta
    assert all(len(wh.list_versions(k)) == 1 for k in v1)
    r2 = sorted(tuple(r) for r in label_propagation_incremental(spark, SF).collect())
    v2 = {k: m["version"] for k, m in wh.list_tables().items() if tag in k}
    assert r1 == r2
    assert v1 == v2  # no rebuild, no re-append
