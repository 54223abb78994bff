"""Quality gates for the scale-path (rows-only) similarity operators.

The hashed variants (ann_lsh_topk, dedup_minhash, simhash) have no SQL
oracle, so their correctness is asserted here against the exact
operators they approximate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from magictables_spark.plans.queries import REGISTRY


def _lsh_recall(spark, sf_dir, slug: str) -> float:
    exact = (
        REGISTRY["sim_cosine_topk"].fn(spark, sf_dir).select("query_id", "neighbor_id").collect()
    )
    approx = (
        REGISTRY[slug]
        .fn(spark, sf_dir)
        .filter(F.col("query_id") < 5)
        .select("query_id", "neighbor_id")
        .collect()
    )
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    assert exact_set, "exact top-k produced nothing"
    return len(exact_set & approx_set) / len(exact_set)


def test_ann_lsh_recall_against_exact(spark, sf_dir):
    """Default multiprobe config (T2-P4, measured 0.66/0.50 at
    sf0.01/sf0.1): gate at >= 0.45 — close enough under the measured
    recall that a regression to near-chance probing fails, per the
    round-4 verdict (the old >= 0.4 gate left no margin against the
    design's real performance)."""
    recall = _lsh_recall(spark, sf_dir, "ann_lsh_topk")
    assert recall >= 0.45, f"LSH recall too low: {recall:.2f}"


def test_ann_lsh_hi_recall_against_exact(spark, sf_dir):
    """High-recall grid point (T4-P4, measured 0.92/0.70 at
    sf0.01/sf0.1): gate at >= 0.7."""
    recall = _lsh_recall(spark, sf_dir, "ann_lsh_topk_hi")
    assert recall >= 0.7, f"hi-config LSH recall too low: {recall:.2f}"


def test_minhash_candidates_superset_of_high_jaccard(spark, sf_dir):
    """Every pair the exact 3-gram Jaccard flags at >= 0.5 should be
    surfaced by MinHash banding with identical jaccard values (the
    verification step computes the same exact jaccard)."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in REGISTRY["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    }
    mh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in REGISTRY["dedup_minhash"].fn(spark, sf_dir).collect()
    }
    # banding (4 bands x 4 rows) catches ~all pairs at j>=0.7; demand
    # the high-similarity ones and value agreement on the overlap
    high = {p for p, j in exact.items() if j >= 0.7}
    missed = high - set(mh)
    assert not missed, f"minhash missed high-jaccard pairs: {missed}"
    for p in set(mh) & set(exact):
        assert abs(mh[p] - exact[p]) < 1e-9


def test_simhash_identical_docs_same_hash(spark, sf_dir):
    """Docs with identical token sets must get identical simhash."""
    sh = REGISTRY["simhash"].fn(spark, sf_dir)
    docs = REGISTRY["doc_fingerprint"].fn(spark, sf_dir).select("doc_id", "fp_shuffle_invariant")
    joined = sh.join(docs, "doc_id")
    groups = (
        joined.groupBy("fp_shuffle_invariant")
        .agg(F.countDistinct("simhash").alias("n_hashes"), F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .collect()
    )
    for g in groups:
        assert g.n_hashes == 1, "same token set produced different simhashes"


def test_ann_ivf_recall_against_exact(spark, sf_dir):
    """IVF top-10 (nprobe=4 of ~16 cells) for the 5 probe vectors must
    recall a healthy fraction of the exact cosine top-10. Cells are
    L2-based while ranking is cosine, so recall < 1 by design; demand
    >= 40% overall like the LSH gate."""
    exact = (
        REGISTRY["sim_cosine_topk"].fn(spark, sf_dir).select("query_id", "neighbor_id").collect()
    )
    approx = (
        REGISTRY["ann_ivf_topk"]
        .fn(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .collect()
    )
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    assert exact_set, "exact top-k produced nothing"
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"IVF recall too low: {recall:.2f}"


def test_lsh_bucket_space_scales_with_corpus():
    """Fixed bucket spaces go quadratic (scale probe, SCALING.md):
    bits must grow ~log2(n) while preserving the fixture behavior."""
    from magictables_spark.plans.similarity import BITS_PER_TABLE, _lsh_bits_for

    assert _lsh_bits_for(500) == BITS_PER_TABLE  # fixture unchanged
    assert _lsh_bits_for(0) == BITS_PER_TABLE
    assert _lsh_bits_for(27_000) == 10
    assert _lsh_bits_for(1_000_000) == 15
    assert _lsh_bits_for(10**12) == 18  # capped
    # monotone non-decreasing
    prev = 0
    for n in (10, 100, 1000, 10**4, 10**5, 10**6, 10**9):
        b = _lsh_bits_for(n)
        assert b >= prev
        prev = b


def test_ann_int8_rescore_recall(spark, sf_dir):
    """Int8 coarse scoring + exact rescore must recover nearly all of
    the exact top-10 (8-bit quantization loses little at top-30
    candidate width)."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["sim_cosine_topk"].fn(spark, sf_dir).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["ann_int8_rescore"].fn(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"int8-rescore recall {recall:.2f}"


def test_semdedup_drops_are_exact_neardup_drops(spark, sf_dir):
    """Every vector semdedup drops must also be droppable under the
    exact all-pairs rule (same tau, same quantized cosine): a dropped
    vec has a lower-id exact-neardup partner. The converse (recall of
    the exact drop set) is reported, not gated — clustering trades
    cross-cluster pairs for the equi-join scale shape by design."""
    sem = REGISTRY["semdedup"].fn(spark, sf_dir).collect()
    pairs = REGISTRY["embed_neardup"].fn(spark, sf_dir).collect()
    dropped = {r.vec_id for r in sem if not r.kept}
    exact_droppable = {r.vec_b for r in pairs}
    assert dropped, "semdedup dropped nothing — threshold or fixture drifted"
    assert dropped <= exact_droppable, (
        f"semdedup dropped vectors with no exact near-dup partner: "
        f"{sorted(dropped - exact_droppable)[:5]}"
    )
    recall = len(dropped) / len(exact_droppable)
    # measured 0.30 at sf0.001 with k = max(8, sqrt(n)) = 22 clusters
    # (tau=0.35 pairs are loose, so many span clusters — the designed
    # trade); gate with margin below the measurement so a regression to
    # near-zero clustering quality fails without pinning the exact
    # cross-cluster split
    assert recall >= 0.25, f"semdedup drop recall vs exact: {recall:.2f}"


def test_library_surface_defaults_to_high_recall_config(spark, sf_dir):
    """Round-5 verdict item 6: a user-facing similarity call must route
    through the T4-P4 high-recall config by default — ann_topk /
    MagicFrame.similar_topk over the embeddings table must reproduce
    ann_lsh_topk_hi exactly, and fast=True must reproduce the T2-P4
    demo config."""
    from magictables_spark.frame import MagicFrame
    from magictables_spark.plans.similarity import (
        ann_lsh_topk,
        ann_lsh_topk_hi,
        ann_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def key(df):
        return sorted(
            (int(r["query_id"]), int(r["neighbor_id"]), round(float(r["cosine"]), 12))
            for r in df.collect()
        )

    assert key(ann_topk(emb, "vec_id", "embedding", dim=64)) == key(
        ann_lsh_topk_hi(spark, sf_dir)
    )
    mf = MagicFrame(emb, sources=["raw_emb"])
    assert key(mf.similar_topk("vec_id", "embedding", dim=64, fast=True).df) == key(
        ann_lsh_topk(spark, sf_dir)
    )
    # dim-agnostic HOF dot agrees with the unrolled one
    assert key(ann_topk(emb.limit(200), "vec_id", "embedding")) == key(
        ann_topk(emb.limit(200), "vec_id", "embedding", dim=64)
    )


def test_knn_indexed_vote_recall_and_agreement(spark, sf_dir):
    """knn_label_vote_indexed serves the SAME probe set as the exact
    vote from the persisted IVF index (round-7 verdict item 1). The
    fixture labels are ~random w.r.t. embedding geometry (exact-vote
    self-label accuracy ~ chance), so vote agreement is bounded by
    neighbor recall: gate top-5 NEIGHBOR recall >= 0.4 (like the IVF
    top-k gate) and label agreement >= 0.25, with identical probe-id
    coverage."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from magictables_spark.plans.similarity import QUANT_SPARK, _dot, _t

    n = _t(spark, sf_dir, "embeddings").count()
    stride = max(20, math.floor(math.sqrt(n)))
    e = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", F.expr(QUANT_SPARK).alias("q"))
        .withColumn("nrm", _dot("q", "q"))
    )
    probes = e.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nrm").alias("qnrm"),
    )
    sc = (
        e.select(F.col("vec_id").alias("neighbor_id"), "q", "nrm")
        .join(F.broadcast(probes), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot("qq", "q").cast("double")
            / (F.sqrt(F.col("qnrm").cast("double")) * F.sqrt(F.col("nrm").cast("double"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    exact5: dict[int, set[int]] = {}
    for r in (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id")
        .collect()
    ):
        exact5.setdefault(r.query_id, set()).add(r.neighbor_id)

    # the indexed path's own top-5: recompute its candidate scores from
    # the registered query's building blocks is redundant — the vote
    # output plus the exact vote give the agreement; neighbor recall
    # comes from re-ranking the indexed candidates, which the query's
    # top5 already did, so rebuild just that stage via the same helpers
    from magictables_spark.plans.similarity import (
        KNN_IVF_NPROBE,
        _ivf_labeled_cells,
        _nearest_cells,
        _quantized,
    )

    cents, cells = _ivf_labeled_cells(spark, sf_dir)
    qs = (
        _quantized(spark, sf_dir)
        .filter(F.col("vec_id") % stride == 0)
        .withColumn("nrm", _dot("q", "q"))
    )
    pr = _nearest_cells(qs, cents, KNN_IVF_NPROBE)
    pc = [r["cell"] for r in pr.select("cell").distinct().collect()]
    idx5: dict[int, set[int]] = {}
    for r in (
        cells.filter(F.col("cell").isin(pc))
        .join(F.broadcast(pr), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _dot("qa", "q").cast("double")
            / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nrm").cast("double"))),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id")
        .collect()
    ):
        idx5.setdefault(r.query_id, set()).add(r.neighbor_id)

    assert exact5
    hits = sum(len(exact5[q] & idx5.get(q, set())) for q in exact5)
    total = sum(len(v) for v in exact5.values())
    recall = hits / total
    assert recall >= 0.4, f"indexed top-5 neighbor recall too low: {recall:.2f}"

    exact_votes = {
        r.query_id: r.predicted_label
        for r in REGISTRY["knn_label_vote"].fn(spark, sf_dir).collect()
    }
    idx_votes = {
        r.query_id: r.predicted_label
        for r in REGISTRY["knn_label_vote_indexed"].fn(spark, sf_dir).collect()
    }
    assert set(exact_votes) == set(idx_votes), "probe coverage differs"
    agree = sum(exact_votes[q] == idx_votes[q] for q in exact_votes) / len(exact_votes)
    assert agree >= 0.25, f"vote agreement too low: {agree:.2f}"


def test_ann_recall_eval_slug_consistent_with_gate(spark, sf_dir):
    """The registered recall harness (ann_recall_eval) must (a) report
    one row per probe with full exact ground truth, (b) agree with an
    independent set-intersection recomputation for the probes the
    legacy gate covers, and (c) clear the same >= 0.45 corpus gate as
    the default LSH config it evaluates."""
    rows = REGISTRY["ann_recall_eval"].fn(spark, sf_dir).collect()
    assert len(rows) == 50
    assert all(r.n_exact == 10 for r in rows)
    assert all(0.0 <= r.recall <= 1.0 and r.n_hits <= r.n_exact for r in rows)
    mean_recall = sum(r.recall for r in rows) / len(rows)
    assert mean_recall >= 0.45, f"harness mean recall too low: {mean_recall:.2f}"
    # cross-check the first 5 probes against the legacy recomputation
    exact = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["sim_cosine_topk"].fn(spark, sf_dir)
        .select("query_id", "neighbor_id").collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["ann_lsh_topk"].fn(spark, sf_dir)
        .filter(F.col("query_id") < 5)
        .select("query_id", "neighbor_id").collect()
    }
    per_query_hits = {q: 0 for q in range(5)}
    for q, n in exact & approx:
        per_query_hits[q] += 1
    got = {r.query_id: r.n_hits for r in rows if r.query_id < 5}
    assert got == per_query_hits
