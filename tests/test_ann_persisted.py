"""ann_lsh_persisted: build-once/serve-many LSH index in the warehouse.

Three contracts (round-5 verdict item 2):
1. row-identical to the per-query-build ann_lsh_topk (same config, same
   oracle — the hash gate already checks vs DuckDB; here vs each other);
2. the SERVING plan performs zero index recompute (no hyperplane-dot
   HOFs) and zero index-side exchange (the bucketed layout feeds the
   candidate join directly; only the exploded probe stream shuffles);
3. a SECOND JVM/session reuses the warm index — same version dir, no
   rebuild, identical rows.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys

SF = "/root/testdata/sf0.001"


def _rows_key(df):
    rows = sorted(
        (int(r["query_id"]), int(r["neighbor_id"]), round(float(r["cosine"]), 12))
        for r in df.collect()
    )
    return hashlib.md5(repr(rows).encode()).hexdigest(), len(rows)


def test_rows_identical_to_per_query_build(spark):
    from magictables_spark.plans.similarity import ann_lsh_persisted, ann_lsh_topk

    k1, n1 = _rows_key(ann_lsh_topk(spark, SF))
    k2, n2 = _rows_key(ann_lsh_persisted(spark, SF))
    assert n1 == n2 > 0
    assert k1 == k2


def test_serving_plan_no_index_recompute_or_exchange(spark):
    from magictables_spark.plans.similarity import ann_lsh_persisted

    ann_lsh_persisted(spark, SF).count()  # warm the index
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            ann_lsh_persisted(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # no index recompute: the build pipeline's round-robin spread and
    # its eager checkpoint are absent — both join inputs arrive as
    # catalog scans of the persisted bucketed table. (zip_with WOULD
    # be a false marker: the re-rank tail legitimately computes norms
    # with it; only the build stage round-robins.)
    assert "RoundRobinPartitioning" not in plan
    assert plan.count("spark_catalog.default.mts_wh_annlsh") == 2
    # no index-side exchange: exactly ONE hashpartitioning exchange on
    # the (table, bucket) candidate-join keys — the exploded probe side.
    # (The dedup/window exchanges key on lo/hi/query_id, not table.)
    assert plan.count("hashpartitioning(table") == 1, plan


_SESSION_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from magictables_spark.session import get_spark
from magictables_spark.plans.similarity import ann_lsh_persisted
from magictables_spark.warehouse import store_root
import hashlib, json, os

spark = get_spark("ann_persisted_session")
spark.sparkContext.setLogLevel("ERROR")
df = ann_lsh_persisted(spark, {sf!r})
rows = sorted(
    (int(r["query_id"]), int(r["neighbor_id"]), round(float(r["cosine"]), 12))
    for r in df.collect()
)
from magictables_spark.warehouse import Warehouse
meta = Warehouse(store_root("ann")).list_tables()
versions = sorted(m["version"] for k, m in meta.items() if k.startswith("annlsh_"))
print("rows:", len(rows), hashlib.md5(repr(rows).encode()).hexdigest())
print("versions:", versions)
spark.stop()
"""


def test_second_session_reuses_warm_index(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "session.py"
    script.write_text(_SESSION_SCRIPT.format(repo=repo, sf=SF))
    outs = []
    for _ in range(2):
        r = subprocess.run(
            [sys.executable, str(script)],
            capture_output=True,
            text=True,
            timeout=900,
            cwd=str(tmp_path),  # non-repo cwd, like the driver
        )
        assert r.returncode == 0, r.stderr[-2000:]
        outs.append(r.stdout)
    rows = [next(ln for ln in o.splitlines() if ln.startswith("rows:")) for o in outs]
    vers = [next(ln for ln in o.splitlines() if ln.startswith("versions:")) for o in outs]
    assert rows[0] == rows[1]
    # identical version pointer => the second JVM served the first's
    # index without rebuilding (a rebuild would mint a new v<pid>_<ms>)
    assert vers[0] == vers[1]


def test_append_equals_full_build_and_is_idempotent(spark):
    """ann_lsh_index_append: at sf0.001 the pinned history geometry
    (300 vectors -> 4 bits) equals the fresh-build geometry (500 -> 4
    bits), so the appended index must serve rows IDENTICAL to
    ann_lsh_persisted; and a second call serves from the appended
    version without minting a new one."""
    import json

    from magictables_spark.plans.similarity import (
        ann_lsh_index_append,
        ann_lsh_persisted,
    )
    from magictables_spark.warehouse import store_root

    k1, n1 = _rows_key(ann_lsh_persisted(spark, SF))
    k2, n2 = _rows_key(ann_lsh_index_append(spark, SF))
    assert n1 == n2 > 0
    assert k1 == k2
    from magictables_spark.warehouse import Warehouse

    v1 = {
        k: m["version"]
        for k, m in Warehouse(store_root("ann")).list_tables().items()
        if k.startswith(("annlshH_", "annlshA_"))
    }
    assert len(v1) >= 2  # history + appended tables exist
    k3, _ = _rows_key(ann_lsh_index_append(spark, SF))
    v2 = {
        k: m["version"]
        for k, m in Warehouse(store_root("ann")).list_tables().items()
        if k.startswith(("annlshH_", "annlshA_"))
    }
    assert k3 == k2
    assert v1 == v2  # no re-append, no rebuild


# ---------------------------------------------------------------------------
# IVF twins (round-6 verdict item 2): same three contracts as the LSH
# lifecycle — rows identical to the per-query build, zero index-side
# recompute/exchange at serve (plus IVF's extra: probe cells pushed down
# into the bucketed scan), warm cross-session reuse — plus the append
# leg: appended index ≡ from-scratch build at the PINNED quantizer.
# ---------------------------------------------------------------------------


def test_ivf_persisted_rows_identical_to_per_query_build(spark):
    from magictables_spark.plans.similarity import ann_ivf_persisted, ann_ivf_topk

    k1, n1 = _rows_key(ann_ivf_topk(spark, SF))
    k2, n2 = _rows_key(ann_ivf_persisted(spark, SF))
    assert n1 == n2 > 0
    assert k1 == k2


def test_ivf_serving_plan_pruned_scan_no_index_exchange(spark):
    from magictables_spark.plans.similarity import ann_ivf_persisted

    ann_ivf_persisted(spark, SF).count()  # warm the index
    plan = (
        ann_ivf_persisted(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # index side arrives as a catalog scan of the persisted bucketed
    # cell-list table (no rebuild: the build's round-robin spread absent)
    assert "RoundRobinPartitioning" not in plan
    assert "spark_catalog.default.mts_wh_ivfl" in plan
    # the probe cells are pushed down INTO the scan (row-group pruning on
    # the sort key) and the bucket layout prunes whole buckets
    assert "PushedFilters: [In(cell" in plan, plan
    assert "SelectedBucketsCount" in plan, plan
    # zero index-side exchange: the candidate join keys on cell, and no
    # hashpartitioning exchange on cell exists anywhere in the plan (the
    # tiny probe side is broadcast; dedup/top-k exchanges key on
    # query_id/neighbor_id)
    assert "hashpartitioning(cell" not in plan, plan


_IVF_SESSION_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from magictables_spark.session import get_spark
from magictables_spark.plans.similarity import ann_ivf_persisted
from magictables_spark.warehouse import store_root
import hashlib, json, os

spark = get_spark("ann_ivf_persisted_session")
spark.sparkContext.setLogLevel("ERROR")
df = ann_ivf_persisted(spark, {sf!r})
rows = sorted(
    (int(r["query_id"]), int(r["neighbor_id"]), round(float(r["cosine"]), 12))
    for r in df.collect()
)
from magictables_spark.warehouse import Warehouse
meta = Warehouse(store_root("ann")).list_tables()
versions = sorted(
    m["version"] for k, m in meta.items() if k.startswith(("ivfC_", "ivfL_"))
)
print("rows:", len(rows), hashlib.md5(repr(rows).encode()).hexdigest())
print("versions:", versions)
spark.stop()
"""


def test_ivf_second_session_reuses_warm_index(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "session.py"
    script.write_text(_IVF_SESSION_SCRIPT.format(repo=repo, sf=SF))
    outs = []
    for _ in range(2):
        r = subprocess.run(
            [sys.executable, str(script)],
            capture_output=True,
            text=True,
            timeout=900,
            cwd=str(tmp_path),  # non-repo cwd, like the driver
        )
        assert r.returncode == 0, r.stderr[-2000:]
        outs.append(r.stdout)
    rows = [next(ln for ln in o.splitlines() if ln.startswith("rows:")) for o in outs]
    vers = [next(ln for ln in o.splitlines() if ln.startswith("versions:")) for o in outs]
    assert rows[0] == rows[1]
    assert vers[0] == vers[1]  # same version pointers => no rebuild


def test_ivf_append_equals_pinned_from_scratch_and_is_idempotent(spark):
    """The appended cell lists must be row-identical to assigning the
    WHOLE corpus against the pinned history quantizer from scratch
    (argmin assignment is per-vector independent and deterministic),
    and a second call must serve without re-appending. Also checks the
    pinned geometry is real: the centroid table contains ONLY history
    seeds even though the corpus has grown past them."""
    import json
    import math

    from pyspark.sql import functions as F

    from magictables_spark.plans.similarity import (
        APPEND_SPLIT,
        _dot,
        _ivf_assign,
        _ivf_persisted_index,
        _quantized,
        ann_ivf_index_append,
    )
    from magictables_spark.warehouse import store_root

    r1 = sorted(tuple(r) for r in ann_ivf_index_append(spark, SF).collect())
    store = _ivf_persisted_index(spark, SF, hist_limit=APPEND_SPLIT)
    cents = store.read(spark, "ivfC")
    n_vec = spark.read.parquet(os.path.join(SF, "embeddings.parquet")).count()
    cent_ids = [r["cent_id"] for r in cents.collect()]
    stride = max(31, round(math.sqrt(min(APPEND_SPLIT, n_vec))))
    assert all(c < APPEND_SPLIT and c % stride == 0 for c in cent_ids)

    stored = sorted(
        (r["cell"], r["neighbor_id"])
        for r in store.read(spark, "ivfA").select("cell", "neighbor_id").collect()
    )
    norms = _quantized(spark, SF).withColumn("nrm", _dot("q", "q"))
    scratch = sorted(
        (r["cell"], r["neighbor_id"])
        for r in _ivf_assign(norms, cents).select("cell", "neighbor_id").collect()
    )
    assert stored == scratch and len(stored) == n_vec

    from magictables_spark.warehouse import Warehouse

    wh_ann = Warehouse(store_root("ann"))
    v1 = {k: m["version"] for k, m in wh_ann.list_tables().items() if k.startswith("ivf")}
    r2 = sorted(tuple(r) for r in ann_ivf_index_append(spark, SF).collect())
    v2 = {k: m["version"] for k, m in wh_ann.list_tables().items() if k.startswith("ivf")}
    assert r1 == r2 and len(r1) > 0
    assert v1 == v2  # idempotent: no re-append, no rebuild


def test_ivf_rebuilds_only_the_missing_table(
    spark, sf_dir, duck, tmp_path, monkeypatch
):
    """A crash between the centroid and cell-list writes leaves the
    centroid table without its cell lists. The next call must rebuild
    only the cell lists, from the stored centroids, and still serve the
    oracle's rows."""
    import shutil

    from magictables_spark.plans.queries import REGISTRY
    from magictables_spark.plans.similarity import _ivf_persisted_index

    from .parity import compare

    monkeypatch.setenv("MTS_WAREHOUSE_DIR", str(tmp_path / "stores"))
    spec = REGISTRY["ann_ivf_persisted"]
    spec.fn(spark, sf_dir).collect()
    store = _ivf_persisted_index(spark, sf_dir)
    wh, ck, lk = store.warehouse, store.table_id("ivfC"), store.table_id("ivfL")
    cents_versions = wh.list_versions(ck)
    assert len(cents_versions) == 1
    shutil.rmtree(os.path.join(wh.root, "tables", lk))
    assert not wh.has_table(lk)

    ok, msg = compare(spec.fn(spark, sf_dir), duck.sql(spec.oracle))
    assert ok, msg
    assert wh.list_versions(ck) == cents_versions  # centroids not rewritten
    assert wh.has_table(lk)


def test_knn_indexed_vote_plan_pruned_scan_no_index_exchange(spark):
    """The indexed label vote serves from the persisted LABEL-BEARING
    cell-list table the same way ann_ivf_persisted serves top-k: probe
    cells pushed down into the scan, bucket pruning active, zero
    index-side exchange, no rebuild."""
    from magictables_spark.plans.similarity import knn_label_vote_indexed

    knn_label_vote_indexed(spark, SF).count()  # warm the index
    plan = (
        knn_label_vote_indexed(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "spark_catalog.default.mts_wh_ivfvl" in plan
    assert "PushedFilters: [In(cell" in plan, plan
    assert "SelectedBucketsCount" in plan, plan
    assert "RoundRobinPartitioning" not in plan
    assert "hashpartitioning(cell" not in plan, plan


def test_ivf_store_stream_matches_batch_append_and_is_warm(spark):
    """ivf_store_stream: the streamed per-batch appends at the pinned
    quantizer must land on exactly the batch append's result (both are
    hash-checked against the pinned oracle; here: row-identical to each
    other), and a warm re-invocation appends nothing."""
    import hashlib

    from magictables_spark.plans.similarity import (
        APPEND_SPLIT,
        ann_ivf_index_append,
        ivf_store_stream,
    )
    from magictables_spark.warehouse import corpus_fingerprint, store_root

    k1, n1 = _rows_key(ivf_store_stream(spark, SF))
    k2, n2 = _rows_key(ann_ivf_index_append(spark, SF))
    assert n1 == n2 > 0
    assert k1 == k2

    cfp = corpus_fingerprint(os.path.join(SF, "embeddings.parquet"))
    stag = hashlib.md5(
        f"v2:ivfstream:{APPEND_SPLIT}:{os.path.realpath(SF)}:{cfp}".encode()
    ).hexdigest()[:12]
    from magictables_spark.streaming.commit import subdir_store_paths

    cells_dir = os.path.join(store_root(f"ivfstream_{stag}"), "cells")
    # round-10 idempotent layout: seed + one subdir per micro-batch
    assert [os.path.basename(d) for d in subdir_store_paths(cells_dir)] == [
        "b0", "b1", "b2", "seed",
    ]
    files1 = sorted(
        os.path.join(d, f)
        for d in subdir_store_paths(cells_dir)
        for f in os.listdir(d)
    )
    n_cells1 = spark.read.parquet(*subdir_store_paths(cells_dir)).count()
    n_vec = spark.read.parquet(os.path.join(SF, "embeddings.parquet")).count()
    assert n_cells1 == n_vec  # every vector indexed exactly once
    k3, _ = _rows_key(ivf_store_stream(spark, SF))
    assert k3 == k1
    files2 = sorted(
        os.path.join(d, f)
        for d in subdir_store_paths(cells_dir)
        for f in os.listdir(d)
    )
    assert files2 == files1  # zero new writes on the warm path
