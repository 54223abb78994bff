"""Warehouse version retention + time-travel (round-6 verdict item 5)
and the content-addressed store keys / per-user store roots (round-6
advisories).

Contract under test (warehouse.py):

- every ``write_table`` folds the superseded version into a retained
  ``history``; ``read_table(version=...)`` time-travels to it;
- ``vacuum(retention_s)`` removes only historical versions older than
  the retention and NEVER the live or pinned versions — so a reader
  that resolved version N within the retention window always finishes
  its scan even across a concurrent swap+vacuum to N+1;
- cross-table_id concurrent metadata writes are serialized by the
  advisory lock (previously: last save dropped the other's entry);
- ``corpus_fingerprint`` moves when a corpus file is regenerated even
  at the same size/path, and the incremental stores key on it.
"""

from __future__ import annotations

import os
import threading

import pytest

from magictables_spark.warehouse import Warehouse, corpus_fingerprint, store_root


def _write(spark, wh, table_id, tag, n=100):
    df = spark.range(0, n).selectExpr("id", f"{tag} AS tag")
    wh.write_table(df, table_id, {"tag": tag})
    return wh.table_meta(table_id)["version"]


def test_time_travel_read_and_history(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    v1 = _write(spark, wh, "t", 1)
    v2 = _write(spark, wh, "t", 2)
    assert v1 != v2

    versions = wh.list_versions("t")
    assert [v["version"] for v in versions] == [v1, v2]
    assert versions[-1]["live"] and not versions[0]["live"]
    assert all(v["on_disk"] for v in versions)

    live = wh.read_table(spark, "t")
    old = wh.read_table(spark, "t", version=v1)
    assert live.select("tag").distinct().collect()[0][0] == 2
    assert old.select("tag").distinct().collect()[0][0] == 1

    with pytest.raises(KeyError):
        wh.read_table(spark, "t", version="v_nope")


def test_reader_survives_swap_and_vacuum_within_retention(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    v1 = _write(spark, wh, "t", 1)
    # reader resolves version 1 lazily (plan only, no execution yet)
    reader_df = wh.read_table(spark, "t", version=v1)
    # concurrent swap to v2 + vacuum at the default 1 h retention
    v2 = _write(spark, wh, "t", 2)
    removed = wh.vacuum("t")  # default retention: v1 too young to remove
    assert (("t", v1) not in removed) and v2 != v1
    # the reader's scan must still complete against v1's payload
    rows = reader_df.collect()
    assert len(rows) == 100 and all(r.tag == 1 for r in rows)


def test_vacuum_respects_live_and_pinned(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    v1 = _write(spark, wh, "t", 1)
    v2 = _write(spark, wh, "t", 2)
    v3 = _write(spark, wh, "t", 3)
    wh.pin_version("t", v2)

    removed = wh.vacuum("t", retention_s=0.0)
    assert ("t", v1) in removed
    assert ("t", v2) not in removed and ("t", v3) not in removed

    # pinned + live versions still readable; vacuumed one raises
    assert wh.read_table(spark, "t", version=v2).count() == 100
    assert wh.read_table(spark, "t").count() == 100
    with pytest.raises((KeyError, FileNotFoundError)):
        wh.read_table(spark, "t", version=v1).count()

    # unpin -> now removable
    wh.unpin_version("t", v2)
    assert ("t", v2) in wh.vacuum("t", retention_s=0.0)
    # live survives any retention
    assert wh.read_table(spark, "t").select("tag").distinct().collect()[0][0] == 3

    with pytest.raises(KeyError):
        wh.pin_version("t", "v_nope")


def test_cross_table_concurrent_writers_keep_both_entries(spark, tmp_path):
    """Round-6 advisory: the unlocked read-modify-write of _meta.json
    let two writers of DIFFERENT table_ids drop each other's entry.
    Interleave many metadata swaps from two threads (each flock
    acquisition uses its own fd, so the advisory lock serializes them)
    and require both entries + full histories to survive."""
    wh = Warehouse(str(tmp_path / "wh"))
    df_a = spark.range(0, 10).selectExpr("id", "0 AS tag")
    df_b = spark.range(0, 10).selectExpr("id", "1 AS tag")
    errs = []

    def writer(table_id, df):
        try:
            for _ in range(6):
                wh.write_table(df, table_id, {})
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [
        threading.Thread(target=writer, args=("alpha", df_a)),
        threading.Thread(target=writer, args=("beta", df_b)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert wh.has_table("alpha") and wh.has_table("beta")
    # every one of the 6 writes per table is accounted for (live + 5 history)
    assert len(wh.list_versions("alpha")) == 6
    assert len(wh.list_versions("beta")) == 6
    assert wh.read_table(spark, "alpha").count() == 10
    assert wh.read_table(spark, "beta").count() == 10


def test_corpus_fingerprint_moves_on_regeneration(tmp_path):
    p = tmp_path / "corpus.parquet"
    p.write_bytes(b"x" * 64)
    fp1 = corpus_fingerprint(str(p))
    assert corpus_fingerprint(str(p)) == fp1  # stable while untouched
    # regenerate SAME content, same size, same path -> mtime_ns moves
    os.utime(p, ns=(123, 456))
    assert corpus_fingerprint(str(p)) != fp1
    # dir form picks up parquet files recursively
    d = tmp_path / "dir"
    (d / "sub").mkdir(parents=True)
    (d / "sub" / "a.parquet").write_bytes(b"a")
    fpd = corpus_fingerprint(str(d))
    (d / "sub" / "a.parquet").write_bytes(b"ab")
    assert corpus_fingerprint(str(d)) != fpd


def test_corpus_fingerprint_resolves_file_uris_and_fails_loudly(tmp_path):
    """A file: URI fingerprints its local file (two corpora differ, each
    equal to its plain path's); a non-local scheme or a missing path
    raises instead of hashing to one constant."""
    import pytest

    from .conftest import SF_SMALL

    fps = []
    for sf in ("sf0.01", "sf0.001"):
        plain = os.path.join(os.path.dirname(SF_SMALL), sf, "orders.parquet")
        fp = corpus_fingerprint(plain)
        assert corpus_fingerprint("file://" + plain) == fp
        fps.append(fp)
    assert fps[0] != fps[1]
    with pytest.raises(ValueError, match="s3a://bucket/sf0.01/orders.parquet"):
        corpus_fingerprint("s3a://bucket/sf0.01/orders.parquet")
    missing = str(tmp_path / "missing.parquet")
    with pytest.raises(ValueError, match="missing.parquet"):
        corpus_fingerprint(missing)


def test_store_root_env_override_and_per_user(monkeypatch, tmp_path):
    monkeypatch.setenv("MTS_WAREHOUSE_DIR", str(tmp_path / "custom"))
    assert store_root("ann") == str(tmp_path / "custom" / "ann")
    monkeypatch.delenv("MTS_WAREHOUSE_DIR")
    root = store_root("ann")
    import stat
    import tempfile

    assert root.startswith(os.path.join(tempfile.gettempdir(), "mts_stores_"))
    # round-7 advisory: base dir must exist, be OURS, and be private
    base = os.path.dirname(root)
    st = os.lstat(base)
    assert st.st_uid == os.getuid()
    assert stat.S_IMODE(st.st_mode) == 0o700


def test_incremental_stores_expose_version_history(spark, sf_dir, tmp_path, monkeypatch):
    """Round-6 verdict item 5 tail: the incremental stores' tables ride
    the same versioned warehouse, so their history is inspectable via
    list_versions and a superseding write retains the old version for
    time-travel until vacuumed."""
    monkeypatch.setenv("MTS_WAREHOUSE_DIR", str(tmp_path / "stores"))
    from magictables_spark.plans.events_pack import rollup_incremental_store
    from magictables_spark.warehouse import Warehouse, store_root

    rollup_incremental_store(spark, sf_dir).count()
    wh = Warehouse(store_root("rollup"))
    meta = wh.list_tables()
    key = next(k for k in meta if k.startswith("rollup_"))
    hist1 = wh.list_versions(key)
    assert len(hist1) == 1 and hist1[-1]["live"]

    # supersede the store (a maintenance rebuild) -> history grows and
    # the old version time-travels
    old_version = hist1[-1]["version"]
    wh.write_table(wh.read_table(spark, key).limit(1), key, {"rebuild": True})
    hist2 = wh.list_versions(key)
    assert [v["version"] for v in hist2][0] == old_version
    assert len(hist2) == 2 and hist2[-1]["live"] and not hist2[0]["live"]
    assert wh.read_table(spark, key, version=old_version).count() > 1
    assert wh.read_table(spark, key).count() == 1


def test_incremental_store_rebuilds_on_regenerated_corpus(
    spark, sf_dir, tmp_path, monkeypatch
):
    """End-to-end advisory check: run dedup_incremental_store once (store
    built), regenerate documents.parquet in place byte-identically (new
    mtime), run again — a NEW store key must be built rather than the
    stale history served."""
    monkeypatch.setenv("MTS_WAREHOUSE_DIR", str(tmp_path / "stores"))
    import shutil

    from magictables_spark.plans.queries import REGISTRY

    sf_copy = tmp_path / "sf"
    sf_copy.mkdir()
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(sf_dir, f), sf_copy / f)

    fn = REGISTRY["dedup_incremental_store"].fn
    n1 = fn(spark, str(sf_copy)).count()
    wh_root = tmp_path / "stores" / "fingerprints" / "tables"
    keys_before = set(os.listdir(wh_root))

    # regenerate: rewrite the file with identical bytes (size unchanged)
    doc = sf_copy / "documents.parquet"
    data = doc.read_bytes()
    doc.write_bytes(data)

    n2 = fn(spark, str(sf_copy)).count()
    keys_after = set(os.listdir(wh_root))
    assert n1 == n2  # same corpus content -> same result
    assert keys_after > keys_before, "regenerated corpus must force a rebuild"

def test_per_mutation_write_cost_independent_of_catalog_size(spark, tmp_path):
    """Round-7 verdict item 7: metadata is sharded per table
    (tables/<id>/_entry.json), so mutating one table rewrites O(entry)
    bytes and touches no global blob — no matter how many tables the
    catalog holds. Register many tables, then prove a single mutation
    leaves every other table's entry file untouched and writes only
    the mutated table's shard."""
    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.range(0, 5).selectExpr("id")
    n = 40
    for i in range(n):
        wh.write_table(df, f"tbl_{i:03d}", {"i": i})
    entry_paths = {i: wh._entry_path(f"tbl_{i:03d}") for i in range(n)}
    assert all(os.path.exists(p) for p in entry_paths.values())
    # no global catalog blob was ever written
    assert not os.path.exists(os.path.join(wh.root, "_meta.json"))

    before = {i: os.stat(p).st_mtime_ns for i, p in entry_paths.items()}
    sizes_before = {i: os.stat(p).st_size for i, p in entry_paths.items()}
    # one mutation: supersede table 7 (write + pin + vacuum path)
    wh.write_table(df, "tbl_007", {"i": 7, "rebuild": True})
    after = {i: os.stat(entry_paths[i]).st_mtime_ns for i in range(n)}
    changed = {i for i in range(n) if after[i] != before[i]}
    assert changed == {7}, f"mutation touched other shards: {sorted(changed)}"
    # the mutated shard grew by one history entry, not by O(catalog)
    assert os.stat(entry_paths[7]).st_size < 4 * sizes_before[7] + 2048
    # enumeration still sees the whole catalog
    assert len(wh.list_tables()) == n


def test_legacy_meta_blob_still_readable_and_migrates_on_write(spark, tmp_path):
    """A warehouse written by the pre-shard layout (one _meta.json
    blob) keeps working: entries resolve through the legacy fallback,
    and the first mutation of a table moves its entry to the shard,
    which then wins."""
    import json

    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.range(0, 5).selectExpr("id", "1 AS tag")
    wh.write_table(df, "legacy_t", {})
    # simulate the old layout: move the shard's content into _meta.json
    entry = wh.table_meta("legacy_t")
    os.remove(wh._entry_path("legacy_t"))
    with open(os.path.join(wh.root, "_meta.json"), "w") as f:
        json.dump({"legacy_t": entry}, f, default=str)

    assert wh.has_table("legacy_t")
    assert wh.read_table(spark, "legacy_t").count() == 5
    assert "legacy_t" in wh.list_tables()
    # mutation migrates the entry to its shard
    wh.write_table(spark.range(0, 3).selectExpr("id", "2 AS tag"), "legacy_t", {})
    assert os.path.exists(wh._entry_path("legacy_t"))
    assert wh.read_table(spark, "legacy_t").count() == 3
    # shard wins over the (now stale) legacy blob
    assert wh.table_meta("legacy_t")["version"] != entry["version"]


def _bucketed(spark, wh, table_id, tag):
    df = spark.range(0, 40).selectExpr("id", f"{tag} AS tag")
    wh.write_table(df, table_id, {}, bucket_by=["id"], n_buckets=4)
    return wh.table_meta(table_id)["version"]


def _registered(spark, table_id, version):
    return spark.catalog.tableExists(f"mts_wh_{table_id}_{version}")


def test_warm_bucketed_read_launches_no_job(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    _bucketed(spark, wh, "bkt_warm", 1)
    wh.read_table(spark, "bkt_warm")  # registers the live version
    sc = spark.sparkContext
    sc.setJobGroup("wh_bucketed_warm", "wh_bucketed_warm")
    try:
        df = wh.read_table(spark, "bkt_warm")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("wh_bucketed_warm") == []
    assert df.count() == 40


def test_bucketed_read_drops_only_its_own_stale_registrations(spark, tmp_path):
    """A registration whose history version dir was removed is dropped
    by the next read; a same-prefix registration of the same table id
    under another warehouse root is left alone."""
    import shutil

    wh = Warehouse(str(tmp_path / "wh"))
    other = Warehouse(str(tmp_path / "other"))
    v1 = _bucketed(spark, wh, "bkt_sweep", 1)
    _bucketed(spark, wh, "bkt_sweep", 2)
    v_other = _bucketed(spark, other, "bkt_sweep", 3)
    wh.read_table(spark, "bkt_sweep", version=v1)
    other.read_table(spark, "bkt_sweep")
    assert _registered(spark, "bkt_sweep", v1)
    assert _registered(spark, "bkt_sweep", v_other)

    shutil.rmtree(tmp_path / "wh" / "tables" / "bkt_sweep" / v1)
    assert wh.read_table(spark, "bkt_sweep").count() == 40
    assert not _registered(spark, "bkt_sweep", v1)
    assert _registered(spark, "bkt_sweep", v_other)
    assert other.read_table(spark, "bkt_sweep").count() == 40
