"""Concurrent-writer warehouse race (round-5 verdict item 8).

Two separate python processes (separate JVMs + SparkSessions)
materialize the SAME table_id into one shared warehouse dir at the same
time, while the parent process continuously re-reads the table. The
versioned-payload contract (warehouse.py) must hold:

- each writer lands in its own ``tables/<id>/v<pid>_<ms>/`` dir, so
  part-files from the two writers never interleave;
- the ``_entry.json`` pointer swap is atomic (os.replace) — every read
  resolves to ONE complete version: last-writer-wins, zero torn reads;
- after both writers finish, the surviving payload row-set is exactly
  one writer's rows (never a mix).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

_WRITER = r"""
import sys, time
sys.path.insert(0, {repo!r})
from magictables_spark.session import get_spark
from magictables_spark.warehouse import Warehouse

tag = int(sys.argv[1])
wh_dir = sys.argv[2]
spark = get_spark("race_writer_" + str(tag))
spark.sparkContext.setLogLevel("ERROR")
wh = Warehouse(wh_dir)
# every row carries the writer tag, so a torn read (mixed part-files)
# would surface as a mixed-tag payload
df = spark.range(0, 500).selectExpr("id", f"{{tag}} AS writer")
for _ in range(3):  # repeated overwrites widen the race window
    wh.write_table(df, "contested", {{"writer": tag}})
print("done", tag)
spark.stop()
"""


def test_simultaneous_writers_one_winner_zero_torn_reads(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wh_dir = str(tmp_path / "wh")
    script = tmp_path / "writer.py"
    script.write_text(_WRITER.format(repo=repo))

    procs = [
        subprocess.Popen(
            [sys.executable, str(script), str(tag), wh_dir],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
            cwd=str(tmp_path),
        )
        for tag in (1, 2)
    ]

    # while the writers race, poll the metadata pointer: every observed
    # state must be a parseable JSON whose payload dir exists in full
    # (atomic pointer swap => no window where the pointer names a
    # half-written version)
    import time

    meta_path = os.path.join(wh_dir, "tables", "contested", "_entry.json")
    observed_versions = set()
    deadline = time.time() + 280
    while any(p.poll() is None for p in procs) and time.time() < deadline:
        if os.path.exists(meta_path):
            try:
                with open(meta_path) as f:
                    ent = json.load(f)
            except json.JSONDecodeError as e:  # torn metadata write
                raise AssertionError("torn _entry.json observed") from e
            if ent:
                vdir = os.path.join(wh_dir, "tables", "contested", ent["version"])
                assert os.path.isdir(vdir), "pointer names a missing version"
                # a version visible through the pointer must be COMPLETE:
                # parquet _SUCCESS marker present before the swap
                assert os.path.exists(os.path.join(vdir, "_SUCCESS")), (
                    "pointer swapped before payload completed"
                )
                observed_versions.add(ent["version"])
        time.sleep(0.05)

    for p in procs:
        out, err = p.communicate(timeout=900)
        assert p.returncode == 0, err[-2000:]

    # final state: one winner, complete payload, single-tag rows
    with open(meta_path) as f:
        ent = json.load(f)
    assert ent["source_info"]["writer"] in (1, 2)
    vdir = os.path.join(wh_dir, "tables", "contested", ent["version"])
    import duckdb

    rows = duckdb.sql(
        f"SELECT DISTINCT writer FROM read_parquet('{vdir}/*.parquet')"
    ).fetchall()
    assert len(rows) == 1, f"torn payload: tags {rows}"
    assert rows[0][0] == ent["source_info"]["writer"]
    n = duckdb.sql(f"SELECT COUNT(*) FROM read_parquet('{vdir}/*.parquet')").fetchone()
    assert n[0] == 500
    # the race actually exercised distinct versions (both writers wrote)
    tables_dir = os.path.join(wh_dir, "tables", "contested")
    assert len(os.listdir(tables_dir)) >= 2 or len(observed_versions) >= 2


def test_incremental_dedup_store_reuses_across_calls(spark):
    """dedup_incremental_store: the fingerprint store is built once per
    (corpus, split) key; a second invocation serves from the warehouse
    (same version pointer) and returns identical rows."""
    import json
    import os

    from magictables_spark.plans.textops import dedup_incremental_store
    from magictables_spark.warehouse import store_root

    sf = "/root/testdata/sf0.001"
    r1 = sorted(tuple(r) for r in dedup_incremental_store(spark, sf).collect())
    from magictables_spark.warehouse import Warehouse as _WH

    _wh = _WH(store_root("fingerprints"))
    v1 = {k: m["version"] for k, m in _wh.list_tables().items()}
    r2 = sorted(tuple(r) for r in dedup_incremental_store(spark, sf).collect())
    v2 = {k: m["version"] for k, m in _wh.list_tables().items()}
    assert r1 == r2 and len(r1) > 0
    assert v1 == v2  # no rebuild on the second call
    # history actually suppresses batch rows: every surviving doc_id is
    # from the batch side and none of their fingerprints exist in the
    # history split
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    base_fps = {
        r["fp"]
        for r in docs.filter(F.col("doc_id") < 250)
        .select(F.md5("text").alias("fp"))
        .distinct()
        .collect()
    }
    for doc_id, fp in r1:
        assert doc_id >= 250 and fp not in base_fps


def test_incremental_minhash_store_reuses_across_calls(spark):
    """dedup_minhash_incremental: band index + shingle store are built
    once per (corpus, split) key; a second invocation serves from the
    warehouse (version pointers unchanged) and returns identical rows,
    and every reported dup_of really is a history doc whose exact
    shingle Jaccard crosses the 0.5 threshold."""
    import json
    import os

    from magictables_spark.plans.similarity import dedup_minhash_incremental
    from magictables_spark.warehouse import store_root

    sf = "/root/testdata/sf0.001"
    r1 = sorted(tuple(r) for r in dedup_minhash_incremental(spark, sf).collect())
    from magictables_spark.warehouse import Warehouse as _WH

    _wh = _WH(store_root("minhash"))
    v1 = {k: m["version"] for k, m in _wh.list_tables().items()}
    r2 = sorted(tuple(r) for r in dedup_minhash_incremental(spark, sf).collect())
    v2 = {k: m["version"] for k, m in _wh.list_tables().items()}
    assert r1 == r2 and len(r1) > 0
    assert v1 == v2  # no rebuild on the second call
    for doc_id, dup_of, jaccard in r1:
        assert doc_id >= 250 and dup_of < 250 and jaccard >= 0.5


def test_rollup_incremental_store_reuses_and_merges_exactly(spark):
    """rollup_incremental_store: history partials are built once per
    (corpus, split) key; a second invocation serves the same store
    (version pointer unchanged) and returns identical rows; and the
    merged rollup equals a from-scratch GROUP BY over all events."""
    import json
    import os

    from pyspark.sql import functions as F

    from magictables_spark.plans.events_pack import VAL_I, rollup_incremental_store
    from magictables_spark.plans.registry import _t
    from magictables_spark.warehouse import store_root

    sf = "/root/testdata/sf0.001"
    r1 = sorted(tuple(r) for r in rollup_incremental_store(spark, sf).collect())
    from magictables_spark.warehouse import Warehouse as _WH

    _wh = _WH(store_root("rollup"))
    v1 = {k: m["version"] for k, m in _wh.list_tables().items()}
    r2 = sorted(tuple(r) for r in rollup_incremental_store(spark, sf).collect())
    v2 = {k: m["version"] for k, m in _wh.list_tables().items()}
    assert r1 == r2 and len(r1) > 0
    assert v1 == v2  # second call merged against the SAME store version
    full = sorted(
        tuple(r)
        for r in _t(spark, sf, "events")
        .groupBy(
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr(VAL_I)).alias("sum_cents"),
        )
        .collect()
    )
    assert r1 == full


def test_scd2_incremental_store_reuses_and_writes_o_touched(spark):
    """scd2_incremental_store: (a) rows identical to the full recompute
    (scd2_from_changelog — the oracle also proves this cross-engine),
    (b) warm second call serves the same store versions, (c) the delta
    covers exactly the batch's touched users — O(touched), never
    O(dimension)."""
    from pyspark.sql import functions as F

    from magictables_spark.plans.events_pack import (
        _SCD2_SPLIT_TS,
        scd2_from_changelog,
        scd2_incremental_store,
    )
    from magictables_spark.plans.registry import _t
    from magictables_spark.warehouse import Store

    sf = "/root/testdata/sf0.001"
    inc = sorted(tuple(r) for r in scd2_incremental_store(spark, sf).collect())
    full = sorted(tuple(r) for r in scd2_from_changelog(spark, sf).collect())
    assert inc == full and len(inc) > 0

    ev = _t(spark, sf, "events")
    store = Store("scd2", sf, "events", f"v1:scd2:{_SCD2_SPLIT_TS}")
    tag, wh = store.tag, store.warehouse
    split = F.lit(_SCD2_SPLIT_TS).cast("timestamp")
    batch_users = {
        r["user_id"]
        for r in ev.filter(F.col("ts") >= split).select("user_id").distinct().collect()
    }
    delta_users = {
        r["user_id"]
        for r in wh.read_table(spark, f"scd2D_{tag}").select("user_id").distinct().collect()
    }
    assert delta_users == batch_users  # exactly the touched users
    # O(touched) bound: the delta's volume is bounded by the touched
    # users' stored runs plus the batch rows — at this tiny fixture
    # every user is touched, so the meaningful bound is per-user, not
    # |delta| < |dimension|
    stored = wh.read_table(spark, f"scd2H_{tag}")
    touched_runs = stored.filter(stored.user_id.isin(list(batch_users))).count()
    batch_rows = ev.filter(F.col("ts") >= split).count()
    delta_n = wh.read_table(spark, f"scd2D_{tag}").count()
    assert delta_n <= touched_runs + batch_rows

    v1 = {k: m["version"] for k, m in wh.list_tables().items() if tag in k}
    # the key names the built store: both tables, one live version each
    assert set(v1) == {f"scd2H_{tag}", f"scd2D_{tag}"}
    assert all(len(wh.list_versions(k)) == 1 for k in v1)
    r2 = sorted(tuple(r) for r in scd2_incremental_store(spark, sf).collect())
    v2 = {k: m["version"] for k, m in wh.list_tables().items() if tag in k}
    assert r2 == inc
    assert v1 == v2  # warm: no rebuild, no re-merge


def test_simhash_incremental_store_reuses_across_calls(spark):
    """simhash_incremental: the banded signature store builds once per
    (corpus, banding, split) key; a second call serves the same store
    version and returns identical rows, and every reported dup really
    is a (batch, history) pair within Hamming 2 of the exact 60-bit
    signatures."""
    import json
    import os

    from magictables_spark.plans.similarity import (
        _simhash_sig_frame,
        simhash_incremental,
    )
    from magictables_spark.plans.registry import _t
    from magictables_spark.warehouse import store_root

    sf = "/root/testdata/sf0.001"
    r1 = sorted(tuple(r) for r in simhash_incremental(spark, sf).collect())
    from magictables_spark.warehouse import Warehouse as _WH

    _wh = _WH(store_root("simhash"))
    v1 = {k: m["version"] for k, m in _wh.list_tables().items()}
    r2 = sorted(tuple(r) for r in simhash_incremental(spark, sf).collect())
    v2 = {k: m["version"] for k, m in _wh.list_tables().items()}
    assert r1 == r2
    assert v1 == v2  # no rebuild on the second call
    sigs = {
        r["doc_id"]: r["s"]
        for r in _simhash_sig_frame(_t(spark, sf, "documents")).collect()
    }
    for doc_id, dup_of, hamming in r1:
        assert doc_id >= 250 and dup_of < 250
        assert bin(sigs[doc_id] ^ sigs[dup_of]).count("1") == hamming <= 2
