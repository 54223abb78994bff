"""Fixture scans (plans/catalog.py): ``load_table`` resolves a table's
schema once per corpus fingerprint (``fixture_schema``) and scans with
it, and ``spread_n`` falls back to full width only when the JVM cannot
estimate a frame.

- a second scan of the same table launches no Spark job and gets the
  same schema;
- a table rewritten in place with one more column shows that column
  (the fingerprint moves, so the schema is inferred again);
- ``events.ts`` is still a timestamp, not the raw nanos bigint, on the
  cached path;
- a ``localCheckpoint()``ed RDD-backed frame (estimate ``Long.MaxValue``)
  spreads over ``defaultParallelism``.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from magictables_spark.plans.catalog import load_table, spread_n


def _jobs_in(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _copy(sf_dir, tmp_path, *names):
    sf = tmp_path / "sf"
    sf.mkdir()
    for name in names:
        shutil.copyfile(os.path.join(sf_dir, f"{name}.parquet"), sf / f"{name}.parquet")
    return str(sf)


def test_second_scan_launches_no_job(spark, sf_dir, tmp_path):
    sf = _copy(sf_dir, tmp_path, "orders")
    first, cold = _jobs_in(spark, "scan_cold", lambda: load_table(spark, sf, "orders"))
    assert cold, "the first scan of a corpus infers its schema"
    second, warm = _jobs_in(spark, "scan_warm", lambda: load_table(spark, sf, "orders"))
    assert warm == []
    assert second.schema == first.schema
    assert second.count() == first.count() > 0


def test_rewritten_table_shows_its_new_column(spark, sf_dir, tmp_path):
    sf = _copy(sf_dir, tmp_path, "region")
    before = load_table(spark, sf, "region")
    assert "r_extra" not in before.columns
    path = os.path.join(sf, "region.parquet")
    t = pq.read_table(path)
    pq.write_table(t.append_column("r_extra", pa.array(range(t.num_rows))), path)
    after = load_table(spark, sf, "region")
    assert after.columns == before.columns + ["r_extra"]
    assert sorted(r.r_extra for r in after.collect()) == list(range(t.num_rows))


def test_events_ts_is_a_timestamp_on_the_cached_path(spark, sf_dir, tmp_path):
    """Also for a TIMESTAMP(NANOS) file, which scans as a nanos bigint."""
    sf = tmp_path / "sf"
    sf.mkdir()
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = t.schema.get_field_index("ts")
    nanos = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(nanos, sf / "events.parquet", version="2.6")
    want = load_table(spark, sf_dir, "events").select("event_id", "ts").collect()
    cold = load_table(spark, str(sf), "events")
    warm, jobs = _jobs_in(spark, "events_warm", lambda: load_table(spark, str(sf), "events"))
    assert jobs == []
    assert warm.schema == cold.schema
    assert dict(warm.dtypes)["ts"].startswith("timestamp")  # not nanos bigint
    assert warm.select("event_id", "ts").collect() == want


def test_spread_n_without_an_estimate_is_full_width(spark):
    sc = spark.sparkContext
    rows = sc.parallelize([(i,) for i in range(100)])
    df = spark.createDataFrame(rows, "a int").localCheckpoint()
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(size) == 2**63 - 1  # Long.MaxValue: no estimate
    assert spread_n(df) == sc.defaultParallelism
