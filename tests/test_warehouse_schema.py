"""Stored-schema reads (warehouse.py): every ``write_table`` records the
version's schema as ``df.schema.json()``, and ``read_table`` serves a
plain table with it instead of inferring it from the parquet footers.

- the schema and rows round-trip losslessly, for the types inference
  could get wrong or a DDL string could not spell (dotted top-level
  names, nested structs, ``array<struct>``, ``decimal(38,18)``,
  ``timestamp_ntz``, nulls);
- a read launches no Spark job before an action;
- a time-travel read gets its own version's schema;
- an entry written without a stored schema still reads (inference).
"""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

from magictables_spark.warehouse import Warehouse

SCHEMA = (
    "`customer.id` bigint, name string, "
    "addr struct<city: string, geo: struct<lat: double, lon: double>>, "
    "items array<struct<sku: string, qty: int>>, "
    "price decimal(38,18), seen timestamp_ntz"
)


def _frame(spark):
    rows = [
        (
            1,
            "ann",
            ("oslo", (59.91, 10.75)),
            [("a-1", 2), ("b-2", None)],
            Decimal("12345678901234567890.123456789012345678"),
            dt.datetime(2024, 2, 29, 23, 59, 59, 123456),
        ),
        (2, None, None, None, None, None),
        (3, "cy", ("rome", None), [], Decimal("-0.000000000000000001"), dt.datetime(1970, 1, 1)),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _jobs_in(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_round_trip_keeps_schema_and_rows(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    df = _frame(spark)
    wh.write_table(df, "t", {})
    back = wh.read_table(spark, "t")
    assert back.schema == df.schema
    assert sorted(back.collect()) == sorted(df.collect())


def test_read_launches_no_job_before_an_action(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    wh.write_table(_frame(spark), "t", {})
    back, jobs = _jobs_in(spark, "wh_schema_read", lambda: wh.read_table(spark, "t"))
    assert jobs == []
    assert back.count() == 3


def test_time_travel_read_gets_its_versions_schema(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    old_df = spark.createDataFrame([(1, "x")], "id bigint, tag string")
    wh.write_table(old_df, "t", {})
    v1 = wh.table_meta("t")["version"]
    new_df = spark.createDataFrame([(1.5, [1, 2])], "score double, ids array<int>")
    wh.write_table(new_df, "t", {})

    assert wh.read_table(spark, "t").schema == new_df.schema
    old = wh.read_table(spark, "t", version=v1)
    assert old.schema == old_df.schema
    assert old.collect() == old_df.collect()


def test_entry_without_stored_schema_still_reads(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "x"), (2, None)], "id bigint, tag string")
    wh.write_table(df, "t", {})
    entry = wh.table_meta("t")
    del entry["schema_json"]
    with open(wh._entry_path("t"), "w") as f:
        json.dump(entry, f)

    back = wh.read_table(spark, "t")
    assert back.schema == df.schema
    assert sorted(back.collect(), key=lambda r: r.id) == df.collect()
