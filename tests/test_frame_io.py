"""MagicFrame delegation closure (the reference's
wrap_magictable_methods property, magictable.py:451-459) + file-format
round-trips (SURVEY §2.B scan/sink surface)."""

from __future__ import annotations

import os

from magictables_spark.frame import MagicFrame
from magictables_spark.identity import step_id


def test_delegation_rewraps_and_preserves_provenance(spark):
    mf = MagicFrame(spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string"), sources=["s1"])
    out = mf.filter("id > 1").select("id")
    assert isinstance(out, MagicFrame)
    # a derived frame is its own table: one step id over the parent's name
    assert len(out.sources) == 1 and out.sources != ["s1"] and out.name == out.sources[0]
    assert out.df.collect()[0]["id"] == 2
    # non-DataFrame results pass through unwrapped
    assert out.count() == 1
    assert isinstance(mf.columns, list)


def test_delegation_unwraps_magicframe_args(spark):
    a = MagicFrame(spark.createDataFrame([(1, "x")], "id int, v string"), sources=["a"])
    b = MagicFrame(spark.createDataFrame([(1, "y")], "id int, w string"), sources=["b"])
    joined = a.join(b, "id")  # MagicFrame passed as positional arg
    assert isinstance(joined, MagicFrame)
    row = joined.df.collect()[0]
    assert (row["v"], row["w"]) == ("x", "y")


def test_summary_meta(spark):
    mf = MagicFrame(spark.createDataFrame([(1, "a")], "id int, s string"))
    meta = mf.summary_meta()
    assert meta["rows"] == 1
    assert meta["columns"] == ["id", "s"]
    assert meta["dtypes"] == {"id": "int", "s": "string"}
    assert meta["first_row"] == {"id": 1, "s": "a"}


def test_to_view_sql_entry(spark):
    mf = MagicFrame(spark.createDataFrame([(5,)], "x int"), sources=["deadbeef"])
    view = mf.to_view()
    assert spark.sql(f"SELECT x * 2 AS y FROM {view}").first()["y"] == 10


def test_csv_json_parquet_roundtrip(spark, tmp_path):
    mf = MagicFrame(
        spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], "id int, s string, v double"),
        sources=["io"],
    )
    for fmt in ("csv", "json", "parquet"):
        path = str(tmp_path / fmt)
        writer = mf.df.write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", True)
        writer.format(fmt).save(path)
        reader = spark.read.format(fmt)
        if fmt == "csv":
            reader = reader.option("header", True).option("inferSchema", True)
        back = reader.load(path)
        got = sorted(tuple(r) for r in back.select("id", "s", "v").collect())
        assert got == [(1, "a", 1.5), (2, "b", 2.5)], f"{fmt} roundtrip mismatch: {got}"


def test_frame_sql_direct(spark):
    """mf.sql is the hand-written twin of transform's generated SQL."""
    from magictables_spark.frame import MagicFrame

    mf = MagicFrame(spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], ["id", "k"]))
    out = mf.sql("SELECT k, COUNT(*) AS n FROM df GROUP BY k ORDER BY k")
    assert [(r.k, r.n) for r in out.df.collect()] == [("a", 2), ("b", 1)]
    # its own identity: one step id over the parent's name and the query
    query = "SELECT k, COUNT(*) AS n FROM df GROUP BY k ORDER BY k"
    assert out.sources == [step_id(mf.name, "sql", [query, "df"], {})]


def test_frame_pandas_on_spark(spark):
    from magictables_spark.frame import MagicFrame

    mf = MagicFrame(spark.createDataFrame([(1, 2.0), (2, 4.0)], ["id", "v"]))
    psdf = mf.to_pandas_on_spark()
    assert float(psdf["v"].sum()) == 6.0


def test_ingest_files_are_removed_once_warehoused(spark, tmp_path, monkeypatch):
    """An ingest written to a warehouse leaves no JSONL file behind; a
    frame built without a warehouse keeps its file, so it still collects
    after a later ingest."""
    import tempfile

    from magictables_spark import frame
    from magictables_spark.warehouse import Warehouse

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(frame, "_INGEST_DIR", None)
    wh = Warehouse(str(tmp_path / "wh"))

    def ingest_files():
        return [f for _, _, fs in os.walk(tmp_path / "tmp") for f in fs]

    kept = MagicFrame.from_raw(spark, [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}])
    assert len(ingest_files()) == 1
    stored = MagicFrame.from_raw(spark, [{"id": 3, "v": "c"}], warehouse=wh)
    assert len(ingest_files()) == 1  # only the warehouse-less frame's
    assert [tuple(r) for r in stored.df.collect()] == [(3, "c")]
    assert sorted(tuple(r) for r in kept.df.collect()) == [(1, "a"), (2, "b")]
