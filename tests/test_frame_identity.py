"""Derived frames get their own cache identity.

A chain's warehouse cache id is ``table_name(sources + [api id])``
(operators/chain.py). A derived frame — a delegated DataFrame op,
``sql``, ``similar_topk``, ``transform`` — that kept its parent's
sources would hit the parent's cached chain result and return the
parent's rows. Each such step's sources are one deterministic
``identity.step_id`` instead (fixed length, so a long pipeline's chain
id still fits a directory name), while pure source -> chain ->
transform pipelines keep the reference's names byte for byte.
"""

from __future__ import annotations

import pytest

from magictables_spark.frame import MagicFrame
from magictables_spark.identity import (
    raw_data_id,
    source_id,
    step_id,
    table_name,
    transform_name,
)
from magictables_spark.llm import MockLLM
from magictables_spark.warehouse import Warehouse

TPL = "http://api/user/{x}"
ROWS = [{"x": i} for i in range(10)]


def _fetch(url, params=None):
    return {"score": int(url.rsplit("/", 1)[-1]) * 10}


@pytest.fixture
def wh(tmp_path):
    return Warehouse(str(tmp_path / "wh"))


def _chained_rows(mf, wh):
    return mf.chain(TPL, fetcher=_fetch, warehouse=wh).df.count()


def test_filter_then_chain_is_not_the_parents_cached_chain(spark, wh):
    mf = MagicFrame.from_raw(spark, ROWS)
    assert _chained_rows(mf, wh) == 10
    assert _chained_rows(mf.filter("x < 3"), wh) == 3


def test_sql_then_chain_is_not_the_parents_cached_chain(spark, wh):
    mf = MagicFrame.from_raw(spark, ROWS)
    assert _chained_rows(mf, wh) == 10
    assert _chained_rows(mf.sql("SELECT x FROM df WHERE x < 4"), wh) == 4


def test_transform_then_chain_is_not_the_parents_cached_chain(spark, wh):
    mf = MagicFrame.from_raw(spark, ROWS)
    assert _chained_rows(mf, wh) == 10
    llm = MockLLM(["```sql\nSELECT x FROM df WHERE x < 5\n```"])
    out = mf.transform("first five", llm=llm, warehouse=wh)
    assert _chained_rows(out, wh) == 5


def test_similar_topk_then_chain_is_not_the_parents_cached_chain(spark, wh):
    rows = [(i, [float((i * j) % 7 - 3) for j in range(64)]) for i in range(10)]
    mf = MagicFrame(spark.createDataFrame(rows, "x bigint, emb array<double>"), sources=["emb"])
    assert _chained_rows(mf, wh) == 10
    near = mf.similar_topk("x", "emb", k=3, dim=64).select("neighbor_id").withColumnRenamed(
        "neighbor_id", "x"
    )
    n_near = near.df.count()
    assert n_near != 10
    assert _chained_rows(near, wh) == n_near


def test_source_chain_transform_names_follow_identity_formulas(spark, wh):
    llm = MockLLM(["```sql\nSELECT x, api_score FROM df\n```"])
    base = MagicFrame.from_raw(spark, ROWS)
    chained = base.chain(TPL, fetcher=_fetch, warehouse=wh)
    out = chained.transform("keep score", llm=llm, warehouse=wh, model="m")
    raw, api = raw_data_id(ROWS), source_id("api", TPL, {})
    assert base.sources == [raw] and base.name == raw
    assert chained.sources == [raw, api] and chained.name == table_name([raw, api])
    assert out.name == transform_name(table_name([raw, api]), "keep score", "m")
    assert out.sources == [step_id(chained.name, "transform", ["keep score", "m"], {})]


def test_same_op_on_independent_frames_gives_equal_names(spark):
    a = MagicFrame.from_raw(spark, ROWS).filter("x < 3").select("x")
    b = MagicFrame.from_raw(spark, ROWS).filter("x < 3").select("x")
    assert a.name == b.name
    assert a.name != MagicFrame.from_raw(spark, ROWS).filter("x < 4").select("x").name


def test_long_derived_pipeline_chains_into_a_warehouse(spark, wh):
    mf = (
        MagicFrame.from_raw(spark, ROWS)
        .filter("x < 8")
        .select("x")
        .withColumnRenamed("x", "y")
        .withColumnRenamed("y", "x")
        .filter("x > 0")
        .dropDuplicates(["x"])
        .filter("x < 7")
    )
    assert len(mf.name) == 32
    assert _chained_rows(mf, wh) == 6


def test_raw_dataframe_argument_is_never_served_from_cache(spark, wh, tmp_path):
    # a DataFrame over a rewritten parquet path keeps its plan hash, so
    # it cannot name the step: a join with it must recompute
    path = str(tmp_path / "keys.parquet")
    mf = MagicFrame.from_raw(spark, ROWS)
    spark.createDataFrame([(i,) for i in range(3)], "x bigint").write.parquet(path)
    assert _chained_rows(mf.join(spark.read.parquet(path), "x"), wh) == 3
    spark.createDataFrame([(i,) for i in range(5)], "x bigint").write.mode(
        "overwrite"
    ).parquet(path)
    assert _chained_rows(mf.join(spark.read.parquet(path), "x"), wh) == 5
    keys = MagicFrame.from_raw(spark, [{"x": 1}])
    assert mf.join(keys, "x").name == mf.join(keys, "x").name


def test_sql_over_another_view_is_never_served_from_cache(spark, wh):
    mf = MagicFrame.from_raw(spark, ROWS)
    query = "SELECT df.x FROM df JOIN keys ON df.x = keys.x"
    spark.createDataFrame([(i,) for i in range(3)], "x bigint").createOrReplaceTempView("keys")
    assert _chained_rows(mf.sql(query), wh) == 3
    spark.createDataFrame([(i,) for i in range(5)], "x bigint").createOrReplaceTempView("keys")
    assert _chained_rows(mf.sql(query), wh) == 5
