"""Catalog of the fixture tables (TESTDATA.md) + scan helpers.

Every query path goes through :func:`load_table` so scans stay uniform:
``spark.read.schema(...).parquet`` — declarative, so Catalyst keeps
predicate pushdown / column pruning / row-group skipping on the scan.
At 100 TB the same call reads a partitioned directory tree and
partition pruning applies unchanged.

A table's schema is resolved once per corpus fingerprint
(:func:`fixture_schema`, keyed like ``warehouse.store_key``): the
footer-derived schema is remembered, so a later scan of the same files
launches no schema-inference job, and a regenerated corpus moves the
fingerprint and is inferred again. Only the schema is remembered: every
query still lists and scans the files.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from magictables_spark.warehouse import corpus_fingerprint, local_path

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor — their
# cardinality is fixed by the schema (region=5, nation=25), not by SF.
BROADCAST_TABLES = {"region", "nation"}

# (realpath, corpus fingerprint) -> the file's inferred schema; one entry
# per distinct table file the process reads.
_SCHEMAS: dict[tuple[str, str], StructType] = {}


def fixture_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """File schema of ``<sf_dir>/<name>.parquet`` (before ``load_table``
    converts a nanos ``events.ts``), inferred only on the first call per
    corpus fingerprint. Sets the reader confs every scan of a fixture
    needs."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Defensive runtime confs: the driver may build its own session
    # without our get_spark defaults. All three are runtime-settable.
    # - naive fixture timestamps must stay NTZ + UTC or formatted
    #   output shifts with the machine timezone (oracle is tz-naive);
    # - events.parquet is TIMESTAMP(NANOS), which the reader rejects
    #   outright unless nanos surface as bigint.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (local_path(path), corpus_fingerprint(path))
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Column pruning/pushdown happen via Catalyst
    on top of this — callers `select`/`filter` and the parquet reader
    receives PushedFilters + ReadSchema automatically."""
    schema = fixture_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # events.ts is TIMESTAMP(NANOS) parquet, surfaced as nanos-bigint via
    # spark.sql.legacy.parquet.nanosAsLong; convert to a microsecond
    # timestamp here so every downstream operator sees a real timestamp.
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# Bytes of (estimated) input one spread task should receive. The spread
# exchanges exist to parallelize CPU-dense per-row map chains (md5 per
# token, 64-term dots, shingle assembly) whose cost tracks input bytes;
# 256 KB/task engages every core well before one core's slice costs
# more than a task launch. Env-tunable for deployments whose per-byte
# CPU ratio differs (SPARK_GRAFT_SPREAD_TARGET_BYTES).
SPREAD_TARGET_BYTES = int(
    os.environ.get("SPARK_GRAFT_SPREAD_TARGET_BYTES", str(256 * 1024))
)


def spread_n_bytes(spark, size_bytes: int, floor: int = 2) -> int:
    """Spread width for a KNOWN input size: ceil(bytes / target),
    clamped to [floor, defaultParallelism]. For frames whose Catalyst
    estimate is join-inflated (multiplicative) or unavailable but whose
    true size the caller can bound (row count x row width)."""
    cores = spark.sparkContext.defaultParallelism
    if size_bytes <= 0:
        return cores
    return max(floor, min(cores, -(-size_bytes // SPREAD_TARGET_BYTES)))


def spread_n(df: DataFrame, floor: int = 2) -> int:
    """Scale-adaptive spread width: ceil(input-size / 256 KB), clamped
    to [floor, defaultParallelism].

    The repo's spread exchanges (round-robin or hash repartition ahead
    of a heavy map chain) previously used a bare ``defaultParallelism``.
    That constant is right at scale — at 100 TB any table estimate
    clamps to the core count, so cluster behaviour is unchanged — but
    wrong for byte-tiny inputs: an explicit ``repartition(n)`` is
    user-specified partitioning that AQE may NOT coalesce, so every
    downstream stage inherits n tasks, and on local[32] a 32-task wave
    costs ~0.3-0.4 s of single-threaded scheduler/launch overhead even
    when the work per task is microseconds (measured: trivial 2-stage
    exchange 32->32 = 0.44 s vs 8->8 = 0.13 s). Deriving n from the
    Catalyst size estimate (file bytes for scans, pruned-column bytes
    for projections) gives tiny inputs a proportionally small wave
    while real corpora still use every core — guide §2: derive
    partitioning from input size, not a constant tuned for one
    deployment mode.

    Frames whose estimate is unavailable or meaningless (RDD-backed
    LogicalRDDs, checkpointed or not, report Long.MaxValue; a
    localCheckpoint of a planned frame keeps its origin's estimate)
    clamp to defaultParallelism — the conservative pre-existing
    behaviour.
    """
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Py4JJavaError:  # the JVM could not estimate -> full width
        return cores
    if size <= 0:
        return cores
    return max(floor, min(cores, -(-size // SPREAD_TARGET_BYTES)))


def spread(df: DataFrame, *cols) -> DataFrame:
    """Size-adaptive repartition: round-robin without ``cols``, hash on
    ``cols`` with them. See :func:`spread_n` for the width rule."""
    n = spread_n(df)
    return df.repartition(n, *cols) if cols else df.repartition(n)


def spread_by(*cols):
    """Curried :func:`spread` for fluent chains:
    ``df.transform(spread_by("doc_id"))``."""
    return lambda df: spread(df, *cols)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (SQL entry point)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
