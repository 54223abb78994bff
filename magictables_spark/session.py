"""SparkSession construction tuned for this engine.

Defaults are chosen for correctness parity with the DuckDB oracle and
for scale-readiness (AQE, skew handling, Arrow transfers). On a real
cluster only ``master`` changes; everything else is size-relative.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors as a zip (``addPyFile``).

    Python workers unpickle module-level functions BY REFERENCE
    (``module.qualname``), so any captured module-level callable — e.g.
    the default fetcher handed to ``mapInPandas`` — needs
    ``magictables_spark`` importable on the worker. On a real cluster
    that is exactly what addPyFile is for; in local mode it also
    decouples workers from the driver's cwd/sys.path.
    """
    sc = spark.sparkContext
    if getattr(sc, "_magictables_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(), f"magictables_spark_pkg_{os.getpid()}.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, dirs, files in os.walk(pkg_dir):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._magictables_pkg_shipped = True


def get_spark(app_name: str = "magictables_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    - UTC session timezone: parquet fixtures carry naive timestamps; the
      DuckDB oracle is timezone-naive, so we pin UTC everywhere.
    - AQE on (coalesce partitions + skew-join splitting): at 100 TB the
      static shuffle-partition count is always wrong somewhere; AQE
      re-plans with runtime statistics.
    - Arrow on: every pandas_udf / toPandas boundary is vectorized.
    - ``local[N]`` and shuffle partitions default to the cores this
      process may run on; ``SPARK_GRAFT_CPUS`` overrides (deployment).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    # Per-process warehouse dir: saveAsTable writes table DIRECTORIES
    # under the warehouse; a killed session leaves orphaned dirs with no
    # catalog entry, and the next session's saveAsTable dies with
    # LOCATION_ALREADY_EXISTS. A pid-scoped tmp dir makes every session
    # start from a clean warehouse with zero manual cleanup.
    warehouse = os.environ.get("SPARK_GRAFT_WAREHOUSE_DIR")
    if not warehouse:
        import tempfile

        warehouse = os.path.join(tempfile.gettempdir(), f"magictables_warehouse_{os.getpid()}")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing floor, kept at Spark's stock 1 MB default. A
        # 64 KB floor was tried this round (rationale: CPU-dense stages
        # over byte-tiny shuffles coalesce to too few tasks) and
        # REVERTED: re-measured on a 14-query headline basket at sf0.1
        # in one window, 64 KB was a NET LOSS of ~1.3 s (the many tiny
        # post-shuffle tasks tax every small-shuffle text query —
        # passage_dedup +0.38 s, pretrain_corpus_funnel +0.88 s) while
        # the ANN slugs it targeted measured flat (ann_lsh_topk 1.70 vs
        # 1.73, dedup_minhash 1.01 both). Env knob stays for cluster
        # deployments that want a different floor.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "1m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # Python DataSource connectors (sources/pyds.py) implement
        # pushFilters; Spark refuses to initialize such readers unless
        # connector-side pushdown is explicitly enabled
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as raw nanos (bigint) and convert in the
        # catalog (truncation ns->us, documented divergence SURVEY §7.3)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Whole-stage codegen for wide decimal aggregates can exceed the
        # JVM's 8000-bytecode JIT threshold; without this flag HotSpot
        # leaves the generated update loop interpreted (measured 50-100x
        # slowdown on 8-aggregate queries). Harmless when methods are small.
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        # UI off by default (test/bench noise); SPARK_GRAFT_UI=1 enables
        # it so tools/registry_sweep.py --spill can read per-stage spill
        # and peak-execution-memory via the status REST API
        .config(
            "spark.ui.enabled",
            "true"
            if os.environ.get("SPARK_GRAFT_UI", "").lower() in ("1", "true", "yes")
            else "false",
        )
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark
