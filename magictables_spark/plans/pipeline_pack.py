"""Training-data pipeline operators: deterministic sampling, splits,
per-group top-k, quality-band filtering, multi-format round-trips.

The sampling/split operators use **content-hash bucketing** (md5 of the
key compared against a hex prefix) instead of RNG: the same row lands
in the same bucket on every engine, every run, every cluster size.
That is the property a 100 TB training pipeline actually needs —
resampling a grown dataset keeps prior decisions stable (no reshuffle
of examples between train and test when new data arrives), and the
"sample" is reproducible from the data alone, with no seed state to
ship. It also makes the operators exactly oracle-checkable (both
engines agree on md5 hex), unlike `df.sample(seed)` whose RNG stream
is engine-private (covered separately by the `sample` slug).

Scale notes: hash-bucket predicates are map-side scan filters (no
shuffle, no driver coordination); group-top-k is one window shuffle
with the rank filter applied before any downstream join; the format
round-trips exercise the csv/jsonl sink+scan path with explicit
schemas (schema inference at 100 TB means reading the data twice).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from magictables_spark.plans.registry import _t, q
from magictables_spark.warehouse import store_root


def _scratch(name: str) -> str:
    """Per-process scratch dir for write-then-read-back slugs, under
    the ownership-verified per-user store base (never a predictable
    shared-/tmp path — round-7 advisory class), pid-suffixed so two
    concurrent sessions on one host can never rmtree each other's
    staged files mid-commit (observed: a devcheck sweep and a pytest
    run racing on the fixed jsonl-roundtrip path)."""
    return os.path.join(store_root("scratch"), f"{name}_{os.getpid()}")

# ---------------------------------------------------------------------------
# deterministic (content-hash) sampling and splits
# ---------------------------------------------------------------------------


@q(
    "sample_hash_bucket",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE md5(CAST(doc_id AS VARCHAR)) < '1a'
    """,
    doc="Deterministic ~10% sample: keep rows whose md5(key) hex falls "
    "below a prefix threshold. Engine-independent and stable under "
    "data growth — the property `df.sample(seed)` cannot give you "
    "across engines (its RNG stream is private). Pure scan filter: "
    "no shuffle, no seed state, embarrassingly parallel at any scale.",
    tags=("pipeline", "sampling"),
)
def sample_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.md5(F.col("doc_id").cast("string")) < "1a")
        .select("doc_id", "lang", "n_chars")
    )


@q(
    "train_test_split",
    oracle="""
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM (
      SELECT CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '4'
                  THEN 'train' ELSE 'test' END AS split,
             n_chars
      FROM documents
    ) s
    GROUP BY split
    """,
    doc="Deterministic 25/75 train-test split by content hash. A "
    "document keeps its split assignment forever (append-only data "
    "never migrates rows between train and test — the leakage property "
    "that matters for training pipelines). Verified by per-split "
    "counts + integer checksum.",
    tags=("pipeline", "sampling"),
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .select(
            F.when(F.md5(F.col("doc_id").cast("string")) < "4", "train")
            .otherwise("test")
            .alias("split"),
            "n_chars",
        )
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


# ---------------------------------------------------------------------------
# per-group top-k (the "best N examples per language" selector)
# ---------------------------------------------------------------------------


@q(
    "group_topk_per_key",
    oracle="""
    SELECT lang, doc_id, n_chars
    FROM (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ) ranked
    WHERE rn <= 5
    """,
    doc="Top-5 longest documents per language — the per-stratum "
    "selector every curation pipeline needs. One shuffle on the group "
    "key; rank ties broken by doc_id so the cut is deterministic. At "
    "scale this beats a groupBy+collect_list+slice by never "
    "materializing a whole group in one buffer.",
    tags=("pipeline", "window"),
)
def group_topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        _t(spark, sf_dir, "documents")
        .select("lang", "doc_id", "n_chars", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# quality-band filter (drop outliers per stratum by exact percentiles)
# ---------------------------------------------------------------------------


@q(
    "quality_band_filter",
    oracle="""
    WITH bands AS (
      SELECT lang,
             CAST(PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p25,
             CAST(PERCENTILE_DISC(0.75) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p75
      FROM documents GROUP BY lang
    )
    SELECT d.lang, COUNT(*) AS n_kept, CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
    FROM documents d JOIN bands b ON d.lang = b.lang
    WHERE d.n_chars BETWEEN b.p25 AND b.p75
    GROUP BY d.lang
    """,
    doc="Interquartile quality band: keep documents whose length sits "
    "within [p25, p75] of their language — the outlier-trim step of a "
    "corpus-quality pipeline. Exact integer PERCENTILE_DISC per "
    "stratum (25 groups), broadcast back into a scan filter; the "
    "expensive percentile runs on the tiny grouped side, never on the "
    "full corpus width.",
    tags=("pipeline", "quality"),
)
def quality_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("lang", "n_chars")
    bands = docs.groupBy("lang").agg(
        F.expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)").alias("p25"),
        F.expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)").alias("p75"),
    )
    return (
        docs.join(F.broadcast(bands), "lang")
        .filter(F.col("n_chars").between(F.col("p25"), F.col("p75")))
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"), F.sum("n_chars").alias("sum_chars"))
    )


# ---------------------------------------------------------------------------
# multi-format round-trips (csv / jsonl sink + scan with explicit schema)
# ---------------------------------------------------------------------------


def _roundtrip_dir(fmt: str) -> str:
    return _scratch(f"roundtrip_{fmt}")


@q(
    "scan_csv_roundtrip",
    oracle="""
    SELECT r_name, COUNT(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="CSV sink + scan: write nation+region to headered CSV, read "
    "back with an explicit schema (inference at 100 TB = reading the "
    "data twice), join and aggregate. Result must equal the same "
    "query straight off parquet — the round-trip is lossless for "
    "int/string columns. Polars scan_csv/sink parity (SURVEY §2.B).",
    tags=("sources", "formats"),
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _roundtrip_dir("csv")
    nat, reg = _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region")
    nat.write.mode("overwrite").option("header", True).csv(f"{out}/nation")
    reg.write.mode("overwrite").option("header", True).csv(f"{out}/region")
    nat2 = spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT").option(
        "header", True
    ).csv(f"{out}/nation")
    reg2 = spark.read.schema("r_regionkey INT, r_name STRING").option(
        "header", True
    ).csv(f"{out}/region")
    return (
        nat2.join(F.broadcast(reg2), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count("*").alias("n_nations"))
    )


@q(
    "scan_jsonl_roundtrip",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders, CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    doc="JSON-lines sink + scan: write filtered orders (int/string "
    "projection) as JSONL, read back with an explicit schema, "
    "aggregate. JSONL is the interchange format of LLM data work; the "
    "explicit schema keeps the scan single-pass and the checksum "
    "proves lossless ints. Polars scan_ndjson parity (SURVEY §2.B).",
    tags=("sources", "formats"),
)
def scan_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _roundtrip_dir("jsonl")
    (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite")
        .json(out)
    )
    back = spark.read.schema("o_orderkey LONG, o_orderpriority STRING").json(out)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"), F.sum("o_orderkey").alias("key_checksum")
    )


# ---------------------------------------------------------------------------
# approximate frequent items (sketch side of heavy_hitters_exact)
# ---------------------------------------------------------------------------



@q(
    "scan_orc_roundtrip",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_i
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="ORC sink + scan: write a lineitem projection as ORC (the other "
    "columnar format big clusters standardize on), read it back, run a "
    "Q1-shape aggregate. The oracle runs the same aggregate straight "
    "off parquet in DuckDB, so the hash match proves the ORC round "
    "trip is lossless for date/decimal-scaled/int/string columns. "
    "Predicate and column pruning reach the ORC scan exactly as they "
    "do parquet (asserted in tests/test_pipeline_pack.py).",
    tags=("sources", "formats"),
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _roundtrip_dir("orc")
    _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_shipdate"
    ).write.mode("overwrite").orc(out)
    li = spark.read.orc(out)
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.expr("CAST(ROUND(l_quantity * 100) AS BIGINT)")).alias("qty_i"),
        )
    )

@q(
    "freq_items_approx",
    oracle=None,  # sketch output; gated against exact counts in tests
    doc="Approximate frequent user_ids via Spark's freqItems sketch "
    "(Karp-Schenker-Papadimitriou single-pass, map-side mergeable). "
    "The scale path for 'which keys are hot' when an exact groupBy is "
    "not worth a shuffle; tests assert every true >1% heavy hitter "
    "appears in the sketch output (the KSP guarantee).",
    tags=("pipeline", "sketch"),
)
def freq_items_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = _t(spark, sf_dir, "events").stat.freqItems(["user_id"], support=0.02)
    return hits.select(
        F.explode(F.array_sort(F.col("user_id_freqItems"))).alias("candidate_user_id")
    )


@q(
    "kfold_assignment",
    oracle="""
    SELECT fold, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM (
      SELECT ascii(md5(CAST(doc_id AS VARCHAR))) % 5 AS fold, n_chars
      FROM documents
    ) f
    GROUP BY fold
    """,
    doc="Deterministic k-fold cross-validation assignment: fold = "
    "first md5 hex byte mod 5 — same content-hash determinism as "
    "train_test_split (a document keeps its fold forever; folds are "
    "reproducible on any engine with no RNG state). ascii() of the "
    "hex string's first char agrees across engines because md5 hex "
    "is lowercase on both. Map-side label + tiny aggregate.",
    tags=("pipeline", "sampling", "ml"),
)
def kfold_assignment(spark, sf_dir):
    fold = F.ascii(F.md5(F.col("doc_id").cast("string"))) % 5
    return (
        _t(spark, sf_dir, "documents")
        .select(fold.alias("fold"), "n_chars")
        .groupBy("fold")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").cast("bigint").alias("sum_chars"))
    )


@q(
    "arrays_zip_explode",
    oracle="""
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS token,
           unnest(list_transform(string_split(text, ' '), t -> length(t)))
             AS token_len
    FROM documents
    WHERE doc_id % 50 = 0
    """,
    doc="Parallel-array zip + explode: tokens and their lengths emitted "
    "as aligned rows via arrays_zip -> explode (Polars "
    "explode-multiple-columns parity). DuckDB zips aligned parallel "
    "unnests; Spark explodes the zipped struct then projects its "
    "fields. Map-side, no shuffle.",
    tags=("nested", "array"),
)
def arrays_zip_explode(spark, sf_dir):
    toks = F.split(F.col("text"), " ")
    lens = F.transform(toks, lambda t: F.length(t))
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 50 == 0)
        .select("doc_id", F.explode(F.arrays_zip(toks.alias("t"), lens.alias("l"))).alias("z"))
        .select(
            "doc_id",
            F.col("z.t").alias("token"),
            F.col("z.l").cast("bigint").alias("token_len"),
        )
    )


@q(
    "chain_enrich_local",
    oracle="""
    SELECT n_nationkey, n_name,
           n_nationkey AS api_id,
           CAST(('0x' || substring(md5(CAST(n_nationkey AS VARCHAR)), 1, 6)) AS BIGINT)
             % 1000 AS api_score,
           substring(md5(CAST(n_nationkey AS VARCHAR)), 1, 8) AS api_tag
    FROM nation
    """,
    doc="The reference's SIGNATURE operator (chain/join_with_query, "
    "magictable.py:349-391) run end to end at the driver surface: "
    "url_template -> per-row URL column -> distinct-URL dedup -> "
    "Arrow-batched mapInPandas thread-pool fetch -> JSON payload parse "
    "-> api_-prefixed unnest -> left join back. The fetcher is "
    "INJECTED and deterministic (payload fields derived from md5 of "
    "the URL key, no network), which upgrades the whole distributed "
    "fetch-join from rows-only to a FULL hash-checked oracle: DuckDB "
    "recomputes the same md5-derived payload columns relationally. "
    "Exactly the production plan shape — only default_fetcher (real "
    "HTTP, covered by localhost-server unit tests) is swapped out. "
    "Scale: one distinct on URLs, fetch cost proportional to UNIQUE "
    "urls not rows, payload join broadcast-or-shuffle by size.",
    tags=("pipeline", "chain", "api"),
)
def chain_enrich_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magictables_spark.operators.chain import chain_enrich

    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    def fetcher(url, params=None):  # deterministic offline "API"
        import hashlib

        key = url.rsplit("/", 1)[-1]
        h = hashlib.md5(key.encode()).hexdigest()
        return {"id": int(key), "score": int(h[:6], 16) % 1000, "tag": h[:8]}

    out = chain_enrich(
        nation, "https://api.example.com/nations/{n_nationkey}", fetcher=fetcher
    )
    # zero-row input: no payloads were fetched, so payload schema
    # inference produced no api_ columns — surface them as typed nulls
    # to keep the declared output schema stable
    for col, typ in (("api_id", "bigint"), ("api_score", "bigint"), ("api_tag", "string")):
        if col not in out.columns:
            out = out.withColumn(col, F.lit(None).cast(typ))
    return out.select("n_nationkey", "n_name", "api_id", "api_score", "api_tag")


@q(
    "bucketed_join_colocated",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Bucketed-table co-located join: write orders and customer as "
    "bucketed+sorted tables on the join key (8 buckets here; a real "
    "warehouse sizes buckets to executor memory), then join the "
    "bucketed reads. Because both sides are hash-bucketed identically "
    "on the key, the sort-merge join consumes the bucket layout "
    "directly -- ZERO shuffle for the join, the single most expensive "
    "exchange in any 100 TB star join, paid once at write time and "
    "amortized over every subsequent join (the Spark bucketing "
    "contract; asserted in tests/test_physical_plans.py with "
    "broadcast disabled). The result is provably identical to the "
    "plain parquet join -- the oracle IS the plain join; o_totalprice "
    "sums in exact integer cents so both engines agree bit-for-bit.",
    tags=("scale", "joins", "formats"),
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = _scratch("bucketed")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    for name, df, key in (
        ("bkt_orders", orders, "o_custkey"),
        ("bkt_customer", cust, "c_custkey"),
    ):
        (
            df.write.mode("overwrite")
            .option("path", os.path.join(wh, name))
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    o2, c2 = spark.table("bkt_orders"), spark.table("bkt_customer")
    cents = (
        F.sum(F.expr("CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("cents")
    )
    return (
        o2.join(c2, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), cents)
        .orderBy("c_mktsegment")
    )


@q(
    "partitioned_prune",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(CAST(value AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-15'
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Hive-partitioned write + partition-pruned scan: write events "
    "partitioned by event_date, then read one day back. The filter "
    "binds to the PARTITION column, so Spark prunes directories at "
    "planning time -- the scan never opens the other 29 days' files. "
    "At 100 TB this is THE primary scan primitive: partition pruning "
    "turns a full-table scan into a per-partition listing, before any "
    "row is read (PartitionFilters plan-asserted in "
    "tests/test_physical_plans.py). Result provably equals the same "
    "filter over the unpartitioned parquet (the oracle); value sums "
    "in exact integer cents.",
    tags=("scale", "formats", "sources"),
)
def partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch("partitioned_events")
    ev = _t(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)
    # explicit schema on the read-back: the op's own doc preaches it
    # (inference = extra footer reads at scale), and an empty write
    # leaves no files to infer from
    back = spark.read.schema(ev.schema).parquet(out).filter(
        F.col("event_date") == F.to_date(F.lit("2024-01-15"))
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("CAST(ROUND(CAST(value AS DOUBLE) * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("value_cents"),
        )
        .orderBy("event_type")
    )


@q(
    "scan_schema_evolution",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END)
             AS n_with_priority
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="Schema evolution across parquet batches: an early batch "
    "(even orderkeys) lands WITHOUT o_orderpriority, a later batch "
    "(odd orderkeys) adds the column; mergeSchema=true reads both as "
    "one table with NULLs where the old files lack the column -- the "
    "append-only schema-widening every long-lived 100 TB table "
    "undergoes (mergeSchema costs a footer read per file at planning "
    "time, which is why it is opt-in; data files are never "
    "rewritten). The aggregate counts non-null priorities per status, "
    "proving NULL-fill lands exactly on the old batch; the oracle "
    "reproduces the split arithmetically from the single table.",
    tags=("formats", "sources", "scale"),
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch("schema_evolution")
    orders = _t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(f"{out}/batch=1")
    new.write.mode("overwrite").parquet(f"{out}/batch=2")
    merged = spark.read.option("mergeSchema", True).parquet(out)
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.count("o_orderpriority").alias("n_with_priority"),
        )
        .orderBy("o_orderstatus")
    )


@q(
    "python_datasource_scan",
    oracle="""
    WITH src AS (
      SELECT i AS id, md5(CAST(i AS VARCHAR)) AS payload,
             (i * i) % 9973 AS value
      FROM range(0, 1000) t(i)
    )
    SELECT CAST(value % 10 AS BIGINT) AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(value) AS BIGINT) AS sum_value,
           MIN(payload) AS min_payload
    FROM src GROUP BY bucket ORDER BY bucket
    """,
    doc="Spark 4 Python DataSource connector verified end to end: "
    "spark.read.format('mts_fixture') goes through the first-class "
    "pyspark.sql.datasource extension point -- the reader declares 8 "
    "partitions and Spark schedules each partition's read() on an "
    "executor, so a paged connector ingests cluster-parallel with "
    "ordinary task retry, no driver bottleneck (the reference's "
    "fetch-then-DataFrame pattern runs everything on one machine; "
    "reference sources.py:60-104). The fixture source synthesizes "
    "deterministic rows (id, md5(id), id^2 mod 9973), so the DuckDB "
    "oracle reproduces the whole scan arithmetically from range() -- "
    "a value-hash-checked CONNECTOR, which a network source can never "
    "be; the same reader shape with an injected fetcher is "
    "sources/pyds.py PagedAPIDataSource, unit-tested.",
    tags=("sources", "scale", "formats"),
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magictables_spark.sources.pyds import FixtureDataSource

    spark.dataSource.register(FixtureDataSource)
    df = (
        spark.read.format("mts_fixture")
        .option("n_rows", 1000)
        .option("n_parts", 8)
        .load()
    )
    return (
        df.groupBy((F.col("value") % 10).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("value").cast("bigint").alias("sum_value"),
            F.min("payload").alias("min_payload"),
        )
        .orderBy("bucket")
    )


@q(
    "python_datasource_stream_scan",
    oracle="""
    WITH src AS (
      SELECT i AS id, md5(CAST(i AS VARCHAR)) AS payload,
             (i * i) % 9973 AS value
      FROM range(0, 100) t(i)
    )
    SELECT CAST(value % 10 AS BIGINT) AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(value) AS BIGINT) AS sum_value,
           MIN(payload) AS min_payload
    FROM src GROUP BY bucket ORDER BY bucket
    """,
    doc="STREAMING Python DataSource connector verified end to end: "
    "readStream over mts_fixture_stream (a SimpleDataSourceStreamReader "
    "whose dict offsets advance 25 ids per micro-batch and whose "
    "readBetweenOffsets regenerates any committed range exactly -- the "
    "replay contract exactly-once ingestion needs), drained through a "
    "memory sink until the offset stops advancing, then aggregated. "
    "The DuckDB oracle reproduces the union of all micro-batches "
    "arithmetically from range(), so offset bookkeeping errors "
    "(dropped batch, double-read, partial replay) show up as a hash "
    "mismatch, not just a row count.",
    tags=("sources", "streaming", "scale"),
)
def python_datasource_stream_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The streaming-source runner is a separate Python process that
    # unpickles the DataSource CLASS; a module-level class pickles by
    # reference and only resolves when the runner can import the
    # package (cwd-dependent — the known kernel gotcha, and unlike the
    # batch reader path the runner does not inherit the driver's
    # sys.path). Defining the classes HERE makes cloudpickle ship them
    # by value, so the registered query runs under any cwd; the
    # module-level FixtureStreamDataSource (sources/pyds.py) stays the
    # import-your-own-session library surface, unit-tested.
    import hashlib as _hashlib

    from pyspark.sql.datasource import (
        DataSource as _DS,
        SimpleDataSourceStreamReader as _SR,
    )

    from magictables_spark.streaming.commit import stop_query

    n_rows_total, batch_rows = 100, 25

    def _rows(lo: int, hi: int) -> list:
        return [
            (i, _hashlib.md5(str(i).encode()).hexdigest(), (i * i) % 9973)
            for i in range(lo, hi)
        ]

    class _Reader(_SR):
        def initialOffset(self) -> dict:
            return {"next": 0}

        def read(self, start: dict):
            lo = int(start["next"])
            hi = min(lo + batch_rows, n_rows_total)
            return iter(_rows(lo, hi)), {"next": hi}

        def readBetweenOffsets(self, start: dict, end: dict):
            return iter(_rows(int(start["next"]), int(end["next"])))

    class _Src(_DS):
        @classmethod
        def name(cls) -> str:
            return "mts_fixture_stream"

        def schema(self) -> str:
            return "id BIGINT, payload STRING, value BIGINT"

        def simpleStreamReader(self, schema) -> "_Reader":
            return _Reader()

    spark.dataSource.register(_Src)
    stop_query(spark, "mts_pyds_stream_q")
    ckpt = _scratch("pyds_stream_ckpt")
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)
    df = (
        spark.readStream.format("mts_fixture_stream")
        .option("n_rows", 100)
        .option("batch_rows", 25)
        .load()
    )
    q_ = (
        df.writeStream.format("memory")
        .queryName("mts_pyds_stream_q")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    q_.awaitTermination()
    rows = spark.table("mts_pyds_stream_q")
    return (
        rows.groupBy((F.col("value") % 10).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("value").cast("bigint").alias("sum_value"),
            F.min("payload").alias("min_payload"),
        )
        .orderBy("bucket")
    )


@q(
    "python_datasource_write_roundtrip",
    oracle="""
    SELECT n_nationkey % 5 AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_checksum
    FROM nation
    GROUP BY bucket ORDER BY bucket
    """,
    doc="Python DataSource WRITE path verified end to end: nation "
    "writes through format('mts_jsonl') -- per-task staging files, "
    "driver-side two-phase commit renaming them into place -- then "
    "reads back with an explicit schema and aggregates. The oracle "
    "aggregates the source table directly, so a commit-protocol bug "
    "(lost partition, double-committed file, half-visible overwrite) "
    "breaks the checksum, not just a count. The writer classes ship "
    "by value (closure, like the streaming reader) so the query runs "
    "under any cwd.",
    tags=("sources", "formats", "scale"),
)
def python_datasource_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql.datasource import (
        DataSource as _DS,
        DataSourceWriter as _DW,
        WriterCommitMessage as _CM,
    )

    class _Staged(_CM):
        def __init__(self, staged: str):
            self.staged = staged

    class _Writer(_DW):
        def __init__(self, path: str, columns: list):
            self.path = path
            self.columns = columns

        def write(self, iterator) -> "_Staged":
            import json as _json
            import os as _os
            import uuid as _uuid

            from pyspark import TaskContext

            tc = TaskContext.get()
            staging = _os.path.join(self.path, "_staging")
            _os.makedirs(staging, exist_ok=True)
            staged = _os.path.join(
                staging, f"part-{tc.partitionId():05d}-{_uuid.uuid4().hex}.jsonl"
            )
            with open(staged, "w") as fh:
                for row in iterator:
                    fh.write(_json.dumps(dict(zip(self.columns, row)), sort_keys=True))
                    fh.write("\n")
            return _Staged(staged)

        def commit(self, messages) -> None:
            import os as _os
            import shutil as _shutil

            for name in _os.listdir(self.path):
                if name.endswith(".jsonl"):
                    _os.remove(_os.path.join(self.path, name))
            for m in messages:
                if m is not None:
                    _os.replace(
                        m.staged, _os.path.join(self.path, _os.path.basename(m.staged))
                    )
            _shutil.rmtree(_os.path.join(self.path, "_staging"), ignore_errors=True)

        def abort(self, messages) -> None:
            import os as _os
            import shutil as _shutil

            _shutil.rmtree(_os.path.join(self.path, "_staging"), ignore_errors=True)

    class _Sink(_DS):
        @classmethod
        def name(cls) -> str:
            return "mts_jsonl_q"

        def writer(self, schema, overwrite: bool) -> "_Writer":
            return _Writer(self.options["path"], [f.name for f in schema])

    spark.dataSource.register(_Sink)
    out = _scratch("jsonl_roundtrip")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nation.write.format("mts_jsonl_q").option("path", out).mode("append").save()
    back = spark.read.schema("n_nationkey INT, n_name STRING").json(out)
    return (
        back.groupBy((F.col("n_nationkey") % 5).alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("n_nationkey").cast("bigint").alias("key_checksum"),
        )
        .orderBy("bucket")
    )


@q(
    "purged_timeseries_cv",
    oracle="""
    WITH folds AS (
      SELECT unnest(range(0, 5)) AS test_fold
    ), marked AS (
      SELECT f.test_fold,
             CASE
               WHEN e.ts >= TIMESTAMP '2024-01-01' + INTERVAL (f.test_fold * 6) DAY
                AND e.ts <  TIMESTAMP '2024-01-01' + INTERVAL (f.test_fold * 6 + 6) DAY
                 THEN 'test'
               WHEN e.ts >= TIMESTAMP '2024-01-01' + INTERVAL (f.test_fold * 6) DAY - INTERVAL 1 DAY
                AND e.ts <  TIMESTAMP '2024-01-01' + INTERVAL (f.test_fold * 6 + 6) DAY + INTERVAL 1 DAY
                 THEN 'purged'
               ELSE 'train'
             END AS role
      FROM events e CROSS JOIN folds f
    )
    SELECT test_fold,
           COUNT(*) FILTER (WHERE role = 'test') AS n_test,
           COUNT(*) FILTER (WHERE role = 'train') AS n_train,
           COUNT(*) FILTER (WHERE role = 'purged') AS n_purged
    FROM marked GROUP BY test_fold ORDER BY test_fold
    """,
    doc="PURGED time-series cross-validation with embargo (Lopez de "
    "Prado's leakage-free CV for temporally-correlated data -- the "
    "random kfold_assignment is WRONG for time series because "
    "neighboring-in-time rows leak label information across the "
    "train/test cut): 5 contiguous 6-day folds over the events month; "
    "for each test fold, rows within a 1-day EMBARGO on either side "
    "of the test window are PURGED from training (neither split sees "
    "them), everything else trains. Implemented as a 5-row fold-table "
    "cross join (map-side 5x expansion, zero data shuffle before the "
    "final tiny aggregate) -- at 100 TB the expansion streams through "
    "the scan and the only exchange carries 5 rows x 3 counters. "
    "Pure timestamp arithmetic, bit-identical across engines; the "
    "role boundaries (closed test start, open test end, symmetric "
    "1-day embargo) are pinned by the oracle.",
    tags=("pipeline", "sampling", "ml", "events"),
)
def purged_timeseries_cv(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("ts")
    folds = spark.range(5).select(F.col("id").cast("int").alias("test_fold"))
    start = F.expr("TIMESTAMP '2024-01-01' + make_interval(0,0,0, test_fold*6)")
    end = F.expr("TIMESTAMP '2024-01-01' + make_interval(0,0,0, test_fold*6+6)")
    role = (
        F.when((F.col("ts") >= start) & (F.col("ts") < end), "test")
        .when(
            (F.col("ts") >= F.expr(
                "TIMESTAMP '2024-01-01' + make_interval(0,0,0, test_fold*6-1)"))
            & (F.col("ts") < F.expr(
                "TIMESTAMP '2024-01-01' + make_interval(0,0,0, test_fold*6+7)")),
            "purged",
        )
        .otherwise("train")
    )
    return (
        ev.crossJoin(F.broadcast(folds))
        .select("test_fold", role.alias("role"))
        .groupBy("test_fold")
        .agg(
            F.count(F.when(F.col("role") == "test", 1)).alias("n_test"),
            F.count(F.when(F.col("role") == "train", 1)).alias("n_train"),
            F.count(F.when(F.col("role") == "purged", 1)).alias("n_purged"),
        )
        .orderBy("test_fold")
    )


@q(
    "dpp_star_join",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS rev_cents
    FROM orders
    WHERE month(o_orderdate) <= 3
    GROUP BY 1 ORDER BY 1
    """,
    doc="DYNAMIC partition pruning — the runtime sibling of "
    "partitioned_prune's static pruning and the scan primitive of "
    "every partitioned star join: the fact (orders, written "
    "partitioned by order month) joins a small month DIMENSION "
    "filtered to Q1 months, and because the join key IS the fact's "
    "partition column, Spark injects a dynamicpruning subquery that "
    "reuses the dim's broadcast to skip fact partitions AT RUNTIME — "
    "the filter value isn't known at plan time (it comes from the "
    "dim), so static pruning can't help; ~75%% of partitions are "
    "never listed or read (dynamicpruning#/SubqueryBroadcast plan-"
    "asserted in tests/test_physical_plans.py). At 100 TB this is the "
    "date-dim star-join pattern: the fact never pays a full scan for "
    "a dim-predicated query. Result provably equals the plain month "
    "filter over the unpartitioned parquet (the oracle); money in "
    "exact integer cents.",
    tags=("scale", "formats", "sources"),
)
def dpp_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch("dpp_orders")
    orders = _t(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.month("o_orderdate").alias("month_num"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("price_cents"),
    )
    # cluster by the partition key before the partitioned write: the
    # unclustered write emitted one file per (task x month) — ~84
    # months x 32 tasks of KB-sized files, a small-file storm that
    # dominated the query's wall (guide §6: aim for few, large files).
    # One hash exchange on month -> one file per partition dir.
    (
        orders.drop("month_num")
        .repartition(F.col("month"))
        .write.mode("overwrite")
        .partitionBy("month")
        .parquet(out)
    )
    # month dimension: one row per month with its quarter attribute —
    # built from the bounded distinct-month set (a date-dim stand-in)
    dim = (
        orders.select("month", "month_num")
        .distinct()
        .withColumn("quarter", F.expr("CAST((month_num - 1) div 3 + 1 AS INT)"))
    ).localCheckpoint(eager=True)  # materialized: the dim must not re-scan the fact
    fact = spark.read.schema("price_cents bigint, month string").parquet(out)
    q1 = dim.filter(F.col("quarter") == 1).select("month")
    return (
        fact.join(F.broadcast(q1), "month")
        .groupBy("month")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("price_cents").cast("bigint").alias("rev_cents"),
        )
        .orderBy("month")
    )
