"""chain_enrich — the reference's signature operator: a correlated
per-row external-API lookup join (magictable.py:202-315), rebuilt as a
distributed Spark pipeline.

Reference flow (row loop on the driver):
    template -> fill per row -> asyncio.gather GETs -> list column ->
    explode -> struct.rename_fields(api_*) -> unnest

Spark-first flow (everything stays distributed):
    1. URL column from the template via a pure column expression
       (no iter_rows loop — magictable.py:250-266 replaced by concat);
    2. ``select(url).distinct()`` — dedupe BEFORE fetching (the
       reference deduped via its per-URL cache; here dedup also makes
       task retries/speculation idempotent);
    3. per-URL cache probe against the warehouse (_url_cache parquet,
       read with its fixed schema, infinite TTL — magictable.py:355-386
       semantics); one small job counts the misses (kept for the fetch),
       and with none the fetch and the cache append are skipped;
    4. misses fetched inside ``mapInPandas`` under ONE in-flight budget
       per chain, ``FETCH_IN_FLIGHT`` requests whatever the cluster
       width: the misses are spread round-robin over ``tasks`` fetch
       tasks (from the miss count and ``defaultParallelism``), each
       running a thread pool of ``FETCH_IN_FLIGHT // tasks`` threads
       (the asyncio.gather moves into each task; retry/backoff per URL
       per magictable.py:317-347; network failures -> null payload, not
       task failure);
    5. fetched payloads appended to the cache, then ALL payloads joined
       back to the original rows on the url column (a re-chain after a
       task retry re-reads the cache — no double fetch). Without a
       warehouse the fetched payloads are persisted and counted once
       (bounded by the distinct misses), so later actions on the result
       never re-send a request;
    6. payload JSON parsed (``schema_of_json`` on a sample),
       list-payloads exploded (outer — Polars semantics keep empty
       results as null rows), struct fields projected with sorted
       ``api_`` prefixed names (sorted: the reference's set-union order
       is nondeterministic, SURVEY §7.3).

At 100 TB the fetch stage is bounded by |distinct urls|, not |rows| —
the join back is a broadcast when the URL set is small, else a shuffle
on the url hash. No driver-side collect anywhere.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from magictables_spark.identity import source_id, table_name
from magictables_spark.sources import Fetcher, default_fetcher
from magictables_spark.warehouse import ChainRecord, Warehouse

PLACEHOLDER_RE = re.compile(r"\{(\w+)\}")
URL_CACHE_SCHEMA = "__url string, __payload string"
# requests one chain keeps in flight, summed over all of its fetch tasks
FETCH_IN_FLIGHT = 64


def _quoted(name: str) -> str:
    """Backtick-quote a column name so Spark reads it as ONE top-level
    column: a flattened ``customer.id`` would otherwise resolve as the
    field ``id`` of a struct ``customer``."""
    return "`" + name.replace("`", "``") + "`"


def url_expr(
    template: str, colmap: dict[str, str] | None = None, columns=()
) -> Column:
    """URL template -> column expression. ``{placeholder}`` segments bind
    to columns (optionally renamed via colmap) — the reference's
    _format_url_template (magictable.py:119-143) without the row loop.
    Names listed in ``columns`` (the frame's top-level columns) bind
    literally, dots included; any other name may be a struct path."""
    colmap = colmap or {}
    parts: list[Column] = []
    pos = 0
    for m in PLACEHOLDER_RE.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        col = colmap.get(m.group(1), m.group(1))
        if col in columns:
            col = _quoted(col)
        parts.append(F.col(col).cast("string"))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    return F.concat(*parts) if parts else F.lit(template)


def resolve_keys(
    template: str, columns: list[str], source_key: str | None = None, target_key: str | None = None
) -> dict[str, str]:
    """Placeholder -> column mapping. Deterministic resolution FIRST
    (exact match, then case-insensitive), explicit override wins; an LLM
    fallback (key_infer, magictable.py:393-447) can be layered on top by
    the caller. Raises if a placeholder stays unbound (reference errors
    the same way, magictable.py:440-447)."""
    placeholders = PLACEHOLDER_RE.findall(template)
    lower = {c.lower(): c for c in columns}
    mapping: dict[str, str] = {}
    for ph in placeholders:
        if source_key and target_key and ph == target_key:
            mapping[ph] = source_key
        elif ph in columns:
            mapping[ph] = ph
        elif ph.lower() in lower:
            mapping[ph] = lower[ph.lower()]
        else:
            raise KeyError(f"no column matches URL placeholder {{{ph}}}; columns={columns}")
    return mapping


def _fetch_partition(fetcher: Fetcher, threads: int):
    """mapInPandas worker: fetch every URL of the task's partition with
    one pool of ``threads`` threads (I/O-bound; threads, not asyncio, to
    stay picklable). ``fetch_urls`` sizes ``threads`` so that the pools
    of all fetch tasks together hold at most ``FETCH_IN_FLIGHT``
    requests in flight.

    The misses reach this worker through a round-robin
    ``repartition(tasks)``, never a hash repartition on ``__url``: the
    ``distinct`` upstream is already hashed on ``__url``, so the planner
    drops such an exchange as redundant and AQE then coalesces the small
    miss set into ONE task."""
    import json as _json
    from concurrent.futures import ThreadPoolExecutor

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with ThreadPoolExecutor(max_workers=threads) as pool:
            for pdf in batches:
                urls = pdf["__url"].tolist()
                payloads = list(pool.map(lambda u: fetcher(u, None), urls))
                yield pd.DataFrame(
                    {
                        "__url": urls,
                        "__payload": [
                            p if isinstance(p, str) else _json.dumps(p) for p in payloads
                        ],
                    }
                )

    return run


def _fetch_tasks(n_misses: int, parallelism: int) -> int:
    """Fetch tasks for ``n_misses`` URLs: at most one per task slot and
    never more than ``FETCH_IN_FLIGHT``, and only as many as keep every
    task's pool full (``FETCH_IN_FLIGHT // width`` URLs per task)."""
    width = min(parallelism, FETCH_IN_FLIGHT)
    return min(width, -(-n_misses // (FETCH_IN_FLIGHT // width)))


def fetch_urls(
    spark: SparkSession,
    urls_df: DataFrame,
    fetcher: Fetcher | None = None,
    warehouse: Warehouse | None = None,
    for_join: bool = False,
) -> DataFrame:
    """Distinct-URL fetch with warehouse cache: returns (url, payload)
    for every input URL, fetching only cache misses (batch_fetch,
    magictable.py:349-391).

    ``for_join=True`` (the chain_enrich path) returns the post-fetch
    cache table itself instead of re-joining it to the input URL set:
    the caller left-joins on __url anyway, so the extra join here only
    hides the parquet statistics behind a non-stage boundary and forces
    a sort-merge join upstream. A bare cache scan lets Catalyst size
    the join side statically — broadcast when the cache is small, plain
    shuffle join when it isn't, which is the right call either way at
    100 TB. Rows for URLs that failed THIS run are simply absent (the
    caller's left join surfaces them as null payloads). Without a
    warehouse it returns the persisted payloads of this run. Null URLs
    are never fetched."""
    import os

    fetcher = fetcher or default_fetcher
    urls = urls_df.select(F.col(urls_df.columns[0]).alias("__url")).distinct()

    def _read_cache(path: str) -> DataFrame | None:
        # a dir with no part files (failed/empty prior write) is not a cache
        if not os.path.isdir(path) or not any(
            f.endswith(".parquet") for f in os.listdir(path)
        ):
            return None
        return spark.read.schema(URL_CACHE_SCHEMA).parquet(path).dropDuplicates(["__url"])

    cached = None
    cache_dir = None
    if warehouse is not None:
        cache_dir = os.path.join(warehouse.root, "_url_cache")
        cached = _read_cache(cache_dir)

    # a null key gives a null URL: nothing to fetch, and the caller's
    # left join gives its rows a null payload. The misses are kept for
    # the fetch after the count, which then does not recompute them.
    misses = urls.filter(F.col("__url").isNotNull())
    if cached is not None:
        misses = misses.join(cached, "__url", "left_anti")
    misses = misses.persist()
    try:
        n_misses = misses.count()
        payloads = cached
        if n_misses:
            tasks = _fetch_tasks(n_misses, spark.sparkContext.defaultParallelism)
            fetched = misses.repartition(tasks).mapInPandas(
                _fetch_partition(fetcher, FETCH_IN_FLIGHT // tasks), schema=URL_CACHE_SCHEMA
            )
            if cache_dir is None:
                # every action on an unmaterialized fetch plan would send
                # every request again: fetch once, keep the payloads
                # (bounded by the distinct misses) on the executors. A
                # lost executor re-fetches only its own partitions.
                payloads = fetched.persist(StorageLevel.MEMORY_AND_DISK)
                payloads.count()
            else:
                # persist fresh responses before use: a downstream task
                # retry re-reads the cache instead of re-fetching
                # (idempotency). FAILURE payloads are NOT cached:
                # default_fetcher returns {} after final failure, so an
                # empty payload means "fetch failed or API returned
                # nothing" — caching it would poison every future chain
                # with an infinite-TTL empty row (reference only stores
                # non-empty data: magictable.py 'if data:'). Failed URLs
                # come back null THIS run and are re-fetched on the next.
                fetched.filter(
                    F.col("__payload").isNotNull()
                    & ~F.col("__payload").isin("", "null", "{}", "[]", '""')
                ).write.mode("append").parquet(cache_dir)
                payloads = _read_cache(cache_dir)
    finally:
        misses.unpersist()
    if payloads is None:  # no cache, and nothing was fetched into one
        return urls.withColumn("__payload", F.lit(None).cast("string"))
    return payloads if for_join else urls.join(payloads, "__url", "left")


def parse_payload(df: DataFrame, payload_col: str = "__payload") -> DataFrame:
    """JSON payload string -> exploded, api_-prefixed scalar columns.
    Schema inferred from one sample payload (at scale pass an explicit
    schema); list payloads explode_outer (Polars keeps empty -> null row,
    SURVEY §7.3); struct fields projected sorted with api_ prefix
    (magictable.py:276-298 semantics, deterministic order)."""
    sample = df.select(payload_col).filter(F.col(payload_col).isNotNull()).first()
    if sample is None or sample[0] is None:
        return df.drop(payload_col)
    schema = F.schema_of_json(F.lit(sample[0]))
    parsed = df.withColumn("__parsed", F.from_json(F.col(payload_col), schema)).drop(payload_col)

    dtype = parsed.schema["__parsed"].dataType
    from pyspark.sql.types import ArrayType, StructType

    if isinstance(dtype, ArrayType):
        parsed = parsed.withColumn("__parsed", F.explode_outer("__parsed"))
        dtype = dtype.elementType
    if isinstance(dtype, StructType):
        fields = sorted(f.name for f in dtype.fields)
        others = [F.col(_quoted(c)) for c in parsed.columns if c != "__parsed"]
        return parsed.select(
            *others,
            *[F.col(f"__parsed.`{name}`").alias(f"api_{name}") for name in fields],
        )
    return parsed.withColumnRenamed("__parsed", "api_value")


def chain_enrich(
    df: DataFrame,
    url_template: str,
    *,
    sources: list[str] | None = None,
    source_key: str | None = None,
    target_key: str | None = None,
    fetcher: Fetcher | None = None,
    warehouse: Warehouse | None = None,
    ttl_seconds: float = 3600.0,
) -> DataFrame:
    """Full chain: template -> url col -> cached distinct fetch -> parse
    -> explode/unnest -> (optionally) cache result + lineage."""
    spark = df.sparkSession
    chain_id = table_name((sources or []) + [source_id("api", url_template, {})])

    if warehouse is not None:
        hit = warehouse.get_cached_chain_result(spark, chain_id, ttl_seconds)
        if hit is not None:
            return hit

    mapping = resolve_keys(url_template, df.columns, source_key, target_key)
    with_url = df.withColumn("__url", url_expr(url_template, mapping, df.columns))
    payloads = fetch_urls(spark, with_url.select("__url"), fetcher, warehouse, for_join=True)
    joined = with_url.join(payloads, "__url", "left")
    result = parse_payload(joined).drop("__url")

    if warehouse is not None:
        warehouse.write_table(result, chain_id, {"type": "api_chain", "template": url_template})
        api_table = source_id("api", url_template, {})
        warehouse.add_chain(
            ChainRecord(
                source_table=table_name(sources or []),
                api_result_table=api_table,
                merged_result_table=chain_id,
                chain_type="api_chain",
                source_key=next(iter(mapping.values()), None),
                target_key=next(iter(mapping), None),
                metadata={"url_template": url_template},
            )
        )
        return warehouse.read_table(spark, chain_id)
    return result
