"""Text-analysis + deduplication pack over `documents` (mandated
extension, SURVEY.md §2.C / BASELINE.json: the operators a large-scale
training-data pipeline needs).

All hot-path expressions are JVM built-ins (split/filter/transform/
aggregate higher-order functions) — no Python UDFs. Fingerprints use
md5 (identical hex output in Spark and DuckDB, so oracle-checkable);
the scale-path variants (plans/similarity.py) hash with md5-derived
60-bit ints for the same reason, so they are oracle-checked too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from magictables_spark.plans.registry import REGISTRY, _t, q
from magictables_spark.plans.catalog import spread

STOPWORDS = ("the", "a", "of", "and", "to")
_STOP_SQL = "('" + "', '".join(STOPWORDS) + "')"


@q(
    "text_tokens",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
           length(text) AS n_chars_computed
    FROM documents
    """,
    doc="Token counting (whitespace tokenizer) + vocabulary size per "
    "document. split() is a codegen JVM expression; no shuffle at all — "
    "embarrassingly parallel at any scale.",
    tags=("text",),
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_computed"),
    )


@q(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(len(list_filter(string_split(text, ' '), t -> t IN {_STOP_SQL})) AS DOUBLE)
             / len(string_split(text, ' ')) AS stopword_ratio,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')) AS distinct_ratio,
           CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
           (len(string_split(text, ' ')) BETWEEN 20 AND 1000
            AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                / len(string_split(text, ' ')) > 0.1) AS quality_pass
    FROM documents
    """,
    doc="Quality scoring: stopword ratio, type-token (distinct) ratio, "
    "mean token length, and a pass/fail gate — the C4/Gopher-style "
    "heuristic filters for training-data curation. Higher-order "
    "list_filter stays JVM-side.",
    tags=("text", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))) / n
    distinct_ratio = F.size(F.array_distinct(toks)) / n
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        (F.length("text").cast("double") / n).alias("avg_token_len"),
        (F.size(toks).between(20, 1000) & (distinct_ratio > 0.1)).alias("quality_pass"),
    )


@q(
    "lang_id",
    oracle="""
    SELECT doc_id, lang AS lang_true,
           CASE WHEN len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a')))
                     >= len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'das')))
                THEN 'en' ELSE 'de' END AS lang_guess
    FROM documents
    """,
    doc="Language-ID n-gram/marker heuristic (deterministic scoring of "
    "marker-token hits per language; real corpora would use char "
    "n-gram profiles — same plan shape). Identical CASE logic on both "
    "engines.",
    tags=("text", "langid"),
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.col("text"), " ")

    def hits(words: tuple[str, ...]):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        F.when(hits(("the", "a")) >= hits(("der", "die", "das")), "en").otherwise("de").alias("lang_guess"),
    )


@q(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS fp,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp_shuffle_invariant
    FROM documents
    """,
    doc="Document fingerprinting: exact content hash plus a "
    "token-order-invariant hash (sorted distinct tokens) that catches "
    "shuffled duplicates. md5 emits identical hex on both engines.",
    tags=("text", "fingerprint"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))).alias("fp_shuffle_invariant"),
    )


@q(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    doc="Exact deduplication by content hash: one group per distinct "
    "text, keeping the smallest doc_id (deterministic representative). "
    "At 100 TB: hash-shuffle on the 128-bit fingerprint, never on the "
    "full text — the md5 projection happens map-side before the "
    "exchange.",
    tags=("text", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .select(F.md5("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


@q(
    "dedup_incremental_store",
    oracle="""
    WITH base AS (
      SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < 250
    ), batch AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id >= 250
    ), fresh AS (
      SELECT fp, MIN(doc_id) AS doc_id FROM batch GROUP BY fp
    )
    SELECT f.doc_id, f.fp
    FROM fresh f LEFT JOIN base b ON f.fp = b.fp
    WHERE b.fp IS NULL
    """,
    doc="INCREMENTAL dedup against a persisted fingerprint store — the "
    "production shape for a continuously-ingested corpus: the "
    "historical corpus's md5 fingerprint set is built ONCE and written "
    "to the warehouse as a bucketed table on fp (the anti-join key), "
    "then every new batch (a) self-dedups (min doc_id per fp — one "
    "hash aggregate) and (b) anti-joins the store to drop docs already "
    "seen historically. At 100 TB the store side never re-shuffles: "
    "its bucket layout satisfies the anti-join's distribution, so each "
    "incremental batch pays one batch-sized exchange, never a "
    "corpus-sized one — dedup cost scales with the INCREMENT, not the "
    "history (the reason every large crawl pipeline persists its "
    "fingerprint store). Fixture split doc_id<250 = history; the "
    "oracle recomputes both phases relationally, so the whole "
    "store-roundtrip path is hash-checked. Same versioned/atomic "
    "warehouse machinery as ann_lsh_persisted (warehouse.py).",
    tags=("text", "dedup", "scale", "warehouse"),
)
def dedup_incremental_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magictables_spark.warehouse import Store

    B = 250
    docs = _t(spark, sf_dir, "documents")
    store = Store("fingerprints", sf_dir, "documents", f"v2:{B}").table(
        spark,
        "fpstore",
        lambda: docs.filter(F.col("doc_id") < B)
        .select(F.md5("text").alias("fp"))
        .distinct(),
        bucket_by=["fp"],
        n_buckets=32,
        sort_by=["fp"],
    )
    batch = docs.filter(F.col("doc_id") >= B).select(
        F.md5("text").alias("fp"), "doc_id"
    )
    # batch self-dedup and store anti-join share the fp hash
    # partitioning: one exchange, both steps ride it
    fresh = batch.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return fresh.join(store, "fp", "left_anti").select("doc_id", "fp")


@q(
    "dedup_store_stream",
    oracle="""
    WITH base AS (
      SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < 250
    ), batch AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id >= 250
    ), fresh AS (
      SELECT fp, doc_id FROM (
        SELECT fp, doc_id,
               row_number() OVER (PARTITION BY fp
                                  ORDER BY doc_id % 3, doc_id) AS rn
        FROM batch
      ) WHERE rn = 1
    )
    SELECT f.doc_id, f.fp
    FROM fresh f LEFT JOIN base b ON f.fp = b.fp
    WHERE b.fp IS NULL
    ORDER BY doc_id
    """,
    doc="STREAMING admission dedup against the persisted fingerprint "
    "store — the foreachBatch twin of dedup_incremental_store and the "
    "last leg of the store-maintenance symmetry (every incremental "
    "store family now has both a batch and a streaming driver: exact-"
    "fp, MinHash, SimHash, IVF, LPA, rollup, SCD2, HLL): history "
    "(doc_id < 250) seeds the md5 fingerprint set once; the new crawl "
    "streams in 3 shards (doc_id % 3) via readStream, one shard "
    "per trigger, and each micro-batch (a) self-dedups (min "
    "doc_id per fp), (b) anti-joins the CURRENT store — history plus "
    "every earlier batch — admitting only first-seen documents to the "
    "results log, then (c) appends exactly its admitted fps to the "
    "store, so the store remains a SET and later batches reject "
    "re-crawls of earlier admissions. Per-batch cost is one "
    "batch-sized exchange (the store is the state, grows by the "
    "admitted increment — asserted in tests/test_dedup_stream.py). "
    "The ORACLE ranks each fingerprint's claimants by (shard index, "
    "doc_id) — exactly the stream admission order — so the whole "
    "streamed store lifecycle is value-hash-checked. Re-invocation "
    "reuses the checkpoint and serves the accumulated admissions "
    "warm.",
    tags=("text", "dedup", "streaming", "scale", "warehouse"),
)
def dedup_store_stream(
    spark: SparkSession,
    sf_dir: str,
    _crash_after_write: frozenset[int] = frozenset(),
) -> DataFrame:
    import os

    from magictables_spark.streaming.commit import (
        ReplaySource,
        batch_subdir,
        subdir_store_paths,
    )
    from magictables_spark.warehouse import store_key

    B = 250
    docs = _t(spark, sf_dir, "documents")
    src = ReplaySource("fpstream", *store_key(sf_dir, "documents", f"v2:{B}:fps"))
    store_dir = src.path("store")
    admit_dir = src.path("admitted")
    out_schema = "doc_id bigint, fp string"

    def _seed():
        (
            docs.filter(F.col("doc_id") < B)
            .select(F.md5("text").alias("fp"))
            .distinct()
            .write.mode("overwrite")
            .parquet(os.path.join(store_dir, "seed"))
        )
        spark.createDataFrame([], out_schema).write.mode("overwrite").parquet(
            os.path.join(admit_dir, "seed")
        )
        return [
            docs.filter((F.col("doc_id") >= B) & (F.col("doc_id") % 3 == k))
            for k in range(3)
        ]

    src.prepare(_seed)

    def _admit_and_append(batch_df: DataFrame, bid: int) -> None:
        # the admission anti-join reads the store MINUS this batch's
        # own subdir: a replayed batch recomputes the same admission
        # set it admitted the first time (reading its own partial
        # output would admit nothing and lose the rows), and both
        # writes are per-batch subdir overwrites = idempotent replay
        # whichever of the two writes the crash interrupted
        ss = batch_df.sparkSession
        fresh = (
            batch_df.select(F.md5("text").alias("fp"), "doc_id")
            .groupBy("fp")
            .agg(F.min("doc_id").alias("doc_id"))
            .join(
                ss.read.parquet(*subdir_store_paths(store_dir, bid)),
                "fp",
                "left_anti",
            )
            .select("doc_id", "fp")
            .localCheckpoint(eager=True)  # one admission set, two writes
        )
        fresh.write.mode("overwrite").parquet(batch_subdir(admit_dir, bid))
        fresh.select("fp").write.mode("overwrite").parquet(
            batch_subdir(store_dir, bid)
        )
        if bid in _crash_after_write:
            raise RuntimeError(f"injected crash after batch {bid} write")

    src.drain(spark, docs.schema, _admit_and_append)
    return (
        spark.read.schema(out_schema)
        .parquet(*subdir_store_paths(admit_dir))
        .distinct()
        .orderBy("doc_id")
    )


@q(
    "dedup_ngram_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(range(1, len(string_split(text, ' ')) - 1),
                              i -> string_split(text, ' ')[i] || ' ' ||
                                   string_split(text, ' ')[i+1] || ' ' ||
                                   string_split(text, ' ')[i+2])
             )) AS shingle
      FROM documents WHERE doc_id < 200
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    """,
    doc="N-gram (3-token shingle) Jaccard near-duplicate pairs: distinct "
    "shingles per doc, self-join on shingle, |A∩B| / |A∪B| >= 0.5. "
    "Restricted to doc_id < 200 because the pair join is quadratic in "
    "shared shingles — the scale path replaces the self-join with "
    "MinHash banding (dedup_minhash), which buckets candidates in one "
    "shuffle.",
    tags=("text", "dedup", "similarity"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_pairs(spark, sf_dir, threshold=0.5)


def _jaccard_pairs(spark: SparkSession, sf_dir: str, threshold: float) -> DataFrame:
    """Shingle-Jaccard pairs over the guarded doc_id < 200 subgraph at
    the given threshold (0.5 = the dedup graph; 0.02 = the looser
    relatedness graph link_prediction_jaccard predicts on)."""
    from magictables_spark.functions import shingles as _sh

    shingles = _sh("text", n=3)
    from magictables_spark.plans.registry import guard_quadratic

    sh = (
        guard_quadratic(
            _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200),
            "dedup_ngram_jaccard",
            "dedup_minhash",
        )
        .select("doc_id", F.explode(shingles).alias("shingle"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_inter").cast("double") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


@q(
    "term_freq",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents WHERE doc_id < 100
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
    ), df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
    )
    SELECT tf.doc_id, tf.token, tf.tf, df.df
    FROM tf JOIN df ON tf.token = df.token
    WHERE tf.tf >= 3
    """,
    doc="Term frequency + document frequency in exact integer space — "
    "the deterministic core of TF-IDF (the IDF log stays out of the "
    "oracle: libm rounding differs across engines; tests compute it "
    "Spark-side). Shuffle on token for the DF side; both aggregates "
    "partial map-side.",
    tags=("text", "tfidf"),
)
def term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # df derives FROM tf (tf rows are unique per (doc, token), so
    # count(*) == countDistinct(doc_id)) — avoids re-exploding and
    # re-shuffling the raw token stream a second time
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    return tf.join(df, "token").filter(F.col("tf") >= 3).select("doc_id", "token", "tf", "df")


@q(
    "tfidf",
    oracle=None,
    doc="Full TF-IDF vectors per document: tf * ln(N/df) over the "
    "term_freq integers. Rows-only: MEASURED, not assumed — probing "
    "ln(n/d) over every rational this query can feed it found 15/200 "
    "values differing in the last ulp between JVM Math.log and DuckDB "
    "libm, so no rounding ledge is hash-safe. The integer core (tf, "
    "df) is oracle-checked by term_freq.",
    tags=("text", "tfidf", "scale"),
)
def tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    n_docs = docs.count()
    tok = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    return (
        tf.join(df, "token")
        .select(
            "doc_id",
            "token",
            (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("tfidf"),
        )
    )


@q(
    "dedup_fuzzy_levenshtein",
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS dist
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE a.doc_id < 200 AND b.doc_id < 200
      AND levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 15
    """,
    doc="Fuzzy near-dup candidate pairs via edit distance on a 40-char "
    "prefix, blocked by language (classic blocking+verify fuzzy dedup). "
    "levenshtein() is the same dynamic-program in both engines (exact "
    "int). Like the other exact-pair baselines (dedup_ngram_jaccard, "
    "dedup_clusters) this registered form caps at doc_id < 200: "
    "language blocking alone leaves the verify step quadratic (the "
    "full-registry sf0.1 sweep measured the uncapped form at 97 s for "
    "5k docs — 1.7M edit distances), and the linear-shuffle twin for "
    "real corpora is minhash banding (dedup_minhash).",
    tags=("text", "dedup"),
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magictables_spark.plans.registry import guard_quadratic

    docs = guard_quadratic(
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "lang", F.substring("text", 1, 40).alias("prefix")),
        "dedup_fuzzy_levenshtein",
        "dedup_minhash",
    )
    a = docs.alias("a")
    b = docs.alias("b")
    dist = F.levenshtein(F.col("a.prefix"), F.col("b.prefix"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") <= 15)
    )


@q(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(range(1, len(string_split(text, ' ')) - 1),
                              i -> string_split(text, ' ')[i] || ' ' ||
                                   string_split(text, ' ')[i+1] || ' ' ||
                                   string_split(text, ' ')[i+2])
             )) AS shingle
      FROM documents WHERE doc_id < 200
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ), reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents WHERE doc_id < 200
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
    )
    SELECT id AS doc_id, MIN(r) AS cluster
    FROM reach GROUP BY id
    """,
    doc="Duplicate GROUPS from near-duplicate pairs: connected "
    "components (operators/components.py min-label propagation) over "
    "the jaccard>=0.5 pair graph; docs with no duplicate are singleton "
    "clusters. The DuckDB oracle computes the same transitive closure "
    "with a recursive CTE — a rare case where an iterative distributed "
    "algorithm is still exactly SQL-checkable.",
    tags=("text", "dedup", "graph", "scale"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magictables_spark.operators.components import connected_components

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select("doc_id")
    return connected_components(pairs, src="doc_a", dst="doc_b", nodes=docs).select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster")
    )


# GPT-2-style pretokenizer, restricted to RE2-safe constructs (no
# lookahead) so Spark (Java regex) and DuckDB (RE2) tokenize
# identically: contractions | space?letters | space?digits |
# space?other-runs
BPE_PAT = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"


@q(
    "text_bpe_tokens",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{BPE_PAT.replace("'", "''")}')) AS n_bpe_tokens,
           len(list_distinct(regexp_extract_all(text, '{BPE_PAT.replace("'", "''")}'))) AS n_distinct_bpe,
           regexp_extract_all(text, '{BPE_PAT.replace("'", "''")}')[1] AS first_token
    FROM documents
    """,
    doc="BPE-style token counting: the GPT-2 pretokenizer regex "
    "(contractions / letter runs / digit runs / punctuation runs, "
    "lookahead-free so both engines' regex dialects agree) — the "
    "token-budget estimator for training-data pipelines, ~accurate "
    "relative ordering without a vocab file. Pure codegen expression, "
    "zero shuffle.",
    tags=("text",),
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.regexp_extract_all("text", F.lit(BPE_PAT), 0)
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_bpe"),
        F.get(toks, 0).alias("first_token"),
    )


@q(
    "ngram_top",
    oracle="""
    SELECT bigram, COUNT(*) AS n
    FROM (
      SELECT unnest(list_transform(
               range(2, len(string_split(text, ' ')) + 1),
               i -> string_split(text, ' ')[i - 1] || '_' ||
                    string_split(text, ' ')[i]
             )) AS bigram
      FROM documents
    ) g
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 30
    """,
    doc="Top word bigrams across the corpus — n-gram generation as a "
    "codegen array expression (transform over an index sequence; "
    "1-based element_at on both engines) followed by explode + count "
    "+ TakeOrderedAndProject. The sequence is guarded for <2-token "
    "texts (Spark's sequence(1,0) DESCENDS — it never sees an empty "
    "range). The shuffle carries (bigram, partial count) pairs, not "
    "token arrays.",
    tags=("text", "ngram"),
)
def ngram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    # guard: sequence(2, 1) would DESCEND; emit an empty array instead
    bigrams = F.when(F.size(toks) < 2, F.expr("array()")).otherwise(
        F.transform(
            F.sequence(F.lit(2), F.size(toks)),
            lambda i: F.concat_ws(
                "_", F.element_at(toks, i - 1), F.element_at(toks, i)
            ),
        )
    )
    # spread before the bigram explode + partial agg: the whole map
    # chain otherwise runs on the scan's split count (measured 2 tasks
    # / 27.8 s of the 28.3 s wall at sf1 — dedup_minhash precedent)
    return (
        _t(spark, sf_dir, "documents")
        .transform(spread)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(30)
    )


@q(
    "dedup_clusters_star",
    oracle=REGISTRY["dedup_clusters"].oracle,
    doc="Same duplicate-group output as dedup_clusters, computed with "
    "the hash-to-min star-contraction scheme (operators/components.py "
    "connected_components_star, after Kiveris et al. SOCC'14): rounds "
    "scale with log(diameter), not diameter, so adversarially deep "
    "pair graphs converge where min-label propagation would hit its "
    "iteration bound. Checked against the identical recursive-CTE "
    "oracle — two independent distributed algorithms, one SQL truth.",
    tags=("text", "dedup", "graph", "scale"),
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magictables_spark.operators.components import connected_components_star

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select("doc_id")
    return connected_components_star(pairs, src="doc_a", dst="doc_b", nodes=docs).select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster")
    )


@q(
    "lang_id_trigram",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, lower(substring(text, 1, 200)) AS t FROM documents
    ), tg AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                   i -> substring(t, i, 3))) AS g
      FROM d WHERE len(t) >= 3
    ), prof AS (
      SELECT lang, g FROM (
        SELECT lang, g, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, g) AS rk
        FROM tg GROUP BY lang, g
      ) WHERE rk <= 25
    ), doc_tg AS (
      SELECT DISTINCT doc_id, g FROM tg
    ), hits AS (
      SELECT dt.doc_id, p.lang AS cand, COUNT(*) AS n_hits
      FROM doc_tg dt JOIN prof p ON dt.g = p.g
      GROUP BY dt.doc_id, p.lang
    ), best AS (
      SELECT doc_id, cand, n_hits FROM (
        SELECT doc_id, cand, n_hits,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY n_hits DESC, cand) AS rb
        FROM hits
      ) WHERE rb = 1
    )
    SELECT d.doc_id, d.lang AS lang_true,
           COALESCE(b.cand, 'und') AS lang_guess,
           COALESCE(b.n_hits, 0) AS n_profile_hits
    FROM d LEFT JOIN best b ON d.doc_id = b.doc_id
    """,
    doc="Profile-based language ID (Cavnar-Trenkle textcat shape): "
    "char-trigram profiles — top 25 trigrams per language over the "
    "labeled corpus — classify each document by profile-overlap count "
    "(ties to the alphabetically first language; zero overlap -> "
    "'und'). Upgrades the marker-word heuristic `lang_id` to the "
    "published n-gram-profile algorithm; on real text the profiles "
    "separate languages sharply, on this synthetic lang-independent "
    "corpus the value is the verified mechanics. Plan shape at "
    "100 TB: profile training is one trigram explode + a LANG-sized "
    "window (7 x vocab rows); the per-doc classify joins the "
    "BROADCAST 175-row profile dim and aggregates per doc — one "
    "doc-keyed shuffle, no global state (in production the profile "
    "dim is a fixed table, making classify a pure map-side pass).",
    tags=("text", "langid", "scale"),
)
def lang_id_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # spread before the trigram explode: the fixture corpus arrives as
    # one-to-few parquet splits, so the per-doc substring fan-out (the
    # dominant map work, feeding BOTH the profile agg and the per-doc
    # classify) would otherwise run on the scan's split count
    # (dedup_minhash precedent; at scale the exchange evens skewed
    # layouts)
    d = (
        _t(spark, sf_dir, "documents")
        .transform(spread)
        .select("doc_id", "lang", F.lower(F.substring("text", 1, 200)).alias("t"))
    )
    tg = d.filter(F.length("t") >= 3).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("transform(sequence(1, greatest(length(t) - 2, 1)), i -> substring(t, i, 3))")
        ).alias("g"),
    )
    wp = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("g"))
    prof = (
        tg.groupBy("lang", "g")
        .agg(F.count("*").alias("c"))
        .withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= 25)
        .select("lang", "g")
    )
    doc_tg = tg.select("doc_id", "g").distinct()
    hits = (
        doc_tg.join(F.broadcast(prof.withColumnRenamed("lang", "cand")), "g")
        .groupBy("doc_id", "cand")
        .agg(F.count("*").alias("n_hits"))
    )
    wb = Window.partitionBy("doc_id").orderBy(F.desc("n_hits"), F.asc("cand"))
    best = hits.withColumn("rb", F.row_number().over(wb)).filter(F.col("rb") == 1)
    return (
        d.select("doc_id", F.col("lang").alias("lang_true"))
        .join(best.select("doc_id", "cand", "n_hits"), "doc_id", "left")
        .select(
            "doc_id",
            "lang_true",
            F.coalesce("cand", F.lit("und")).alias("lang_guess"),
            F.coalesce("n_hits", F.lit(0)).alias("n_profile_hits"),
        )
    )


@q(
    "inverted_index",
    oracle="""
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tf AS (
      SELECT token, doc_id, COUNT(*) AS tf FROM t GROUP BY token, doc_id
    ), ranked AS (
      SELECT token, doc_id, tf,
             COUNT(*) OVER (PARTITION BY token) AS df,
             ROW_NUMBER() OVER (
               PARTITION BY token ORDER BY tf DESC, doc_id) AS rnk
      FROM tf
    )
    SELECT token, CAST(df AS BIGINT) AS df, doc_id, tf, rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY token, rnk
    """,
    doc="Inverted-index head: for every token, its document frequency "
    "and the top-3 postings by term frequency (ties to lowest doc_id) "
    "-- the retrieval-side primitive behind BM25/keyword search and "
    "the audit view for stopword/boilerplate discovery. One explode, "
    "one (token, doc_id) partial-agg shuffle, then a token-keyed "
    "window where Spark's partial WindowGroupLimit prunes each map "
    "task to 3 rows per token BEFORE the final exchange -- hot tokens "
    "(stopwords) never ship their full posting lists. df rides the "
    "same window exchange as the rank.",
    tags=("text", "analytics", "scale"),
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # spread the raw scan before the explode + partial agg
    # (single-split fixture scan; the committed text-pack pattern)
    t = (
        _t(spark, sf_dir, "documents")
        .transform(spread)
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    )
    tf = t.groupBy("token", "doc_id").agg(F.count("*").alias("tf"))
    wt = Window.partitionBy("token")
    wr = Window.partitionBy("token").orderBy(F.desc("tf"), F.asc("doc_id"))
    return (
        tf.withColumn("df", F.count("*").over(wt).cast("bigint"))
        .withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .select("token", "df", "doc_id", "tf", "rnk")
        .orderBy("token", "rnk")
    )


_QUERY_TERMS = ("dup", "window", "merge")  # fixed retrieval query


@q(
    "tfidf_bits_topk",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), n AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs FROM t
    ), df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM t
      WHERE token IN {_QUERY_TERMS!r}
      GROUP BY token
    ), idf AS (
      SELECT token, length(bin(n_docs // df)) - 1 AS idf_bits
      FROM df CROSS JOIN n
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM t
      WHERE token IN {_QUERY_TERMS!r}
      GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST(SUM(tf * idf_bits) AS BIGINT) AS score_bits,
           CAST(SUM(tf) AS BIGINT) AS n_matches
    FROM tf JOIN idf USING (token)
    GROUP BY doc_id
    ORDER BY score_bits DESC, doc_id LIMIT 20
    """,
    doc="Keyword-relevance top-k in exact integer bits: score(d) = "
    "sum over query terms of tf(t, d) * floor(log2(N_docs / df(t))) "
    "-- the tf-idf ranking shape with the floored-log2 idf of "
    "unigram_surprisal_quality, so (unlike the libm-log `tfidf` slug, "
    "rows-only by construction) the full retrieval ranking is "
    "hash-checked cross-engine. The rare-term dominance the integer "
    "idf preserves is exactly BM25's behavior at its core. Scale "
    "shape: the term filter pushes into the scan (a 3-term IN list), "
    "the df/idf dim is query-term-sized and broadcasts, per-doc "
    "scores are one doc-keyed partial agg, and the top-20 is a "
    "TakeOrdered -- no global sort.",
    tags=("text", "analytics", "scale"),
)
def tfidf_bits_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token").isin(*_QUERY_TERMS))
    n_docs = docs.select("doc_id").distinct().count()
    df = t.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    idf = df.select(
        "token",
        (F.length(F.bin(F.expr(f"CAST({n_docs} AS BIGINT) div df"))) - 1).alias(
            "idf_bits"
        ),
    )
    tf = t.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    return (
        tf.join(F.broadcast(idf), "token")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("idf_bits")).cast("bigint").alias("score_bits"),
            F.sum("tf").cast("bigint").alias("n_matches"),
        )
        .orderBy(F.desc("score_bits"), "doc_id")
        .limit(20)
    )


_LPA_EDGES_CTE = """
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(range(1, len(string_split(text, ' ')) - 1),
                              i -> string_split(text, ' ')[i] || ' ' ||
                                   string_split(text, ' ')[i+1] || ' ' ||
                                   string_split(text, ' ')[i+2])
             )) AS shingle
      FROM documents WHERE doc_id < 200
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs
    ), l0 AS (
      SELECT doc_id AS v, doc_id AS lab FROM documents WHERE doc_id < 200
    )
"""

_LPA_STEP = """
    , c{k} AS (
      SELECT e.a AS v, l.lab FROM edges e JOIN l{p} l ON l.v = e.b
      UNION ALL SELECT v, lab FROM l{p}
    ), n{k} AS (
      SELECT v, lab, COUNT(*) AS c FROM c{k} GROUP BY v, lab
    ), l{k} AS (
      SELECT v, lab FROM (
        SELECT v, lab, ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, lab) AS rn
        FROM n{k}
      ) WHERE rn = 1
    )
"""


_LPA_FULL_ORACLE = (
    "WITH "
    + _LPA_EDGES_CTE
    + "".join(_LPA_STEP.format(k=k, p=k - 1) for k in (1, 2, 3))
    + """
    SELECT lab AS community, COUNT(*) AS n_members,
           CAST(MIN(v) AS BIGINT) AS min_doc
    FROM l3 GROUP BY lab HAVING COUNT(*) > 1
    ORDER BY community
    """
)


def _lpa3(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """3 synchronous mode-vote LPA iterations (each node adopts the
    mode of its neighbors' labels plus its own; ties to the smallest
    label) — the deterministic pinned form both oracles replay. Votes
    never cross connected components, so LPA over a union of complete
    components equals the full graph's LPA restricted to them — the
    exactness lemma the incremental twin builds on."""
    w = Window.partitionBy("v").orderBy(F.col("c").desc(), F.col("lab"))
    for _ in range(3):
        cand = edges.join(labels, edges.b == labels.v).select(
            F.col("a").alias("v"), "lab"
        ).unionByName(labels)
        counts = cand.groupBy("v", "lab").agg(F.count("*").alias("c"))
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("v", "lab")
        )
    return labels


def _lpa_communities(labels: DataFrame) -> DataFrame:
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(F.count("*").alias("n_members"), F.min("v").alias("min_doc"))
        .filter(F.col("n_members") > 1)
        .orderBy("community")
    )


@q(
    "label_propagation_communities",
    oracle=_LPA_FULL_ORACLE,
    doc="Label-propagation community detection (Raghavan 2007) over "
    "the document near-dup graph, made DETERMINISTIC and hash-"
    "checkable: 3 SYNCHRONOUS unrolled iterations, each node adopting "
    "the MODE of its neighbors' labels plus its own (ties break to "
    "the smallest label; classic LPA's random order/tiebreak is "
    "exactly what an oracle cannot replay, so both are pinned), over "
    "the same >= 0.5 shingle-Jaccard edges as dedup_clusters. "
    "Complements the graph family: min-label propagation finds "
    "CONNECTED components (dedup_clusters); mode-label finds DENSE "
    "communities inside them -- a bridge edge flips a whole component "
    "to one cluster id but cannot out-vote a clique. Per iteration "
    "the plan is one edge-label equi-join + one (v, lab) count + one "
    "per-node top-1 window, all keyed exchanges -- the standard "
    "distributed LPA round at any scale (iterations bounded, not "
    "converging: 3 rounds reach diameter-3 consensus, the curation "
    "use case of 'name the dup neighborhoods'). Emits communities "
    "with >= 2 members (count, min doc) -- singletons are noise.",
    tags=("text", "dedup", "graph", "scale"),
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")).localCheckpoint()
    labels = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(F.col("doc_id").alias("v"), F.col("doc_id").alias("lab"))
    )
    return _lpa_communities(_lpa3(edges, labels))


_LPA_HIST_SPLIT = 150  # history/batch doc boundary for the incremental demo


@q(
    "label_propagation_incremental",
    oracle=_LPA_FULL_ORACLE,
    doc="INCREMENTAL community maintenance against a persisted label "
    "store (round-6 verdict item 3): the history subgraph (pairs with "
    f"both docs < {_LPA_HIST_SPLIT}) runs LPA once and persists labels "
    "+ symmetrized edges to the warehouse; a new batch of pairs (any "
    f"endpoint >= {_LPA_HIST_SPLIT}) then recomputes ONLY the touched "
    "components — the adjacency closure of the new edges' endpoints "
    "over the union graph — from identity seeds, and writes that "
    "O(touched) DELTA as its own table; untouched nodes serve their "
    "stored labels unchanged. EXACTNESS: mode votes never cross "
    "connected components, so (a) components without new edges have "
    "an unchanged induced subgraph and identity seeds — recomputing "
    "them would reproduce the stored labels bit-for-bit — and (b) LPA "
    "over the complete touched components equals the full union "
    "graph's LPA restricted to them. Hence incremental ≡ full "
    "recompute, and the ORACLE IS the full recompute (the same 3-round "
    "unrolled CTE as label_propagation_communities over the whole "
    "doc_id < 200 graph), so the equivalence is value-hash-checked, "
    "the same way the append-≡-rebuild LSH/IVF oracles work. At "
    "100 TB: community maintenance costs O(new edges + their "
    "components), never O(graph); the frontier closure is the "
    "standard iterate-until-stable CC expansion (bounded by component "
    "diameter), each round one keyed join.",
    tags=("text", "dedup", "graph", "scale", "warehouse"),
)
def label_propagation_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magictables_spark.warehouse import Store

    H = _LPA_HIST_SPLIT
    docs = _t(spark, sf_dir, "documents")
    store = Store("lpa", sf_dir, "documents", f"v1:lpa:{H}")

    def _sym(p: DataFrame) -> DataFrame:
        return p.unionByName(
            p.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        ).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    store.ensure(
        "lpaE",
        lambda: _sym(pairs.filter((F.col("doc_a") < H) & (F.col("doc_b") < H))),
        bucket_by=["a"], n_buckets=16, sort_by=["a", "b"],
    )
    seeds = docs.filter(F.col("doc_id") < H).select(
        F.col("doc_id").alias("v"), F.col("doc_id").alias("lab")
    )
    stored = store.table(
        spark,
        "lpaL",
        lambda: _lpa3(store.read(spark, "lpaE"), seeds),
        bucket_by=["v"], n_buckets=16, sort_by=["v"],
    )

    def _delta() -> DataFrame:
        new_edges = _sym(
            pairs.filter((F.col("doc_a") >= H) | (F.col("doc_b") >= H))
        ).localCheckpoint()
        all_edges = (
            store.read(spark, "lpaE").unionByName(new_edges).localCheckpoint()
        )
        # affected = adjacency closure of the new edges' endpoints over
        # the union graph = every node of every component that gained an
        # edge. Iterate-until-stable frontier expansion: each round one
        # keyed join + anti-join; rounds bounded by component diameter
        # (the standard distributed CC expansion).
        affected = (
            new_edges.select(F.col("a").alias("v")).distinct().localCheckpoint()
        )  # symmetrized: a-side covers both endpoints
        while True:
            grown = (
                all_edges.join(affected, all_edges.a == affected.v)
                .select(F.col("b").alias("v"))
                .distinct()
                .join(affected, "v", "left_anti")
                .localCheckpoint()
            )
            if grown.isEmpty():
                break
            affected = affected.unionByName(grown).distinct().localCheckpoint()
        aff_edges = all_edges.join(
            affected.withColumnRenamed("v", "a"), "a", "left_semi"
        )
        # identity seeds over the touched components (incl. batch nodes);
        # the O(touched) delta — the write scales with the increment's
        # neighborhood, never the stored graph (asserted in tests)
        return _lpa3(aff_edges, affected.withColumn("lab", F.col("v")))

    delta = store.table(
        spark, "lpaD", _delta, bucket_by=["v"], n_buckets=16, sort_by=["v"]
    )
    merged = stored.join(delta, "v", "left_anti").unionByName(delta)
    return _lpa_communities(merged)


@q(
    "lpa_store_stream",
    oracle=_LPA_FULL_ORACLE,
    doc="STREAMING community maintenance (round-7 verdict item 8): the "
    "touched-component delta of label_propagation_incremental applied "
    "INSIDE foreachBatch, so community labels stay fresh as pair-edges "
    "stream in. The history subgraph (pairs with both docs < "
    f"{_LPA_HIST_SPLIT}) seeds a base label store + edge log once; the "
    "new pairs are split into 3 deterministic shards ((doc_a + doc_b) "
    "% 3) and consumed via readStream, one shard per trigger, under "
    "Trigger.AvailableNow — three real micro-batches. Each batch: "
    "append its symmetrized edges to the edge log, expand the "
    "adjacency closure of ITS new endpoints over the union graph "
    "(touched components only), re-run the 3-round pinned LPA from "
    "identity seeds over exactly those components, and fold the "
    "result into a cumulative delta snapshot behind an atomic "
    "manifest repoint (the stream_upsert_foreach_batch crash-safety "
    "contract: readers resolve the old snapshot or the new one, "
    "never a half state). EXACTNESS is inductive on batches: mode "
    "votes never cross components, so components untouched by a "
    "batch keep labels identical to a full recompute and touched "
    "components are recomputed over their complete induced union "
    "subgraph — hence after the last batch the store equals the full "
    "recompute, and the ORACLE IS that full recompute (the same "
    "unrolled CTE as label_propagation_communities), value-hash-"
    "checking the whole streamed maintenance path. Per-batch work is "
    "O(batch edges + touched components + |delta|), never O(graph); "
    "warm re-invocation replays the checkpoint, runs zero batches, "
    "and serves the accumulated store (asserted in "
    "tests/test_lpa_stream.py).",
    tags=("text", "dedup", "graph", "streaming", "scale", "warehouse"),
)
def lpa_store_stream(
    spark: SparkSession,
    sf_dir: str,
    _crash_after_write: frozenset[int] = frozenset(),
) -> DataFrame:
    import os

    from magictables_spark.streaming import _resolve_snapshot, publish_snapshot
    from magictables_spark.streaming.commit import (
        ReplaySource,
        batch_subdir,
        subdir_store_paths,
    )
    from magictables_spark.warehouse import store_key

    H = _LPA_HIST_SPLIT
    docs = _t(spark, sf_dir, "documents")
    src = ReplaySource(
        "lpastream", *store_key(sf_dir, "documents", f"v2:lpastream:{H}")
    )
    edges_dir = src.path("edges")
    base_dir = src.path("base")
    delta_dir = src.path("delta")
    lab_schema = "v bigint, lab bigint"

    def _sym(p: DataFrame) -> DataFrame:
        return p.unionByName(
            p.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        ).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))

    def _seed():
        os.makedirs(delta_dir)
        pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
        hist_edges = _sym(
            pairs.filter((F.col("doc_a") < H) & (F.col("doc_b") < H))
        ).localCheckpoint()
        hist_edges.write.mode("overwrite").parquet(
            os.path.join(edges_dir, "seed")
        )
        seeds = docs.filter(F.col("doc_id") < H).select(
            F.col("doc_id").alias("v"), F.col("doc_id").alias("lab")
        )
        _lpa3(hist_edges, seeds).write.mode("overwrite").parquet(base_dir)
        new_pairs = pairs.filter(
            (F.col("doc_a") >= H) | (F.col("doc_b") >= H)
        ).localCheckpoint()
        return [
            new_pairs.filter((F.col("doc_a") + F.col("doc_b")) % 3 == k)
            for k in range(3)
        ]

    src.prepare(_seed)

    def _maintain(batch_pairs: DataFrame, batch_id: int) -> None:
        sp = batch_pairs.sparkSession
        new_edges = _sym(batch_pairs).localCheckpoint(eager=True)
        # per-batch subdir overwrite: a replay rewrites its own edges
        # instead of appending duplicates (duplicate edges double
        # their mode votes and can flip labels)
        new_edges.write.mode("overwrite").parquet(
            batch_subdir(edges_dir, batch_id)
        )
        all_edges = sp.read.parquet(
            *subdir_store_paths(edges_dir)
        ).localCheckpoint(eager=True)
        snap = _resolve_snapshot(delta_dir)
        prior_delta = (
            sp.read.parquet(snap)
            if snap is not None
            else sp.createDataFrame([], lab_schema)
        )
        # adjacency closure of THIS batch's endpoints over the union
        # graph — all nodes of every component that gained an edge
        affected = new_edges.select(F.col("a").alias("v")).distinct().localCheckpoint()
        while True:
            grown = (
                all_edges.join(affected, all_edges.a == affected.v)
                .select(F.col("b").alias("v"))
                .distinct()
                .join(affected, "v", "left_anti")
                .localCheckpoint()
            )
            if grown.isEmpty():
                break
            affected = affected.unionByName(grown).distinct().localCheckpoint()
        aff_edges = all_edges.join(
            affected.withColumnRenamed("v", "a"), "a", "left_semi"
        )
        labels_aff = _lpa3(aff_edges, affected.withColumn("lab", F.col("v")))
        new_delta = (
            prior_delta.join(affected, "v", "left_anti")
            .unionByName(labels_aff)
            # materialize BEFORE the overwrite: on a replay, LATEST
            # already points at snapshot_b{batch_id} itself, and a
            # lazy plan would read the files the write deletes
            .localCheckpoint(eager=True)
        )
        fresh = os.path.join(delta_dir, f"snapshot_b{batch_id}")
        new_delta.write.mode("overwrite").parquet(fresh)
        publish_snapshot(delta_dir, fresh)
        if batch_id in _crash_after_write:
            raise RuntimeError(f"injected crash after batch {batch_id} write")

    src.drain(spark, "doc_a bigint, doc_b bigint", _maintain)
    base = spark.read.schema(lab_schema).parquet(base_dir)
    snap = _resolve_snapshot(delta_dir)
    delta = (
        spark.read.parquet(snap)
        if snap is not None
        else spark.createDataFrame([], lab_schema)
    )
    merged = base.join(delta, "v", "left_anti").unionByName(delta)
    return _lpa_communities(merged)


@q(
    "rrf_hybrid_rank",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), n AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs FROM t
    ), df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM t
      WHERE token IN {_QUERY_TERMS!r}
      GROUP BY token
    ), idf AS (
      SELECT token, length(bin(n_docs // df)) - 1 AS idf_bits
      FROM df CROSS JOIN n
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM t
      WHERE token IN {_QUERY_TERMS!r}
      GROUP BY doc_id, token
    ), lex AS (
      SELECT doc_id AS item_id, rank_lex FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (
                 ORDER BY SUM(tf * idf_bits) DESC, doc_id) AS rank_lex
        FROM tf JOIN idf USING (token) GROUP BY doc_id
      ) WHERE rank_lex <= 50
    ), e AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      FROM embeddings
    ), nrm AS (
      SELECT vec_id, q,
             CAST(list_sum(list_transform(range(1, 65), i -> q[i]*q[i]))
               AS BIGINT) AS n2
      FROM e
    ), sem AS (
      SELECT vec_id AS item_id, rank_sem FROM (
        SELECT c.vec_id,
               ROW_NUMBER() OVER (ORDER BY
                 CAST(list_sum(list_transform(range(1, 65),
                   i -> p.q[i]*c.q[i])) AS BIGINT)
                   / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))
                 DESC, c.vec_id) AS rank_sem
        FROM nrm p JOIN nrm c ON p.vec_id = 0 AND c.vec_id <> 0
      ) WHERE rank_sem <= 50
    ), fused AS (
      SELECT COALESCE(l.item_id, s.item_id) AS item_id,
             l.rank_lex, s.rank_sem,
             COALESCE(1.0 / (60 + l.rank_lex), 0)
               + COALESCE(1.0 / (60 + s.rank_sem), 0) AS rrf_score
      FROM lex l FULL OUTER JOIN sem s ON l.item_id = s.item_id
    )
    SELECT item_id, rank_lex, rank_sem, rrf_score
    FROM fused
    ORDER BY rrf_score DESC, item_id LIMIT 20
    """,
    doc="Reciprocal-rank fusion (Cormack et al. 2009) — the hybrid-"
    "retrieval primitive every RAG pipeline runs: a LEXICAL ranking "
    "(the exact-integer tf-idf-bits scorer of tfidf_bits_topk over "
    "the fixed query terms) and a SEMANTIC ranking (exact int64 "
    "cosine to the probe embedding) each contribute 1/(60 + rank) "
    "for their top-50, and items sum their contributions — rank-"
    "based fusion needs NO score calibration between the two "
    "systems, which is why RRF beats score interpolation in "
    "practice. Both component rankings are deterministic (integer "
    "scores, id tiebreaks) and the fusion arithmetic is two IEEE "
    "divides and an add run identically in DuckDB, so the ENTIRE "
    "hybrid pipeline — two retrievers + fusion — is value-hash-"
    "checked cross-engine. Plan shape: the lexical leg is a pushed-"
    "down 3-term IN scan + doc-keyed agg; the semantic leg is a "
    "1-probe broadcast over the vector scan; the fusion joins two "
    "50-row frames — at 100 TB each leg scales like its standalone "
    "slug (ann_*_persisted serves the semantic leg from an index) "
    "and fusion cost is ~top-k only.",
    tags=("text", "similarity", "analytics", "llm", "scale"),
)
def rrf_hybrid_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token").isin(*_QUERY_TERMS))
    n_docs = docs.select("doc_id").distinct().count()
    df = t.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    idf = df.select(
        "token",
        (F.length(F.bin(F.expr(f"CAST({n_docs} AS BIGINT) div df"))) - 1).alias(
            "idf_bits"
        ),
    )
    tf = t.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    wl = Window.orderBy(F.desc("score_bits"), F.asc("doc_id"))
    # top-50 via TakeOrdered FIRST; the rank window then runs over a
    # 50-row frame, not the full matched-doc set
    lex = (
        tf.join(F.broadcast(idf), "token")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("idf_bits")).alias("score_bits"))
        .orderBy(F.desc("score_bits"), F.asc("doc_id"))
        .limit(50)
        .withColumn("rank_lex", F.row_number().over(wl))
        .select(F.col("doc_id").alias("item_id"), "rank_lex")
    )
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000)"
            " AS BIGINT))"
        ).alias("q"),
    )
    nrm = e.withColumn(
        "n2",
        F.expr(
            "aggregate(zip_with(q, q, (a, b) -> a * b), CAST(0 AS BIGINT),"
            " (acc, x) -> acc + x)"
        ),
    )
    p = nrm.filter(F.col("vec_id") == 0).select(
        F.col("q").alias("pq"), F.col("n2").alias("pn2")
    )
    cos = F.expr(
        "aggregate(zip_with(pq, q, (a, b) -> a * b), CAST(0 AS BIGINT),"
        " (acc, x) -> acc + x)"
    ).cast("double") / (
        F.sqrt(F.col("pn2").cast("double")) * F.sqrt(F.col("n2").cast("double"))
    )
    ws = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    sem = (
        nrm.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(p))
        .withColumn("cosine", cos)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(50)
        .withColumn("rank_sem", F.row_number().over(ws))
        .select(F.col("vec_id").alias("item_id"), "rank_sem")
    )
    fused = lex.join(sem, "item_id", "full_outer").select(
        "item_id",
        "rank_lex",
        "rank_sem",
        (
            F.coalesce(1.0 / (60 + F.col("rank_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("rank_sem")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("item_id")).limit(20)


# BM25 per-term score, shared verbatim by both engines: ratio-idf
# (N - df + .5)/(df + .5) — the monotone pre-log Robertson–Sparck-Jones
# form, written as the exact integer ratio (2(N-df)+1)/(2df+1); ln()
# is the ONE transcendental whose last-ulp rounding differs between
# libm and the JVM, and dropping it is what makes the whole ranker
# value-hash-checkable — times the k1/b saturation term with k1 = 1.2,
# b = 0.75. Every fractional constant is CAST to DOUBLE: Spark parses
# bare decimal literals as DECIMAL and runs DECIMAL division (diverges
# from DuckDB's double promotion at ~1e-8 relative).
_BM25_TERM = (
    "(CAST(2 * (n_docs - df) + 1 AS DOUBLE) / CAST(2 * df + 1 AS DOUBLE))"
    " * (tf * CAST(2.2 AS DOUBLE))"
    " / (tf + CAST(1.2 AS DOUBLE)"
    " * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * (dl / avgdl)))"
)


@q(
    "bm25_ratio_topk",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ), n AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM d
    ), t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM t
      WHERE token IN {_QUERY_TERMS!r} GROUP BY 1, 2
    ), dfx AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM t
      WHERE token IN {_QUERY_TERMS!r} GROUP BY 1
    ), sc AS (
      SELECT doc_id, token, {_BM25_TERM} AS s
      FROM tf JOIN dfx USING (token) JOIN d USING (doc_id) CROSS JOIN n
    )
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_terms,
           list_reduce(list(s ORDER BY token), (a, x) -> a + x) AS score
    FROM sc GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 20
    """,
    doc="BM25 lexical retrieval (Robertson-Walker Okapi weighting, "
    "k1=1.2 b=0.75) over the documents corpus for the fixed query — "
    "the standard search ranker, upgrading tfidf_bits_topk's integer "
    "surrogate with true tf SATURATION (k1) and document-LENGTH "
    "normalization (b), the two effects that make BM25 beat raw "
    "tf-idf. Determinism engineering: (1) idf uses the monotone "
    "pre-log RSJ ratio (N-df+.5)/(df+.5) — documented divergence "
    "from ln-idf; ln is the one op whose last-ulp differs across "
    "engines, everything else here is IEEE-exact +-*/ on identical "
    "inputs in identical order; (2) the per-doc score SUM folds over "
    "the token-sorted score list (list_reduce / aggregate) because a "
    "3-term double sum is already order-sensitive and engine hash "
    "aggregation orders differ. Plan: query terms push into the "
    "token scan as an IN filter (3-term), df + dl + avgdl are "
    "standard partial aggregates, the 1-row (n_docs, avgdl) frame "
    "broadcasts, per-term scoring is map-side, top-20 is "
    "TakeOrderedAndProject. At 100 TB the df/tf aggregates read the "
    "inverted_index store instead of re-tokenizing — same plan from "
    "the join on.",
    tags=("text", "analytics", "llm", "scale"),
)
def bm25_ratio_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    n = d.agg(
        F.count("*").alias("n_docs"),
        F.expr("CAST(SUM(dl) AS DOUBLE) / COUNT(*)").alias("avgdl"),
    )
    t = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token").isin(*_QUERY_TERMS))
    tf = t.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfx = t.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    sc = (
        tf.join(F.broadcast(dfx), "token")
        .join(d, "doc_id")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "token", F.expr(_BM25_TERM).alias("s"))
    )
    return (
        sc.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_terms"),
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(token, s))),"
                " p -> p.s), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
            ).alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


_KHOP_ORACLE = (
    "WITH "
    + _LPA_EDGES_CTE
    + """
    , r0 AS (
      SELECT doc_id AS v, CAST(0 AS BIGINT) AS hop
      FROM documents WHERE doc_id < 5
    ), f1 AS (
      SELECT DISTINCT e.a AS v FROM edges e JOIN r0 ON e.b = r0.v
      WHERE e.a NOT IN (SELECT v FROM r0)
    ), r1 AS (
      SELECT v, hop FROM r0
      UNION ALL SELECT v, CAST(1 AS BIGINT) FROM f1
    ), f2 AS (
      SELECT DISTINCT e.a AS v FROM edges e JOIN r1 ON e.b = r1.v
      WHERE e.a NOT IN (SELECT v FROM r1)
    ), r2 AS (
      SELECT v, hop FROM r1
      UNION ALL SELECT v, CAST(2 AS BIGINT) FROM f2
    ), f3 AS (
      SELECT DISTINCT e.a AS v FROM edges e JOIN r2 ON e.b = r2.v
      WHERE e.a NOT IN (SELECT v FROM r2)
    ), r3 AS (
      SELECT v, hop FROM r2
      UNION ALL SELECT v, CAST(3 AS BIGINT) FROM f3
    )
    SELECT v AS doc_id, hop FROM r3 ORDER BY doc_id
    """
)


@q(
    "khop_reachability",
    oracle=_KHOP_ORACLE,
    doc="Contamination blast radius: multi-source BFS from a seed set "
    "(doc_id < 5 — think 'known benchmark documents') over the same "
    ">= 0.5 shingle-Jaccard near-dup graph as dedup_clusters / LPA, "
    "reporting every document within 3 hops and its minimum hop "
    "distance. This is the decontamination question a training "
    "pipeline actually asks: paraphrases-of-paraphrases leak "
    "benchmarks even when the direct near-dup check is clean, so the "
    "radius must follow TRANSITIVE near-dup edges, not just the "
    "1-hop candidates contamination_check screens. Spark plan: 3 "
    "unrolled frontier expansions (the pagerank_fixed_iters "
    "fixed-point discipline — one edge equi-join + anti-join vs the "
    "reached set per hop, frontier-sized not graph-sized; edges "
    "localCheckpointed once so Catalyst doesn't re-inline the "
    "shingle-join per hop); the oracle replays the identical "
    "expansion as an unrolled CTE chain. At 100 TB the per-hop cost "
    "is |frontier edges| keyed exchanges — the iterative-graph shape "
    "that generalizes to any bounded-depth closure.",
    tags=("text", "dedup", "graph"),
)
def khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.unionByName(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .localCheckpoint()
    )
    seeds = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 5)
        .select(F.col("doc_id").alias("v"), F.lit(0).cast("long").alias("hop"))
    )
    reached = seeds
    frontier = seeds.select("v")
    for h in (1, 2, 3):
        nxt = (
            edges.join(frontier, edges["b"] == frontier["v"])
            .select(F.col("a").alias("v"))
            .distinct()
            .join(reached.select("v"), "v", "left_anti")
        )
        reached = reached.unionByName(
            nxt.select("v", F.lit(h).cast("long").alias("hop"))
        )
        frontier = nxt
    return reached.select(F.col("v").alias("doc_id"), "hop").orderBy("doc_id")


# Link-prediction edges use a MUCH looser 0.02 Jaccard threshold than
# the dedup graph: the fixture's pairwise-Jaccard distribution is
# bimodal (planted dups >= 0.95, topical background <= 0.037 — measured
# before registration), so every mid threshold yields a PERFECT
# MATCHING (each doc one partner, no open 2-paths, empty predictions).
# 0.02 is inside the background mode: the relatedness graph has real
# multi-neighbor structure, which is what link prediction consumes.
_LINKPRED_EDGES_CTE = _LPA_EDGES_CTE.replace(">= 0.5", ">= 0.02")

_LINKPRED_ORACLE = (
    "WITH "
    + _LINKPRED_EDGES_CTE
    + """
    , deg AS (
      SELECT a AS v, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY a
    ), two_path AS (
      -- common-neighbor counts of NON-adjacent pairs via the 2-path
      -- join; u < w canonicalizes the unordered pair
      SELECT e1.a AS u, e2.a AS w, CAST(COUNT(*) AS BIGINT) AS cn
      FROM edges e1 JOIN edges e2 ON e1.b = e2.b AND e1.a < e2.a
      WHERE NOT EXISTS (
        SELECT 1 FROM edges x WHERE x.a = e1.a AND x.b = e2.a
      )
      GROUP BY e1.a, e2.a
    )
    SELECT u, w, cn,
           (CAST(cn AS DOUBLE)
            / CAST(du.d + dw.d - cn AS DOUBLE)) AS jaccard_score
    FROM two_path
    JOIN deg du ON du.v = u
    JOIN deg dw ON dw.v = w
    ORDER BY jaccard_score DESC, u, w
    LIMIT 20
    """
)


@q(
    "link_prediction_jaccard",
    oracle=_LINKPRED_ORACLE,
    doc="Neighborhood-Jaccard link prediction over the near-dup graph: "
    "for every NON-adjacent pair with at least one common neighbor, "
    "score |N(u) n N(w)| / |N(u) u N(w)| and emit the top-20 "
    "predicted links — the 'these two docs are probably dups too' "
    "candidates that the pairwise threshold missed (a transitive-"
    "evidence sibling of khop_reachability: that one spreads known "
    "contamination, this one predicts missing edges). Candidate "
    "pairs come from the 2-PATH equi-join on the shared endpoint — "
    "never all pairs — so candidate mass is sum-of-degree-squares "
    "bounded (the triangle_count shape); adjacency is excluded by an "
    "anti-join on the canonicalized edge; the Jaccard is exact "
    "integers until one division (|union| = d_u + d_w - cn by "
    "inclusion-exclusion — no set materialization). Ranking "
    "deterministic via (score, u, w) tie-breaks.",
    tags=("text", "dedup", "graph", "similarity"),
)
def link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _jaccard_pairs(spark, sf_dir, threshold=0.02).select("doc_a", "doc_b")
    edges = (
        pairs.unionByName(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .localCheckpoint()
    )
    deg = edges.groupBy(F.col("a").alias("v")).agg(F.count("*").cast("long").alias("d"))
    e1 = edges.select(F.col("a").alias("u"), F.col("b").alias("m"))
    e2 = edges.select(F.col("a").alias("w"), F.col("b").alias("m2"))
    two_path = (
        e1.join(e2, (F.col("m") == F.col("m2")) & (F.col("u") < F.col("w")))
        .groupBy("u", "w")
        .agg(F.count("*").cast("long").alias("cn"))
        .join(
            edges.select(F.col("a").alias("u"), F.col("b").alias("w")),
            ["u", "w"],
            "left_anti",
        )
    )
    du = deg.select(F.col("v").alias("u"), F.col("d").alias("d_u"))
    dw = deg.select(F.col("v").alias("w"), F.col("d").alias("d_w"))
    return (
        two_path.join(du, "u")
        .join(dw, "w")
        .selectExpr(
            "u",
            "w",
            "cn",
            "(CAST(cn AS DOUBLE) / CAST(d_u + d_w - cn AS DOUBLE)) AS jaccard_score",
        )
        .orderBy(F.desc("jaccard_score"), "u", "w")
        .limit(20)
    )


@q(
    "collocation_lift_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), bg AS (
      SELECT ws[i] AS w1, ws[i+1] AS w2
      FROM tok, unnest(range(1, len(ws))) AS t(i)
    ), big AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg GROUP BY w1, w2 HAVING COUNT(*) >= 5
    ), uni AS (
      SELECT w1 AS w, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY w1
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bg
    )
    SELECT b.w1, b.w2, b.c12, u1.c AS c1, u2.c AS c2,
           (CAST(b.c12 AS DOUBLE) * CAST(t.n AS DOUBLE)
            / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))) AS lift
    FROM big b
    JOIN uni u1 ON u1.w = b.w1
    JOIN uni u2 ON u2.w = b.w2
    CROSS JOIN tot t
    ORDER BY lift DESC, b.w1, b.w2
    LIMIT 20
    """,
    doc="Collocation mining by pointwise LIFT: bigrams occurring >= 5 "
    "times ranked by P(w1 w2)/(P(w1)P(w2)) — the association measure "
    "behind PMI, kept on the EXACT rational c12*N/(c1*c2) (lift is a "
    "monotone transform of PMI, so the ranking is identical with no "
    "libm log and no cross-engine drift). Complements the lexical "
    "family: tfidf/bm25 rank terms per DOCUMENT; collocations rank "
    "word PAIRS corpus-wide — the phrase-vocabulary builder for "
    "tokenizer curation (which multi-word units deserve merges). "
    "Bigram positions come from a map-side adjacent-zip explode; the "
    "count frames are VOCAB^2-bounded after the min-count filter; "
    "unigram dims broadcast-join; the 1-row total broadcasts. "
    "Deterministic top-20 via (lift, w1, w2).",
    tags=("text", "pretrain", "stats"),
)
def collocation_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the raw scan before the bigram explode (single-split
    # fixture scan; both the bigram and unigram aggs consume it)
    tok = (
        _t(spark, sf_dir, "documents")
        .transform(spread)
        .select(F.split("text", " ").alias("ws"))
    )
    bg = tok.select(
        F.explode(
            F.expr("transform(slice(ws, 1, size(ws) - 1), (w, i) -> struct(w AS w1, ws[i + 1] AS w2))")
        ).alias("p")
    ).select("p.w1", "p.w2")
    big = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c12"))
        .filter(F.col("c12") >= 5)
    )
    uni = bg.groupBy(F.col("w1").alias("w")).agg(F.count("*").cast("long").alias("c"))
    tot = bg.agg(F.count("*").cast("long").alias("n"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        big.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "w1",
            "w2",
            "c12",
            "c1",
            "c2",
            "(CAST(c12 AS DOUBLE) * CAST(n AS DOUBLE)"
            " / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) AS lift",
        )
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(20)
    )
