"""MagicFrame — the engine's table abstraction.

The reference's ``MagicTable`` subclasses ``polars.DataFrame`` and
monkey-patches every public Polars method so results stay MagicTables
(reference: magictables/magictable.py:39, 451-459). Spark DataFrames
are not designed for subclassing, so MagicFrame *wraps* a
``pyspark.sql.DataFrame`` and forwards every attribute via
``__getattr__``: any method that returns a DataFrame is re-wrapped,
preserving provenance — the same closure property, Spark-idiomatically
lazy (nothing executes until an action).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from magictables_spark.identity import step_id, table_name


# This process's ingest dir: made on first use, removed at interpreter exit.
_INGEST_DIR: str | None = None


def _ingest(spark: SparkSession, rows: list[dict]) -> tuple[DataFrame, str | None]:
    """:func:`rows_to_df` plus the path of the JSONL file the frame scans
    (None for no rows); the file lives until the caller removes it or the
    process exits."""
    import json as _json

    from magictables_spark.operators.flatten import flatten

    if not rows:
        return spark.createDataFrame([], "placeholder string").limit(0), None
    global _INGEST_DIR
    if _INGEST_DIR is None:
        _INGEST_DIR = tempfile.mkdtemp(prefix="mts_ingest_")
        atexit.register(shutil.rmtree, _INGEST_DIR, True)
    fd, path = tempfile.mkstemp(suffix=".jsonl", dir=_INGEST_DIR)
    with os.fdopen(fd, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(_json.dumps(r, default=str) + "\n")
    return flatten(spark.read.json(path)), path


def _step_arg(value: Any) -> Any:
    """An argument of a derived-frame step as ``step_id`` hashes it: a
    MagicFrame by its name, containers element-wise, JSON scalars as
    they are. Anything else — a DataFrame, Column, callable or other
    object — has no identity by value (a DataFrame's plan hash does not
    move when the files under it are rewritten; a UDF's text carries a
    memory address), so it raises TypeError."""
    if isinstance(value, MagicFrame):
        return value.name
    if isinstance(value, (list, tuple)):
        return [_step_arg(v) for v in value]
    if isinstance(value, dict):
        return {str(k): _step_arg(v) for k, v in value.items()}
    if value is None or isinstance(value, (str, int, float, bool)):
        return value
    raise TypeError(f"no value identity: {type(value).__name__}")


def rows_to_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """List-of-dicts -> flattened DataFrame. Nested payloads go through
    spark.read.json for full recursive schema inference (merged across
    ALL rows — a single-sample schema_of_json would drop keys absent
    from the sample), then the json_flatten operator (ingest-time
    flattening, sources.py:74-76).

    Ingest rows are driver-sized by definition (they came from a
    source's fetch_data()); they ride to the scan through a JSONL file
    in the process's ingest dir rather than the deprecated RDD[str]
    json() overload — no ``.rdd`` anywhere, Spark-4-clean."""
    return _ingest(spark, rows)[0]


class MagicFrame:
    """A provenance-carrying wrapper over a lazy Spark DataFrame.

    Attributes:
        df: the underlying ``pyspark.sql.DataFrame`` (lazy logical plan).
        sources: provenance source-ids in application order (§1.4 of SURVEY);
            a derived frame's is the one ``identity.step_id`` of its step.
        name: provenance-derived identity, ``"_".join(sources)``.
    """

    def __init__(
        self,
        df: DataFrame,
        sources: list[str] | None = None,
        name: str | None = None,
        last_identifier: str | None = None,
    ):
        object.__setattr__(self, "df", df)
        object.__setattr__(self, "sources", list(sources or []))
        object.__setattr__(self, "name", name if name is not None else table_name(self.sources))
        # the most recent source's identifier (e.g. an API URL template) —
        # what the reference reads off `self.sources[-1]` when a frame is
        # passed as the chain target (magictable.py:210-219)
        object.__setattr__(self, "last_identifier", last_identifier)

    # -- ingest (reference MagicTable.from_source, magictable.py:55-67) ----

    @classmethod
    def from_source(
        cls,
        spark: SparkSession,
        source,
        warehouse=None,
    ) -> "MagicFrame":
        """Cache-probe by provenance id, else fetch + flatten + register.

        Mirrors the reference lifecycle (SURVEY §3.1): source id ->
        warehouse probe -> fetch_data() -> DataFrame (nested JSON
        inference) -> flatten -> parquet + metadata row.
        """
        sid = source.get_id()
        if warehouse is not None and warehouse.has_table(sid):
            return cls(
                warehouse.read_table(spark, sid),
                sources=[sid],
                last_identifier=source.get_identifier(),
            )

        rows = source.fetch_data()
        df, path = _ingest(spark, rows)
        if warehouse is not None:
            warehouse.write_table(
                df, sid, {"type": source.get_type(), "identifier": source.get_identifier()}
            )
            if path:  # the returned frame reads the warehouse copy
                os.remove(path)
            df = warehouse.read_table(spark, sid)
        return cls(df, sources=[sid], last_identifier=source.get_identifier())

    # -- per-source convenience constructors (magictable.py:69-95) ---------
    # Same thin sugar as the reference's from_api/from_web/from_pdf/
    # from_gen/from_raw: construct the source, delegate to from_source.
    # `fetcher`/`llm` stay injectable so the constructors are testable
    # offline exactly like the underlying sources.

    @classmethod
    def from_api(
        cls, spark: SparkSession, api_url: str, params: dict | None = None,
        *, fetcher=None, warehouse=None,
    ) -> "MagicFrame":
        from magictables_spark.sources import APISource

        return cls.from_source(spark, APISource(api_url, params, fetcher=fetcher), warehouse=warehouse)

    @classmethod
    def from_web(cls, spark: SparkSession, url: str, *, fetcher=None, warehouse=None) -> "MagicFrame":
        from magictables_spark.sources import WebSource

        return cls.from_source(spark, WebSource(url, fetcher=fetcher), warehouse=warehouse)

    @classmethod
    def from_pdf(cls, spark: SparkSession, pdf_url: str, *, fetcher=None, warehouse=None) -> "MagicFrame":
        from magictables_spark.sources import PDFSource

        return cls.from_source(spark, PDFSource(pdf_url, fetcher=fetcher), warehouse=warehouse)

    @classmethod
    def from_gen(cls, spark: SparkSession, query: str, *, llm=None, warehouse=None) -> "MagicFrame":
        from magictables_spark.sources import GenerativeSource

        return cls.from_source(spark, GenerativeSource(query, llm=llm), warehouse=warehouse)

    @classmethod
    def from_raw(cls, spark: SparkSession, data: list[dict], *, warehouse=None) -> "MagicFrame":
        from magictables_spark.sources import RawSource

        return cls.from_source(spark, RawSource(data), warehouse=warehouse)

    # -- chain (reference magictable.py:202-315) ---------------------------

    def chain(
        self,
        other,
        *,
        source_key: str | None = None,
        target_key: str | None = None,
        llm=None,
        fetcher=None,
        warehouse=None,
        ttl_seconds: float = 3600.0,
    ) -> "MagicFrame":
        """Per-row API-enrichment join (see operators/chain.py).

        ``other`` is a URL template string, or — reference parity with
        ``mt.chain(other: MagicTable)`` (magictable.py:210-219) —
        another MagicFrame, whose most recent source identifier (its
        API URL template) becomes the target. When no explicit keys
        are given and deterministic placeholder->column binding fails,
        an injected ``llm`` resolves the keys via ``llm.key_infer``
        (sample-aware, magictable.py:393-447) — deterministic match
        always runs FIRST, so sanely-named columns never cost an LLM
        call."""
        from magictables_spark.identity import source_id
        from magictables_spark.operators.chain import chain_enrich, resolve_keys

        if isinstance(other, MagicFrame):
            if not other.last_identifier:
                raise ValueError(
                    "chain(other=MagicFrame) needs the target frame to carry a "
                    "source identifier (build it with from_api/from_source)"
                )
            url_template = other.last_identifier
        else:
            url_template = other

        if source_key is None and target_key is None and llm is not None:
            try:
                resolve_keys(url_template, self.df.columns)
            except KeyError:
                from magictables_spark.llm import key_infer

                mapping = key_infer(url_template, self.df, llm=llm)
                # chain_enrich's override is a single (placeholder, column)
                # pair — bind the first non-identity mapping
                for ph, col in mapping.items():
                    if ph != col:
                        source_key, target_key = col, ph
                        break

        out = chain_enrich(
            self.df,
            url_template,
            sources=self.sources,
            source_key=source_key,
            target_key=target_key,
            fetcher=fetcher,
            warehouse=warehouse,
            ttl_seconds=ttl_seconds,
        )
        new_sources = self.sources + [source_id("api", url_template, {})]
        return MagicFrame(out, sources=new_sources)

    # -- transform (reference magictable.py:148-200) -----------------------

    def transform(self, query: str, llm=None, warehouse=None, model: str = "mock") -> "MagicFrame":
        """NL -> (cached) Spark SQL -> executed on a temp view (see
        magictables_spark/llm)."""
        from magictables_spark.identity import transform_name
        from magictables_spark.llm import nl_transform

        out = nl_transform(self.df, query, llm=llm, warehouse=warehouse, model=model, table_name=self.name)
        return self._derived(
            out, "transform", (query, model), name=transform_name(self.name, query, model)
        )

    # -- join_with_query (reference facade's dead API, made real) ----------

    def join_with_query(
        self, other: "MagicFrame", query: str, llm=None, warehouse=None, model: str = "mock"
    ) -> "MagicFrame":
        """NL-described join with another frame — the reference facade
        calls MagicTable.join_with_query which exists nowhere
        (notsomagictable.py:21); SURVEY §2.A marks it worth building
        for real. Same validated-SELECT-only + cache contract as
        transform (see llm.nl_join)."""
        from magictables_spark.identity import transform_name
        from magictables_spark.llm import nl_join

        out = nl_join(
            self.df,
            other.df,
            query,
            llm=llm,
            warehouse=warehouse,
            model=model,
            left_name=self.name,
            right_name=other.name,
        )
        joined_sources = self.sources + other.sources
        return MagicFrame(
            out,
            sources=joined_sources,
            name=transform_name(table_name(joined_sources), query, model),
        )

    # -- similarity (mandated extension surface) ---------------------------

    def similar_topk(
        self,
        id_col: str,
        vec_col: str,
        k: int = 10,
        dim: int | None = None,
        fast: bool = False,
    ) -> "MagicFrame":
        """Approximate nearest neighbors over this frame's embedding
        column. Routes through the HIGH-RECALL multiprobe-LSH config by
        default (T4-P4, recall 0.92/0.70 at sf0.01/sf0.1 — the
        ``ann_lsh_topk_hi`` grid point): a similarity call should not
        hand back ~0.5 recall unasked. ``fast=True`` opts into the
        low-recall T2-P4 demo config (``ann_lsh_topk``), which trades
        roughly half the recall for ~2x less candidate mass."""
        from magictables_spark.plans.similarity import (
            N_PROBES,
            N_TABLES,
            ann_topk,
        )

        kwargs = {"n_tables": N_TABLES, "n_probes": N_PROBES} if fast else {}
        out = ann_topk(self.df, id_col, vec_col, k=k, dim=dim, **kwargs)
        return self._derived(
            out, "similar_topk", (id_col, vec_col), dict(k=k, dim=dim, fast=fast)
        )

    # -- closure property: every DataFrame-returning method stays magic ----

    def _derived(
        self,
        out: DataFrame,
        method: str,
        args: tuple = (),
        kwargs: dict | None = None,
        name: str | None = None,
    ) -> "MagicFrame":
        """``out`` as a new table derived from this one by
        ``method(*args, **kwargs)``. Its sources are ONE step id that
        hashes this frame's name with the step (identity.step_id), so it
        never shares its parent's cache identity, two frames that apply
        the same step to the same parent agree, and the id stays one
        digest long however many steps a pipeline takes. A step whose
        arguments have no identity by value (see _step_arg) gets a
        random id: its result is never served from a cache."""
        try:
            sid = step_id(self.name, method, _step_arg(args), _step_arg(kwargs or {}))
        except TypeError:
            sid = uuid.uuid4().hex
        return MagicFrame(out, sources=[sid], name=name)

    def __getattr__(self, attr: str) -> Any:
        value = getattr(object.__getattribute__(self, "df"), attr)
        if callable(value):

            def wrapped(*args: Any, **kwargs: Any) -> Any:
                result = value(
                    *[a.df if isinstance(a, MagicFrame) else a for a in args],
                    **{k: (v.df if isinstance(v, MagicFrame) else v) for k, v in kwargs.items()},
                )
                if isinstance(result, DataFrame):
                    return self._derived(result, attr, args, kwargs)
                return result

            return wrapped
        return value

    def __repr__(self) -> str:
        return f"MagicFrame(name={self.name!r}, schema={self.df.schema.simpleString()})"

    # -- reference-parity helpers ------------------------------------------

    @property
    def spark(self) -> SparkSession:
        return self.df.sparkSession

    def summary_meta(self) -> dict:
        """Shape + schema + first row, the reference's prompt context
        (magictable.py:145-146). One count + one first(): two cheap actions."""
        first = self.df.first()
        return {
            "rows": self.df.count(),
            "columns": self.df.columns,
            "dtypes": dict(self.df.dtypes),
            "first_row": first.asDict(recursive=True) if first is not None else None,
        }

    def to_view(self, view_name: str | None = None) -> str:
        """Register as a temp view so ``spark.sql`` reaches it (the SQL
        entry point the reference lacks, SURVEY §2.C)."""
        safe = view_name or ("t_" + self.name[:32] if self.name else "t_anon")
        self.df.createOrReplaceTempView(safe)
        return safe

    def sql(self, query: str, view_name: str = "df") -> "MagicFrame":
        """Direct SQL over this frame: registers it as ``df`` (or
        ``view_name``) and runs the statement — the non-LLM twin of
        ``transform`` (same contract the generated SQL targets), so a
        user can hand-write what the NL path would synthesize."""
        from magictables_spark.llm import validate_sql

        self.df.createOrReplaceTempView(view_name)
        out = self.spark.sql(query)
        try:
            validate_sql(query, spark=self.spark, allowed_tables={view_name})
        except ValueError:
            # it reads more than this frame (another view or table), so
            # its text does not identify the result: never served from cache
            return MagicFrame(out, sources=[uuid.uuid4().hex])
        return self._derived(out, "sql", (query, view_name))

    def to_pandas_on_spark(self):
        """pandas-typed API over the SAME distributed frame
        (``pyspark.pandas``) — the scalable twin of the reference's
        NotSoMagicTable pandas view (notsomagictable.py:6-51), which
        materialized everything in driver memory."""
        return self.df.pandas_api()

    def audit(self):
        """Scale pre-flight: lint this frame's PHYSICAL plan for the
        anti-patterns that kill cluster-scale runs (cartesian products,
        row-at-a-time Python UDFs, single-partition exchanges, nested-
        loop joins). Returns a ``PlanAudit``; never executes the query.
        No reference analogue (eager Polars has no plan to audit)."""
        from magictables_spark.plans.audit import audit_plan

        return audit_plan(self.df)
