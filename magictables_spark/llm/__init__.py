"""LLM layer (SURVEY.md §2.A: llm_call / nl_transform / key_infer /
source_gen) — driver-side, injectable, hermetically testable.

The reference exec()s LLM-generated *pandas* code on the whole table
(magictable.py:176-178, prompts.py:1-26) — unsafe and single-node. The
rebuild's contract: the LLM emits **Spark SQL** (validated before
execution, cached forever keyed (table, query, model) — reference cache
semantics magictable.py:150-170) or **JSON rows** for generative
sources (sources.py:153-183). Fence extraction mirrors
utils.py:154-159.

No provider SDK is required: ``LLMClient`` is a 1-method protocol;
tests use MockLLM; a litellm-backed client is gated behind an import
(litellm is a declared reference dep, pyproject.toml).
"""

from __future__ import annotations

import json
import re
from typing import Protocol

from py4j.protocol import Py4JError
from pyspark.errors import ParseException
from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# prompt contracts (fresh text; same I/O contracts as prompts.py:1-98)
# ---------------------------------------------------------------------------

TRANSFORM_PROMPT = """You translate a natural-language request into ONE Spark SQL query.

Table summary (name `df`):
{summary}

Request: {query}

Rules:
- Emit exactly one SELECT (or WITH ... SELECT) statement over the view `df`.
- Use only columns from the summary; alias every computed column.
- Parse date strings with to_timestamp()/to_date().
- No DDL/DML, no comments, no explanations.

Reply with the SQL inside a ```sql fence."""

KEY_INFER_PROMPT = """Map each URL template placeholder to the best-matching table column.

URL template: {template}
Columns (name: type, sample values): {columns}

Reply with a ```json fence containing one object mapping placeholder -> column name.
Use null when nothing plausibly matches."""

GEN_ROWS_PROMPT = """Produce tabular data answering this request: {query}

Reply with a ```json fence containing a list of flat JSON objects
(consistent keys, scalar values only)."""


class LLMClient(Protocol):
    def complete(self, prompt: str, system: str | None = None) -> str: ...


class MockLLM:
    """Deterministic scripted client for tests: returns canned responses
    in order, recording every prompt."""

    def __init__(self, responses: list[str]):
        self.responses = list(responses)
        self.prompts: list[str] = []

    def complete(self, prompt: str, system: str | None = None) -> str:
        self.prompts.append(prompt)
        if not self.responses:
            raise RuntimeError("MockLLM exhausted")
        return self.responses.pop(0)


class LiteLLMClient:
    """Live chat-completion client (reference utils.py:83-164). The
    ``completion`` callable is injectable so committed cassettes
    (tests/fixtures/llm_cassettes/) can replay a recorded completion
    through the REAL client path — message assembly, response
    unwrapping, then downstream fence extraction and SQL/JSON
    validation — without network or litellm installed. Record new
    cassettes from live calls with ``tools/record_llm_cassettes.py``."""

    def __init__(self, model: str = "gpt-4o-mini", completion=None):
        if completion is None:
            try:
                import litellm
            except ImportError as exc:  # pragma: no cover
                raise NotImplementedError(
                    "litellm not installed; inject a client instead"
                ) from exc
            completion = litellm.completion
        self.model = model
        self._completion = completion

    def complete(self, prompt: str, system: str | None = None) -> str:
        messages = ([{"role": "system", "content": system}] if system else []) + [
            {"role": "user", "content": prompt}
        ]
        resp = self._completion(model=self.model, messages=messages)
        return resp.choices[0].message.content


def litellm_client(model: str = "gpt-4o-mini"):
    """Live client via litellm — only constructed on demand; the
    network-free cassette twin is ``LiteLLMClient(completion=...)``."""
    return LiteLLMClient(model)


# ---------------------------------------------------------------------------
# fence extraction (utils.py:154-159 semantics)
# ---------------------------------------------------------------------------


def extract_fence(text: str, lang: str) -> str:
    m = re.search(rf"```{lang}\s*(.*?)```", text, re.DOTALL)
    if m:
        return m.group(1).strip()
    m = re.search(r"```\s*(.*?)```", text, re.DOTALL)
    if m:
        return m.group(1).strip()
    return text.strip()


# ---------------------------------------------------------------------------
# nl_transform: NL -> cached Spark SQL -> temp view execution
# ---------------------------------------------------------------------------

# DML/DDL verbs blocked anywhere in the text. Statement-form keywords
# (SET/CACHE/RESET/REFRESH/ANALYZE/CALL/...) are deliberately NOT here:
# as statements they are already rejected by the SELECT/WITH prefix
# check and the parse-level Command check, while a textual match would
# false-positive on literals and identifiers like `status = 'set'` or
# a column named reset_count.
_FORBIDDEN_SQL = re.compile(
    r"\b(insert|update|delete|drop|create|alter|truncate|merge|grant)\b",
    re.IGNORECASE,
)

# SELECT-reachable escape hatches: java_method()/reflect() execute
# arbitrary JVM static methods; to_avro/from_avro style gadgets are fine
# but the reflection pair is not
_FORBIDDEN_FUNCS = re.compile(r"\b(java_method|reflect)\s*\(", re.IGNORECASE)

# path-based table syntax: SELECT * FROM parquet.`/etc/...` reads any
# file the executor can see
_PATH_TABLE = re.compile(r"\b\w+\s*\.\s*`", re.IGNORECASE)


def validate_sql(sql: str, spark=None, allowed_tables: set[str] | None = None) -> str:
    """Reject anything but a single SELECT/WITH statement (the rebuild's
    replacement for the reference's unsandboxed exec, SURVEY §7.3).

    Three layers:
    1. textual: single statement, SELECT/WITH prefix, DDL/DML keyword
       blocklist, JVM-reflection functions, backtick path-tables;
    2. parse-level (when ``spark`` is given): the statement must parse
       to a query plan, not a Command (catches CACHE/SET/EXPLAIN forms
       that dodge regexes inside CTE text);
    3. relation allowlist (when ``allowed_tables`` is given): every
       UnresolvedRelation in the parsed tree must be a single-part name
       in the set — LLM SQL cannot reach other catalog tables, temp
       views, or file paths.
    """
    stripped = sql.strip().rstrip(";").strip()
    if ";" in stripped:
        raise ValueError(f"multiple statements not allowed: {sql!r}")
    if not re.match(r"^\s*(select|with)\b", stripped, re.IGNORECASE):
        raise ValueError(f"only SELECT queries allowed, got: {sql!r}")
    if _FORBIDDEN_SQL.search(stripped):
        raise ValueError(f"forbidden SQL keyword in: {sql!r}")
    if _FORBIDDEN_FUNCS.search(stripped):
        raise ValueError(f"forbidden function (JVM reflection) in: {sql!r}")
    if _PATH_TABLE.search(stripped):
        raise ValueError(f"path-based table access not allowed: {sql!r}")

    if spark is not None:
        parser = spark._jsparkSession.sessionState().sqlParser()
        try:
            plan = parser.parsePlan(stripped)
        except ParseException as exc:
            # a failed parsePlan raises the JVM's ParseException, which
            # the session's py4j error converter re-raises as
            # pyspark.errors.exceptions.captured.ParseException (a
            # pyspark.errors.ParseException); anything else propagates
            raise ValueError(f"SQL does not parse: {sql!r}") from exc
        cls = plan.getClass().getSimpleName()
        if "Command" in cls or "Insert" in cls or "Ddl" in cls:
            raise ValueError(f"non-query statement ({cls}) not allowed: {sql!r}")
        if allowed_tables is not None:
            allowed = {t.lower() for t in allowed_tables}
            rels, ctes, sightings = _walk_relations(plan)
            # names defined by the query's own CTEs are legal relations
            allowed |= ctes
            for parts in rels:
                if len(parts) != 1 or parts[0].lower() not in allowed:
                    raise ValueError(
                        f"table {'.'.join(parts)!r} not in allowed set "
                        f"{sorted(allowed)}: {sql!r}"
                    )
            # fail-CLOSED: a query with FROM/JOIN that surfaced zero
            # relation-like nodes means the walk (or a Spark upgrade's
            # node naming) missed something — reject instead of passing
            # a table reference unvetted
            if sightings == 0 and re.search(r"\b(from|join)\b", stripped, re.IGNORECASE):
                raise ValueError(
                    f"could not verify table references against allowlist: {sql!r}"
                )
    return stripped


def _walk_relations(plan) -> tuple[list[list[str]], set[str], int]:
    """Structurally collect table references from a PARSED plan via py4j:
    returns (UnresolvedRelation name-parts, CTE-defined names, count of
    relation-like nodes seen). Walking the tree — children() plus
    subqueries() so EXISTS/IN/scalar subqueries are covered — instead of
    regexing plan.toString() means a rendering change in a Spark upgrade
    breaks the walk loudly (zero sightings -> fail-closed above) rather
    than silently allowlisting everything.

    Table-valued functions and inline VALUES are counted as sightings
    (so fail-closed doesn't fire on them) but not name-checked: they
    carry no catalog table name, and the path-reading forms parse as
    UnresolvedRelation or are caught by the path-table regex.
    """
    rels: list[list[str]] = []
    ctes: set[str] = set()
    sightings = 0
    queue = [plan]
    while queue:
        node = queue.pop()
        cls = node.getClass().getSimpleName()
        if cls == "UnresolvedRelation":
            ident = node.multipartIdentifier()
            rels.append([ident.apply(i) for i in range(ident.size())])
            sightings += 1
        elif cls in ("UnresolvedTableValuedFunction", "UnresolvedInlineTable"):
            sightings += 1
        elif cls == "UnresolvedWith":
            # cteRelations are INNER children (not in children()), so the
            # definition bodies must be queued explicitly or a relation
            # hidden inside `WITH t AS (SELECT * FROM secret)` is missed
            cte = node.cteRelations()
            for i in range(cte.size()):
                ctes.add(str(cte.apply(i)._1()).lower())
                queue.append(cte.apply(i)._2())
        ch = node.children()
        for i in range(ch.size()):
            queue.append(ch.apply(i))
        # fail-CLOSED: skipping a node whose subqueries cannot be walked
        # would pass any table hidden inside them unvetted
        try:
            sq = node.subqueries()
        except Py4JError as exc:
            raise ValueError(
                f"could not verify table references: subqueries of a {cls} "
                "node cannot be walked"
            ) from exc
        for i in range(sq.size()):
            queue.append(sq.apply(i))
    return rels, ctes, sightings


def summarize(df: DataFrame, n_sample: int = 1) -> str:
    """Schema + first row — the reference's prompt context
    (mt.summary(), magictable.py:145-146). Cheap: no full count."""
    head = df.limit(n_sample).collect()
    first = head[0].asDict(recursive=True) if head else None
    return json.dumps({"columns": dict(df.dtypes), "first_row": first}, default=str)


def nl_transform(
    df: DataFrame,
    query: str,
    llm: LLMClient | None = None,
    warehouse=None,
    model: str = "mock",
    table_name: str = "df",
) -> DataFrame:
    """NL -> (cached) SQL -> result DataFrame. Code cache key =
    (table, query, model) — reference keys f"{name}_{query}" forever
    (magictable.py:150-170); model added per SURVEY §3.2."""
    cache_key = f"{table_name}_query:{query}_model:{model}"
    sql = warehouse.get_code(cache_key) if warehouse is not None else None
    if sql is None:
        if llm is None:
            raise ValueError("nl_transform cache miss and no LLM client provided")
        raw = llm.complete(TRANSFORM_PROMPT.format(summary=summarize(df), query=query))
        # validate BEFORE caching (invalid code must never be stored) ...
        sql = validate_sql(
            extract_fence(raw, "sql"), spark=df.sparkSession, allowed_tables={"df"}
        )
        if warehouse is not None:
            warehouse.put_code(cache_key, sql)
    else:
        # ... and AGAIN on cache reads: a tampered warehouse entry must
        # not execute either
        sql = validate_sql(sql, spark=df.sparkSession, allowed_tables={"df"})
    df.createOrReplaceTempView("df")
    return df.sparkSession.sql(sql)


# ---------------------------------------------------------------------------
# key_infer: deterministic match first, LLM fallback (magictable.py:393-447)
# ---------------------------------------------------------------------------


def key_infer(
    template: str,
    df: DataFrame,
    llm: LLMClient | None = None,
    n_samples: int = 5,
) -> dict[str, str]:
    from magictables_spark.operators.chain import PLACEHOLDER_RE, resolve_keys

    try:
        return resolve_keys(template, df.columns)
    except KeyError:
        if llm is None:
            raise
    samples = {r: [] for r in df.columns}
    for row in df.limit(n_samples).collect():
        for c in df.columns:
            samples[c].append(row[c])
    col_desc = json.dumps(
        {c: {"type": t, "samples": samples[c]} for c, t in df.dtypes}, default=str
    )
    raw = llm.complete(KEY_INFER_PROMPT.format(template=template, columns=col_desc))
    mapping = json.loads(extract_fence(raw, "json"))
    placeholders = PLACEHOLDER_RE.findall(template)
    out: dict[str, str] = {}
    for ph in placeholders:
        col = mapping.get(ph)
        if col is None or col not in df.columns:
            raise KeyError(f"LLM could not bind placeholder {{{ph}}} (got {col!r})")
        out[ph] = col
    return out


# ---------------------------------------------------------------------------
# source_gen: NL -> JSON rows (safe replacement for exec'd pandas code)
# ---------------------------------------------------------------------------


def generate_rows(llm: LLMClient, query: str) -> list[dict]:
    raw = llm.complete(GEN_ROWS_PROMPT.format(query=query))
    rows = json.loads(extract_fence(raw, "json"))
    if not isinstance(rows, list) or not all(isinstance(r, dict) for r in rows):
        raise ValueError("generative source must return a JSON list of objects")
    return rows


# ---------------------------------------------------------------------------
# nl_join: the reference facade's join_with_query is a dead call into a
# nonexistent API (notsomagictable.py:21 -> MagicTable.join_with_query,
# defined nowhere). SURVEY §2.A flags it as worth implementing for
# real: an NL-described join of two frames, same validated-SQL contract
# as nl_transform.
# ---------------------------------------------------------------------------

JOIN_PROMPT = """You translate a natural-language join request into ONE Spark SQL query.

Left table summary (view `left_df`):
{left_summary}

Right table summary (view `right_df`):
{right_summary}

Request: {query}

Rules:
- Emit exactly one SELECT (or WITH ... SELECT) statement joining the
  views `left_df` and `right_df`.
- Use only columns from the summaries; alias every computed column and
  disambiguate collisions with a left_/right_ prefix.
- No DDL/DML, no comments, no explanations.

Reply with the SQL inside a ```sql fence."""


def nl_join(
    left: DataFrame,
    right: DataFrame,
    query: str,
    llm: LLMClient | None = None,
    warehouse=None,
    model: str = "mock",
    left_name: str = "left_df",
    right_name: str = "right_df",
) -> DataFrame:
    """NL -> (cached) join SQL over two temp views. Cache key covers
    both table identities so either side changing provenance misses.
    The generated SQL is an ordinary Spark query — Catalyst picks the
    join strategy (broadcast/shuffle) like any hand-written join."""
    cache_key = f"{left_name}__{right_name}_join:{query}_model:{model}"
    sql = warehouse.get_code(cache_key) if warehouse is not None else None
    if sql is None:
        if llm is None:
            raise ValueError("nl_join cache miss and no LLM client provided")
        raw = llm.complete(
            JOIN_PROMPT.format(
                left_summary=summarize(left), right_summary=summarize(right), query=query
            )
        )
        sql = validate_sql(extract_fence(raw, "sql"))
        if warehouse is not None:
            warehouse.put_code(cache_key, sql)
    left.createOrReplaceTempView("left_df")
    right.createOrReplaceTempView("right_df")
    return left.sparkSession.sql(sql)
