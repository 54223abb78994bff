"""chain_enrich tests against a mock fetcher (SURVEY §5.2.4):
api_ prefixed unnest, list-payload explode, URL templating, per-URL
cache (second chain does zero fetches), failure -> null payload."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from magictables_spark.frame import MagicFrame
from magictables_spark.operators.chain import (
    chain_enrich,
    resolve_keys,
    url_expr,
)
from magictables_spark.warehouse import Warehouse

class MockFetcher:
    """Picklable fetcher that logs every call to a file — the fetch runs
    inside executor worker processes, so an in-memory list on the driver
    would never see the calls; the shared filesystem does. Each line is
    ``url, partition id, start, end``; ``delay`` seconds of sleep per
    call model a slow API, as ``perfbench/enrich.py`` does."""

    def __init__(self, log_file: str, delay: float = 0.0):
        self.log_file = log_file
        self.delay = delay

    def timed_calls(self) -> list[tuple[str, int, float, float]]:
        import os

        if not os.path.exists(self.log_file):
            return []
        with open(self.log_file) as f:
            rows = [line.rstrip("\n").split("\t") for line in f if line.strip()]
        return [(u, int(p), float(a), float(b)) for u, p, a, b in rows]

    def calls(self) -> list[str]:
        return [c[0] for c in self.timed_calls()]

    def log(self, url: str, start: float) -> None:
        import time

        from pyspark import TaskContext

        ctx = TaskContext.get()
        part = ctx.partitionId() if ctx is not None else -1
        with open(self.log_file, "a") as f:
            f.write(f"{url}\t{part}\t{start}\t{time.time()}\n")

    def __call__(self, url: str, params=None):
        import time

        start = time.time()
        time.sleep(self.delay)
        self.log(url, start)
        if "/item/" in url:
            return {"id": url.rsplit("/", 1)[-1]}
        if "/user/" in url:
            uid = int(url.rsplit("/", 1)[-1])
            return {"uid": uid, "score": uid * 10, "tier": "gold" if uid % 2 else "silver"}
        if "/orders/" in url:
            uid = int(url.rsplit("/", 1)[-1])
            if uid == 3:
                return []  # empty list payload -> explode_outer keeps the row
            return [{"order": f"{uid}-{i}", "amount": i * 100} for i in range(2)]
        return {}


@pytest.fixture
def wh(tmp_path):
    return Warehouse(str(tmp_path / "wh"))


@pytest.fixture
def mock_fetcher(tmp_path):
    return MockFetcher(str(tmp_path / "calls.log"))


def test_url_expr_fills_path_and_query(spark):
    df = spark.createDataFrame([(7, "np")], "user_id int, region string")
    out = df.select(
        url_expr("http://api/user/{user_id}?r={region}").alias("u")
    ).collect()
    assert out[0]["u"] == "http://api/user/7?r=np"


def test_resolve_keys_exact_then_ci():
    assert resolve_keys("http://a/{user_id}", ["user_id", "x"]) == {"user_id": "user_id"}
    assert resolve_keys("http://a/{USER_ID}", ["user_id"]) == {"USER_ID": "user_id"}
    with pytest.raises(KeyError):
        resolve_keys("http://a/{missing}", ["user_id"])


def test_chain_struct_payload_api_prefix(spark, wh, mock_fetcher):
    df = spark.createDataFrame([(1,), (2,)], "user_id int")
    out = chain_enrich(
        df, "http://api/user/{user_id}", fetcher=mock_fetcher, warehouse=wh, sources=["s0"]
    )
    assert sorted(out.columns) == ["api_score", "api_tier", "api_uid", "user_id"]
    rows = {r["user_id"]: (r["api_uid"], r["api_score"], r["api_tier"]) for r in out.collect()}
    assert rows == {1: (1, 10, "gold"), 2: (2, 20, "silver")}


def test_chain_list_payload_explodes_outer(spark, wh, mock_fetcher):
    df = spark.createDataFrame([(1,), (3,)], "user_id int")
    out = chain_enrich(df, "http://api/orders/{user_id}", fetcher=mock_fetcher, warehouse=wh)
    rows = sorted((r["user_id"], r["api_order"]) for r in out.collect())
    # user 1: two orders; user 3: empty payload -> kept with null
    assert rows == [(1, "1-0"), (1, "1-1"), (3, None)]


def test_chain_dedupes_and_caches_urls(spark, wh, mock_fetcher):
    df = spark.createDataFrame([(1,), (1,), (2,)], "user_id int")  # dup url for 1
    chain_enrich(df, "http://api/user/{user_id}", fetcher=mock_fetcher, warehouse=wh, sources=["d1"])
    first_calls = mock_fetcher.calls()
    assert len(first_calls) == 2  # deduped before fetch

    # different provenance, overlapping keys: only the NEW url is fetched
    # (distinct chain identity -> no merged-result hit, but per-URL cache
    # serves 1; reference magictable.py:355-386)
    df2 = spark.createDataFrame([(1,), (5,)], "user_id int")
    chain_enrich(df2, "http://api/user/{user_id}", fetcher=mock_fetcher, warehouse=wh, sources=["d2"])
    new_urls = mock_fetcher.calls()[len(first_calls):]
    assert new_urls == ["http://api/user/5"]


class RecoveringFetcher(MockFetcher):
    """Answers EVERY url (including ones MockFetcher fails on) — models
    the API coming back after an outage."""

    def __call__(self, url: str, params=None):
        import time

        self.log(url, time.time())
        return {"recovered": url.rsplit("/", 1)[-1]}


def test_failed_fetches_are_not_cached(spark, wh, tmp_path, mock_fetcher):
    """A fetcher failure ({} terminal payload) must NOT enter the
    infinite-TTL per-URL cache — the next run retries it; successful
    payloads stay cached (reference magictable.py 'if data:' semantics)."""
    import json as _json

    from magictables_spark.operators.chain import fetch_urls

    urls = spark.createDataFrame(
        [("http://api/user/7",), ("http://api/broken/1",)], "u string"
    )
    out1 = {r["__url"]: r["__payload"] for r in fetch_urls(spark, urls, mock_fetcher, wh).collect()}
    assert _json.loads(out1["http://api/user/7"])["uid"] == 7
    assert out1["http://api/broken/1"] is None  # failure -> null payload this run

    recovered = RecoveringFetcher(str(tmp_path / "calls2.log"))
    out2 = {r["__url"]: r["__payload"] for r in fetch_urls(spark, urls, recovered, wh).collect()}
    # the failed URL was refetched and now succeeds...
    assert _json.loads(out2["http://api/broken/1"]) == {"recovered": "1"}
    # ...while the cached success was NOT refetched
    assert recovered.calls() == ["http://api/broken/1"]
    assert _json.loads(out2["http://api/user/7"])["uid"] == 7


def test_chain_result_cache_ttl(spark, wh, mock_fetcher):
    df = spark.createDataFrame([(1,)], "user_id int")
    out1 = chain_enrich(
        df, "http://api/user/{user_id}", fetcher=mock_fetcher, warehouse=wh, sources=["src"]
    )
    n_calls = len(mock_fetcher.calls())
    assert n_calls == 1
    # identical chain identity -> merged-result cache hit, zero fetches,
    # zero URL-cache reads
    out2 = chain_enrich(
        df, "http://api/user/{user_id}", fetcher=mock_fetcher, warehouse=wh, sources=["src"]
    )
    assert len(mock_fetcher.calls()) == n_calls
    assert sorted(out1.columns) == sorted(out2.columns)
    # lineage recorded once
    assert len(wh.get_chains()) == 1
    assert wh.get_chains()[0].chain_type == "api_chain"


def test_magicframe_chain_appends_provenance(spark, wh, mock_fetcher):
    mf = MagicFrame(spark.createDataFrame([(1,)], "user_id int"), sources=["origin"])
    out = mf.chain("http://api/user/{user_id}", fetcher=mock_fetcher, warehouse=wh)
    assert out.sources[0] == "origin" and len(out.sources) == 2
    assert "api_uid" in out.df.columns


def test_chain_explicit_key_override(spark, wh, mock_fetcher):
    df = spark.createDataFrame([(9, 1)], "uid int, other int")
    out = chain_enrich(
        df,
        "http://api/user/{user_id}",
        source_key="uid",
        target_key="user_id",
        fetcher=mock_fetcher,
        warehouse=wh,
    )
    assert out.select("api_uid").first()[0] == 9


def test_chain_enrich_full_pipeline_real_http(spark, wh):
    """Integration over a REAL localhost HTTP server (everything else
    in this file injects fetchers): url_expr -> distinct fetch through
    executor worker processes -> 429-retry -> parse/unnest -> join ->
    cross-call warehouse cache, plus a permanently-500 endpoint
    surfacing as null payload columns instead of a task failure."""
    import functools
    import http.server
    import json as _json
    import threading

    from magictables_spark.sources import default_fetcher

    hits: dict[str, int] = {}
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *args):  # keep pytest output clean
            pass

        def do_GET(self):
            with lock:
                n = hits[self.path] = hits.get(self.path, 0) + 1
            if self.path.startswith("/user/"):
                if n == 1:  # first hit per URL rate-limits -> retry path
                    self.send_response(429)
                    self.end_headers()
                    return
                uid = int(self.path.rsplit("/", 1)[-1])
                body = _json.dumps({"uid": uid, "score": uid * 10}).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                self.send_response(500)
                self.end_headers()

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    fetcher = functools.partial(default_fetcher, max_retries=2)
    try:
        df = spark.createDataFrame([(1,), (2,), (3,)], "user_id int")
        out = chain_enrich(
            df,
            f"http://127.0.0.1:{port}/user/{{user_id}}",
            fetcher=fetcher,
            warehouse=wh,
        )
        rows = {r.user_id: r for r in out.collect()}
        assert {u: rows[u].api_score for u in (1, 2, 3)} == {1: 10, 2: 20, 3: 30}
        with lock:
            # every URL was hit exactly twice: one 429 + one success
            assert all(v == 2 for v in hits.values()), hits
            n_after_first = sum(hits.values())

        # second chain: warehouse cache answers, ZERO new socket hits
        out2 = chain_enrich(
            df,
            f"http://127.0.0.1:{port}/user/{{user_id}}",
            fetcher=fetcher,
            warehouse=wh,
        )
        assert {r.user_id: r.api_score for r in out2.collect()} == {1: 10, 2: 20, 3: 30}
        with lock:
            assert sum(hits.values()) == n_after_first, hits

        # permanently-500 endpoint: null payload columns, no task failure
        bad = chain_enrich(
            spark.createDataFrame([(7,)], "user_id int"),
            f"http://127.0.0.1:{port}/missing/{{user_id}}",
            fetcher=fetcher,
        )
        brow = bad.collect()[0]
        assert brow.user_id == 7
        api_cols = [c for c in bad.columns if c.startswith("api_")]
        assert all(brow[c] is None for c in api_cols) or api_cols == []
    finally:
        srv.shutdown()


def test_chain_null_and_non_ascii_keys_over_real_http(spark, wh):
    """Bad key data never fails the chain: a null key sends no request
    and gets null api_ columns; a key with non-ASCII characters and a
    space is percent-encoded by default_fetcher and answered; both with
    and without a warehouse."""
    import http.server
    import json as _json
    import threading
    from urllib.parse import unquote

    paths: list[str] = []
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def do_GET(self):
            with lock:
                paths.append(self.path)
            body = _json.dumps({"name": unquote(self.path.rsplit("/", 1)[-1])}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    template = f"http://127.0.0.1:{srv.server_address[1]}/city/{{city}}"
    df = spark.createDataFrame([("Zürich",), (None,), ("São Paulo",)], "city string")
    try:
        for warehouse in (wh, None):
            with lock:
                paths.clear()
            out = chain_enrich(df, template, warehouse=warehouse)
            got = sorted((r.city or "", r.api_name or "") for r in out.collect())
            assert got == [("", ""), ("São Paulo", "São Paulo"), ("Zürich", "Zürich")]
            with lock:
                assert sorted(paths) == ["/city/S%C3%A3o%20Paulo", "/city/Z%C3%BCrich"]
    finally:
        srv.shutdown()


def test_chain_with_magicframe_target(spark, tmp_path):
    """Reference parity for chain(other: MagicTable): the other frame's
    source identifier (its URL template) becomes the chain target."""

    def detail_fetcher(url, params=None):
        mid = int(url.rsplit("/", 1)[-1])
        return {"runtime": 90 + mid}

    base = MagicFrame.from_raw(spark, [{"movie_id": 1}, {"movie_id": 2}])
    other = MagicFrame(
        spark.range(0).toDF("x"),
        last_identifier="http://mock/detail/{movie_id}",
    )
    out = base.chain(other, fetcher=detail_fetcher)
    got = {r.movie_id: r.api_runtime for r in out.df.collect()}
    assert got == {1: 91, 2: 92}

    bare = MagicFrame(spark.range(1).toDF("x"))
    with pytest.raises(ValueError, match="source identifier"):
        base.chain(bare)


def test_chain_on_flattened_nested_source_key(spark):
    """A frame ingested from a nested payload carries the flattened
    top-level column ``customer.id``: the URL binds that column (not a
    struct path ``customer`` -> ``id``) and the column survives the
    payload unnest."""

    def fetcher(url, params=None):
        cid = int(url.rsplit("/", 1)[-1])
        return {"tier": "gold" if cid % 2 else "silver"}

    base = MagicFrame.from_raw(
        spark,
        [
            {"order_id": 1, "customer": {"id": 7}},
            {"order_id": 2, "customer": {"id": 8}},
        ],
    )
    assert "customer.id" in base.df.columns
    out = base.chain(
        "http://mock/customer/{customer_id}",
        source_key="customer.id",
        target_key="customer_id",
        fetcher=fetcher,
    )
    got = sorted(
        (r["order_id"], r["customer.id"], r["api_tier"]) for r in out.df.collect()
    )
    assert got == [(1, 7, "gold"), (2, 8, "silver")]


def test_chain_llm_key_inference(spark):
    """Deterministic binding fails ({uid} has no matching column), the
    injected LLM maps it, and the chain proceeds — deterministic match
    first means the LLM is consulted exactly once."""
    from magictables_spark.llm import MockLLM

    def fetcher(url, params=None):
        return {"plan": "pro" if url.endswith("2") else "free"}

    base = MagicFrame.from_raw(spark, [{"user_identifier": 1}, {"user_identifier": 2}])
    llm = MockLLM(['```json\n{"uid": "user_identifier"}\n```'])
    out = base.chain("http://mock/u/{uid}", llm=llm, fetcher=fetcher)
    got = sorted((r.user_identifier, r.api_plan) for r in out.df.collect())
    assert got == [(1, "free"), (2, "pro")]
    assert len(llm.prompts) == 1

    # sanely-named columns: no LLM consultation at all
    named = MagicFrame.from_raw(spark, [{"uid": 7}])
    out2 = named.chain("http://mock/u/{uid}", llm=MockLLM([]), fetcher=fetcher)
    assert out2.df.count() == 1


def _peak_overlap(calls) -> int:
    events = sorted([(a, 1) for _, _, a, _ in calls] + [(b, -1) for _, _, _, b in calls])
    peak = cur = 0
    for _, step in events:
        cur += step
        peak = max(peak, cur)
    return peak


def test_fetch_budget_spreads_misses_over_tasks(spark, wh, tmp_path):
    """300 slow misses are fetched once each, by as many tasks as the
    budget asks for (more than one when there is more than one task
    slot), with more requests in flight than one 8-thread pool and never
    more than the chain's budget."""
    from magictables_spark.operators.chain import FETCH_IN_FLIGHT, _fetch_tasks, fetch_urls

    fetcher = MockFetcher(str(tmp_path / "calls.log"), delay=0.02)
    urls = spark.createDataFrame([(f"http://api/item/{i}",) for i in range(300)], "u string")
    out = fetch_urls(spark, urls, fetcher, wh)
    assert out.count() == 300

    calls = fetcher.timed_calls()
    assert sorted(c[0] for c in calls) == sorted(f"http://api/item/{i}" for i in range(300))
    parallelism = spark.sparkContext.defaultParallelism
    partitions = {c[1] for c in calls}
    assert len(partitions) == _fetch_tasks(300, parallelism)
    if parallelism > 1:
        assert len(partitions) > 1
    assert 8 < _peak_overlap(calls) <= FETCH_IN_FLIGHT


def test_chain_all_cached_urls_skip_fetch_and_append(spark, wh, mock_fetcher):
    """A chain with new provenance whose URLs are all in the per-URL
    cache fetches nothing and appends nothing to the cache."""
    import os

    df = spark.createDataFrame([(1,), (2,)], "user_id int")
    chain_enrich(df, "http://api/user/{user_id}", fetcher=mock_fetcher, warehouse=wh, sources=["a"])
    n_calls = len(mock_fetcher.calls())
    cache_dir = os.path.join(wh.root, "_url_cache")
    files = sorted(os.listdir(cache_dir))

    out = chain_enrich(
        df, "http://api/user/{user_id}", fetcher=mock_fetcher, warehouse=wh, sources=["b"]
    )
    assert sorted((r.user_id, r.api_score) for r in out.collect()) == [(1, 10), (2, 20)]
    assert len(mock_fetcher.calls()) == n_calls
    assert sorted(os.listdir(cache_dir)) == files


def test_chain_without_warehouse_fetches_once(spark, mock_fetcher):
    """Without a warehouse the fetched payloads are materialized once:
    later actions on the chain result send no request again."""
    df = spark.createDataFrame([(i % 50,) for i in range(200)], "user_id int")
    out = chain_enrich(df, "http://api/user/{user_id}", fetcher=mock_fetcher)
    assert out.count() == 200
    assert len(out.collect()) == 200
    assert sorted(mock_fetcher.calls()) == sorted(f"http://api/user/{i}" for i in range(50))


def test_default_fetcher_raises_programming_errors_at_once(monkeypatch):
    """Only network and HTTP errors are retried: a malformed URL raises
    its ValueError at once instead of backing off into a null row, and a
    host that IDNA cannot encode (bad data) is an empty payload at once."""
    import time

    from magictables_spark.sources import bytes_fetcher, default_fetcher

    def no_sleep(s):
        raise AssertionError(f"backed off {s} s on a programming error")

    monkeypatch.setattr(time, "sleep", no_sleep)
    for fetch in (default_fetcher, bytes_fetcher):
        with pytest.raises(ValueError, match="unknown url type"):
            fetch("not-a-url")
        assert not fetch("http://" + "ü" * 70 + ".invalid/x")
