"""enrich: the paper's pipeline, ingest -> chain -> transform -> collect.

A seeded order feed (``ROWS`` flat rows over ``CUSTOMERS`` distinct
customer ids) is ingested with ``MagicFrame.from_api``, enriched per row
with ``.chain`` against a customer endpoint, aggregated with
``.transform`` in natural language, and collected. The API and the LLM
are stubs injected through the public ``fetcher=`` and ``llm=``
arguments: the customer endpoint sleeps a fixed ``FETCH_DELAY_S`` per
URL, the LLM returns one scripted SQL answer.

One cycle runs the pipeline in three warehouse (TableGraph cache)
states:

- ``cold``: a fresh warehouse, so every layer works;
- ``warm``: the cold warehouse again, ``WARM_REPEATS`` times, so every
  cache hits;
- ``partial``: a warehouse whose per-URL cache already holds a seeded
  half of the customer URLs, with no source, chain-result or code cache.

Every collected result must equal the aggregate computed in Python from
the generator, and the cache states must hold: warm makes no fetch and
no LLM call, partial fetches exactly the uncached half.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from perfbench.harness import MB, Clock, geomean, median, tree_size

ROWS, CUSTOMERS = 10000, 1000
TINY_ROWS, TINY_CUSTOMERS = 200, 20
FETCH_DELAY_S = 0.020
WARM_REPEATS = 3

SOURCE_URL = "https://api.example.test/orders"
NESTED_SOURCE_URL = "https://api.example.test/orders-nested"
CUSTOMER_URL = "https://api.example.test/customers/{customer_id}"
QUERY = "total amount and number of orders per customer tier"
ANSWER = (
    "```sql\nSELECT api_tier AS tier, COUNT(*) AS n_orders, "
    "SUM(amount) AS total_amount FROM df GROUP BY api_tier\n```"
)
REGIONS = ("north", "south", "east", "west")


def make_customer_api(seed: int, log_path: str):
    """(profile, fetch) for the stub customer endpoint.

    ``fetch`` runs inside Spark's Python workers, so it is a closure with
    its imports inside (pickled by value) and reports each call by
    appending ``task_attempt_id, start, end, url`` to ``log_path``."""

    def profile(customer_id: str) -> dict:
        import hashlib

        h = int(hashlib.md5(f"{seed}:{customer_id}".encode()).hexdigest(), 16)
        return {"tier": ("bronze", "silver", "gold", "platinum")[h % 4], "score": h % 1000}

    def fetch(url: str, params=None):
        import time as _time

        from pyspark import TaskContext

        start = _time.time()
        _time.sleep(FETCH_DELAY_S)
        payload = profile(url.rsplit("/", 1)[-1])
        ctx = TaskContext.get()
        task = ctx.taskAttemptId() if ctx is not None else -1
        with open(log_path, "a") as f:
            f.write(f"{task}\t{start}\t{_time.time()}\t{url}\n")
        return payload

    return profile, fetch


class SourceAPI:
    """Stub order feed, called in this process by ``from_api``."""

    def __init__(self, rows: list[dict]):
        self.rows = rows
        self.calls = 0
        self.rows_served = 0

    def __call__(self, url: str, params=None):
        self.calls += 1
        self.rows_served += len(self.rows)
        return {"results": self.rows}


class ScriptedLLM:
    """LLM client that answers every prompt with one SQL statement."""

    def __init__(self):
        self.calls = 0

    def complete(self, prompt: str, system: str | None = None) -> str:
        self.calls += 1
        return ANSWER


def _timed_warehouse_class():
    from magictables_spark.warehouse import Warehouse

    class TimedWarehouse(Warehouse):
        """The public Warehouse with its table writes and reads timed."""

        def __init__(self, root: str):
            super().__init__(root)
            self.write = Clock()
            self.read = Clock()

        def write_table(self, *args, **kwargs):
            with self.write:
                return super().write_table(*args, **kwargs)

        def read_table(self, *args, **kwargs):
            with self.read:
                return super().read_table(*args, **kwargs)

    return TimedWarehouse


class Enrich:
    min_cycles = 2  # measured cycles, however short --seconds is

    def __init__(self, run, root: str, cache_dir: str, corrupt: bool = False):
        self.run = run
        self.dir = os.path.join(run.work_dir, "enrich")
        self.corrupt = corrupt
        self.n_cycle = 0

    def prepare(self) -> float:
        """Generate the order feed and its expected aggregate (untimed;
        the seconds are returned so setup_s leaves them out), then build
        the partial-state template with the program, which setup_s keeps."""
        from magictables_spark.operators.chain import fetch_urls

        t0 = time.perf_counter()
        self.Warehouse = _timed_warehouse_class()
        n_rows, n_cust = (TINY_ROWS, TINY_CUSTOMERS) if self.run.tiny else (ROWS, CUSTOMERS)
        rng = random.Random(self.run.seed)
        customers = sorted({f"c{rng.randrange(10**9):09d}" for _ in range(n_cust * 2)})
        customers = rng.sample(customers, n_cust)
        self.rows = [
            {
                "order_id": i,
                "customer_id": rng.choice(customers),
                "amount": rng.randrange(100, 100_000),
                "region": rng.choice(REGIONS),
            }
            for i in range(n_rows)
        ]
        os.makedirs(self.dir, exist_ok=True)
        self.log = os.path.join(self.dir, "fetch.log")
        profile, self.fetch = make_customer_api(self.run.seed, self.log)
        self.urls = {CUSTOMER_URL.format(customer_id=r["customer_id"]) for r in self.rows}
        cached = set(rng.sample(sorted(self.urls), len(self.urls) // 2))
        self.uncached = self.urls - cached

        totals: dict[str, list[int]] = {}
        for r in self.rows:
            t = totals.setdefault(profile(r["customer_id"])["tier"], [0, 0])
            t[0] += 1
            t[1] += r["amount"]
        self.want = sorted((tier, n, amount) for tier, (n, amount) in totals.items())
        if self.corrupt:
            self.want = self.want[1:]
        generated_s = time.perf_counter() - t0

        # the partial state: only the per-URL cache, holding the cached half
        self.template = os.path.join(self.dir, "partial-template")
        spark = self.run.spark
        fetch_urls(
            spark,
            spark.createDataFrame([(u,) for u in sorted(cached)], "url string"),
            self.fetch,
            self.Warehouse(self.template),
        )
        self._calls()
        return generated_s

    def _calls(self) -> list[tuple[int, float, float, str]]:
        """Customer-endpoint calls logged since the last read."""
        if not os.path.exists(self.log):
            return []
        with open(self.log) as f:
            lines = [line.rstrip("\n").split("\t") for line in f if line.strip()]
        os.remove(self.log)
        return [(int(t), float(a), float(b), u) for t, a, b, u in lines]

    def pipeline(self, state: str, wh) -> dict:
        """Run ingest -> chain -> transform -> collect once; check it."""
        from magictables_spark.frame import MagicFrame

        run = self.run
        source = SourceAPI(self.rows)
        llm = ScriptedLLM()
        before = tree_size(wh.root)
        wh.write, wh.read = Clock(), Clock()
        ingest, chain, transform = Clock(), Clock(), Clock()
        t0 = time.perf_counter()
        with ingest:
            frame = MagicFrame.from_api(run.spark, SOURCE_URL, fetcher=source, warehouse=wh)
        with chain:
            frame = frame.chain(CUSTOMER_URL, fetcher=self.fetch, warehouse=wh)
        with transform:
            frame = frame.transform(QUERY, llm=llm, warehouse=wh)
        got = sorted(tuple(r) for r in frame.df.collect())
        wall = time.perf_counter() - t0
        calls = self._calls()

        run.check(got == self.want, f"enrich {state}: result differs from the generator's")
        fetched = {c[3] for c in calls}
        if state == "warm":
            run.check(
                not calls and llm.calls == 0 and source.calls == 0,
                f"enrich warm: {len(calls)} fetches, {llm.calls} LLM calls, "
                f"{source.calls} source fetches",
            )
        if state == "partial":
            run.check(
                fetched == self.uncached and len(calls) == len(self.uncached),
                f"enrich partial: fetched {len(calls)} calls over {len(fetched)} URLs, "
                f"expected the {len(self.uncached)} uncached",
            )
        run.sample(state, wall)
        after = tree_size(wh.root)
        span = max(c[2] for c in calls) - min(c[1] for c in calls) if calls else 0.0
        return {
            "wall": wall,
            "chain.s": chain.s,
            "chain.fetch_calls": len(calls),
            "chain.distinct_urls": len(fetched),
            "uncached": {"cold": len(self.urls), "partial": len(self.uncached)}.get(state, 0),
            "fetch_tasks": len({c[0] for c in calls}),
            "fetch_busy": sum(c[2] - c[1] for c in calls),
            "fetch_span": span,
            "sources.ingest_s": ingest.s,
            "sources.rows": source.rows_served,
            "llm.transform_s": transform.s,
            "llm.calls": llm.calls,
            "warehouse.write_s": wh.write.s,
            "warehouse.read_s": wh.read.s,
            "warehouse.bytes_written_mb": max(after[0] - before[0], 0) / MB,
            "warehouse.files_written": max(after[1] - before[1], 0),
        }

    def warm_up(self) -> list[float]:
        """A cold and a warm pipeline on a fresh warehouse. With the
        partial-state template built in prepare(), this has run every
        layer a cycle runs."""
        self.run.gc()
        wh = self.Warehouse(os.path.join(self.dir, "warm-up"))
        times = [self.pipeline(state, wh)["wall"] for state in ("cold", "warm")]
        shutil.rmtree(wh.root, ignore_errors=True)
        return times

    def cycle(self) -> float:
        self.n_cycle += 1
        base = os.path.join(self.dir, f"cycle{self.n_cycle}")
        self.run.gc()
        cold = self.Warehouse(os.path.join(base, "cold"))
        parts = [("cold", self.pipeline("cold", cold))]
        url_cache_files = tree_size(os.path.join(cold.root, "_url_cache"))[1]
        parts += [("warm", self.pipeline("warm", cold)) for _ in range(WARM_REPEATS)]
        partial = os.path.join(base, "partial")
        shutil.copytree(self.template, partial)
        parts.append(("partial", self.pipeline("partial", self.Warehouse(partial))))
        shutil.rmtree(base, ignore_errors=True)

        run = self.run
        wall = sum(p["wall"] for _, p in parts)
        run.sample("cycle", wall)
        summed = (
            "chain.s", "chain.fetch_calls", "chain.distinct_urls", "sources.ingest_s",
            "sources.rows", "llm.transform_s", "llm.calls", "warehouse.write_s",
            "warehouse.read_s", "warehouse.bytes_written_mb", "warehouse.files_written",
        )
        for key in summed:
            run.count(key, sum(p[key] for _, p in parts))
        calls = sum(p["chain.fetch_calls"] for _, p in parts)
        run.count("chain.useful_fetch_ratio", sum(p["uncached"] for _, p in parts) / max(calls, 1))
        cold_part = parts[0][1]
        run.count("chain.fetch_tasks", cold_part["fetch_tasks"])
        run.count(
            "chain.fetch_concurrency",
            cold_part["fetch_busy"] / cold_part["fetch_span"] if cold_part["fetch_span"] else 0.0,
        )
        run.count("warehouse.url_cache_files", url_cache_files)
        return wall

    def nested_source_op(self) -> int:
        """Chain on a frame ingested from a nested payload (the paper's
        TMDb shape: ``customer.id`` arrives as a flattened dotted column),
        untimed, once per traced run. Returns 1 when it fails."""
        from magictables_spark.frame import MagicFrame

        nested = [
            {
                "order_id": r["order_id"],
                "customer": {"id": r["customer_id"], "region": r["region"]},
                "amount": r["amount"],
            }
            for r in self.rows
        ]
        wh = self.Warehouse(os.path.join(self.dir, "nested"))
        try:
            frame = MagicFrame.from_api(
                self.run.spark, NESTED_SOURCE_URL, fetcher=SourceAPI(nested), warehouse=wh
            )
            frame = frame.chain(
                CUSTOMER_URL,
                source_key="customer.id",
                target_key="customer_id",
                fetcher=self.fetch,
                warehouse=wh,
            )
            frame = frame.transform(QUERY, llm=ScriptedLLM(), warehouse=wh)
            got = sorted(tuple(r) for r in frame.df.collect())
            ok, what = got == self.want, "returned a wrong result"
        except Exception as exc:  # the open defect surfaces as an exception
            ok, what = False, f"raised {str(exc).splitlines()[0][:200]}"
        finally:
            self._calls()
        self.run.check_known_defect(ok, f"enrich nested-source chain op {what}")
        return 0 if ok else 1

    def end_to_end(self, s: dict) -> dict:
        return {
            "cycle_s": median(s["cycle"]),
            "op_geomean_s": geomean([median(s[k]) for k in ("cold", "partial", "warm")]),
        }

    def layers(self, s: dict, ts: dict) -> dict:
        out = {f"enrich.{k}_s": median(s[k]) for k in ("cold", "partial", "warm")}
        out["chain.nested_source_failures"] = self.nested_source_op()
        return out
