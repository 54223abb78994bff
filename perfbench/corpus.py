"""Seeded corpora and their expected output hashes.

The relational/text/vector corpus comes from ``tools/datagen_sf.py``
(same seed, same files). Expected results come from each slug's DuckDB
``oracle_sql()`` on that corpus, canonicalised the way
``tests/parity.py`` does, so a Spark result is right when its
order-insensitive value hash matches. Both are cached under the
benchmark's work dir and are never timed: a corpus per seed and per
version of the generator's source, an expected hash per slug and per
version of its oracle SQL and of the canonicalisation, so a change to
either is regenerated rather than read stale.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import json
import os
import sys

SF = 0.01


def result_hash(pdf) -> str:
    """Order-insensitive value hash of a pandas result (column names
    lower-cased and sorted, cells canonicalised as in tests/parity.py)."""
    from tests.parity import canonical_rows

    pdf = pdf.copy()
    pdf.columns = [c.lower() for c in pdf.columns]
    payload = repr((sorted(pdf.columns), canonical_rows(pdf)))
    return hashlib.sha256(payload.encode()).hexdigest()


def _digest(*parts: str) -> str:
    return hashlib.sha256("\0".join(parts).encode()).hexdigest()[:16]


def _source(path: str) -> str:
    with open(path) as f:
        return f.read()


def corpus(root: str, cache_dir: str, seed: int) -> str:
    """Directory of the sf0.01 parquet corpus for ``seed``, generated on
    first use by the checkout's own ``tools/datagen_sf.py``."""
    gen = os.path.join(root, "tools", "datagen_sf.py")
    out = os.path.join(cache_dir, f"sf{SF}-seed{seed}-{_digest(_source(gen))}")
    if os.path.isdir(out):
        return out
    spec = importlib.util.spec_from_file_location("datagen_sf", gen)
    datagen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(datagen)
    tmp = f"{out}.tmp{os.getpid()}"
    with contextlib.redirect_stdout(sys.stderr):
        datagen.generate(SF, tmp, seed=seed)
    os.replace(tmp, out)
    return out


def expected(root: str, sf_dir: str, slugs, oracles: dict[str, str]) -> dict[str, str]:
    """slug -> expected result hash, from the DuckDB oracle on ``sf_dir``.
    Cached entries are keyed by the oracle SQL and the canonicalisation
    source as well as the slug."""
    import duckdb

    from magictables_spark.plans.catalog import TABLES

    parity = _source(os.path.join(root, "tests", "parity.py"))
    keys = {s: f"{s}-{_digest(oracles[s], parity)}" for s in slugs}
    path = os.path.join(sf_dir, "expected.json")
    known = {}
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
    missing = [s for s in slugs if keys[s] not in known]
    if missing:
        con = duckdb.connect()
        try:
            for name in TABLES:
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{name}.parquet')"
                )
            for slug in missing:
                known[keys[slug]] = result_hash(con.sql(oracles[slug]).df())
        finally:
            con.close()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(known, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {s: known[keys[s]] for s in slugs}

