"""Provenance-hash identity scheme.

Reproduces the reference's cache-key semantics exactly (observable
behavior — cache hits across sessions depend on it):

- a source's id = md5 of the canonical JSON of
  ``{"type": ..., "identifier": ..., "params": ...}``
  (reference: magictables/sources.py:32-39);
- a raw source hashes the data itself (sources.py:52-57);
- a table's name = "_".join of its sources' ids (magictable.py:102);
- a transform renames to ``f"{name}_query:{query}_model:{model}"``
  (magictable.py:180);
- a derived frame (a delegated DataFrame op, ``sql``,
  ``similar_topk``, ``transform``) has one ``step_id`` as its sources,
  so it never shares its parent's cache identity and its id stays one
  digest long (a chain id is a directory name).
"""

from __future__ import annotations

import hashlib
import json
from typing import Any


def canonical_json(obj: Any) -> str:
    """Deterministic JSON used for hashing (sorted keys, no whitespace drift)."""
    return json.dumps(obj, sort_keys=True, default=str)


def source_id(source_type: str, identifier: str, params: dict | None = None) -> str:
    """md5 provenance hash of a source (sources.py:32-39 semantics)."""
    payload = {"type": source_type, "identifier": identifier, "params": params or {}}
    return hashlib.md5(canonical_json(payload).encode()).hexdigest()


def raw_data_id(data: Any) -> str:
    """md5 of the data itself for RawSource (sources.py:52-57 semantics)."""
    return hashlib.md5(canonical_json(data).encode()).hexdigest()


def table_name(source_ids: list[str]) -> str:
    """Concatenated hash chain of provenance (magictable.py:102)."""
    return "_".join(source_ids)


def step_id(parent: str, method: str, args: list, kwargs: dict) -> str:
    """Provenance id of a frame derived from the table named `parent` by
    one step ``method(*args, **kwargs)``: md5 of the parent name, the
    method name and a canonical repr of the arguments."""
    payload = {"parent": parent, "step": method, "args": args, "kwargs": kwargs}
    return hashlib.md5(canonical_json(payload).encode()).hexdigest()


def transform_name(name: str, query: str, model: str) -> str:
    """Post-transform table name (magictable.py:180)."""
    return f"{name}_query:{query}_model:{model}"


def url_id(url: str) -> str:
    """Cache key for a single fetched URL (per-URL response cache)."""
    return hashlib.md5(url.encode()).hexdigest()
