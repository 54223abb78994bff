"""Source connectors (SURVEY.md §2.A: source_api/web/pdf/gen/raw).

Each source produces a list of row dicts plus a provenance identity
(md5 of type+identifier+params — sources.py:32-39 semantics, see
magictables_spark.identity). Network effects go through an injectable
``fetcher`` so tests are hermetic; the default fetcher is a retrying
urllib GET (reference retry policy: 5 attempts, exp backoff 2^n +
jitter, 429-aware — magictable.py:317-347).

Ingest path: rows -> spark.createDataFrame -> flatten (the reference
flattens every JSON payload on ingest via flatten_nested_structure,
sources.py:74-76) -> cached as parquet in the Warehouse keyed by the
source id (magictable.py:55-67).
"""

from __future__ import annotations

import abc
import http.client
import json
import random
import time
import urllib.request
from typing import Any, Callable
from urllib.parse import quote, urlsplit, urlunsplit

from magictables_spark.identity import raw_data_id, source_id

Fetcher = Callable[[str, dict | None], Any]  # (url, params) -> parsed JSON / text
# what a GET may raise from the network or the server: OSError covers
# URLError, HTTPError (429/5xx) and socket timeouts
NETWORK_ERRORS = (OSError, http.client.HTTPException)
# characters a URL keeps as they are: RFC 3986 reserved ones and "%"
URL_SAFE = "!#$%&'()*+,/:;=?@[]~"


def _sendable(url: str) -> str:
    """``url`` with what http.client cannot send (non-ASCII characters,
    spaces, control characters) percent-encoded as UTF-8 in the path,
    query and fragment. Reserved characters and existing ``%XX`` escapes
    are kept; the host is left to http.client's IDNA encoding."""
    p = urlsplit(url)
    return urlunsplit(
        p._replace(
            path=quote(p.path, safe=URL_SAFE),
            query=quote(p.query, safe=URL_SAFE),
            fragment=quote(p.fragment, safe=URL_SAFE),
        )
    )


def default_fetcher(url: str, params: dict | None = None, *, max_retries: int = 5) -> Any:
    """Retrying GET: 5 attempts, exponential backoff 2^n seconds + jitter
    (reference magictable.py:317-347). Returns parsed JSON when possible,
    raw text otherwise; {} after final failure (failed rows become null
    payloads, never task failures). Only network and HTTP errors are
    retried; a host no encoding can send fails at once with {}; anything
    else (a URL with no scheme, a bug) raises at once."""
    if params:
        from urllib.parse import urlencode

        sep = "&" if "?" in url else "?"
        url = f"{url}{sep}{urlencode(params)}"
    url = _sendable(url)
    for attempt in range(max_retries):
        try:
            with urllib.request.urlopen(url, timeout=30) as resp:
                body = resp.read().decode("utf-8", errors="replace")
                try:
                    return json.loads(body)
                except json.JSONDecodeError:
                    return body
        except NETWORK_ERRORS:  # includes HTTP 429/5xx
            if attempt == max_retries - 1:
                return {}
            time.sleep(2**attempt + random.random())
        except UnicodeError:  # bad data in the host: no retry can fix it
            return {}
    return {}


class BaseSource(abc.ABC):
    """fetch_data() -> list[dict]; identity = md5 of provenance
    (reference sources.py:15-39)."""

    @abc.abstractmethod
    def fetch_data(self) -> list[dict]: ...

    @abc.abstractmethod
    def get_identifier(self) -> str: ...

    def get_params(self) -> dict:
        return {}

    def get_type(self) -> str:
        return type(self).__name__.removesuffix("Source").lower()

    def get_id(self) -> str:
        return source_id(self.get_type(), self.get_identifier(), self.get_params())


class RawSource(BaseSource):
    """List-of-dicts -> table; identity hashes the data itself
    (sources.py:42-60)."""

    def __init__(self, data: list[dict]):
        self.data = data

    def fetch_data(self) -> list[dict]:
        return self.data

    def get_identifier(self) -> str:
        return raw_data_id(self.data)

    def get_id(self) -> str:
        return raw_data_id(self.data)


class APISource(BaseSource):
    """GET url(+params) -> JSON rows (sources.py:63-93). A dict payload
    yields one row; a list yields one row per element."""

    def __init__(self, api_url: str, params: dict | None = None, fetcher: Fetcher | None = None):
        self.api_url = api_url
        self.params = params or {}
        self.fetcher = fetcher or default_fetcher

    def fetch_data(self) -> list[dict]:
        payload = self.fetcher(self.api_url, self.params or None)
        if isinstance(payload, dict):
            # common REST shape: {"results": [...]} — reference flattens
            # whatever arrives; unwrap a single list-valued key of dicts
            for v in payload.values():
                if isinstance(v, list) and v and all(isinstance(x, dict) for x in v):
                    return v
            return [payload]
        if isinstance(payload, list):
            return [p if isinstance(p, dict) else {"value": p} for p in payload]
        return [{"content": payload}]

    def get_identifier(self) -> str:
        return self.api_url

    def get_params(self) -> dict:
        return self.params


class WebSource(BaseSource):
    """GET url -> single {"content": html} row (sources.py:96-119 — the
    reference does no HTML parsing; bs4 is declared but unused).
    ``extract_text=True`` adds the visible text + <title> via the
    pure-stdlib extractor (html_text.py) — the real implementation of
    the reference's unused-bs4 gesture."""

    def __init__(self, url: str, fetcher: Fetcher | None = None, *, extract_text: bool = False):
        self.url = url
        self.fetcher = fetcher or default_fetcher
        self.extract_text = extract_text

    def fetch_data(self) -> list[dict]:
        payload = self.fetcher(self.url, None)
        content = payload if isinstance(payload, str) else json.dumps(payload)
        row = {"url": self.url, "content": content}
        if self.extract_text:
            from magictables_spark.sources.html_text import html_to_text

            row.update(html_to_text(content))
        return [row]

    def get_identifier(self) -> str:
        return self.url


def bytes_fetcher(url: str, params: dict | None = None, *, max_retries: int = 5) -> bytes:
    """Raw-bytes GET with the same retry policy as default_fetcher —
    binary payloads (PDFs, media) must never round-trip through a text
    decode. b'' after final failure."""
    url = _sendable(url)
    for attempt in range(max_retries):
        try:
            with urllib.request.urlopen(url, timeout=30) as resp:
                return resp.read()
        except NETWORK_ERRORS:
            if attempt == max_retries - 1:
                return b""
            time.sleep(2**attempt + random.random())
        except UnicodeError:
            return b""
    return b""


class PDFSource(BaseSource):
    """GET pdf -> one row per page with key ``page_content``
    (sources.py:122-150: PyPDF2 extract_text per page). Extraction is a
    real pure-stdlib parser (pdf_text.py: obj scan, /Root->/Kids page
    order, FlateDecode, Tj/TJ text ops); PDFs needing a full library
    (encrypted, /ObjStm, CID fonts) raise UnsupportedPdfError."""

    def __init__(self, pdf_url: str, fetcher: Fetcher | None = None):
        self.pdf_url = pdf_url
        self.fetcher = fetcher or bytes_fetcher

    def fetch_data(self) -> list[dict]:
        from magictables_spark.sources.pdf_text import extract_pdf_pages

        payload = self.fetcher(self.pdf_url, None)
        if isinstance(payload, str):
            payload = payload.encode("latin-1", errors="replace")
        return [{"page_content": text} for text in extract_pdf_pages(payload)]

    def get_identifier(self) -> str:
        return self.pdf_url


class GenerativeSource(BaseSource):
    """NL query -> LLM-produced rows (sources.py:153-183). The reference
    exec()s LLM-written pandas code; here the LLM must return JSON rows
    (safe, distributable) — see magictables_spark.llm."""

    def __init__(self, query: str, llm: Any = None):
        self.query = query
        self.llm = llm

    def fetch_data(self) -> list[dict]:
        if self.llm is None:
            raise NotImplementedError("GenerativeSource needs an LLM client (see magictables_spark.llm)")
        from magictables_spark.llm import generate_rows

        return generate_rows(self.llm, self.query)

    def get_identifier(self) -> str:
        return self.query
