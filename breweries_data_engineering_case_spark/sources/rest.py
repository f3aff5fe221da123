"""Paginated REST source (bronze ingestion).

≈ reference S1/S2 (SURVEY.md §2.1; app/tasks/extract.py:17-77,
app/io/storage.py:14-30): GET ``{api_url}?per_page&page``, discover the last
page from the HTTP ``Link`` header (``rel="last"``), else loop with a hard cap
and stop on an empty/short page; persist each page verbatim as one JSON-array
object keyed by ingestion_date/page/uuid.

Design: ingestion is deliberately **driver-side Python** (as in the
reference) — Spark is not a raw-HTTP archiver, and bronze fidelity means
byte-faithful page capture. The fetcher is injectable so everything is
testable offline. Distribution note: if an API exposed keyset ranges, the
page list could be parallelized with a Spark map over page numbers; the Open
Brewery API's sequential Link discovery does not, and ~45 pages needs no
cluster.
"""

from __future__ import annotations

import json
import re
import uuid
from collections.abc import Callable, Iterator
from pathlib import Path
from typing import Any

from ..config import Settings, settings as default_settings
from .writers import local_path

#: fetcher(page_number) -> (records, link_header or None)
Fetcher = Callable[[int], tuple[list[dict[str, Any]], str | None]]

_LAST_PAGE_RE = re.compile(r"[?&]page=(\d+)")


def parse_last_page(link_header: str | None) -> int | None:
    """Extract the last page number from an HTTP ``Link`` header.

    ≈ ``_parse_last_page`` app/tasks/extract.py:17-26 (and its unit cases,
    tests/unit/test_pagination.py:3-11): returns the page from the
    ``rel="last"`` segment, or None when the header is missing/malformed.
    """
    if not link_header:
        return None
    for segment in link_header.split(","):
        if 'rel="last"' in segment:
            m = _LAST_PAGE_RE.search(segment)
            if m:
                return int(m.group(1))
    return None


def requests_fetcher(cfg: Settings | None = None) -> Fetcher:
    """Real HTTP fetcher over ``requests`` (≈ app/tasks/extract.py:39-44)."""
    cfg = cfg or default_settings
    import requests  # lazy: offline environments never import it

    def fetch(page: int) -> tuple[list[dict[str, Any]], str | None]:
        resp = requests.get(
            cfg.api_url,
            params={"per_page": cfg.per_page, "page": page},
            timeout=cfg.http_timeout_s,
        )
        resp.raise_for_status()
        return resp.json(), resp.headers.get("Link")

    return fetch


def iter_pages(fetch: Fetcher, per_page: int, max_pages: int = 10_000) -> Iterator[tuple[int, list[dict[str, Any]]]]:
    """Yield (page_number, records) until exhaustion.

    Two regimes, exactly as app/tasks/extract.py:51-74:

    - deterministic: first response carries ``Link rel="last"`` → iterate the
      known range (:51-61);
    - fallback: no Link → keep fetching until an empty page or a page shorter
      than ``per_page``, hard-capped at ``max_pages`` (:38, :62-74).
    """
    records, link = fetch(1)
    if not records:
        return
    yield 1, records
    last = parse_last_page(link)
    if last is not None:
        for page in range(2, min(last, max_pages) + 1):
            page_records, _ = fetch(page)
            yield page, page_records
        return
    if len(records) < per_page:
        return
    page = 2
    while page <= max_pages:
        page_records, _ = fetch(page)
        if not page_records:
            return
        yield page, page_records
        if len(page_records) < per_page:
            return
        page += 1


def bronze_key(prefix: str, ingestion_date: str, page: int) -> str:
    """Bronze object key: history-preserving uuid-suffixed page path.

    ≈ app/io/storage.py:14-20.
    """
    uid = uuid.uuid4().hex
    return f"{prefix.rstrip('/')}/ingestion_date={ingestion_date}/page_{page}_{uid}.json"


def ingest_to_bronze(
    fetch: Fetcher,
    bronze_dir: str,
    ingestion_date: str,
    per_page: int,
    max_pages: int = 10_000,
) -> tuple[int, int]:
    """Fetch all pages and land each as one JSON-array file.

    ≈ the extract task loop + ``put_json`` (app/tasks/extract.py:29-77,
    app/io/storage.py:22-30). Returns (pages, records). A page is written on
    one line: ``json.dumps`` escapes ``\\n`` and ``\\r`` inside strings,
    and U+2028 and U+0085 end no line for Spark's line reader. The silver
    scan relies on it and reads the pages as JSON lines
    (``readers.json_array_scan``). ``bronze_dir`` is a local path or
    ``file:`` URI; any other scheme raises ``ValueError`` before a page is
    fetched (object stores land through
    ``object_store.ingest_to_bronze_s3``; the key layout is identical).
    """
    root = local_path(bronze_dir)
    pages = records = 0
    for page, page_records in iter_pages(fetch, per_page, max_pages):
        p = Path(bronze_key(root, ingestion_date, page))
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(json.dumps(page_records, ensure_ascii=False))
        pages += 1
        records += len(page_records)
    return pages, records
