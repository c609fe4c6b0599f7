"""HTTP JSON ingestion — the reference's bespoke layer, Spark-first.

Reference behavior being re-created (for parity, with the bugs fixed):

- fetch JSON from a REST endpoint with GET/POST only; non-2xx is an
  error (reference src/datasources.rs:212-268);
- array body -> N rows, object body -> 1 row
  (src/datasources.rs:177-190), a scalar -> the row ``{"value": x}``.
  ``body_rows`` is this rule, and sources/datasource.py uses it too,
  so one body gives one table on either ingest path;
- optional pagination: ``?page=N`` starting at ``start_page``,
  incrementing until the endpoint is exhausted
  (src/datasources.rs:119-161). The reference stops only on JSON
  ``null`` — an endpoint returning ``[]`` past the last page loops
  forever (src/datasources.rs:139-142). We keep the *intent* (fetch
  until exhausted) and stop on ``null`` **or** ``[]``;
- the reference's ``Pagination`` config (page_param/page_size_param/
  end_page…, src/model.rs:20-34) is only consumed by dead code
  (src/datasources.rs:286-316); here it is honored for real;
- empty first fetch panics in the reference
  (``data.first().unwrap()``, src/datasources.rs:195); here it yields
  an empty DataFrame;
- schema: the reference infers from the FIRST record only
  (src/datasources.rs:318-343); Spark's full-scan inference is
  strictly more robust, so the default is full-scan with an opt-in
  ``schema_mode="first_record"`` for bit-parity experiments.

The three pagination protocols — page number (``fetch_rows``), cursor
token (``fetch_rows_cursor``), RFC 8288 ``Link`` (``fetch_rows_link``)
— are each a step that fetches one page and names the next; one loop,
``_walk``, owns the stop rules they share. Registration and refresh
stage through one helper that also releases the cache a re-registered
name held.

Scale note: this module stages rows on the driver — exactly what the
reference does (src/datasources.rs:192-198) and appropriate for
config-driven API ingest (bounded payloads). For large paginated APIs
use sources/datasource.py, which fetches pages in parallel on
executors (one partition per page) and never materializes the dataset
on the driver.
"""

from __future__ import annotations

import json
import sys
from collections.abc import Callable
from typing import Any

import requests
from pyspark.sql import DataFrame, SparkSession

from http_datafusion_spark.config import (
    ALLOWED_METHODS,
    CursorPagination,
    LinkPagination,
    Pagination,
)
from http_datafusion_spark.errors import HttpError

_DEFAULT_TIMEOUT = 30.0
_RETRY_AFTER_CAP = 30.0  # ceiling on honored Retry-After sleeps (seconds)


def fetch_json(
    url: str,
    method: str = "GET",
    retries: int = 3,
    backoff: float = 0.5,
    headers: dict[str, str] | None = None,
    json_body: Any | None = None,
) -> Any:
    """One HTTP request -> parsed JSON (reference src/datasources.rs:212-268).

    Only GET/POST are allowed, mirroring the reference's method gate
    (src/datasources.rs:217-223). Non-2xx raises HttpError
    (src/datasources.rs:265-267). A ``null`` body returns None.

    Beyond the reference: transient failures (connection errors, 429,
    5xx) retry with exponential backoff — at cluster scale a thousand
    executors hitting one API WILL see sporadic 503s, and a single
    failed page must not kill a 10k-page ingest job. A 429/503 carrying
    a ``Retry-After: <seconds>`` header is honored (capped at
    ``_RETRY_AFTER_CAP``) in place of that attempt's exponential delay —
    the server's own pacing beats client-side guessing, and ignoring it
    is how a polite ingest becomes a ban.
    """
    resp = _request_with_retries(
        url, method, retries=retries, backoff=backoff, headers=headers, json_body=json_body
    )
    return _parse_json(resp, url)


def _parse_json(resp: requests.Response, url: str) -> Any:
    try:
        return resp.json()
    except ValueError as e:
        raise HttpError(f"failed to parse JSON from {url!r}: {e}") from e


def _request_with_retries(
    url: str,
    method: str = "GET",
    retries: int = 3,
    backoff: float = 0.5,
    headers: dict[str, str] | None = None,
    json_body: Any | None = None,
    accept_304: bool = False,
) -> requests.Response:
    """The shared retry/Retry-After loop behind every request: returns
    the Response on 2xx (or 304 when ``accept_304``), retries
    connection errors / 429 / 5xx with exponential backoff (a numeric
    Retry-After, capped at ``_RETRY_AFTER_CAP``, overrides that
    attempt's delay), and raises HttpError on other statuses or when
    retries are exhausted."""
    import time

    method = (method or "GET").upper()
    if method not in ALLOWED_METHODS:
        raise HttpError(f"No Method Available: {method!r} (allowed: GET, POST)")
    last_err: Exception | None = None
    retry_after: float | None = None
    for attempt in range(retries + 1):
        if attempt:
            time.sleep(retry_after if retry_after is not None else backoff * (2 ** (attempt - 1)))
        retry_after = None
        try:
            resp = requests.request(
                method, url, timeout=_DEFAULT_TIMEOUT, headers=headers, json=json_body
            )
        except requests.RequestException as e:
            last_err = HttpError(f"request execution failed for {url!r}: {e}")
            continue
        if accept_304 and resp.status_code == 304:
            return resp
        if resp.status_code == 429 or 500 <= resp.status_code < 600:
            ra = resp.headers.get("Retry-After")
            if ra is not None:
                try:
                    retry_after = min(float(ra), _RETRY_AFTER_CAP)
                except ValueError:
                    retry_after = None  # HTTP-date form: fall back to backoff
            last_err = HttpError(
                f"HTTP request failed with status code: {resp.status_code} ({url})"
            )
            continue
        if not (200 <= resp.status_code < 300):
            # Non-retryable client errors fail immediately.
            raise HttpError(
                f"HTTP request failed with status code: {resp.status_code} ({url})"
            )
        return resp
    raise last_err  # type: ignore[misc]


def body_rows(body: Any) -> list[dict]:
    """One JSON body -> its rows, the rule both ingest paths share: an
    array gives one row per element, an object one row, ``null`` none
    (reference src/datasources.rs:177-190). A scalar, as an element or
    as the whole body, becomes the row ``{"value": x}``."""
    if body is None:
        return []
    items = body if isinstance(body, list) else [body]
    return [r if isinstance(r, dict) else {"value": r} for r in items]


def _walk(
    step: Callable[[Any], tuple[list[dict], Any]],
    first: Any,
    max_rows: int | None,
    max_pages: int,
) -> list[dict]:
    """The one pagination loop. ``step(pos)`` fetches the page at
    ``pos`` (a page number, cursor token or URL) and returns its rows
    and the next position, None when the server names none.

    Stops on an empty or ``null`` page (the reference loops forever on
    ``[]``), after ``max_pages`` pages, on a position the walk has
    already visited (a re-served token or a self link is a server bug
    that must not burn the page cap), and once ``max_rows`` rows are
    staged (limit pushdown, SURVEY §4.2: a LIMIT n query must not fetch
    a 10k-page source). Rows are never trimmed — the engine applies the
    exact LIMIT; the cap only stops further page *fetches*.
    """
    rows: list[dict] = []
    pos, seen = first, {first}
    for _ in range(max_pages):
        if max_rows is not None and len(rows) >= max_rows:
            break
        page, nxt = step(pos)
        if not page:
            break
        rows.extend(page)
        if nxt is None or nxt in seen:
            break
        seen.add(nxt)
        pos = nxt
    return rows


def build_page_url(url: str, pagination: Pagination, page: int) -> str:
    """Compose the page URL from the Pagination config.

    The reference's live path hard-codes ``?page=N``
    (src/datasources.rs:125) while its config model declares
    page_param/page_size_param (src/model.rs:20-34); we honor the
    config, defaulting to the same ``page``/``limit`` names
    (src/model.rs:48-59).
    """
    sep = "&" if "?" in url else "?"
    return f"{url}{sep}{pagination.page_param}={page}&{pagination.page_size_param}={pagination.size}"


def fetch_rows(
    url: str,
    method: str = "GET",
    start_page: int | str | None = None,
    pagination: Pagination | None = None,
    max_rows: int | None = None,
    headers: dict[str, str] | None = None,
    json_body: Any | None = None,
) -> list[dict]:
    """Fetch all rows from an endpoint, paginating if requested
    (reference populate_data, src/datasources.rs:110-199).

    Pages run from ``start_page`` (else ``pagination.start_page``) to
    ``pagination.end_page`` when that is set; ``_walk`` applies the
    other stop rules. A single-object page ends the walk: there is
    nothing further to paginate.
    """
    if start_page is None and pagination is None:
        return body_rows(fetch_json(url, method, headers=headers, json_body=json_body))

    pag = pagination or Pagination()
    # Non-numeric start pages parse to 0 in the reference
    # (src/datasources.rs:159-160); here they are an error.
    first = int(start_page) if start_page is not None else pag.start_page

    def step(page: int) -> tuple[list[dict], int | None]:
        body = fetch_json(
            build_page_url(url, pag, page), method, headers=headers, json_body=json_body
        )
        return body_rows(body), (page + 1 if isinstance(body, list) else None)

    pages = sys.maxsize if pag.end_page is None else pag.end_page - first + 1
    return _walk(step, first, max_rows, pages)


def build_cursor_url(url: str, cp: CursorPagination, cursor: str | None) -> str:
    """Compose the request URL for one cursor-pagination step: the
    page-size param always, the cursor param only once the server has
    issued a token (the first request asks for page one by omission)."""
    from urllib.parse import quote

    parts = []
    if cp.page_size is not None:
        parts.append(f"{cp.page_size_param}={cp.page_size}")
    if cursor is not None:
        parts.append(f"{cp.cursor_param}={quote(str(cursor), safe='')}")
    if not parts:
        return url
    sep = "&" if "?" in url else "?"
    return f"{url}{sep}{'&'.join(parts)}"


def fetch_rows_cursor(
    url: str,
    method: str = "GET",
    cursor_pagination: CursorPagination | None = None,
    max_rows: int | None = None,
    headers: dict[str, str] | None = None,
    json_body: Any | None = None,
) -> list[dict]:
    """Walk a cursor/token-paginated endpoint to exhaustion.

    The shape the reference's page-number model cannot express (its
    Pagination is page/limit only, src/model.rs:20-34): each response
    is an object whose ``data_field`` holds the page's rows and whose
    ``cursor_field`` holds the opaque token for the next request —
    null / absent / "" meaning done. ``max_pages`` caps the walk;
    ``_walk`` applies the other stop rules.
    """
    cp = cursor_pagination or CursorPagination()

    def step(cursor: str | None) -> tuple[list[dict], str | None]:
        body = fetch_json(
            build_cursor_url(url, cp, cursor), method, headers=headers, json_body=json_body
        )
        if body is None:
            return [], None
        if not isinstance(body, dict):
            raise HttpError(
                f"cursor pagination expects an object body with "
                f"{cp.data_field!r}/{cp.cursor_field!r} fields; got "
                f"{type(body).__name__} from {url!r}"
            )
        if cp.data_field not in body:
            # A missing data key is a misconfiguration (wrong data_field
            # or a non-paginated endpoint), not "no more pages" — silently
            # returning a truncated/empty table would mask it. Only an
            # explicit empty array means done.
            raise HttpError(
                f"cursor pagination field {cp.data_field!r} absent from "
                f"response body of {url!r} (keys: {sorted(body)})"
            )
        page = body[cp.data_field]
        if not page:
            return [], None
        if not isinstance(page, list):
            raise HttpError(
                f"cursor pagination field {cp.data_field!r} must be an array; "
                f"got {type(page).__name__} from {url!r}"
            )
        nxt = body.get(cp.cursor_field)
        return body_rows(page), (None if nxt is None or nxt == "" else str(nxt))

    return _walk(step, None, max_rows, cp.max_pages)


def _has_typed_scalar(v: Any) -> bool:
    """True if the value carries at least one concrete scalar anywhere —
    the only thing schema inference can hang a type on."""
    if isinstance(v, (bool, int, float, str)):
        return True
    if isinstance(v, list):
        return any(_has_typed_scalar(x) for x in v)
    if isinstance(v, dict):
        return any(_has_typed_scalar(x) for x in v.values())
    return False


def _normalize_untyped(v: Any) -> Any:
    """Replace untyped-empty containers (``{}``, ``[]``, and containers
    holding only None/``{}``/``[]``) with ``null``, recursively.

    Real paginated APIs emit empty-object placeholders; Spark's JSON
    schema merge can CANCEL a column when one row carries ``{}`` and
    another a typed scalar at the same key (empty structs are pruned by
    canonicalization and the conflicting field vanishes — reproduced by
    tests/test_property.py::test_json_staging_survives_ragged_rows on
    ``[{'k3': {}}, {'k1': [], 'k3': ''}]``). Null is the type-neutral
    spelling of "no data here", so the typed rows win the merge and the
    column survives — the full-scan robustness this module promises over
    the reference's first-record inference (src/datasources.rs:318-343).
    """
    if isinstance(v, dict):
        if not _has_typed_scalar(v):
            return None
        return {k: _normalize_untyped(x) for k, x in v.items()}
    if isinstance(v, list):
        if not _has_typed_scalar(v):
            return None
        return [_normalize_untyped(x) for x in v]
    return v


def json_rows_to_df(
    spark: SparkSession,
    rows: list[Any],
    schema_mode: str = "full",
) -> DataFrame:
    """Stage JSON rows as a DataFrame.

    ``rows`` is read as one array body (``body_rows``), so a scalar
    row stages as ``{"value": x}``.
    ``schema_mode="full"`` (default): Spark infers over all rows —
    strictly more robust than the reference — with untyped-empty
    containers normalized to null first (see ``_normalize_untyped``)
    so a ``{}`` placeholder in one row cannot cancel a typed column
    from another. ``"first_record"``: infer from row 1 only verbatim,
    dropping later-only fields, mirroring reference
    src/datasources.rs:195-196 + 318-343 (no normalization — parity
    mode reproduces the reference byte-for-byte).

    Empty input yields an empty 0-column DataFrame instead of the
    reference's panic (src/datasources.rs:195).
    """
    rows = body_rows(rows)
    if not rows:
        return spark.createDataFrame([], schema="struct<>")
    if schema_mode == "full":
        rows = [{k: _normalize_untyped(v) for k, v in r.items()} for r in rows]
    num_partitions = max(1, min(len(rows) // 5000 + 1, spark.sparkContext.defaultParallelism))
    lines = [json.dumps(r, ensure_ascii=False) for r in rows]
    rdd = spark.sparkContext.parallelize(lines, num_partitions)
    if schema_mode == "first_record":
        first = spark.sparkContext.parallelize(lines[:1], 1)
        schema = spark.read.json(first).schema
        return spark.read.schema(schema).json(rdd)
    if schema_mode != "full":
        raise ValueError(f"unknown schema_mode {schema_mode!r}")
    return spark.read.json(rdd)


def _register_rows(
    spark: SparkSession, rows: list[dict], table_name: str, schema_mode: str
) -> DataFrame:
    """Stage ``rows``, cache them and point the temp view ``table_name``
    at them. The reference re-serializes and re-parses the staged JSON
    on every query execution (src/execution.rs:173-202); the cache
    keeps the in-memory columnar form instead. The cache of the
    DataFrame the view pointed at before is released first:
    ``createOrReplaceTempView`` leaves it cached, so each re-registered
    name would otherwise hold one more copy for the session's life."""
    if spark.catalog.tableExists(table_name):
        spark.catalog.uncacheTable(table_name)
    df = json_rows_to_df(spark, rows, schema_mode=schema_mode)
    if rows:
        df = df.cache()
    df.createOrReplaceTempView(table_name)
    return df


def register_http_table(
    spark: SparkSession,
    url: str,
    method: str = "GET",
    table_name: str = "http_table",
    start_page: int | str | None = None,
    pagination: Pagination | None = None,
    schema_mode: str = "full",
    max_rows: int | None = None,
    headers: dict[str, str] | None = None,
    json_body: Any | None = None,
    cursor_pagination: CursorPagination | None = None,
    link_pagination: LinkPagination | None = None,
) -> DataFrame:
    """Fetch + register a cached temp view — the Spark analogue of
    ``dataframe::url`` (reference src/dataframe.rs:7-24).

    ``max_rows`` stops page fetches early (limit pushdown; see
    ``_walk``). ``cursor_pagination`` selects the token-walk protocol
    and ``link_pagination`` the RFC 8288 rel="next" walk instead of
    page numbers (the three modes are mutually exclusive, enforced by
    config.Source).
    """
    if cursor_pagination is not None:
        rows = fetch_rows_cursor(
            url, method, cursor_pagination,
            max_rows=max_rows, headers=headers, json_body=json_body,
        )
    elif link_pagination is not None:
        rows = fetch_rows_link(
            url, method,
            max_rows=max_rows, max_pages=link_pagination.max_pages,
            headers=headers, json_body=json_body,
        )
    else:
        rows = fetch_rows(
            url, method, start_page, pagination,
            max_rows=max_rows, headers=headers, json_body=json_body,
        )
    return _register_rows(spark, rows, table_name, schema_mode)


def fetch_json_conditional(
    url: str,
    etag: str | None = None,
    last_modified: str | None = None,
    method: str = "GET",
    headers: dict[str, str] | None = None,
) -> tuple[Any, str | None, str | None, bool]:
    """Conditional fetch (RFC 9110 preconditions) — incremental-refresh
    support the reference's one-shot model has no notion of: send
    ``If-None-Match`` (validator of the copy we already staged) and/or
    ``If-Modified-Since``; a ``304 Not Modified`` means the staged rows
    are still current, so a periodic re-ingest pays ONE header
    round-trip instead of re-downloading and re-writing the table.

    Returns ``(body, etag, last_modified, not_modified)``:

    - 304 -> ``(None, <sent etag>, <sent last_modified>, True)`` — the
      caller keeps its staged data and validators;
    - 2xx -> ``(parsed_json, <response ETag>, <response Last-Modified>,
      False)`` — fresh body plus the validators to store for the NEXT
      refresh (absent headers come back as None, degrading the next
      call to an unconditional fetch).

    The retry/Retry-After discipline is the SAME loop fetch_json uses
    (``_request_with_retries``) with a 304 short-circuit — a transient
    429/503 during a periodic conditional refresh backs off and retries
    instead of killing the refresh (requests treats 304 as a
    non-exceptional response with an empty body).
    """
    h = dict(headers or {})
    if etag is not None:
        h["If-None-Match"] = etag
    if last_modified is not None:
        h["If-Modified-Since"] = last_modified
    resp = _request_with_retries(url, method, headers=h, accept_304=True)
    if resp.status_code == 304:
        return None, etag, last_modified, True
    body = _parse_json(resp, url)
    return body, resp.headers.get("ETag"), resp.headers.get("Last-Modified"), False


def refresh_http_table(
    spark: SparkSession,
    url: str,
    table_name: str,
    etag: str | None = None,
    last_modified: str | None = None,
    method: str = "GET",
    schema_mode: str = "full",
    headers: dict[str, str] | None = None,
) -> tuple[str | None, str | None, bool]:
    """One periodic-refresh cycle for a conditionally-fetched table:
    re-validate the staged copy with fetch_json_conditional and only
    re-stage on a real change.

    - **304** -> the registered temp view is left completely untouched
      (no re-parse, no re-cache, no view churn) and the caller's
      validators come back unchanged;
    - **2xx** -> the fresh body replaces the view (the same staging
      helper as register_http_table) and the NEW validators are
      returned for the next cycle.

    Returns ``(etag, last_modified, refreshed)``. This is the
    incremental half the reference's one-shot model lacks: a
    1000-executor cluster re-validating a dimension feed every few
    minutes pays one header round-trip per cycle, not one full
    download + rewrite per cycle.
    """
    body, new_etag, new_lm, not_modified = fetch_json_conditional(
        url, etag=etag, last_modified=last_modified, method=method, headers=headers
    )
    if not not_modified:
        _register_rows(spark, body_rows(body), table_name, schema_mode)
    return new_etag, new_lm, not not_modified


def _state_split(s: str, delim: str, *, angle: bool) -> list[str]:
    """Split ``s`` on ``delim`` OUTSIDE quoted strings (and, when
    ``angle`` is set, outside ``<...>`` targets). An unterminated
    ``<`` flushes at the next ``<``: RFC 3986 forbids a raw ``<`` in a
    URI-Reference, so a second ``<`` inside an open target means the
    first one was truncated/malformed — flushing it as its own (dead)
    part keeps a broken link-value from absorbing a later well-formed
    one (``'<broken, <b>; rel="next"'`` must still yield ``b``).
    """
    parts: list[str] = []
    buf: list[str] = []
    in_angle = in_quote = False
    for ch in s:
        if in_quote:
            if ch == '"':
                in_quote = False
            buf.append(ch)
        elif in_angle:
            if ch == ">":
                in_angle = False
                buf.append(ch)
            elif ch == "<":
                parts.append("".join(buf))
                buf = [ch]
            else:
                buf.append(ch)
        elif ch == "<" and angle:
            in_angle = True
            buf.append(ch)
        elif ch == '"':
            in_quote = True
            buf.append(ch)
        elif ch == delim:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return parts


def parse_link_next(link_header: str | None) -> str | None:
    """Extract the ``rel="next"`` target from an RFC 8288 ``Link``
    header (the GitHub/Stripe-style pagination contract), or None.

    Handles multiple comma-separated link-values, quoted and unquoted
    ``rel`` params, extra params per link, and multi-valued rel lists
    (``rel="next last"``). Deliberately a small, dependency-free parser.
    Link-values are split on commas OUTSIDE ``<...>`` targets and
    outside quoted param values: RFC 3986 allows a bare ',' (a
    sub-delim) in URL paths and query strings, so a legal target like
    ``</items?ids=1,2,3>`` must NOT be split apart (an earlier naive
    split silently dropped such a rel=next link and truncated ingest).
    The per-link ``;`` param split is quote-aware for the same reason
    one level down: a quoted param value may contain ``;`` (e.g.
    ``title="x;rel=next"``), and a bare split tears it into a fragment
    that reads as a rel param — returning the WRONG link. The ``rel``
    param name is matched exactly — a ``relation=...`` extension param
    must not be misread as the relation list.
    """
    if not link_header:
        return None
    for part in _state_split(link_header, ",", angle=True):
        part = part.strip()
        if not part.startswith("<"):
            continue
        end = part.find(">")
        if end < 0:
            continue
        target = part[1:end]
        for param in _state_split(part[end + 1 :], ";", angle=False):
            name, _, val = param.partition("=")
            if name.strip().lower() != "rel":
                continue
            rels = val.strip().strip('"').lower().split()
            if "next" in rels:
                return target
    return None


def fetch_rows_link(
    url: str,
    method: str = "GET",
    max_rows: int | None = None,
    max_pages: int = 10_000,
    headers: dict[str, str] | None = None,
    json_body: Any | None = None,
) -> list[dict]:
    """Walk a ``Link: <...>; rel="next"`` paginated endpoint to
    exhaustion — the third pagination contract beside page-number
    (fetch_rows) and cursor/token (fetch_rows_cursor), and the one the
    reference's page/limit-only model (src/model.rs:20-34) cannot
    express at all: the server names the next URL, the client follows
    it verbatim.

    The walk ends when a response carries no ``rel="next"`` link;
    ``_walk`` applies the other stop rules, ``max_pages`` among them.
    Relative next-URLs resolve against the current page's URL (RFC 3986
    join).
    """
    from urllib.parse import urljoin

    def step(page_url: str) -> tuple[list[dict], str | None]:
        resp = _request_with_retries(page_url, method, headers=headers, json_body=json_body)
        nxt = parse_link_next(resp.headers.get("Link"))
        return body_rows(_parse_json(resp, page_url)), (None if nxt is None else urljoin(page_url, nxt))

    return _walk(step, url, max_rows, max_pages)
