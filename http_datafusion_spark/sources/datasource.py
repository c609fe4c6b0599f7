"""Spark 4 Python DataSource for HTTP JSON — the scale-out ingest path
(SURVEY §7 M3).

The reference's scan is a single bounded partition with all data staged
in driver memory (reference src/execution.rs:95-96,
src/datasources.rs:192-198). This source instead registers as a real
``spark.read.format("httpjson")`` provider whose reader:

- enumerates ONE InputPartition PER PAGE when the page range is known
  (``startPage``/``endPage`` options) — fetches run in parallel on
  executors, nothing is staged on the driver;
- falls back to a single sequential partition for open-ended
  pagination (termination on ``null``/``[]`` is inherently sequential);
- infers its schema from every row of the first page at plan time (or
  accepts a user schema via ``.schema(...)`` — the zero-RPC path);
- turns each page body into rows with ``http_json.body_rows``, the rule
  the driver staging uses too, so both paths give one table for one
  body;
- maps filters on DECLARED columns (``filterParams`` option) to HTTP
  query params so the fetch itself shrinks: equality is fully pushed,
  ranges are pushed as superset hints and re-checked by Catalyst, and
  everything else is returned unsupported (the reference declares but
  declines all pushdown, src/datasources.rs:386-388).

At 100 TB-class ingest (many pages × many endpoints) this shape is the
right one: the page grid is the parallelism unit, executors fetch
concurrently, and the result lands already partitioned for downstream
repartition/bucketing.

Usage::

    spark.dataSource.register(HttpJsonDataSource)
    df = (spark.read.format("httpjson")
          .option("url", "https://api.example.com/items")
          .option("startPage", 1).option("endPage", 40)
          .option("pageSize", 500)
          .load())
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from http_datafusion_spark.config import Pagination
from http_datafusion_spark.errors import HttpError
from http_datafusion_spark.sources import http_json


class HttpJsonDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "httpjson"

    def schema(self):  # noqa: D102 — inferred when the user gives none
        opts = _norm_options(self.options)
        probe = opts.get("url")
        if not probe:
            raise HttpError("httpjson source requires the 'url' option")
        if opts.get("startpage") is not None:
            pag = _pagination_from_options(opts)
            probe = http_json.build_page_url(probe, pag, pag.start_page)
        return _infer_schema_from_rows(_page_rows(opts, probe))

    def reader(self, schema: StructType) -> DataSourceReader:
        return HttpJsonReader(schema, dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:  # noqa: N802
        return HttpJsonStreamReader(schema, dict(self.options))


def _norm_options(options: dict) -> dict:
    """Spark stores DataSource options case-insensitively (lowercased);
    normalize so camelCase option names in user code resolve."""
    return {k.lower(): v for k, v in options.items()}


# Option name (as Spark stores it, lower-cased) -> Pagination field and
# its parser: the one mapping between the two spellings.
_PAGE_OPTIONS = {
    "startpage": ("start_page", int),
    "endpage": ("end_page", int),
    "pagesize": ("page_size", int),
    "pageparam": ("page_param", str),
    "pagesizeparam": ("page_size_param", str),
}


def _pagination_from_options(options: dict) -> Pagination:
    """Options -> Pagination; an absent option keeps Pagination's default,
    except ``endPage``, whose absence means open-ended."""
    o = _norm_options(options)
    given = {f: parse(o[k]) for k, (f, parse) in _PAGE_OPTIONS.items() if o.get(k) is not None}
    return Pagination(**{"end_page": None, **given})


def page_options(pag: Pagination) -> dict:
    """Pagination -> the reader options that rebuild it, the page size
    being the one its requests carry (``Pagination.size``)."""
    return {k: getattr(pag, f) for k, (f, _) in _PAGE_OPTIONS.items()} | {"pagesize": pag.size}


def _max_rows(opts: dict) -> int | None:
    return int(opts["maxrows"]) if opts.get("maxrows") is not None else None


def _page_rows(opts: dict, url: str) -> list[dict]:
    """Fetch one page with the source's method, headers and body, and
    turn it into rows by the shared body->rows rule."""
    body = http_json.fetch_json(
        url,
        opts.get("method", "GET"),
        headers=_headers_from_options(opts),
        json_body=_body_from_options(opts),
    )
    return http_json.body_rows(body)


def _headers_from_options(options: dict) -> dict[str, str] | None:
    """Auth/custom headers travel as one JSON-string option (DataSource
    options are flat strings)."""
    raw = _norm_options(options).get("headersjson")
    return json.loads(raw) if raw else None


def _body_from_options(options: dict):
    raw = _norm_options(options).get("bodyjson")
    return json.loads(raw) if raw else None


def _infer_schema_from_rows(rows: Sequence[dict]) -> StructType:
    """Plan-time schema inference without a SparkSession: Arrow types
    each column over every row, so a field only a later row carries
    still becomes a column (columns in first-seen order), mapped to
    Spark types."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    names = dict.fromkeys(k for r in rows for k in r)
    arrow = pa.Table.from_pydict({k: [r.get(k) for r in rows] for k in names})
    return from_arrow_schema(arrow.schema)


class _PagePartition(InputPartition):
    def __init__(self, page: int | None):
        self.page = page  # None => sequential open-ended scan


class HttpJsonReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.options = _norm_options(options)
        self._filters_accepted = 0
        self._pushed_params: dict[str, str] = {}

    def pushFilters(self, filters):  # noqa: N802 — Spark 4.1 pushdown hook
        """Filter -> query-param pushdown (SURVEY §4.2 custom extra).

        The reference declares filter pushdown but declines every
        predicate (src/datasources.rs:386-388). Here, the user DECLARES
        which columns the endpoint can filter server-side via the
        ``filterParams`` option (a JSON object mapping column name ->
        query parameter name); that declaration is the contract that
        ``?param=value`` returns exactly the rows where column = value.

        - ``EqualTo`` on a declared column is FULLY pushed: the request
          itself shrinks and the filter is consumed (not re-applied).
        - Range filters (>, >=, <, <=) on a declared column are applied
          as ``<param>__gte`` / ``<param>__lte`` request params to
          shrink the fetch, but ALSO returned to Catalyst for
          re-evaluation — endpoint range semantics (inclusive vs
          exclusive) are not part of the declared contract, so the
          param is a superset hint, never the correctness boundary.
        - Everything else (undeclared columns, IN, IsNull, compound
          paths) is returned unsupported and applied post-scan.
        """
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        raw = self.options.get("filterparams")
        mapping: dict[str, str] = json.loads(raw) if raw else {}
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr is not None and len(attr) == 1 else None
            param = mapping.get(col) if col is not None else None
            if param is None:
                yield f
            elif isinstance(f, EqualTo):
                self._pushed_params[param] = str(f.value)
                self._filters_accepted += 1
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                self._pushed_params[f"{param}__gte"] = str(f.value)
                yield f  # superset fetch; Catalyst re-checks exactness
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                self._pushed_params[f"{param}__lte"] = str(f.value)
                yield f
            else:
                yield f

    def _base_url(self) -> str:
        """The endpoint URL with any pushed filter params appended (the
        pagination params are appended later by build_page_url)."""
        url = self.options["url"]
        for k, v in sorted(self._pushed_params.items()):
            from urllib.parse import quote

            url += ("&" if "?" in url else "?") + f"{quote(k)}={quote(v)}"
        return url

    def partitions(self) -> Sequence[InputPartition]:
        opts = self.options
        pag = _pagination_from_options(opts)
        if opts.get("startpage") is None or pag.end_page is None:
            return [_PagePartition(None)]
        end = pag.end_page
        max_rows = _max_rows(opts)
        if max_rows is not None:
            # Limit pushdown (SURVEY §4.2): fetch only the pages that
            # can contribute to the first max_rows rows.
            end = min(end, pag.start_page + -(-max_rows // pag.size) - 1)
        return [_PagePartition(p) for p in range(pag.start_page, end + 1)]

    def read(self, partition: _PagePartition) -> Iterator[tuple]:
        opts = self.options
        url = self._base_url()
        pag = _pagination_from_options(opts)
        if partition.page is not None:
            rows = _page_rows(opts, http_json.build_page_url(url, pag, partition.page))
        else:
            start = opts.get("startpage")
            rows = http_json.fetch_rows(
                url, opts.get("method", "GET"), start, pag if start is not None else None,
                max_rows=_max_rows(opts),
                headers=_headers_from_options(opts),
                json_body=_body_from_options(opts),
            )
        return iter(_to_tuples(self.schema, rows))


class HttpJsonStreamReader(SimpleDataSourceStreamReader):
    """Incremental HTTP polling as a Structured Streaming source — the
    reference's bounded HTTP scan upgraded to `spark.readStream`.

    The offset is the next page number: each micro-batch fetches from
    the committed page forward until a page comes back empty/``null``
    (the batch source's termination rule, reference
    src/datasources.rs:139-142) or until ``maxPagesPerTrigger`` pages
    — the same per-trigger intake bound Kafka's maxOffsetsPerTrigger
    gives (see streaming/kafka.py), so a replay of a deep backlog is
    rate-limited instead of landing in one giant batch.

    ``readBetweenOffsets`` replays a committed page range on recovery:
    pages are assumed stable between checkpoints (an append-only feed),
    which is the same assumption the reference's pagination makes.

    Usage::

        spark.readStream.format("httpjson")
             .schema(schema)                  # or rely on inference
             .option("url", ...).option("pageSize", 100)
             .option("maxPagesPerTrigger", 10)
             .load()
    """

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.options = _norm_options(options)

    def initialOffset(self) -> dict:  # noqa: N802
        return {"page": _pagination_from_options(self.options).start_page}

    def _fetch_page(self, page: int) -> list[dict]:
        opts = self.options
        return _page_rows(
            opts, http_json.build_page_url(opts["url"], _pagination_from_options(opts), page)
        )

    def _tuples(self, rows: list[dict]) -> Iterator[tuple]:
        # A LIST iterator, not a generator: Spark's simple-stream wrapper
        # calls next() on the result AND copy.copy()s it for replay —
        # generators aren't copyable, bare lists aren't iterators, but
        # CPython list iterators are both (picklable via __reduce__).
        return iter(_to_tuples(self.schema, rows))

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        max_pages = int(self.options.get("maxpagespertrigger", 10))
        page = int(start["page"])
        rows: list = []
        fetched = 0
        while fetched < max_pages:
            batch = self._fetch_page(page + fetched)
            if not batch:
                break  # frontier reached; offset stays put until data appears
            rows.extend(batch)
            fetched += 1
        return self._tuples(rows), {"page": page + fetched}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:  # noqa: N802
        rows: list = []
        for page in range(int(start["page"]), int(end["page"])):
            rows.extend(self._fetch_page(page))
        return self._tuples(rows)


def _same(v):
    """Parsed JSON values Spark's row converter takes as they are:
    nested objects as dicts (StructType), arrays as lists (ArrayType)."""
    return v


def _int_guard(v):
    """Integer-typed field: refuse LOSSY float coercion loudly.

    The schema is frozen from the first page (the zero-RPC trade), so a
    later page can carry ``30.5`` for a column inferred as bigint.
    Spark's Arrow conversion would silently truncate it to ``30`` —
    data corruption worse than the reference's error-at-batch-read
    (src/execution.rs:183-200). Integral floats pass losslessly;
    fractional ones raise with the fix spelled out."""
    if isinstance(v, float):
        if v.is_integer():
            return int(v)
        raise HttpError(
            f"type widening: value {v!r} does not fit the integer type inferred "
            "from the first page — pass an explicit .schema(...) with a DOUBLE "
            "column (first-page inference cannot see later pages)"
        )
    return v


def _coercer_for(dt):
    """Schema-aware converter for one field type, built once per read.

    Recurses into struct/array types so a nested fractional float in an
    integer-typed nested field is caught too; all other types pass
    through."""
    from pyspark.sql.types import ArrayType, ByteType, IntegerType, LongType, ShortType, StructType

    if isinstance(dt, (LongType, IntegerType, ShortType, ByteType)):
        return _int_guard
    if isinstance(dt, StructType):
        subs = {f.name: _coercer_for(f.dataType) for f in dt.fields}

        def conv_struct(v, subs=subs):
            if not isinstance(v, dict):
                return v
            return {k: (subs[k](x) if k in subs else x) for k, x in v.items()}

        return conv_struct
    if isinstance(dt, ArrayType):
        elem = _coercer_for(dt.elementType)

        def conv_array(v, elem=elem):
            if not isinstance(v, list):
                return v
            return [elem(x) for x in v]

        return conv_array
    return _same


def _to_tuples(schema: StructType, rows: list[dict]) -> list[tuple]:
    """Rows -> Spark tuples in schema order, for the batch and stream readers."""
    convs = [(f.name, _coercer_for(f.dataType)) for f in schema.fields]
    return [tuple(conv(r.get(name)) for name, conv in convs) for r in rows]


def register(spark) -> None:
    """Register the 'httpjson' format on a session."""
    spark.dataSource.register(HttpJsonDataSource)
