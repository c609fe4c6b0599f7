"""Seeded datasets served by the fake API, and the engine configs that read them.

Every page is a pure function of ``(seed, source, page)``: the fake API
process and the benchmark's output check both call these functions, so
the check knows exactly which rows the engine was served.

Rows are ragged on purpose, as real paginated APIs are:

- ``orders.amount`` is an int on the first half of the pages and a
  float on the rest (schema inference must widen it to double);
- ``orders.promo`` is sometimes an ``{}`` placeholder;
- ``orders.note`` appears only on the last quarter of the pages;
- ``customers.tags`` is sometimes ``[]``.

Every float is a multiple of 0.25, so sums are exact in any order and
Spark's and DuckDB's aggregates render identically.
"""

from __future__ import annotations

import functools
import random

REGIONS = ("AMER", "APAC", "EMEA", "LATAM")
MODES = ("AIR", "RAIL", "ROAD", "SEA")
TIERS = ("bronze", "gold", "silver")
KINDS = ("click", "purchase", "refund", "signup", "view")
CATS = ("books", "games", "garden", "music", "tools", "toys")
COLORS = ("black", "blue", "green", "red", "white")

# api_config sources: page-number, cursor, RFC 8288 Link, single object.
ORDERS_PAGES, ORDERS_PAGE_SIZE = 40, 250
CUSTOMERS, CUSTOMERS_PAGE_SIZE = 2000, 200
EVENTS, EVENTS_PAGE_SIZE, EVENTS_LIMIT = 500, 25, 40
# api_scaleout source: one bounded page-number source.
ITEMS_PAGES, ITEMS_PAGE_SIZE = 16, 500


def _rng(seed: int, *key: object) -> random.Random:
    return random.Random(":".join(map(str, (seed, *key))))


def _quarters(r: random.Random, lo: int, hi: int) -> float:
    return r.randint(lo * 4, hi * 4) / 4


def orders_page(seed: int, page: int) -> list[dict]:
    """Page ``page`` (1-based) of the orders source; ``[]`` past the end."""
    if not 1 <= page <= ORDERS_PAGES:
        return []
    r = _rng(seed, "orders", page)
    rows = []
    for j in range(ORDERS_PAGE_SIZE):
        row = {
            "order_id": (page - 1) * ORDERS_PAGE_SIZE + j,
            "cust_id": r.randrange(CUSTOMERS),
            "qty": r.randint(1, 9),
            "amount": r.randint(1, 500) if page <= ORDERS_PAGES // 2 else _quarters(r, 1, 500),
            "ship": {"region": r.choice(REGIONS), "mode": r.choice(MODES)},
            "promo": {"code": f"P{r.randint(1, 9)}"} if r.random() < 0.3 else {},
        }
        if page > ORDERS_PAGES * 3 // 4 and r.random() < 0.5:
            row["note"] = r.choice(("gift", "rush", "fragile"))
        rows.append(row)
    return rows


@functools.lru_cache(maxsize=4)
def customers(seed: int) -> tuple[dict, ...]:
    r = _rng(seed, "customers")
    return tuple(
        {
            "cust_id": i,
            "name": f"cust-{i:05d}",
            "tier": r.choice(TIERS),
            "score": r.randint(0, 100_000),
            "tags": [r.choice(("new", "vip", "churn"))] if r.random() < 0.6 else [],
        }
        for i in range(CUSTOMERS)
    )


@functools.lru_cache(maxsize=4)
def events(seed: int) -> tuple[dict, ...]:
    r = _rng(seed, "events")
    return tuple(
        {"event_id": i, "kind": r.choice(KINDS), "value": _quarters(r, 0, 100)}
        for i in range(EVENTS)
    )


def meta(seed: int) -> dict:
    r = _rng(seed, "meta")
    return {"currency": r.choice(("EUR", "GBP", "USD")), "fx": r.choice((0.5, 1.25, 2.0))}


def items_page(seed: int, page: int) -> list[dict]:
    """Page ``page`` (1-based) of the api_scaleout items source."""
    if not 1 <= page <= ITEMS_PAGES:
        return []
    r = _rng(seed, "items", page)
    return [
        {
            "item_id": (page - 1) * ITEMS_PAGE_SIZE + j,
            "cat": r.choice(CATS),
            "qty": r.randint(1, 20),
            "price": _quarters(r, 1, 200),
            "attrs": {"color": r.choice(COLORS), "size": r.randint(1, 5)},
        }
        for j in range(ITEMS_PAGE_SIZE)
    ]


def cursor_token(offset: int) -> str:
    """Opaque next-page token for the cursor source (base-36 offset)."""
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    out = ""
    while True:
        offset, d = divmod(offset, 36)
        out = digits[d] + out
        if not offset:
            return "c" + out


def cursor_offset(token: str | None) -> int:
    return int(token[1:], 36) if token else 0


# --- engine configs -----------------------------------------------------

ORDERS_SQL = (
    "SELECT ship.region AS region, ship.mode AS mode, count(*) AS n, sum(qty) AS qty, "
    "sum(amount) AS amount, count(promo.code) AS promos, count(note) AS notes "
    "FROM orders GROUP BY ship.region, ship.mode ORDER BY region, mode"
)
CUSTOMERS_SQL = (
    "SELECT tier, cust_id, score, rk FROM (SELECT tier, cust_id, score, "
    "row_number() OVER (PARTITION BY tier ORDER BY score DESC, cust_id) AS rk "
    "FROM customers) t WHERE rk <= 3 ORDER BY tier, rk"
)
EVENTS_SQL = f"SELECT event_id, kind FROM events LIMIT {EVENTS_LIMIT}"
META_SQL = (
    "SELECT c.tier AS tier, count(*) AS orders, sum(o.qty) AS qty, "
    "sum(o.amount) * max(m.fx) AS amount_fx "
    "FROM orders o JOIN customers c ON o.cust_id = c.cust_id CROSS JOIN meta m "
    "GROUP BY c.tier ORDER BY tier"
)
ITEMS_SQL = (
    "SELECT cat, count(*) AS n, sum(qty) AS qty, sum(price) AS price "
    "FROM items GROUP BY cat ORDER BY cat"
)


def config_yaml(base: str) -> str:
    """api_config: four sources, one per pagination shape, in run order."""
    return f"""\
sources:
  - name: orders
    url: {base}/orders
    pagination: {{start_page: 1, end_page: {ORDERS_PAGES}, page_size: {ORDERS_PAGE_SIZE}}}
    sql: "{ORDERS_SQL}"
  - name: customers
    url: {base}/customers
    cursor_pagination: {{page_size: {CUSTOMERS_PAGE_SIZE}}}
    sql: "{CUSTOMERS_SQL}"
  - name: events
    url: {base}/events?offset=0&limit={EVENTS_PAGE_SIZE}
    link_pagination: {{}}
    sql: "{EVENTS_SQL}"
  - name: meta
    url: {base}/meta
    sql: "{META_SQL}"
"""


def scaleout_yaml(base: str) -> str:
    """api_scaleout: one bounded source, read page-per-partition."""
    return f"""\
sources:
  - name: items
    url: {base}/items
    pagination: {{start_page: 1, end_page: {ITEMS_PAGES}, page_size: {ITEMS_PAGE_SIZE}}}
    sql: "{ITEMS_SQL}"
"""


# Rows each op needs from the API: the numerator of rows_per_s and of
# api.useful_row_frac. The events source needs only its LIMIT.
CONFIG_ROWS_PER_OP = ORDERS_PAGES * ORDERS_PAGE_SIZE + CUSTOMERS + EVENTS_LIMIT + 1
SCALEOUT_ROWS_PER_OP = ITEMS_PAGES * ITEMS_PAGE_SIZE
# Requests a full walk of the events source makes; fewer means the
# LIMIT was pushed into the fetch.
EVENTS_FULL_WALK = EVENTS // EVENTS_PAGE_SIZE
