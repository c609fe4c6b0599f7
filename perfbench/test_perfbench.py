"""Tests of the benchmark's own parts: fake-API pages are a pure
function of the seed, every pagination shape terminates with every
row, and the tracer's self times and wrappers behave.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import apidata  # noqa: E402
import fakeapi  # noqa: E402
import spans  # noqa: E402


@pytest.fixture
def server():
    srv = fakeapi.FakeApi(seed=11)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield srv, f"http://127.0.0.1:{srv.server_address[1]}"
    finally:
        srv.shutdown()
        srv.pool.shutdown(wait=True)
        srv.server_close()
        t.join(timeout=10)
    assert not t.is_alive()


URLS = [
    "/orders?page=1&limit=250",
    f"/orders?page={apidata.ORDERS_PAGES}&limit=250",
    "/customers?limit=200",
    "/customers?limit=200&cursor=c5k",
    "/events?offset=0&limit=25",
    "/meta",
    "/items?page=3&limit=500",
]


@pytest.mark.parametrize("url", URLS)
def test_pages_are_a_pure_function_of_the_seed(url):
    apidata.customers.cache_clear()
    apidata.events.cache_clear()
    first = fakeapi.render(5, url)
    apidata.customers.cache_clear()
    apidata.events.cache_clear()
    assert fakeapi.render(5, url) == first
    assert fakeapi.render(6, url)[2] != first[2]


def test_failures_are_seeded_and_rare():
    urls = [f"/orders?page={p}&limit=250" for p in range(1, 2001)]
    picked = [u for u in urls if fakeapi.fails_first_attempt(3, u)]
    assert picked == [u for u in urls if fakeapi.fails_first_attempt(3, u)]
    assert 0.01 < len(picked) / len(urls) < 0.03


def test_ragged_rows_are_present():
    orders = [r for p in range(1, apidata.ORDERS_PAGES + 1) for r in apidata.orders_page(1, p)]
    assert {type(r["amount"]) for r in orders} == {int, float}
    assert any(r["promo"] == {} for r in orders) and any(r["promo"] for r in orders)
    assert "note" not in orders[0] and any("note" in r for r in orders)
    assert any(r["tags"] == [] for r in apidata.customers(1))


def test_every_shape_terminates_with_every_row(server):
    from http_datafusion_spark.config import CursorPagination, Pagination
    from http_datafusion_spark.sources import http_json

    srv, base = server
    page = Pagination(start_page=1, end_page=None, page_size=apidata.ORDERS_PAGE_SIZE)
    orders = http_json.fetch_rows(f"{base}/orders", pagination=page)
    assert len(orders) == apidata.ORDERS_PAGES * apidata.ORDERS_PAGE_SIZE

    bounded = Pagination(start_page=1, end_page=apidata.ITEMS_PAGES, page_size=apidata.ITEMS_PAGE_SIZE)
    assert len(http_json.fetch_rows(f"{base}/items", pagination=bounded)) == apidata.SCALEOUT_ROWS_PER_OP

    cursor = CursorPagination(page_size=apidata.CUSTOMERS_PAGE_SIZE)
    customers = http_json.fetch_rows_cursor(f"{base}/customers", cursor_pagination=cursor)
    assert [r["cust_id"] for r in customers] == list(range(apidata.CUSTOMERS))

    events = http_json.fetch_rows_link(f"{base}/events?offset=0&limit={apidata.EVENTS_PAGE_SIZE}")
    assert [r["event_id"] for r in events] == list(range(apidata.EVENTS))

    assert http_json.fetch_rows(f"{base}/meta") == [apidata.meta(11)]

    stats = srv.counters.snapshot()
    assert stats["retried"] >= 1  # the 503s were retried, not surfaced
    assert stats["max_inflight"] == 1  # one sequential client


def test_self_time_excludes_children_and_wrappers_are_removed():
    import types
    import time

    mod = types.SimpleNamespace(work=lambda: time.sleep(0.02) or [1, 2, 3])
    tracer = spans.Tracer()
    tracer.wrap(mod, "work", "child", count_rows=True)
    with tracer.span("op", op=0):
        time.sleep(0.02)
        mod.work()
        tracer.add("extra", 2.0)
    tracer.uninstall()
    row = tracer.per_op()[0]
    total = next(s for s in tracer.spans if s.name == "op")
    assert row["child.rows"] == 3 and row["extra"] == 2.0
    assert abs(row["op"] + row["child"] - (total.end - total.start)) < 1e-9
    assert 0.015 < row["op"] < 0.05 and 0.015 < row["child"] < 0.05
    assert mod.work() == [1, 2, 3] and not hasattr(mod.work, "__wrapped__")
