"""Fake paginated JSON API for the benchmark, run as its own process.

    python3 perfbench/fakeapi.py --seed 7

Prints ``port <n>`` on stdout once it listens on 127.0.0.1, then serves
until stdin closes (the parent's exit closes it) or it is terminated.

Routes (rows come from ``apidata``, a pure function of the seed):

- ``/orders?page=N``             page-number pagination, ``[]`` past the end
- ``/customers[?cursor=T]``      ``{"data": [...], "next_cursor": T|null}``
- ``/events?offset=K&limit=M``   array body + ``Link: <...>; rel="next"``
- ``/meta``                      one JSON object
- ``/items?page=N``              page-number pagination (the scale-out source)
- ``/_stats``, ``/_reset``       counters; not counted themselves

Every response waits a fixed ``DELAY_S`` before answering, standing in
for a network round trip. The first attempt at a seeded ~1 in
``FAIL_ONE_IN`` URLs is answered 503 with ``Retry-After: 0``; the retry
is served, so the client's retry path runs on every op without sleep
jitter. At most ``THREADS`` requests are handled at once.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlsplit

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import apidata  # noqa: E402

DELAY_S = 0.005
FAIL_ONE_IN = 50
THREADS = 4  # at most 4 server threads, like the 4 cores the engine gets


def _first(q: dict, key: str, default: str | None = None) -> str | None:
    v = q.get(key)
    return v[0] if v else default


def render(seed: int, path_qs: str) -> tuple[int, dict[str, str], object, int]:
    """-> (status, extra headers, JSON body, rows in body) for one URL."""
    parts = urlsplit(path_qs)
    q = parse_qs(parts.query)
    path = parts.path
    if path == "/orders":
        rows = apidata.orders_page(seed, int(_first(q, "page", "1")))
        return 200, {}, rows, len(rows)
    if path == "/items":
        rows = apidata.items_page(seed, int(_first(q, "page", "1")))
        return 200, {}, rows, len(rows)
    if path == "/customers":
        off = apidata.cursor_offset(_first(q, "cursor"))
        limit = int(_first(q, "limit", str(apidata.CUSTOMERS_PAGE_SIZE)))
        rows = list(apidata.customers(seed)[off : off + limit])
        nxt = off + limit
        token = apidata.cursor_token(nxt) if nxt < apidata.CUSTOMERS else None
        return 200, {}, {"data": rows, "next_cursor": token}, len(rows)
    if path == "/events":
        off = int(_first(q, "offset", "0"))
        limit = int(_first(q, "limit", str(apidata.EVENTS_PAGE_SIZE)))
        rows = list(apidata.events(seed)[off : off + limit])
        headers = {}
        if off + limit < apidata.EVENTS:
            headers["Link"] = f'</events?offset={off + limit}&limit={limit}>; rel="next"'
        return 200, headers, rows, len(rows)
    if path == "/meta":
        return 200, {}, apidata.meta(seed), 1
    return 404, {}, {"error": f"no route {path}"}, 0


def fails_first_attempt(seed: int, path_qs: str) -> bool:
    h = hashlib.blake2b(f"{seed}|{path_qs}".encode(), digest_size=8).digest()
    return int.from_bytes(h, "big") % FAIL_ONE_IN == 0


class Counters:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.inflight = 0
        self.reset()

    def reset(self) -> None:
        self.requests = 0
        self.bytes = 0
        self.retried = 0
        self.rows_served = 0
        self.max_inflight = self.inflight
        self.by_route: dict[str, int] = {}

    def snapshot(self) -> dict:
        return {
            "requests": self.requests,
            "bytes": self.bytes,
            "retried": self.retried,
            "rows_served": self.rows_served,
            "max_inflight": self.max_inflight,
            "by_route": dict(self.by_route),
        }


class FakeApi(HTTPServer):
    """HTTPServer whose requests run on a fixed pool of worker threads."""

    def __init__(self, seed: int) -> None:
        super().__init__(("127.0.0.1", 0), Handler)
        self.seed = seed
        self.counters = Counters()
        self.pool = ThreadPoolExecutor(max_workers=THREADS)
        self.bodies: dict[str, tuple[int, dict, bytes, int]] = {}
        self.failed_once: set[str] = set()

    def process_request(self, request, client_address):  # noqa: D102
        self.pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address) -> None:
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 — one bad connection must not stop the server
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def response(self, path_qs: str) -> tuple[int, dict, bytes, int]:
        cached = self.bodies.get(path_qs)
        if cached is None:
            status, headers, body, nrows = render(self.seed, path_qs)
            cached = (status, headers, json.dumps(body).encode(), nrows)
            self.bodies[path_qs] = cached
        return cached


class Handler(BaseHTTPRequestHandler):
    server: FakeApi

    def log_message(self, format, *args):  # noqa: A002 — silence access log
        pass

    def _send(self, status: int, headers: dict, payload: bytes) -> None:
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        for k, v in headers.items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(payload)

    def do_GET(self) -> None:  # noqa: N802
        srv, c = self.server, self.server.counters
        if self.path in ("/_stats", "/_reset"):
            with c.lock:
                if self.path == "/_reset":
                    c.reset()
                payload = json.dumps(c.snapshot()).encode()
            self._send(200, {}, payload)
            return
        with c.lock:
            c.inflight += 1
            c.max_inflight = max(c.max_inflight, c.inflight)
        try:
            time.sleep(DELAY_S)
            route = urlsplit(self.path).path
            with c.lock:
                fail = fails_first_attempt(srv.seed, self.path) and self.path not in srv.failed_once
                if fail:
                    srv.failed_once.add(self.path)
                else:
                    srv.failed_once.discard(self.path)
            if fail:
                status, headers, payload, nrows = 503, {"Retry-After": "0"}, b"{}", 0
            else:
                status, headers, payload, nrows = srv.response(self.path)
            self._send(status, headers, payload)
            with c.lock:
                c.requests += 1
                c.bytes += len(payload)
                c.retried += fail
                c.rows_served += nrows
                c.by_route[route] = c.by_route.get(route, 0) + 1
        finally:
            with c.lock:
                c.inflight -= 1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    srv = FakeApi(args.seed)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    print(f"port {srv.server_address[1]}", flush=True)
    try:
        sys.stdin.read()  # returns when the parent closes the pipe or exits
    finally:
        srv.shutdown()
        srv.pool.shutdown(wait=True)
        srv.server_close()


if __name__ == "__main__":
    main()
