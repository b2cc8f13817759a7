"""In-process HTTP stub server for connector tests.

Serves the reference's API shapes (offset pages, cursor pages, lease
upsert endpoints) from a fixed in-memory dataset, and records request
statistics (counts, max observed concurrency) so tests can assert the
O4/O5/O6 behaviors.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


class StubStats:
    def __init__(self):
        self.lock = threading.Lock()
        self.requests: list[tuple[str, str]] = []
        self.in_flight = 0
        self.max_in_flight = 0

    def enter(self, method: str, path: str) -> None:
        with self.lock:
            self.requests.append((method, path))
            self.in_flight += 1
            self.max_in_flight = max(self.max_in_flight, self.in_flight)

    def leave(self) -> None:
        with self.lock:
            self.in_flight -= 1


class _Server(ThreadingHTTPServer):
    # A listen backlog with room for every concurrent connect a test
    # makes (sink partitions x max_in_flight). At the default of 5 the
    # kernel drops SYNs it cannot queue, and each drop costs the client
    # a retransmit of a second or more.
    request_queue_size = 64


def make_server(items: list[dict], cursor_page_size: int = 7,
                repeat_last_token: bool = False,
                api_key: str | None = None,
                zero_indexed_pages: bool = False,
                acl: dict | None = None):
    """Start a stub server; returns (server, port, stats).

    * ``GET /items?limit=&page=``   -> offset pages ``{items, total}``;
      1-indexed by default, 0-indexed with ``zero_indexed_pages`` (the
      reference API's convention, task.ts:117-127)
    * ``GET /cursor``               -> token pages ``{items, next_page_token}``;
      with ``repeat_last_token`` the final page repeats its own token —
      the infinite-loop bug the reference's O6 guard defends against.
    * ``POST /token``               -> S6 exchange: requires the
      ``x-api-key`` header when ``api_key`` is set, issues a bearer;
      with ``api_key`` set, ``/items``/``/cursor`` then 401 unless the
      ``x-verkada-auth`` header carries an issued bearer.
    * ``GET /cameras/v1/footage/token`` -> S7 scoped credential: JWT +
      ACL lists (``acl`` = {"accessibleCameras": [...],
      "accessibleSites": [...]}; defaults to empty lists).
    * ``PATCH/POST /lease...``      -> 204, recorded in stats
    """
    stats = StubStats()
    issued_tokens: set[str] = set()
    acl = acl or {"accessibleCameras": [], "accessibleSites": []}

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # silence
            pass

        def _json(self, obj, code=200):
            body = json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _authed(self) -> bool:
            if api_key is None:
                return True
            return self.headers.get("x-verkada-auth") in issued_tokens

        def do_GET(self):
            stats.enter("GET", self.path)
            try:
                u = urlparse(self.path)
                q = parse_qs(u.query)
                if u.path == "/cameras/v1/footage/token":
                    if api_key is not None and (
                        self.headers.get("x-api-key") != api_key
                    ):
                        self._json({"error": "bad api key"}, 401)
                        return
                    self._json(
                        {
                            "jwt": "stub-jwt",
                            "accessibleCameras": acl["accessibleCameras"],
                            "accessibleSites": acl["accessibleSites"],
                            "expiration": 3600,
                            "expiresAt": 2_000_000_000,
                            "permission": ["live"],
                        }
                    )
                elif not self._authed():
                    self._json({"error": "unauthorized"}, 401)
                elif u.path == "/items":
                    limit = int(q.get("limit", ["50"])[0])
                    page = int(q.get("page", ["1"])[0])
                    start = (page if zero_indexed_pages else page - 1) * limit
                    self._json(
                        {
                            "items": items[start : start + limit],
                            "total": len(items),
                        }
                    )
                elif u.path == "/cursor":
                    tok = q.get("page_token", [None])[0]
                    start = int(tok) if tok else 0
                    end = start + cursor_page_size
                    page_items = items[start:end]
                    if end >= len(items):
                        nxt = tok if repeat_last_token else None
                    else:
                        nxt = str(end)
                    self._json(
                        {"items": page_items, "next_page_token": nxt}
                    )
                else:
                    self._json({"error": "not found"}, 404)
            finally:
                stats.leave()

        def do_POST(self):
            if urlparse(self.path).path == "/token":
                stats.enter("POST", self.path)
                try:
                    if api_key is not None and (
                        self.headers.get("x-api-key") != api_key
                    ):
                        self._json({"error": "bad api key"}, 401)
                        return
                    tok = f"bearer-{len(issued_tokens)}"
                    issued_tokens.add(tok)
                    self._json({"token": tok})
                finally:
                    stats.leave()
                return
            self._upsert("POST")

        def do_PATCH(self):
            self._upsert("PATCH")

        def _upsert(self, method):
            stats.enter(method, self.path)
            try:
                length = int(self.headers.get("Content-Length", 0))
                self.rfile.read(length)
                import time

                time.sleep(0.01)  # hold the slot so concurrency is observable
                self._json({"ok": True})
            finally:
                stats.leave()

    server = _Server(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, server.server_address[1], stats
