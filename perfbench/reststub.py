"""In-process HTTP stub for the paginated REST source.

Serves pre-rendered pulse pages at ``/b<batch>/pulses/subscribed?page=N``
and injects ``429 Too Many Requests`` with ``Retry-After: 0`` on a seeded
set of pages: the first request for such a page is refused, so the
counts do not depend on the order in which Spark's tasks fetch pages.
"""

from __future__ import annotations

import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np


class PageStub:
    #: share of pages whose first request is refused: 66 refusals for 808
    #: published pages, the ratio an earlier probe of the REST source saw
    #: (2.0 % of its requests; see perfbench/README.md)
    FLAKY_SHARE = 66 / 808

    def __init__(self, seed: int):
        self._seed = seed
        self._lock = threading.Lock()
        self._pages: dict[int, list[bytes]] = {}
        self._flaky: dict[int, set[int]] = {}
        self._hits: dict[tuple[int, int], int] = {}
        self.ok = 0  # 200 responses
        self.refused = 0  # injected 429 responses
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 - http.server API
                stub._serve(self)

            def log_message(self, *args):
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()

    def base_url(self, batch: int) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}/b{batch}"

    def publish(self, batch: int, pages: list[bytes]) -> None:
        rng = np.random.default_rng([self._seed, 3, batch])
        flaky = {p + 1 for p in range(len(pages)) if rng.random() < self.FLAKY_SHARE}
        with self._lock:
            self._pages[batch] = pages
            self._flaky[batch] = flaky

    def counts(self) -> tuple[int, int]:
        with self._lock:
            return self.ok, self.refused

    def _serve(self, req: BaseHTTPRequestHandler) -> None:
        url = urllib.parse.urlsplit(req.path)
        batch = int(url.path.split("/")[1][1:])
        page = int(urllib.parse.parse_qs(url.query)["page"][0])
        with self._lock:
            pages = self._pages[batch]
            n = self._hits[(batch, page)] = self._hits.get((batch, page), 0) + 1
            refuse = page in self._flaky[batch] and n == 1
            if refuse:
                self.refused += 1
            else:
                self.ok += 1
        if refuse:
            req.send_response(429)
            req.send_header("Retry-After", "0")
            req.send_header("Content-Length", "0")
            req.end_headers()
            return
        body = pages[page - 1] if page <= len(pages) else b'{"results": []}'
        req.send_response(200)
        req.send_header("Content-Type", "application/json")
        req.send_header("Content-Length", str(len(body)))
        req.end_headers()
        req.wfile.write(body)

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join()
