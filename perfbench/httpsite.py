"""The benchmark's own HTTP server for the live-fetch workload and the
fetch replays.

One ``ThreadingHTTPServer`` serves every host: hosts are distinct
127.0.0.0/8 loopback addresses, and the engine keys politeness by
hostname, so each address is its own politeness domain. The server binds
0.0.0.0 because a socket bound to one loopback address only accepts that
address.

Each response goes out in ONE write with Nagle's algorithm off. A server
that writes headers and body separately with Nagle on stalls every
reused keep-alive connection on the client's delayed ACK (~40 ms per
GET), which then dominates what a live crawl measures.

The server keeps a ledger: GETs per (host, path), robots.txt GETs per
host, and every error response.
"""

from __future__ import annotations

import threading
import time
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class Ledger:
    def __init__(self):
        self.lock = threading.Lock()
        self.gets = Counter()      # (host, path) -> GETs
        self.errors = []           # (host, path, status)

    def robots_gets(self):
        return sum(n for (_, p), n in self.gets.items()
                   if p == "/robots.txt")

    def page_gets(self):
        return sum(n for (_, p), n in self.gets.items()
                   if p != "/robots.txt")


class Site:
    """Serve ``pages(path) -> bytes | None`` for every host.

    ``tracer`` (optional) receives one span per request with its host,
    path, start and end; ``parent()`` names the span it belongs to."""

    def __init__(self, pages, tracer=None, parent=None):
        ledger = self.ledger = Ledger()

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            disable_nagle_algorithm = True

            def do_GET(self):
                t0 = time.perf_counter()
                host = self.headers.get("Host", "").rsplit(":", 1)[0]
                body = pages(self.path)
                status = 200 if body is not None else 404
                with ledger.lock:
                    ledger.gets[(host, self.path)] += 1
                    if status != 200:
                        ledger.errors.append((host, self.path, status))
                self._reply(status, body or b"")
                if tracer is not None:
                    tracer.record("server.request", t0, time.perf_counter(),
                                  parent=parent() if parent else None,
                                  host=host, path=self.path, status=status)

            def _reply(self, status, body):
                reason = "OK" if status == 200 else "Not Found"
                head = (f"HTTP/1.1 {status} {reason}\r\n"
                        f"Content-Type: text/html\r\n"
                        f"Content-Length: {len(body)}\r\n\r\n").encode()
                self.wfile.write(head + body)

            def log_message(self, *a):
                pass

        self._srv = ThreadingHTTPServer(("0.0.0.0", 0), Handler)
        self._srv.daemon_threads = True
        self.port = self._srv.server_port
        self._thread = threading.Thread(target=self._srv.serve_forever,
                                        name="perfbench-site", daemon=True)
        self._thread.start()

    def close(self):
        self._srv.shutdown()
        self._srv.server_close()
        self._thread.join(timeout=10)


def loopback_host(i: int) -> str:
    """Host i of the live site: a distinct 127.0.x.y address."""
    return f"127.0.{i // 250}.{i % 250 + 1}"
