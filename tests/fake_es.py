"""In-process fake Elasticsearch over stdlib http.server.

The closest a no-services sandbox gets to the reference's
docker-compose e2e (docker-compose.yml:3-53, consumer_test.go:106-147):
a LIVE HTTP endpoint with real _bulk create-only semantics — 201 on
first insert, 409 on duplicate _id, 400 on malformed JSON payloads,
injectable 429 throttling for retry-path coverage. Tests drive the
production HttpTransport/ElasticBulkWriter/mapInArrow sink path
against it over a real socket, so the NDJSON framing, headers, and
triage logic are exercised end-to-end.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def start_http_server(handler_cls) -> tuple[ThreadingHTTPServer, str]:
    """Shared scaffolding for in-process HTTP fakes: bind an ephemeral
    127.0.0.1 port, serve on a daemon thread, return (server, url).
    Callers stop with server.shutdown(); server.server_close()."""
    server = ThreadingHTTPServer(("127.0.0.1", 0), handler_cls)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server, f"http://127.0.0.1:{server.server_address[1]}"


class FakeES:
    """Stateful fake ES node; one instance per test.

    `docs` maps (index, _id) -> parsed payload. `throttle_bulks` makes
    the next N _bulk requests answer every item with 429 (create-only
    retry path); `reject_bulks` makes the next N _bulk requests fail at
    the REQUEST level with HTTP `reject_status` (the bulk-queue-full /
    node-restart shape — no items array at all). Both decrement per
    request, so a writer with retries eventually succeeds.
    `reject_from` instead rejects every request ONCE `bulk_requests`
    has reached it (the node-dies-mid-stream shape: the first bulks
    land, then everything fails until the knob is cleared to None) —
    the crash-recovery e2e uses it to kill a query after a partial
    write.
    """

    def __init__(self):
        self.docs: dict[tuple[str, str], dict] = {}
        self.gzip_bulks = 0               # _bulk requests that arrived gzipped
        self.bulk_requests = 0
        self.throttle_bulks = 0
        self.reject_bulks = 0
        self.reject_from: int | None = None
        self.reject_status = 429
        self._lock = threading.Lock()
        self._server: ThreadingHTTPServer | None = None

    # ------------------------------------------------------------ server

    def start(self) -> str:
        fake = self

        class Handler(BaseHTTPRequestHandler):
            def _reply(self, code: int, body: bytes = b""):
                self.send_response(code)
                self.send_header("Content-Length", str(len(body)))
                if body:
                    self.send_header("Content-Type", "application/json")
                self.end_headers()
                if body:
                    self.wfile.write(body)

            def do_POST(self):  # noqa: N802 — _bulk
                body = self.rfile.read(int(self.headers["Content-Length"]))
                if self.headers.get("Content-Encoding") == "gzip":
                    # real ES decompresses when http.compression is on
                    import gzip

                    body = gzip.decompress(body)
                    with fake._lock:
                        fake.gzip_bulks += 1
                if self.path != "/_bulk":
                    self._reply(404)
                    return
                with fake._lock:
                    count_triggered = fake.reject_bulks > 0
                    rejected = (count_triggered
                                or (fake.reject_from is not None
                                    and fake.bulk_requests >= fake.reject_from))
                    if rejected:
                        # only the count-based knob consumes its budget:
                        # a reject_from-triggered rejection must not eat
                        # reject_bulks charges it never caused.
                        if count_triggered:
                            fake.reject_bulks -= 1
                        fake.bulk_requests += 1
                        status = fake.reject_status
                if rejected:
                    self._reply(status, b'{"error":"rejected"}')
                    return
                self._reply(200, fake._bulk(body))

            def log_message(self, *args):
                pass

        self._server, url = start_http_server(Handler)
        return url

    def stop(self):
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None

    # ------------------------------------------------------- bulk engine

    def _bulk(self, body: bytes) -> bytes:
        lines = body.decode().splitlines()
        with self._lock:
            self.bulk_requests += 1
            throttled = self.throttle_bulks > 0
            if throttled:
                self.throttle_bulks -= 1
            items = []
            for i in range(0, len(lines) - 1, 2):
                action = json.loads(lines[i])["create"]
                key = (action["_index"], action["_id"])
                if throttled:
                    items.append(429)
                    continue
                try:
                    payload = json.loads(lines[i + 1])
                except (json.JSONDecodeError, ValueError):
                    items.append(400)
                    continue
                if key in self.docs:
                    items.append(409)
                else:
                    self.docs[key] = payload
                    items.append(201)
        return json.dumps({
            "errors": any(c not in (200, 201) for c in items),
            "items": [{"create": {"status": c}} for c in items],
        }).encode()
