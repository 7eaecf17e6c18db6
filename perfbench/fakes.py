"""Loopback stand-ins for the service's two HTTP dependencies.

``FakeElasticsearch`` answers ``POST /_bulk`` with Elasticsearch's
create-only semantics (201 for a new ``(_index, _id)``, 409 for a
repeat) and counts what the service sent; ``FakeSchemaRegistry`` answers
``GET /schemas/ids/<id>``. Both run on daemon threads of the benchmark
process and bind 127.0.0.1 on an ephemeral port.
"""

from __future__ import annotations

import gzip
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class _Server(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self, handler, state):
        self.state = state
        self.connections = 0
        super().__init__(("127.0.0.1", 0), handler)

    def process_request(self, request, client_address):
        self.connections += 1       # accept loop is single-threaded
        super().process_request(request, client_address)


class _Quiet(BaseHTTPRequestHandler):
    def log_message(self, *args):
        pass

    def _reply(self, code: int, body: bytes) -> None:
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


class _EsHandler(_Quiet):
    def do_GET(self):
        self._reply(200, b'{"version": {"number": "7.17.0"}}')

    def do_POST(self):
        t0 = time.perf_counter()
        raw = self.rfile.read(int(self.headers["Content-Length"]))
        if self.path != "/_bulk":
            self._reply(404, b"{}")
            return
        body = raw
        if self.headers.get("Content-Encoding") == "gzip":
            body = gzip.decompress(raw)
        lines = body.decode().split("\n")
        es: FakeElasticsearch = self.server.state
        items = []
        with es.lock:
            for action_line, doc in zip(lines[0::2], lines[1::2]):
                action = json.loads(action_line)["create"]
                key = (action["_index"], action["_id"])
                if key in es.docs:
                    status = 409
                    es.conflicts += 1
                else:
                    status = 201
                    es.docs[key] = doc
                    if es.first_ack is None:
                        es.first_ack = time.monotonic()
                items.append(f'{{"create":{{"status":{status}}}}}')
        self._reply(200, ('{"errors":false,"items":['
                          + ",".join(items) + "]}").encode())
        with es.lock:
            es.bulk_requests += 1
            es.bulk_bytes += len(raw)
            es.handle_s.append(time.perf_counter() - t0)


class _RegistryHandler(_Quiet):
    def do_GET(self):
        prefix = "/schemas/ids/"
        schemas = self.server.state
        if self.path.startswith(prefix):
            sid = int(self.path[len(prefix):])
            if sid in schemas:
                self._reply(200, json.dumps(
                    {"schema": json.dumps(schemas[sid])}).encode())
                return
        self._reply(404, b'{"error_code": 40403}')


class _Running:
    def __init__(self, handler, state):
        self._server = _Server(handler, state)
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        daemon=True)
        self._thread.start()
        self.url = f"http://127.0.0.1:{self._server.server_address[1]}"

    @property
    def connections(self) -> int:
        return self._server.connections

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)


class FakeElasticsearch:
    """Create-only ``_bulk`` endpoint that keeps every accepted document."""

    def __init__(self):
        self.lock = threading.Lock()
        self.docs: dict[tuple[str, str], str] = {}
        self.conflicts = 0
        self.bulk_requests = 0
        self.bulk_bytes = 0
        self.handle_s: list[float] = []
        self.first_ack: float | None = None
        self._running = _Running(_EsHandler, self)
        self.url = self._running.url

    @property
    def connections(self) -> int:
        return self._running.connections

    def counters(self) -> dict:
        with self.lock:
            return {"docs": len(self.docs), "conflicts": self.conflicts,
                    "bulk_requests": self.bulk_requests,
                    "bulk_bytes": self.bulk_bytes,
                    "connections": self.connections}

    def close(self) -> None:
        self._running.close()


class FakeSchemaRegistry:
    """Serves a fixed ``{id: schema}`` map."""

    def __init__(self, schemas: dict[int, dict]):
        self._running = _Running(_RegistryHandler, schemas)
        self.url = self._running.url

    def close(self) -> None:
        self._running.close()
