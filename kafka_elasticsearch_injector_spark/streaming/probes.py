"""Kubernetes-style health probes for the streaming driver.

Mirrors the reference's probes server (src/probes/probes.go:65-81,
started in cmd/injector.go:24-32, port from PROBES_PORT): liveness is
constant-true (cmd/injector.go:26-28). Readiness is whatever `ready_fn`
reports; the service passes `lambda: query.isActive`, where the
reference pings Elasticsearch (src/injector/service.go:23-25).

Runs a daemon-thread stdlib HTTP server next to the Spark driver — no
executor involvement. Endpoints: /healthz (always 200) and /readiness
(200 when `ready_fn()` is truthy, else 503) by default; both paths are
configurable (K8S_LIVENESS_ROUTE / K8S_READINESS_ROUTE, reference
README.md:23-24 — probes.go:9-10 registers its mux handlers at exactly
the env-var paths, so existing k8s manifests with custom probe routes
port unchanged).
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class ProbeServer:
    def __init__(self, port: int, ready_fn: Callable[[], bool] | None = None,
                 metrics_fn: Callable[[], str] | None = None,
                 liveness_route: str = "/healthz",
                 readiness_route: str = "/readiness"):
        self.ready_fn = ready_fn or (lambda: True)
        self.metrics_fn = metrics_fn
        self.liveness_route = liveness_route
        self.readiness_route = readiness_route
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib casing)
                if self.path == outer.liveness_route:
                    self._reply(200, b"ok")
                elif self.path == outer.readiness_route:
                    try:
                        ready = bool(outer.ready_fn())
                    except Exception:
                        ready = False
                    self._reply(200 if ready else 503,
                                b"ready" if ready else b"not ready")
                elif self.path == "/metrics" and outer.metrics_fn is not None:
                    # Prometheus text exposition — the reference's
                    # promhttp handler (metrics_instrumenter.go:10-14).
                    try:
                        body = outer.metrics_fn().encode()
                    except Exception as ex:  # noqa: BLE001 — scrape-safe
                        self._reply(500, f"metrics error: {ex}".encode())
                        return
                    self._reply(200, body,
                                "text/plain; version=0.0.4; charset=utf-8")
                else:
                    self._reply(404, b"not found")

            def _reply(self, code: int, body: bytes,
                       content_type: str = "text/plain") -> None:
                self.send_response(code)
                self.send_header("Content-Type", content_type)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args) -> None:  # quiet
                pass

        self._server = ThreadingHTTPServer(("0.0.0.0", port), Handler)
        self.port = self._server.server_address[1]  # resolved when port=0
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True)

    def start(self) -> "ProbeServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()


def start_probes(port: int,
                 ready_fn: Callable[[], bool] | None = None,
                 metrics_fn: Callable[[], str] | None = None,
                 liveness_route: str = "/healthz",
                 readiness_route: str = "/readiness") -> ProbeServer:
    """Start the probe server (port 0 → ephemeral, see `.port`).
    Pass `metrics_fn` (e.g. InjectorMetrics.prometheus_text) to also
    serve /metrics; route overrides come from K8S_LIVENESS_ROUTE /
    K8S_READINESS_ROUTE via InjectorConfig."""
    return ProbeServer(port, ready_fn, metrics_fn,
                       liveness_route=liveness_route,
                       readiness_route=readiness_route).start()
