"""Elasticsearch bulk sink: create-only writes with status triage.

Re-expresses the reference's store/db layer (src/injector/store/
store.go:23-48, src/elasticsearch/elasticsearch.go:77-162) as an
executor-side Arrow writer (`write_arrow_factory`) that runs as a
`mapInArrow` node of the service's streaming plan:

- bulk `create` (insert-if-absent) — op_type create is the idempotence
  trick: at-least-once delivery × stable doc ids ⇒ effectively-once
  (elasticsearch.go:155, 120-124).
- per-item triage: 201 created; 409 conflict → AlreadyExists, counted,
  NOT retried; 400 → dropped (bad request), counted; 429/5xx → retry
  queue with constant backoff (store.go:42-44) — the reference retries
  forever; we default to bounded retries (cfg.max_retries) because an
  unbounded loop can live-lock a partition (a reference bug noted in
  SURVEY.md §4.1).

The writer calls one transport method, `bulk_create`, on a transport
built on the executor: HttpTransport posts to the ES _bulk endpoint,
and NullTransport acknowledges every record without a network.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator
from dataclasses import dataclass

try:  # CPython's C JSON string quoter (full escaping incl. non-ASCII)
    from json.encoder import encode_basestring_ascii as _quote
except ImportError:  # pragma: no cover - stdlib always has it
    def _quote(s: str) -> str:
        return json.dumps(s)


@dataclass
class BulkItemResult:
    """One bulk action's outcome. `reason` carries the transport-level
    failure detail for request/connection errors (empty for normal
    item-level statuses) so a retries-exhausted error names the actual
    cause instead of just a count."""
    status: int  # HTTP-style: 201 created, 409 conflict, 400 bad, 429 busy
    reason: str = ""


@dataclass
class BulkStats:
    """Per-call counters — the Prometheus metric analog
    (reference src/metrics/metrics.go recordsConsumed/AlreadyExists)."""

    created: int = 0
    already_exists: int = 0
    bad_request: int = 0
    retried: int = 0


class HttpTransport:
    """Minimal ES _bulk client over stdlib urllib (no external deps).

    Each executor core holds one transport, but it keeps no connection:
    `_open` calls `urllib.request.urlopen` once per request, so every
    bulk request opens and closes its own connection (the reference
    keeps one singleton client, elasticsearch.go:20,39-62).
    """

    def __init__(self, es_host: str, timeout_s: float = 1.0,
                 user: str | None = None, password: str | None = None,
                 ignore_cert: bool = False, compress: bool = False):
        self.es_host = es_host.rstrip("/")
        self.timeout_s = timeout_s
        self.user = user
        self.password = password
        self.ignore_cert = ignore_cert
        self.compress = compress            # gzip _bulk bodies

    @classmethod
    def from_config(cls, cfg) -> "HttpTransport":
        return cls(cfg.es_host, timeout_s=cfg.bulk_timeout_s,
                   user=cfg.es_user, password=cfg.es_password,
                   ignore_cert=cfg.es_ignore_cert,
                   compress=cfg.es_bulk_compress)

    def _headers(self) -> dict[str, str]:
        h = {"Content-Type": "application/x-ndjson"}
        if self.user is not None:
            import base64

            cred = f"{self.user}:{self.password or ''}".encode()
            h["Authorization"] = "Basic " + base64.b64encode(cred).decode()
        return h

    def _ssl_context(self):
        # ELASTICSEARCH_IGNORE_CERT=true parity: unverified TLS context.
        if not (self.ignore_cert and self.es_host.startswith("https")):
            return None
        import ssl

        return ssl._create_unverified_context()

    def _open(self, req):
        import urllib.request

        ctx = self._ssl_context()
        kwargs = {"timeout": self.timeout_s}
        if ctx is not None:
            kwargs["context"] = ctx
        return urllib.request.urlopen(req, **kwargs)

    def bulk_create(self, actions: list[tuple[str, str, str]]) -> list[BulkItemResult]:
        import urllib.error
        import urllib.request

        # Action lines via the C-accelerated string quoter (correct JSON
        # escaping for arbitrary index names / doc ids) instead of
        # dict-build + json.dumps per action — the bulk-body assembly is
        # the per-record Python left on this path, so it gets the
        # cheapest correct encoding available.
        lines = []
        append = lines.append
        for index_name, doc_id, payload in actions:
            # str() first: callers historically passed e.g. int doc ids
            # (json.dumps serialized them; ES coerces _id to string
            # anyway) — the C quoter itself accepts only str.
            append('{"create":{"_index":' + _quote(str(index_name))
                   + ',"_id":' + _quote(str(doc_id)) + "}}")
            append(payload)
        body = ("\n".join(lines) + "\n").encode()
        headers = self._headers()
        if self.compress:
            # ES honors Content-Encoding: gzip on _bulk when
            # http.compression is on (its default); NDJSON compresses
            # 5-10x and bulk ingest is usually network-bound.
            import gzip

            body = gzip.compress(body, compresslevel=1)
            headers["Content-Encoding"] = "gzip"
        req = urllib.request.Request(
            f"{self.es_host}/_bulk", data=body, headers=headers)
        # Real ES can refuse the WHOLE request, not just items: HTTP 429
        # when the bulk queue is full, 5xx during node restarts, and
        # connection-level failures during rolling upgrades. Those are
        # transient — surface them as a uniform item status (with the
        # failure detail in `reason`) so the writer's triage loop
        # retries with backoff (the reference retries the whole bulk on
        # any store error, store.go:33-46) instead of the exception
        # killing the foreachPartition task and failing the micro-batch.
        # Permanent config errors — other 4xx (auth, bad endpoint) and
        # DNS resolution failures (a typo'd es_host can never succeed) —
        # propagate: retrying cannot fix them.
        try:
            with self._open(req) as resp:
                out = json.loads(resp.read())
        except urllib.error.HTTPError as ex:
            if ex.code == 429 or ex.code >= 500:
                return [BulkItemResult(status=ex.code,
                                       reason=f"bulk HTTP {ex.code}")
                        ] * len(actions)
            raise
        except urllib.error.URLError as ex:
            import socket

            if isinstance(ex.reason, socket.gaierror):
                raise
            return [BulkItemResult(status=503, reason=repr(ex))
                    ] * len(actions)
        except (TimeoutError, ConnectionError) as ex:
            return [BulkItemResult(status=503, reason=repr(ex))
                    ] * len(actions)
        return [BulkItemResult(status=item["create"]["status"])
                for item in out["items"]]


class NullTransport:
    """Always-succeeds transport (every doc 201). For throughput
    measurement of the engine path (decode→enrich→route→serialize→bulk
    assembly) without an Elasticsearch endpoint in the loop — the sink
    protocol runs in full, the network does not."""

    def bulk_create(self, actions: list[tuple[str, str, str]]) -> list[BulkItemResult]:
        return [BulkItemResult(status=201) for _ in actions]


class ElasticBulkWriter:
    """Batch → bulk calls of cfg.batch_size with triage + bounded retry.

    `max_bytes` additionally caps each bulk's approximate BODY size
    (action line + payload per record): ES sizes its bulk guidance in
    megabytes, not rows — a row-count-only chunking under-fills bulks
    on skinny records and blows `http.max_content_length` (100 MB
    default) on wide ones. None (default) keeps the reference's pure
    row-count behavior (store.go:23-48 batches by count)."""

    def __init__(self, transport, batch_size: int = 100,
                 backoff_s: float = 1.0, max_retries: int = 10,
                 max_bytes: int | None = None):
        self.transport = transport
        self.batch_size = batch_size
        self.backoff_s = backoff_s
        self.max_retries = max_retries
        self.max_bytes = max_bytes
        self.stats = BulkStats()

    def _chunks(self, actions: list[tuple[str, str, str]]):
        if self.max_bytes is None:
            for i in range(0, len(actions), self.batch_size):
                yield actions[i:i + self.batch_size]
            return
        chunk: list[tuple[str, str, str]] = []
        size = 0
        for a in actions:
            # ~body contribution: action line (fixed frame + index +
            # id) + payload + newlines — in ENCODED bytes, not Python
            # chars (a CJK-heavy payload is 3 UTF-8 bytes per char; a
            # char count would let the body blow the cap 3x and trip
            # the http.max_content_length this cap exists to respect)
            a_size = (40 + len(str(a[0]).encode("utf-8"))
                      + len(str(a[1]).encode("utf-8"))
                      + len(a[2].encode("utf-8")))
            if chunk and (len(chunk) >= self.batch_size
                          or size + a_size > self.max_bytes):
                yield chunk
                chunk, size = [], 0
            chunk.append(a)
            size += a_size
        if chunk:
            yield chunk

    def write(self, actions: list[tuple[str, str, str]]) -> BulkStats:
        for chunk in self._chunks(actions):
            self._write_chunk(chunk)
        return self.stats

    def _write_chunk(self, chunk: list[tuple[str, str, str]]) -> None:
        attempts = 0
        pending = chunk
        last_reason = ""
        while pending:
            results = self.transport.bulk_create(pending)
            retry = []
            for action, res in zip(pending, results):
                if res.status in (200, 201):
                    self.stats.created += 1
                elif res.status == 409:
                    self.stats.already_exists += 1   # NOT retried
                elif res.status == 400:
                    self.stats.bad_request += 1      # dropped
                else:                                # 429 / 5xx
                    retry.append(action)
                    if res.reason:
                        last_reason = res.reason
            if not retry:
                return
            attempts += 1
            if attempts > self.max_retries:
                raise RuntimeError(
                    f"bulk write failed after {attempts} attempts for "
                    f"{len(retry)} records"
                    + (f"; last failure: {last_reason}" if last_reason
                       else ""))
            self.stats.retried += len(retry)
            time.sleep(self.backoff_s)
            pending = retry


#: Output schema of the Arrow sink tasks: one counters row per task.
STATS_SCHEMA = ("created long, already_exists long, bad_request long, "
                "retried long")


def write_arrow_factory(cfg, transport_factory):
    """Build the Arrow-batched executor sink for `DataFrame.mapInArrow`.

    The 100×-scale encode path (SURVEY §4.1 watch-item closed in r11):
    records cross JVM→Python as Arrow RecordBatches — no per-row pickle,
    no Row object construction — and each column lands as plain Python
    strings via one C-side `to_pylist()` per batch, fed to
    ElasticBulkWriter (create-only + 409/400/429 triage, store.go:23-48
    parity).

    Tasks yield ONE counters row each (STATS_SCHEMA); the driver action
    that runs the sink collects only those counters, never record data.
    The writer has a side effect, so exactly one action may run it per
    micro-batch: a second one would send every bulk again.

    Metrics flow back through the COLLECTED rows, not executor-side
    accumulator updates: mapInArrow is a transformation, and Spark's
    exactly-once accumulator guarantee holds only for actions — a
    retried/speculated task would double-count. The caller folds the
    collected rows into its totals on the driver (collect deduplicates
    retries by construction).
    """
    batch_size = cfg.batch_size
    backoff_s = cfg.bulk_backoff_s
    max_retries = cfg.max_retries
    max_bytes = cfg.bulk_max_bytes

    def write_arrow(batches: Iterator) -> Iterator:
        import pyarrow as pa

        writer = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            if writer is None:
                writer = ElasticBulkWriter(
                    transport_factory(), batch_size=batch_size,
                    backoff_s=backoff_s, max_retries=max_retries,
                    max_bytes=max_bytes)
            writer.write(list(zip(
                batch.column("index_name").to_pylist(),
                batch.column("doc_id").to_pylist(),
                batch.column("payload").to_pylist())))
        stats = writer.stats if writer is not None else BulkStats()
        yield pa.RecordBatch.from_pylist([{
            "created": stats.created,
            "already_exists": stats.already_exists,
            "bad_request": stats.bad_request,
            "retried": stats.retried,
        }])

    return write_arrow
