"""Elasticsearch bulk sink: create-only writes with status triage.

Re-expresses the reference's store/db layer (src/injector/store/
store.go:23-48, src/elasticsearch/elasticsearch.go:77-162) as an
executor-side partition writer for foreachBatch:

- bulk `create` (insert-if-absent) — op_type create is the idempotence
  trick: at-least-once delivery × stable doc ids ⇒ effectively-once
  (elasticsearch.go:155, 120-124).
- per-item triage: 201 created; 409 conflict → AlreadyExists, counted,
  NOT retried; 400 → dropped (bad request), counted; 429/5xx → retry
  queue with constant backoff (store.go:42-44) — the reference retries
  forever; we default to bounded retries (cfg.max_retries) because an
  unbounded loop can live-lock a partition (a reference bug noted in
  SURVEY.md §4.1).

Transports are pluggable + picklable (constructed on executors):
HttpTransport posts to a real ES _bulk endpoint; FileTransport gives
byte-for-byte create semantics on a shared filesystem (O_EXCL ⇒ 409)
for offline tests.
"""

from __future__ import annotations

import json
import os
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
        self._server_major: int | None = None  # sniffed lazily, cached

    @classmethod
    def from_config(cls, cfg) -> "HttpTransport":
        return cls(cfg.es_host, timeout_s=cfg.bulk_timeout_s,
                   user=cfg.es_user, password=cfg.es_password,
                   ignore_cert=cfg.es_ignore_cert,
                   compress=getattr(cfg, "es_bulk_compress", False))

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

    def ping(self) -> bool:
        import urllib.request

        try:
            req = urllib.request.Request(
                self.es_host, headers=self._headers())
            with self._open(req):
                return True
        except Exception:
            return False

    def server_major(self) -> int | None:
        """Sniffed ES major version (GET /, cached), None when the node
        is unreachable or the answer has no version — callers then
        assume the reference's ES 7 behavior. The bulk path needs no
        version branching (the action line is already typeless: _index
        + _id, no _type — valid on 6.x through current); only the
        template API split (legacy /_template vs 8.x composable
        /_index_template) keys off this."""
        if self._server_major is None:
            import urllib.request

            try:
                req = urllib.request.Request(
                    self.es_host, headers=self._headers())
                with self._open(req) as resp:
                    info = json.loads(resp.read())
                self._server_major = int(
                    info["version"]["number"].split(".")[0])
            except Exception:
                return None
        return self._server_major

    def _template_url(self, name: str, major: int | None = None) -> str:
        """Template endpoint for the given ES major. `major=None` means
        sniff-now (cached); callers that already sniffed (and chose a
        body shape accordingly) pass their answer so URL and body can
        never disagree — even when their sniff failed and a later one
        inside this call would succeed."""
        if major is None:
            major = self.server_major() or 7
        api = "_index_template" if major >= 8 else "_template"
        return f"{self.es_host}/{api}/{name}"

    def template_exists(self, name: str, major: int | None = None) -> bool:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            self._template_url(name, major), headers=self._headers(),
            method="HEAD")
        try:
            with self._open(req):
                return True
        except urllib.error.HTTPError as ex:
            if ex.code == 404:
                return False
            raise

    def put_template(self, name: str, body: dict,
                     major: int | None = None) -> None:
        import urllib.request

        req = urllib.request.Request(
            self._template_url(name, major),
            data=json.dumps(body).encode(),
            headers={**self._headers(),
                     "Content-Type": "application/json"},
            method="PUT")
        with self._open(req):
            pass


# The reference's index template (Makefile:17, applied idempotently in
# elasticsearch_test.go:136-143): @timestamp as epoch_millis date,
# string fields indexed as keyword.
DEFAULT_INDEX_TEMPLATE = {
    "template": "*",
    "settings": {"refresh_interval": "30s", "number_of_replicas": 0},
    "mappings": {
        "_source": {"enabled": "true"},
        "properties": {
            "@timestamp": {
                "format": "epoch_millis",
                "ignore_malformed": True,
                "type": "date",
            },
        },
        "dynamic_templates": [
            {"strings": {
                "match_mapping_type": "string",
                "mapping": {"type": "keyword", "index": True},
            }},
        ],
    },
}


def composable_template(legacy: dict, pattern: str) -> dict:
    """Re-shape a legacy (ES ≤7) index template body into the ES 8
    composable form: {"index_patterns": [...], "template": {settings,
    mappings}} (public index-template API migration)."""
    out = {"index_patterns": [pattern], "template": {}}
    for k in ("settings", "mappings"):
        if k in legacy:
            out["template"][k] = legacy[k]
    return out


def ensure_index_template(transport, name: str,
                          template: dict | None = None) -> bool:
    """Create the index template if absent (reference
    elasticsearch_test.go:136-143: IndexTemplateExists → IndexPutTemplate;
    operationally Makefile:17's curl). Returns True when created, False
    when it already existed. Driver-side, once per deploy — never in the
    per-batch path.

    The default body is version-aware: the reference targets ES 7
    legacy templates; against an ES 8+ node (version sniffed via
    transport.server_major) the same settings/mappings are sent in the
    composable /_index_template shape instead. An explicit `template`
    is sent verbatim — the caller owns its shape.

    `major` is part of the transport protocol: every transport's
    template_exists/put_template take `major: int | None = None`
    (version-agnostic backends like FileTransport may ignore it).
    Sniff ONCE here and thread the answer through this call's
    exists/put so body shape and URL always agree — without that, a
    transient sniff failure here (assume-7 legacy body) followed by a
    successful sniff inside _template_url (→ /_index_template) would
    PUT a legacy body at the composable endpoint, a guaranteed 400.
    The major is scoped to THIS call (no transport-state mutation), so
    a transient sniff failure never pins an ES 8 cluster onto the
    deprecated legacy API for the transport's lifetime: the next call
    re-sniffs."""
    major = getattr(transport, "server_major", lambda: None)() or 7

    if template is not None:
        body = template
    else:
        pattern = f"{name}-*"
        if major >= 8:
            body = composable_template(DEFAULT_INDEX_TEMPLATE, pattern)
        else:
            body = {**DEFAULT_INDEX_TEMPLATE, "template": pattern}
    if transport.template_exists(name, major=major):
        return False
    transport.put_template(name, body, major=major)
    return True


class FileTransport:
    """Filesystem fake with real create-only semantics: one file per doc
    at <root>/<index>/<doc_id>.json, O_CREAT|O_EXCL ⇒ EEXIST ⇒ 409.
    Executor-safe (works across Python worker processes) and inspectable
    by tests. Optional fail-first injection simulates 429 overload."""

    def __init__(self, root: str, fail_first: int = 0):
        self.root = root
        self._remaining_failures = fail_first

    def bulk_create(self, actions: list[tuple[str, str, str]]) -> list[BulkItemResult]:
        results = []
        for index_name, doc_id, payload in actions:
            if self._remaining_failures > 0:
                self._remaining_failures -= 1
                results.append(BulkItemResult(status=429))
                continue
            d = os.path.join(self.root, index_name)
            os.makedirs(d, exist_ok=True)
            try:
                fd = os.open(os.path.join(d, f"{doc_id}.json"),
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                results.append(BulkItemResult(status=409))
                continue
            with os.fdopen(fd, "w") as f:
                f.write(payload)
            results.append(BulkItemResult(status=201))
        return results

    def ping(self) -> bool:
        return os.path.isdir(self.root)

    def _template_path(self, name: str) -> str:
        return os.path.join(self.root, "_templates", f"{name}.json")

    def template_exists(self, name: str, major: int | None = None) -> bool:
        # `major` is protocol (see ensure_index_template); a filesystem
        # store has no legacy-vs-composable split, so it is ignored.
        return os.path.exists(self._template_path(name))

    def put_template(self, name: str, body: dict,
                     major: int | None = None) -> None:
        path = self._template_path(name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(body, f)


class NullTransport:
    """Always-succeeds transport (every doc 201). For throughput
    measurement of the engine path (decode→enrich→route→serialize→bulk
    assembly) without an Elasticsearch endpoint in the loop — the sink
    protocol runs in full, the network does not."""

    def bulk_create(self, actions: list[tuple[str, str, str]]) -> list[BulkItemResult]:
        return [BulkItemResult(status=201) for _ in actions]

    def ping(self) -> bool:
        return True


class ElasticBulkWriter:
    """Batch → bulk calls of cfg.batch_size with triage + bounded retry.

    `max_bytes` additionally caps each bulk's approximate BODY size
    (action line + payload per record): ES sizes its bulk guidance in
    megabytes, not rows — a row-count-only chunking under-fills bulks
    on skinny records and blows `http.max_content_length` (100 MB
    default) on wide ones. None (default) keeps the reference's pure
    row-count behavior (store.go:23-48 batches by count)."""

    def __init__(self, transport, batch_size: int = 100,
                 backoff_s: float = 1.0, max_retries: int | None = 10,
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
            if self.max_retries is not None and attempts > self.max_retries:
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
    strings via one C-side `to_pylist()` per batch. The bulk/triage/
    retry protocol is the same ElasticBulkWriter the row path uses
    (create-only + 409/400/429 triage, store.go:23-48 parity).

    Tasks yield ONE counters row each (STATS_SCHEMA); the driver action
    that runs the sink collects only those counters, never record data.

    Metrics flow back through the COLLECTED rows, not executor-side
    accumulator updates: mapInArrow is a transformation, and Spark's
    exactly-once accumulator guarantee holds only for actions — a
    retried/speculated task would double-count. The caller folds the
    collected rows into `sink_acc` on the driver (collect deduplicates
    retries by construction). The function takes no sink_acc anymore
    for exactly that reason.
    """
    batch_size = cfg.batch_size
    backoff_s = cfg.bulk_backoff_s
    max_retries = cfg.max_retries if cfg.max_retries is not None else 10
    max_bytes = getattr(cfg, "bulk_max_bytes", None)

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


def write_partition_factory(cfg, transport_factory, sink_acc=None):
    """Build the picklable per-partition writer used by foreachBatch.

    Row-at-a-time legacy path (kept for API compatibility and as the
    semantics twin in tests); the pipeline now uses write_arrow_factory.

    Only (cfg scalars, transport_factory, sink_acc) are captured — all
    picklable; the transport itself is constructed ON the executor.
    `sink_acc` (metrics.SinkAccumulators) folds each partition's
    BulkStats into driver-visible Prometheus counters.
    """
    batch_size = cfg.batch_size
    backoff_s = cfg.bulk_backoff_s
    max_retries = cfg.max_retries if cfg.max_retries is not None else 10
    max_bytes = getattr(cfg, "bulk_max_bytes", None)

    def write_partition(rows: Iterator) -> None:
        actions = [(r.index_name, r.doc_id, r.payload) for r in rows]
        if not actions:
            return
        writer = ElasticBulkWriter(
            transport_factory(), batch_size=batch_size,
            backoff_s=backoff_s, max_retries=max_retries,
            max_bytes=max_bytes)
        stats = writer.write(actions)
        if sink_acc is not None:
            sink_acc.add_stats(stats)

    return write_partition
