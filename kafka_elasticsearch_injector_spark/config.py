"""Configuration layer mirroring the reference's env-var surface
(reference README.md:15-42, src/kafka/config.go:7-17,
src/elasticsearch/config.go:34-98, src/injector/injector.go:14-61).

The reference's entire "query language" is this config: it fully
determines the consume→decode→enrich→filter→route→write plan. Here the
same dataclass compiles to a Structured Streaming DataFrame pipeline
(streaming/pipeline.py).

Validation happens at construction (fail fast at plan time) — the analog
of the reference erroring per-batch on missing routing columns
(src/models/record.go:30-42): strictly earlier, same contract.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass


def _parse_duration_seconds(s: str) -> float:
    """Subset of golang time.ParseDuration: '1s', '500ms', '2m', '1h'."""
    m = re.fullmatch(r"(\d+(?:\.\d+)?)(ms|s|m|h)", s.strip())
    if not m:
        raise ValueError(f"bad duration {s!r} (want e.g. '1s', '500ms', '2m')")
    val, unit = float(m.group(1)), m.group(2)
    return val * {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0}[unit]


def _parse_size_bytes(s: str) -> int:
    """'5mb', '512kb', '1gb', or plain bytes ('5242880')."""
    m = re.fullmatch(r"(\d+)\s*(kb|mb|gb)?", s.strip().lower())
    if not m:
        raise ValueError(
            f"bad size {s!r} (want e.g. '5mb', '512kb', or plain bytes)")
    return int(m.group(1)) * {None: 1, "kb": 1 << 10, "mb": 1 << 20,
                              "gb": 1 << 30}[m.group(2)]


def _compose_host(host: str, scheme: str) -> str:
    """ELASTICSEARCH_SCHEME applies only when the host has no scheme of
    its own (reference src/elasticsearch/config.go builds url from
    scheme + host)."""
    return host if "://" in host else f"{scheme}://{host}"


@dataclass(frozen=True)
class InjectorConfig:
    # Kafka source (KAFKA_* env vars)
    kafka_address: str = "localhost:9092"
    topics: tuple[str, ...] = ()
    consumer_group: str = "spark-injector"
    record_type: str = "avro"            # KAFKA_CONSUMER_RECORD_TYPE: avro|json
    include_key: bool = False            # KAFKA_CONSUMER_INCLUDE_KEY
    batch_size: int = 100                # KAFKA_CONSUMER_BATCH_SIZE → maxOffsetsPerTrigger scale
    concurrency: int = 1                 # KAFKA_CONSUMER_CONCURRENCY → minPartitions
    buffer_size: int | None = None       # KAFKA_CONSUMER_BUFFER_SIZE (default batch×concurrency,
                                         # injector.go:31-34) → maxOffsetsPerTrigger
    # KAFKA_STARTING_OFFSETS: where a FRESH checkpoint starts —
    # "latest" (reference parity: sarama's OffsetNewest default),
    # "earliest" (full-topic backfill), or a per-partition JSON object
    # (the Spark connector's startingOffsets syntax). Once the
    # checkpoint exists it owns the offsets and this is ignored.
    starting_offsets: str = "latest"
    schema_registry_url: str | None = None

    # Elasticsearch sink (ES_* / ELASTICSEARCH_* env vars)
    es_host: str = "http://localhost:9200"
    es_user: str | None = None           # ELASTICSEARCH_USER
    es_password: str | None = None       # ELASTICSEARCH_PASSWORD
    es_ignore_cert: bool = False         # ELASTICSEARCH_IGNORE_CERT
    probes_port: int | None = None       # PROBES_PORT (streaming/probes.py)
    # K8S_LIVENESS_ROUTE / K8S_READINESS_ROUTE (reference README.md:23-24,
    # both REQUIRED there; src/probes/probes.go:9-10 reads them raw and
    # registers the mux handlers at whatever paths they hold). Existing
    # k8s manifests carry custom probe paths — porting one must not
    # require rewriting it. Unset here falls back to /healthz and
    # /readiness (this repo's documented defaults) instead of the
    # reference's crash-on-empty-route, a strict superset.
    liveness_route: str = "/healthz"
    readiness_route: str = "/readiness"
    # METRICS_PORT (reference README.md:35, served by promhttp in
    # metrics_instrumenter.go:10-14): a dedicated port for the
    # Prometheus /metrics endpoint. None (default) keeps serving
    # /metrics on the probes server — same process-shape as the
    # reference, one port fewer to wire; set it to split scrape
    # traffic from the k8s probe surface exactly like the Go binary.
    metrics_port: int | None = None
    # LOG_LEVEL (reference README.md:34, logger_builder.go:20-31):
    # DEBUG | INFO | WARN | NONE. The reference silently treats any
    # other value as INFO; we fail fast instead (same divergence as
    # ES_TIME_SUFFIX — a typo'd DEBUG that quietly runs at INFO hides
    # exactly the evidence you set it for).
    log_level: str = "INFO"
    es_index: str | None = None          # ES_INDEX (None → topic name)
    es_index_prefix: str = ""            # ES_INDEX_PREFIX
    es_index_column: str | None = None   # ES_INDEX_COLUMN
    es_doc_id_column: str | None = None  # ES_DOC_ID_COLUMN
    es_time_suffix: str = "day"          # ES_TIME_SUFFIX: day|hour
    blacklisted_columns: tuple[str, ...] = ()  # ES_BLACKLISTED_COLUMNS
    bulk_timeout_s: float = 1.0          # ES_BULK_TIMEOUT
    bulk_backoff_s: float = 1.0          # ES_BULK_BACKOFF
    # ES_BULK_COMPRESS: gzip the _bulk bodies (Content-Encoding: gzip;
    # ES honors it when http.compression is enabled, its default).
    # Spark-side addition — NDJSON compresses 5-10x, and wide-area bulk
    # ingest is usually network-bound; off by default for reference
    # parity (the Go client sends identity bodies).
    es_bulk_compress: bool = False
    # ES_BULK_MAX_BYTES: additional per-bulk BODY size cap ("5mb",
    # "512kb", or plain bytes). ES sizes bulk guidance in MB, not rows;
    # None keeps the reference's pure row-count batching.
    bulk_max_bytes: int | None = None

    def __post_init__(self) -> None:
        if self.record_type not in ("avro", "json"):
            raise ValueError(
                f"KAFKA_CONSUMER_RECORD_TYPE must be avro|json, got {self.record_type!r}")
        if self.es_time_suffix not in ("day", "hour"):
            # reference: unknown suffix falls back silently (config.go:51-57);
            # we fail fast instead — a silent fallback hides routing bugs.
            raise ValueError(
                f"ES_TIME_SUFFIX must be day|hour, got {self.es_time_suffix!r}")
        if self.record_type == "avro" and not self.schema_registry_url:
            raise ValueError("SCHEMA_REGISTRY_URL required for avro records")
        if self.bulk_max_bytes is not None and self.bulk_max_bytes < 1:
            # 0 would silently flush one record per bulk — a ~batch_size×
            # throughput collapse, not a plausible intent
            raise ValueError(
                f"ES_BULK_MAX_BYTES must be >= 1, got {self.bulk_max_bytes}")
        if (self.starting_offsets not in ("latest", "earliest")
                and not self.starting_offsets.strip().startswith("{")):
            raise ValueError(
                "KAFKA_STARTING_OFFSETS must be latest|earliest or a "
                f"per-partition JSON object, got {self.starting_offsets!r}")
        if self.log_level not in ("DEBUG", "INFO", "WARN", "NONE"):
            raise ValueError(
                f"LOG_LEVEL must be DEBUG|INFO|WARN|NONE, "
                f"got {self.log_level!r}")
        if self.metrics_port is not None and not 0 <= self.metrics_port <= 65535:
            raise ValueError(
                f"METRICS_PORT must be a port number, got {self.metrics_port}")
        for var, route in (("K8S_LIVENESS_ROUTE", self.liveness_route),
                           ("K8S_READINESS_ROUTE", self.readiness_route)):
            # The Go mux silently never matches a pattern without a
            # leading "/" (http.ServeMux panics on "" and ignores bare
            # names) — fail fast instead of serving 404s to kubelet.
            if not route.startswith("/"):
                raise ValueError(
                    f"{var} must start with '/', got {route!r}")
            # /metrics is the Prometheus surface on the SAME server
            # unless metrics_split. In that folded topology the probe
            # handler matches liveness/readiness FIRST, so a probe
            # route at /metrics would silently shadow the scrape
            # endpoint with a bare 200 "ok" — zero samples, no error.
            # With a split metrics server the probes server has no
            # /metrics branch and the reference (promhttp on its own
            # port) allows the route — so do we. With NO probes server
            # at all (PROBES_PORT unset) the routes are never served,
            # so nothing can be shadowed.
            if (route == "/metrics" and self.probes_port is not None
                    and not self.metrics_split):
                raise ValueError(
                    f"{var} must not be /metrics while the Prometheus "
                    "endpoint is served on the probes server (set a "
                    "distinct METRICS_PORT to free the path)")
        if self.liveness_route == self.readiness_route:
            raise ValueError(
                "K8S_LIVENESS_ROUTE and K8S_READINESS_ROUTE must differ, "
                f"both are {self.liveness_route!r}")

    @property
    def metrics_split(self) -> bool:
        """Whether /metrics gets its own server on METRICS_PORT
        (reference cmd/injector.go:33 + promhttp: scrape traffic off
        the probe surface, the probes server reverts to probes-only).
        Unset, /metrics stays on the probes server — one port, same
        endpoints either way. Port 0 is ephemeral, so two 0s are two
        DIFFERENT resolved ports: 0 always splits, and only a literal
        shared non-zero port means "one server"."""
        return (self.metrics_port is not None
                and (self.metrics_port == 0
                     or self.metrics_port != self.probes_port))

    def python_log_level(self) -> int:
        """The stdlib-logging level for LOG_LEVEL (logger_builder.go's
        level.Allow* filters): NONE maps above CRITICAL so nothing
        passes the filter, matching level.AllowNone()."""
        import logging

        return {"DEBUG": logging.DEBUG, "INFO": logging.INFO,
                "WARN": logging.WARNING,
                "NONE": logging.CRITICAL + 1}[self.log_level]

    def spark_log_level(self) -> str:
        """The log4j level string for SparkContext.setLogLevel."""
        return {"DEBUG": "DEBUG", "INFO": "INFO",
                "WARN": "WARN", "NONE": "OFF"}[self.log_level]

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "InjectorConfig":
        """Build from the reference's env vars. Two are accepted and
        ignored: ELASTICSEARCH_DISABLE_SNIFFING (the transport posts only
        to the configured host, it never sniffs) and
        KAFKA_CONSUMER_METRICS_UPDATE_INTERVAL (metrics update on every
        micro-batch's progress event, there is no refresh ticker)."""
        e = dict(os.environ) if env is None else env

        def get(k: str, default: str = "") -> str:
            return e.get(k, default)

        return cls(
            kafka_address=get("KAFKA_ADDRESS", "localhost:9092"),
            topics=tuple(t for t in get("KAFKA_TOPICS").split(",") if t),
            consumer_group=get("KAFKA_CONSUMER_GROUP", "spark-injector"),
            record_type=get("KAFKA_CONSUMER_RECORD_TYPE", "avro"),
            include_key=get("KAFKA_CONSUMER_INCLUDE_KEY", "false").lower() == "true",
            batch_size=int(get("KAFKA_CONSUMER_BATCH_SIZE", "100")),
            concurrency=int(get("KAFKA_CONSUMER_CONCURRENCY", "1")),
            starting_offsets=get("KAFKA_STARTING_OFFSETS", "latest"),
            buffer_size=(int(e["KAFKA_CONSUMER_BUFFER_SIZE"])
                         if "KAFKA_CONSUMER_BUFFER_SIZE" in e else None),
            schema_registry_url=e.get("SCHEMA_REGISTRY_URL"),
            es_host=_compose_host(
                get("ELASTICSEARCH_HOST", "http://localhost:9200"),
                get("ELASTICSEARCH_SCHEME", "http")),
            es_user=e.get("ELASTICSEARCH_USER"),
            es_password=e.get("ELASTICSEARCH_PASSWORD"),
            es_ignore_cert=get("ELASTICSEARCH_IGNORE_CERT",
                               "false").lower() == "true",
            es_bulk_compress=get("ES_BULK_COMPRESS",
                                 "false").lower() == "true",
            bulk_max_bytes=(_parse_size_bytes(e["ES_BULK_MAX_BYTES"])
                            if "ES_BULK_MAX_BYTES" in e else None),
            probes_port=(int(e["PROBES_PORT"])
                         if "PROBES_PORT" in e else None),
            liveness_route=get("K8S_LIVENESS_ROUTE", "/healthz"),
            readiness_route=get("K8S_READINESS_ROUTE", "/readiness"),
            metrics_port=(int(e["METRICS_PORT"])
                          if "METRICS_PORT" in e else None),
            log_level=get("LOG_LEVEL", "INFO"),
            es_index=e.get("ES_INDEX"),
            es_index_prefix=get("ES_INDEX_PREFIX", ""),
            es_index_column=e.get("ES_INDEX_COLUMN"),
            es_doc_id_column=e.get("ES_DOC_ID_COLUMN"),
            es_time_suffix=get("ES_TIME_SUFFIX", "day"),
            blacklisted_columns=tuple(
                c for c in get("ES_BLACKLISTED_COLUMNS").split(",") if c),
            bulk_timeout_s=_parse_duration_seconds(get("ES_BULK_TIMEOUT", "1s")),
            bulk_backoff_s=_parse_duration_seconds(get("ES_BULK_BACKOFF", "1s")),
        )
