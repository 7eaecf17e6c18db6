"""Runnable service entrypoint: ``python -m kafka_elasticsearch_injector_spark``.

The reference deploys as a container configured purely by environment
variables (reference README.md env table; src/injector/injector.go);
this module is the same operational contract on Spark: read
``InjectorConfig.from_env()``, build a streaming-mode session, start
the Kafka → decode/enrich/route → Elasticsearch pipeline with the
production ``HttpTransport``, serve the health probes and Prometheus
metrics the reference exposes, and block until termination.

Spark-side additions beyond the reference's env surface (concerns the
Go binary didn't have):

- ``CHECKPOINT_DIR`` (required): streaming checkpoint location — this
  is the offset store (the reference kept offsets in Kafka's consumer
  group; Structured Streaming owns them in the checkpoint).
- ``PAYLOAD_SCHEMA_DDL`` (optional for ``KAFKA_CONSUMER_RECORD_TYPE=
  json``): DDL schema of the JSON payload, e.g. ``"id STRING, value
  INT"`` — typed decode with plan-time routing-column checks. Omitted,
  the pipeline runs SCHEMALESS exactly like the reference (decode into
  a dynamic map, encode_decode.go:87-113): any JSON object ingests
  with its fields passed through faithfully via map<string,variant>.
- ``AVRO_READER_SCHEMA_ID`` (required for ``KAFKA_CONSUMER_RECORD_TYPE=
  avro``) / ``AVRO_KEY_READER_SCHEMA_ID`` (required for avro with
  ``KAFKA_CONSUMER_INCLUDE_KEY=true``): the registry ids of the
  plan-time reader schemas that every writer schema is resolved to.
  There is no default; ``main`` exits naming the missing variable
  before it starts Spark.
- ``DEAD_LETTER_DIR`` (optional): quarantine parquet directory for
  undeliverable records (nil/corrupt payloads) — the reference only
  logs-and-skips (consumer.go:154-159).
- ``TRIGGER_SECONDS`` (optional, default 1.0): micro-batch trigger.

Deployment: the Kafka connector must be on the classpath —
``spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:
<spark-version> -m ...`` or the cluster image's jars dir.
"""

from __future__ import annotations

import os
import sys

from .config import InjectorConfig
from .session import get_spark
from .sources.schema_registry import SchemaRegistryClient
from .streaming.es_sink import HttpTransport
from .streaming.metrics import InjectorMetrics
from .streaming.pipeline import start_pipeline
from .streaming.probes import start_probes


def main(env: dict[str, str] | None = None, source_df=None):
    """Wire config → session → pipeline → probes; returns
    (query, probes, metrics_server) — metrics_server is a separate
    /metrics HTTP server when METRICS_PORT is set to a distinct port,
    else None (tests inject `env`/`source_df`; the CLI blocks on
    awaitTermination)."""
    e = dict(os.environ) if env is None else env
    cfg = InjectorConfig.from_env(e)
    if not cfg.topics and source_df is None:
        raise SystemExit("KAFKA_TOPICS must name at least one topic")
    checkpoint_dir = e.get("CHECKPOINT_DIR")
    if not checkpoint_dir:
        raise SystemExit("CHECKPOINT_DIR is required (offset store)")
    # PAYLOAD_SCHEMA_DDL is OPTIONAL for json records: without it the
    # pipeline runs schemaless (map<string,variant> passthrough) — the
    # reference's default mode, which never declares a schema anywhere
    # (encode_decode.go:87-113). With it, decode is typed/projected.
    payload_schema = e.get("PAYLOAD_SCHEMA_DDL") or None
    # Avro decode compiles against pinned reader schemas; a missing id
    # would otherwise surface only after the session is up.
    if cfg.record_type == "avro":
        if "AVRO_READER_SCHEMA_ID" not in e:
            raise SystemExit(
                "AVRO_READER_SCHEMA_ID is required for avro records")
        if cfg.include_key and "AVRO_KEY_READER_SCHEMA_ID" not in e:
            raise SystemExit(
                "AVRO_KEY_READER_SCHEMA_ID is required for avro records "
                "with KAFKA_CONSUMER_INCLUDE_KEY=true")

    # LOG_LEVEL (reference logger_builder.go:20-31) drives both the
    # Python service logs and the Spark driver's log4j level.
    import logging

    logging.getLogger().setLevel(cfg.python_log_level())
    spark = get_spark("kafka-elasticsearch-injector", mode="streaming")
    spark.sparkContext.setLogLevel(cfg.spark_log_level())
    registry = (SchemaRegistryClient(cfg.schema_registry_url)
                if cfg.schema_registry_url else None)
    metrics = InjectorMetrics()
    query = start_pipeline(
        spark, cfg, payload_schema,
        # Constructed ON each executor (from_config pickles cfg scalars).
        transport_factory=lambda c=cfg: HttpTransport.from_config(c),
        checkpoint_dir=checkpoint_dir,
        source_df=source_df,
        trigger_seconds=float(e.get("TRIGGER_SECONDS", "1.0")),
        registry=registry,
        reader_schema_id=(int(e["AVRO_READER_SCHEMA_ID"])
                          if "AVRO_READER_SCHEMA_ID" in e else None),
        key_reader_schema_id=(int(e["AVRO_KEY_READER_SCHEMA_ID"])
                              if "AVRO_KEY_READER_SCHEMA_ID" in e else None),
        metrics=metrics,
        dead_letter_dir=e.get("DEAD_LETTER_DIR"),
    )
    probes = (start_probes(cfg.probes_port,
                           ready_fn=lambda: query.isActive,
                           metrics_fn=(None if cfg.metrics_split
                                       else metrics.prometheus_text),
                           liveness_route=cfg.liveness_route,
                           readiness_route=cfg.readiness_route)
              if cfg.probes_port is not None else None)
    metrics_server = (start_probes(cfg.metrics_port,
                                   metrics_fn=metrics.prometheus_text)
                      if cfg.metrics_split else None)
    return query, probes, metrics_server


def install_signal_handlers(query) -> "object":
    """SIGTERM/SIGINT → orderly stop (reference cmd/injector.go:63-77:
    signal.Notify feeds the consumer loop's `case <-signals: return` —
    prompt loop exit, NOT a drain; in-flight goroutine batches die with
    the process there too). The Spark analog: StreamingQuery.stop()
    cancels the run's job group and interrupts the execution thread, so
    a mid-batch signal ABANDONS that batch — its offsets never commit
    and it replays from the checkpoint on the next start, where
    create-only 409 idempotence absorbs the duplicates
    (effectively-once either way). What stop() buys over a hard kill is
    the ORDERLY part: the checkpoint/WAL closes cleanly, Py4J/JVM
    shut down, probes report not-ready, and awaitTermination returns
    so the process exits by itself within the k8s grace period instead
    of eating the SIGKILL.

    stop() is dispatched on a fresh daemon thread, NOT inline in the
    handler: Python signal handlers run on the main thread, which is
    usually blocked inside the awaitTermination Py4J call — issuing a
    second Py4J call on that thread's gateway connection mid-call is a
    protocol violation. A new thread gets its own connection.

    A SECOND signal force-exits with the conventional 128+signum
    status (stop() can block indefinitely — spark.sql.streaming.
    stopTimeout waits for the execution thread by default — and an
    operator mashing Ctrl-C must still be able to kill the process).
    The first signal's number is recorded on the returned handler
    (`handler.state["fired"]`) so the CLI can exit 128+signum, keeping
    the shell convention (130 on interrupt) the bare KeyboardInterrupt
    path used to provide.

    Returns the handler (tests invoke it directly — delivering real
    signals to a shared test process would kill the runner)."""
    import os
    import signal
    import threading

    state = {"fired": None}

    def _stop_query(signum, frame):
        if state["fired"] is not None:
            os._exit(128 + signum)  # second signal: force quit
        state["fired"] = signum
        threading.Thread(target=query.stop, daemon=True).start()

    _stop_query.state = state
    signal.signal(signal.SIGTERM, _stop_query)
    signal.signal(signal.SIGINT, _stop_query)
    return _stop_query


if __name__ == "__main__":  # pragma: no cover - CLI shell
    q, _probes, _metrics_srv = main()
    _handler = install_signal_handlers(q)
    q.awaitTermination()   # returns after a signal-triggered stop()
    if _handler.state["fired"] is not None:
        sys.exit(128 + _handler.state["fired"])
