"""``ingest-avro-drain``: the injector service draining a fixed Avro backlog.

The service is started exactly as deployed — ``__main__.main(env)`` with
the production ``HttpTransport`` — except that its Kafka source is
replaced through the ``source_df`` hook by a parquet file stream with
Kafka's columns. A feeder thread keeps a constant backlog of unconsumed
records ahead of the stream (closed loop), in files of
``cap / PARTITIONS`` records, one file per partition per trigger, so
every micro-batch holds the per-trigger cap the service derives from its
own config and runs one task per partition.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import threading
import time
import urllib.request

import pyarrow.parquet as pq

from datagen import AVRO_SCHEMA, SCHEMA_ID, AvroCorpus
from fakes import FakeElasticsearch, FakeSchemaRegistry
from stats import median, tail
from tracing import job_shape

PARTITIONS = 4
BACKLOG_BATCHES = 2         # unacknowledged records kept ahead, in batches
WARMUP_BATCHES = 3          # batches after the first that are not measured
PAYLOAD_SAMPLE = 2000       # documents whose payload is checked field by field
INDEX_PREFIX = "bench-"
KAFKA_SCHEMA = ("key binary, value binary, topic string, partition int, "
                "offset bigint, timestamp timestamp")
PHASES = ("triggerExecution", "latestOffset", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets")

# Deployed configuration (the service's env-var surface). Bulk size and
# per-trigger cap follow the service defaults (KAFKA_CONSUMER_BATCH_SIZE
# 100, concurrency 1); the trigger is 0 s because a drain measures
# capacity: with the default 1 s trigger and ~1 s batches, trigger
# alignment would quantise throughput.
SERVICE_ENV = {
    "KAFKA_TOPICS": AvroCorpus.TOPIC,
    "KAFKA_CONSUMER_RECORD_TYPE": "avro",
    "AVRO_READER_SCHEMA_ID": str(SCHEMA_ID),
    "ES_INDEX_PREFIX": INDEX_PREFIX,
    "ES_BULK_TIMEOUT": "10s",
    "TRIGGER_SECONDS": "0",
    "LOG_LEVEL": "WARN",
    "PROBES_PORT": "0",
}


def per_trigger_cap(cfg) -> int:
    """The per-trigger record cap ``read_kafka_stream`` derives from the
    config (``maxOffsetsPerTrigger``)."""
    return cfg.buffer_size or cfg.batch_size * max(cfg.concurrency, 1) * 100


class Feeder(threading.Thread):
    """Keeps ``backlog`` unacknowledged records in the source directory.

    With two batches' worth, a full batch is already waiting while the
    one in flight runs; with less, the feeder races the next trigger and
    some batches start short."""

    def __init__(self, corpus: AvroCorpus, src_dir: str, file_rows: int,
                 backlog: int, es: FakeElasticsearch):
        super().__init__(daemon=True)
        self.corpus, self.src_dir, self.file_rows = corpus, src_dir, file_rows
        self.backlog, self.es = backlog, es
        self.written = 0
        self.files = 0
        self.stop_event = threading.Event()
        self.error: BaseException | None = None

    def write_file(self) -> None:
        tmp = os.path.join(self.src_dir, f".part-{self.files:06d}.parquet")
        pq.write_table(self.corpus.batch(self.written, self.file_rows), tmp)
        os.rename(tmp, os.path.join(self.src_dir,
                                    f"part-{self.files:06d}.parquet"))
        self.written += self.file_rows
        self.files += 1

    def run(self) -> None:
        try:
            while not self.stop_event.is_set():
                while self.written - len(self.es.docs) < self.backlog:
                    self.write_file()
                self.stop_event.wait(0.02)
        except BaseException as ex:  # reported by the workload
            self.error = ex


def _progress_epoch(p: dict) -> float:
    """Wall-clock start of a micro-batch from its progress event."""
    return dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ") \
        .replace(tzinfo=dt.timezone.utc).timestamp()


def _batch_end(p: dict) -> float:
    return _progress_epoch(p) + p["durationMs"]["triggerExecution"] / 1000


def _scrape(port: int) -> dict[str, float]:
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics",
                                timeout=10) as resp:
        text = resp.read().decode()
    out = {}
    for line in text.splitlines():
        if line and not line.startswith("#"):
            name, value = line.rsplit(" ", 1)
            out[name] = float(value)
    return out


def _check_docs(es: FakeElasticsearch, corpus: AvroCorpus, offered: int,
                seed: int) -> list[str]:
    """Every offered record acked once and routed as the service's
    contract says (``<prefix><topic>-<yyyy-MM-dd>``, ``"<partition>:
    <offset>"``); a seeded sample of payloads decoded field by field."""
    problems = []
    seen = set()
    sample = random.Random(seed)
    for (index, doc_id), payload in es.docs.items():
        seq = corpus.seq(doc_id)
        if not 0 <= seq < offered or seq in seen:
            problems.append(f"unexpected document {index}/{doc_id}")
        elif index != corpus.expected_index(INDEX_PREFIX, seq):
            problems.append(f"{doc_id} routed to {index}")
        elif (sample.random() < PAYLOAD_SAMPLE / offered
              and json.loads(payload) != corpus.expected_doc(seq)):
            problems.append(f"{doc_id} payload differs: {payload[:200]}")
        seen.add(seq)
        if len(problems) >= 5:
            break
    if len(seen) != offered:
        problems.append(f"acked {len(seen)} of {offered} offered records")
    if es.conflicts:
        problems.append(f"{es.conflicts} duplicate deliveries (409)")
    return problems


def _static_layers(spark, tracer, corpus: AvroCorpus, registry_url: str,
                   cfg, work: str) -> dict:
    """Per-layer throughputs over a static batch of the drain corpus,
    through the same public calls the service makes. The sink writes to
    its own fake Elasticsearch, so the stream's counters stay clean."""
    from kafka_elasticsearch_injector_spark.sources import decode_confluent
    from kafka_elasticsearch_injector_spark.sources.schema_registry import (
        SchemaRegistryClient,
    )
    from kafka_elasticsearch_injector_spark.streaming.es_sink import (
        ElasticBulkWriter, HttpTransport,
    )
    from kafka_elasticsearch_injector_spark.streaming.pipeline import (
        build_elastic_records,
    )

    n = 40_000
    path = os.path.join(work, "static.parquet")
    pq.write_table(corpus.batch(10_000_000, n), path)
    static = spark.read.schema(KAFKA_SCHEMA).parquet(path) \
        .repartition(PARTITIONS).cache()
    static.count()
    registry = SchemaRegistryClient(registry_url)
    out = {}

    def rate(name: str, df) -> float:
        df.write.format("noop").mode("overwrite").save()       # warm
        with tracer.span(name):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return n / (time.perf_counter() - t0)

    out["sources.decode_per_s"] = rate(
        "sources.decode", decode_confluent(static, registry, SCHEMA_ID))
    records = build_elastic_records(static, cfg, None, registry=registry,
                                    reader_schema_id=SCHEMA_ID)
    out["pipeline.project_per_s"] = rate("pipeline.project", records)

    actions = [(r.index_name, r.doc_id, r.payload)
               for r in records.limit(5_000).collect()]
    static.unpersist()

    class TracedTransport(HttpTransport):
        def bulk_create(self, chunk):
            with tracer.span("sink.bulk_create"):
                return super().bulk_create(chunk)

    es = FakeElasticsearch()
    try:
        writer = ElasticBulkWriter(
            TracedTransport(es.url, timeout_s=cfg.bulk_timeout_s),
            batch_size=cfg.batch_size, max_retries=0)
        with tracer.span("sink.write"):
            t0 = time.perf_counter()
            stats = writer.write(actions)
            out["sink.write_per_s"] = len(actions) / (time.perf_counter() - t0)
    finally:
        es.close()
    if stats.created != len(actions):
        raise RuntimeError(f"static sink created {stats.created} "
                           f"of {len(actions)}")
    self_s = tracer.self_seconds()
    bulks = len(tracer.durations("sink.bulk_create"))
    out["sink.http_ms"] = 1000 * median(tracer.durations("sink.bulk_create"))
    out["sink.write_self_ms"] = 1000 * self_s["sink.write"] / bulks
    return out


def run(spark, args, tracer, work: str) -> dict:
    from kafka_elasticsearch_injector_spark import __main__ as service
    from kafka_elasticsearch_injector_spark.config import InjectorConfig

    corpus = AvroCorpus(args.seed, PARTITIONS)
    es = FakeElasticsearch()
    registry = FakeSchemaRegistry({SCHEMA_ID: AVRO_SCHEMA})
    src_dir = os.path.join(work, "source")
    os.makedirs(src_dir)
    env = {**SERVICE_ENV,
           "SCHEMA_REGISTRY_URL": registry.url,
           "ELASTICSEARCH_HOST": es.url,
           "CHECKPOINT_DIR": os.path.join(work, "checkpoint")}
    cfg = InjectorConfig.from_env(env)
    cap = per_trigger_cap(cfg)
    feeder = Feeder(corpus, src_dir, cap // PARTITIONS,
                    BACKLOG_BATCHES * cap, es)
    query = probes = None
    try:
        feeder.start()
        while feeder.written < feeder.backlog and feeder.is_alive():
            time.sleep(0.01)
        t_call = time.monotonic()
        with tracer.span("service.main"):
            source = (spark.readStream.schema(KAFKA_SCHEMA)
                      .option("maxFilesPerTrigger", PARTITIONS)
                      .parquet(src_dir))
            query, probes, _ = service.main(env, source_df=source)
        while es.first_ack is None:
            if not query.isActive:
                raise RuntimeError(f"stream stopped: {query.exception()}")
            time.sleep(0.005)
        cold_s = es.first_ack - t_call

        def done_batches():
            return [p for p in query.recentProgress if p["numInputRows"]]

        while len(done_batches()) < 1 + WARMUP_BATCHES:
            if not query.isActive:
                raise RuntimeError(f"stream stopped: {query.exception()}")
            time.sleep(0.02)
        warm = done_batches()[-1]
        t_start = _batch_end(warm)
        time.sleep(max(0.0, t_start + args.seconds - time.time()))
        feeder.stop_event.set()
        feeder.join()
        query.processAllAvailable()
        progress = [p for p in query.recentProgress if p["numInputRows"]]
        run_id = str(query.runId)
        metrics = _scrape(probes.port)
        query.stop()
        if feeder.error is not None:
            raise feeder.error
        counters = es.counters()
        layers = {}
        if args.trace:
            layers["service.main_s"] = tracer.durations("service.main")[0]
            layers.update(_static_layers(spark, tracer, corpus, registry.url,
                                         cfg, work))
    finally:
        feeder.stop_event.set()
        if query is not None:
            query.stop()
        if probes is not None:
            probes.stop()
        es.close()
        registry.close()

    t_end = t_start + args.seconds
    window = [p for p in progress
              if p["batchId"] > warm["batchId"] and _batch_end(p) <= t_end]
    if len(window) < 2:
        raise RuntimeError(f"only {len(window)} batches in the window")
    span_s = _batch_end(window[-1]) - _progress_epoch(window[0])
    batch_ms = [p["durationMs"]["triggerExecution"] for p in window]
    p_tail, tail_ms = tail(batch_ms)
    retried = metrics["elasticsearch_events_retryed"]
    failed_items = (metrics["elasticsearch_document_already_exists"]
                    + metrics["elasticsearch_bad_request"])
    tracker = spark.sparkContext.statusTracker()
    _, _, tasks = job_shape(tracker, tracker.getJobIdsForGroup(run_id))
    e2e = {
        "cold_s": cold_s,
        "throughput_per_s": sum(p["numInputRows"] for p in window) / span_s,
        "latency_p50_ms": median(batch_ms),
        "latency_tail_ms": tail_ms,
    }
    layers.update({
        f"stream.{ph}_ms": median([p["durationMs"].get(ph, 0) for p in window])
        for ph in PHASES})
    layers["stream.trigger_ms"] = layers.pop("stream.triggerExecution_ms")
    layers.update({
        "stream.rows_per_batch": median([p["numInputRows"] for p in window]),
        "stream.tasks_per_batch": tasks / len(progress),
        "sink.bulk_requests": counters["bulk_requests"],
        "sink.connections": counters["connections"],
        "sink.bytes_per_doc": counters["bulk_bytes"] / max(counters["docs"], 1),
        "sink.retried": retried,
        "sink.failed_items": failed_items,
        "records.dropped": feeder.written - counters["docs"],
        "es.handle_ms": 1000 * median(es.handle_s),
    })
    return {
        "e2e": e2e, "layers": layers,
        "attempted": feeder.written,
        "failed": int(feeder.written - counters["docs"] + counters["conflicts"]
                      + retried + failed_items),
        "problems": _check_docs(es, corpus, feeder.written, args.seed),
        "detail": {"per_trigger_cap": cap, "window_batches": len(window),
                   "tail_percentile": p_tail, "offered": feeder.written,
                   "batch_ms": batch_ms,
                   "batches": len(progress)},
    }
