"""End-to-end streaming smoke: file source → injector pipeline →
foreachBatch ES sink (FileTransport fake with real create-only
semantics), mirroring the reference's consumer_test.go:106-147 e2e
(produce → consume → assert doc at expected index/id with @timestamp)
plus its elasticsearch_test.go duplicate-id semantics.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from kafka_elasticsearch_injector_spark.config import InjectorConfig
from kafka_elasticsearch_injector_spark.streaming.es_sink import (
    ElasticBulkWriter, FileTransport,
)
from kafka_elasticsearch_injector_spark.streaming.pipeline import (
    enrich_static, start_pipeline,
)

TS = dt.datetime(2018, 3, 10, 14, 30, 0)
SCHEMA = "id STRING, value INT"


def _write_source(spark, path, rows):
    spark.createDataFrame(
        rows, "key STRING, value STRING, topic STRING, partition INT, "
              "offset LONG, timestamp TIMESTAMP"
    ).write.mode("overwrite").parquet(path)


def _read_docs(root):
    docs = {}
    for index_name in os.listdir(root):
        for fn in os.listdir(os.path.join(root, index_name)):
            with open(os.path.join(root, index_name, fn)) as f:
                docs[(index_name, fn.removesuffix(".json"))] = json.load(f)
    return docs


def test_streaming_end_to_end(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    es_root = str(tmp_path / "es")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(es_root)

    rows = [
        ("k1", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 7, TS),
        ("k2", json.dumps({"id": "b", "value": 2}), "my-topic", 1, 3, TS),
        ("k3", None, "my-topic", 0, 8, TS),             # nil → dropped
        ("k4", '{"broken', "my-topic", 0, 9, TS),       # corrupt → dropped
    ]
    _write_source(spark, src_dir, rows)

    cfg = InjectorConfig(record_type="json", topics=("my-topic",))
    source = (
        spark.readStream.schema(
            "key STRING, value STRING, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP")
        .parquet(src_dir)
    )
    q = start_pipeline(
        spark, cfg, SCHEMA,
        transport_factory=lambda root=es_root: FileTransport(root),
        checkpoint_dir=ckpt, source_df=source)
    try:
        # processingTime trigger: the query never self-terminates, so
        # DON'T block in awaitTermination (it would sleep its full
        # timeout) — poll for batch 0's sink output instead.
        import time
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                if len(_read_docs(es_root)) >= 2:
                    break
            except ValueError:  # a doc file caught between create and write
                pass
            if not q.isActive:          # died early — surface the cause
                q.awaitTermination(1)
                break
            time.sleep(0.2)
    finally:
        q.stop()

    docs = _read_docs(es_root)
    assert set(docs) == {("my-topic-2018-03-10", "0:7"),
                         ("my-topic-2018-03-10", "1:3")}
    doc = docs[("my-topic-2018-03-10", "0:7")]
    assert doc["id"] == "a" and doc["value"] == 1
    assert doc["@timestamp"] == int(TS.timestamp() * 1000)


def test_dead_letter_quarantine(spark, tmp_path):
    """Dropped records land in the dead-letter parquet with the raw
    envelope + reason, while clean records still reach the sink — one
    shared batch, no second source read."""
    src_dir = str(tmp_path / "src")
    es_root = str(tmp_path / "es")
    dlq = str(tmp_path / "dlq")
    os.makedirs(es_root)
    rows = [
        ("k1", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 7, TS),
        ("k3", None, "my-topic", 0, 8, TS),             # nil payload
        ("k4", '{"broken', "my-topic", 0, 9, TS),       # corrupt JSON
    ]
    _write_source(spark, src_dir, rows)

    cfg = InjectorConfig(record_type="json", topics=("my-topic",))
    source = (
        spark.readStream.schema(
            "key STRING, value STRING, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP")
        .parquet(src_dir)
    )
    q = start_pipeline(
        spark, cfg, SCHEMA,
        transport_factory=lambda root=es_root: FileTransport(root),
        checkpoint_dir=str(tmp_path / "ckpt"), source_df=source,
        available_now=True, dead_letter_dir=dlq)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    docs = _read_docs(es_root)
    assert set(docs) == {("my-topic-2018-03-10", "0:7")}
    dropped = {(r.offset, r._drop_reason)
               for r in spark.read.parquet(dlq).collect()}
    assert dropped == {(8, "null_payload"), (9, "corrupt_payload")}


def test_metrics_endpoint_scrape_during_run(spark, tmp_path):
    """VERDICT parity item: /metrics serves the reference's Prometheus
    metric names (metrics_instrumenter.go:10-14, metrics.go:101-125),
    with the sink triage counters folded on the driver."""
    import urllib.request

    from kafka_elasticsearch_injector_spark.streaming.metrics import (
        InjectorMetrics,
    )
    from kafka_elasticsearch_injector_spark.streaming.probes import (
        start_probes,
    )

    src_dir = str(tmp_path / "src")
    es_root = str(tmp_path / "es")
    os.makedirs(es_root)
    rows = [
        ("k1", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 7, TS),
        ("k1", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 7, TS),
        ("k2", json.dumps({"id": "b", "value": 2}), "my-topic", 1, 3, TS),
    ]
    _write_source(spark, src_dir, rows)

    cfg = InjectorConfig(record_type="json", topics=("my-topic",))
    metrics = InjectorMetrics()
    server = start_probes(0, metrics_fn=metrics.prometheus_text)
    source = (
        spark.readStream.schema(
            "key STRING, value STRING, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP")
        .parquet(src_dir)
    )
    q = start_pipeline(
        spark, cfg, SCHEMA,
        transport_factory=lambda root=es_root: FileTransport(root),
        checkpoint_dir=str(tmp_path / "ckpt"), source_df=source,
        available_now=True, metrics=metrics)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    # Listener events arrive on an async bus; wait for batch 0's
    # progress to land before scraping.
    import time
    deadline = time.time() + 30
    while time.time() < deadline and not (
            metrics.listener.total_rows >= 3
            and metrics.sink.created >= 2):
        time.sleep(0.2)

    with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/metrics", timeout=5) as resp:
        assert resp.headers["Content-Type"].startswith("text/plain")
        body = resp.read().decode()
    server.stop()

    def value_of(name):
        for line in body.splitlines():
            if line.startswith(name + " "):
                return float(line.split()[1])
        raise AssertionError(f"{name} not in:\n{body}")

    # 3 rows in; duplicate (partition,offset) → same doc id → one 409.
    assert value_of("kafka_consumer_records_consumed_successfully") == 3
    assert value_of("elasticsearch_documents_created") == 2
    assert value_of("elasticsearch_document_already_exists") == 1
    assert value_of("elasticsearch_bad_request") == 0
    assert value_of("kafka_consumer_buffer_full") == 0
    assert value_of(
        "kafka_consumer_endpoint_latency_histogram_seconds_count") >= 1


def test_create_only_dedup_and_triage(tmp_path):
    """elasticsearch_test.go:70-133 semantics: duplicate id → 409 counted
    AlreadyExists, count stays 1; 429 retried with backoff."""
    root = str(tmp_path / "es")
    os.makedirs(root)
    w = ElasticBulkWriter(FileTransport(root), batch_size=2,
                          backoff_s=0.01, max_retries=3)
    stats = w.write([
        ("idx", "1", '{"a": 1}'),
        ("idx", "1", '{"a": 1}'),   # same batch duplicate → 409
        ("idx", "2", '{"a": 2}'),
    ])
    assert stats.created == 2 and stats.already_exists == 1
    # re-deliver the whole batch (at-least-once replay) → all 409s
    stats2 = ElasticBulkWriter(FileTransport(root), batch_size=10,
                               backoff_s=0.01).write(
        [("idx", "1", "{}"), ("idx", "2", "{}")])
    assert stats2.created == 0 and stats2.already_exists == 2
    assert len(os.listdir(os.path.join(root, "idx"))) == 2


def test_index_template_bootstrap_idempotent(tmp_path):
    """Makefile:17 / elasticsearch_test.go:136-143 parity: create the
    template when absent, no-op when present."""
    from kafka_elasticsearch_injector_spark.streaming.es_sink import (
        ensure_index_template,
    )

    root = str(tmp_path / "es")
    os.makedirs(root)
    t = FileTransport(root)
    assert ensure_index_template(t, "my-topic") is True
    assert ensure_index_template(t, "my-topic") is False  # already there
    path = os.path.join(root, "_templates", "my-topic.json")
    with open(path) as f:
        body = json.load(f)
    assert body["template"] == "my-topic-*"
    assert body["mappings"]["properties"]["@timestamp"]["format"] == \
        "epoch_millis"


def test_index_template_http_put(tmp_path):
    """HttpTransport template round-trip against a stdlib HTTP fake."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from kafka_elasticsearch_injector_spark.streaming.es_sink import (
        HttpTransport, ensure_index_template,
    )

    store: dict[str, bytes] = {}

    class Handler(BaseHTTPRequestHandler):
        def do_HEAD(self):  # noqa: N802
            code = 200 if self.path in store else 404
            self.send_response(code)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def do_PUT(self):  # noqa: N802
            store[self.path] = self.rfile.read(
                int(self.headers["Content-Length"]))
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def log_message(self, *args):
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        t = HttpTransport(f"http://127.0.0.1:{server.server_address[1]}")
        assert ensure_index_template(t, "my-topic") is True
        assert ensure_index_template(t, "my-topic") is False
        body = json.loads(store["/_template/my-topic"])
        assert body["template"] == "my-topic-*"
    finally:
        server.shutdown()
        server.server_close()


def test_backoff_retry_on_429(tmp_path):
    root = str(tmp_path / "es")
    os.makedirs(root)
    w = ElasticBulkWriter(FileTransport(root, fail_first=2), batch_size=10,
                          backoff_s=0.01, max_retries=5)
    stats = w.write([("idx", "1", "{}"), ("idx", "2", "{}")])
    assert stats.created == 2 and stats.retried == 2


def test_retry_cap_raises(tmp_path):
    root = str(tmp_path / "es")
    os.makedirs(root)
    w = ElasticBulkWriter(FileTransport(root, fail_first=100), batch_size=10,
                          backoff_s=0.0, max_retries=2)
    with pytest.raises(RuntimeError, match="after 3 attempts"):
        w.write([("idx", "1", "{}")])


def test_dead_letter_replay(spark, tmp_path):
    """The replay half of the quarantine story: records dropped under a
    WRONG schema re-ingest cleanly after the fix (here: switching to
    schemaless), still-bad rows stay quarantined, and a second replay
    is idempotent (create-only -> 409, no duplicates)."""
    from kafka_elasticsearch_injector_spark.streaming.pipeline import (
        replay_dead_letters,
    )

    src_dir, es_root, dlq = (str(tmp_path / d) for d in ("src", "es", "dlq"))
    os.makedirs(es_root)
    rows = [
        # drops under SCHEMA ("id STRING, value INT")? No — permissive
        # from_json nulls missing fields; use truly corrupt + valid mix
        ("k1", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 7, TS),
        ("k3", None, "my-topic", 0, 8, TS),
        ("k4", '{"broken', "my-topic", 0, 9, TS),
    ]
    _write_source(spark, src_dir, rows)
    cfg = InjectorConfig(record_type="json", topics=("my-topic",))
    source = (
        spark.readStream.schema(
            "key STRING, value STRING, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP")
        .parquet(src_dir))
    q = start_pipeline(
        spark, cfg, SCHEMA,
        transport_factory=lambda root=es_root: FileTransport(root),
        checkpoint_dir=str(tmp_path / "ckpt"), source_df=source,
        available_now=True, dead_letter_dir=dlq)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    assert {r.offset for r in spark.read.parquet(dlq).collect()} == {8, 9}

    still = str(tmp_path / "still")
    summary = replay_dead_letters(
        spark, cfg, dlq,
        transport_factory=lambda root=es_root: FileTransport(root),
        payload_schema=None,            # the "fix": schemaless ingest
        still_bad_dir=still)
    # nil payload + malformed JSON still cannot decode under ANY schema
    assert summary["still_dropped"] == 2 and summary["created"] == 0
    assert summary["clean"] == 0 and summary["rows"] == 2
    kept = {(r.offset, r._drop_reason)
            for r in spark.read.parquet(still).collect()}
    assert kept == {(8, "null_payload"), (9, "corrupt_payload")}

    # now a replayable case: quarantine rows that only dropped because
    # they are corrupt UNDER THE KEY RULE — build a fresh dlq with a
    # decodable record and prove replay lands it, twice, idempotently
    dlq2 = str(tmp_path / "dlq2")
    spark.createDataFrame(
        [("k9", json.dumps({"id": "z", "value": 9}), "my-topic", 0, 99,
          TS, "corrupt_payload")],
        "key STRING, value STRING, topic STRING, partition INT, "
        "offset LONG, timestamp TIMESTAMP, _drop_reason STRING"
    ).write.parquet(dlq2)
    s1 = replay_dead_letters(
        spark, cfg, dlq2,
        transport_factory=lambda root=es_root: FileTransport(root),
        payload_schema=SCHEMA)
    assert s1["created"] == 1 and s1["still_dropped"] == 0
    assert s1["clean"] == 1 and s1["rows"] == 1
    s2 = replay_dead_letters(
        spark, cfg, dlq2,
        transport_factory=lambda root=es_root: FileTransport(root),
        payload_schema=SCHEMA)
    assert s2["created"] == 0 and s2["already_exists"] == 1  # idempotent
    docs = _read_docs(es_root)
    assert ("my-topic-2018-03-10", "0:99") in docs


def _run_batches(spark, root, schema, transform, batches):
    """Deterministic micro-batch boundaries: add one file, run an
    availableNow pass to completion, repeat. Progress lives in the
    shared checkpoint, so each pass IS one (or more) micro-batch over
    exactly the new file — no reliance on file-source admission control.
    Returns the accumulated append-mode output."""
    src_dir = os.path.join(root, "src")
    out_dir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src_dir, exist_ok=True)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(
            os.path.join(src_dir, f"batch_{i}.parquet"))
        src = spark.readStream.schema(schema).parquet(
            os.path.join(src_dir, "*.parquet"))
        q = (
            transform(src).writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120), "stream pass timed out"
    return spark.read.parquet(out_dir)


def test_stream_static_enrich_broadcast_left_join(spark, tmp_path):
    schema = "ts TIMESTAMP, event_type STRING"
    dim = spark.createDataFrame(
        [("a", "alpha"), ("b", "beta")], "event_type STRING, label STRING")
    batches = [
        [(TS, "a"), (TS, "zzz")],   # zzz has no dimension row
        [(TS, "b")],
    ]
    out = _run_batches(
        spark, str(tmp_path), schema,
        lambda df: enrich_static(df, dim, "event_type"),
        batches)
    got = {(r.event_type, r.label) for r in out.collect()}
    assert got == {("a", "alpha"), ("zzz", None), ("b", "beta")}
