"""End-to-end streaming smoke: file source → injector pipeline →
foreachBatch ES sink (the production HttpTransport against the
in-process fake ES of tests/fake_es.py, real create-only semantics),
mirroring the reference's consumer_test.go:106-147 e2e
(produce → consume → assert doc at expected index/id with @timestamp)
plus its elasticsearch_test.go duplicate-id semantics.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest

from kafka_elasticsearch_injector_spark.config import InjectorConfig
from kafka_elasticsearch_injector_spark.streaming.es_sink import (
    ElasticBulkWriter, HttpTransport,
)
from kafka_elasticsearch_injector_spark.streaming.pipeline import (
    start_pipeline,
)

TS = dt.datetime(2018, 3, 10, 14, 30, 0)
SCHEMA = "id STRING, value INT"


def _write_source(spark, path, rows):
    spark.createDataFrame(
        rows, "key STRING, value STRING, topic STRING, partition INT, "
              "offset LONG, timestamp TIMESTAMP"
    ).write.mode("overwrite").parquet(path)


def test_streaming_end_to_end(spark, tmp_path, fake_es):
    es, url = fake_es
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

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
        transport_factory=lambda u=url: HttpTransport(u),
        checkpoint_dir=ckpt, source_df=source)
    try:
        # processingTime trigger: the query never self-terminates, so
        # DON'T block in awaitTermination (it would sleep its full
        # timeout) — poll for batch 0's sink output instead.
        import time
        deadline = time.time() + 60
        while time.time() < deadline:
            if len(es.docs) >= 2:
                break
            if not q.isActive:          # died early — surface the cause
                q.awaitTermination(1)
                break
            time.sleep(0.2)
    finally:
        q.stop()

    docs = es.docs
    assert set(docs) == {("my-topic-2018-03-10", "0:7"),
                         ("my-topic-2018-03-10", "1:3")}
    doc = docs[("my-topic-2018-03-10", "0:7")]
    assert doc["id"] == "a" and doc["value"] == 1
    assert doc["@timestamp"] == int(TS.timestamp() * 1000)


def test_dead_letter_quarantine(spark, tmp_path, fake_es):
    """Dropped records land in the dead-letter parquet with the raw
    envelope + reason, while clean records still reach the sink — one
    shared batch, no second source read."""
    es, url = fake_es
    src_dir = str(tmp_path / "src")
    dlq = str(tmp_path / "dlq")
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
        transport_factory=lambda u=url: HttpTransport(u),
        checkpoint_dir=str(tmp_path / "ckpt"), source_df=source,
        available_now=True, dead_letter_dir=dlq)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    assert set(es.docs) == {("my-topic-2018-03-10", "0:7")}
    dropped = {(r.offset, r._drop_reason)
               for r in spark.read.parquet(dlq).collect()}
    assert dropped == {(8, "null_payload"), (9, "corrupt_payload")}


def test_metrics_endpoint_scrape_during_run(spark, tmp_path, fake_es):
    """VERDICT parity item: /metrics serves the reference's Prometheus
    metric names (metrics_instrumenter.go:10-14, metrics.go:101-125),
    with the sink triage counters folded on the driver."""
    import urllib.request

    from kafka_elasticsearch_injector_spark.streaming.metrics import (
        InjectorMetrics,
    )
    from kafka_elasticsearch_injector_spark.streaming.probes import (
        ProbeServer,
    )

    _, url = fake_es
    src_dir = str(tmp_path / "src")
    rows = [
        ("k1", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 7, TS),
        ("k1", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 7, TS),
        ("k2", json.dumps({"id": "b", "value": 2}), "my-topic", 1, 3, TS),
    ]
    _write_source(spark, src_dir, rows)

    cfg = InjectorConfig(record_type="json", topics=("my-topic",))
    metrics = InjectorMetrics()
    server = ProbeServer(0, metrics_fn=metrics.prometheus_text).start()
    source = (
        spark.readStream.schema(
            "key STRING, value STRING, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP")
        .parquet(src_dir)
    )
    q = start_pipeline(
        spark, cfg, SCHEMA,
        transport_factory=lambda u=url: HttpTransport(u),
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


def _write_arrow_nodes(plan) -> int:
    """MapInArrow nodes running `write_arrow` in a physical plan."""
    found = int(plan.getClass().getSimpleName() == "MapInArrowExec"
                and plan.func().name() == "write_arrow")
    children = plan.children()
    return found + sum(_write_arrow_nodes(children.apply(i))
                       for i in range(children.size()))


def test_sink_is_planned_in_the_stream_and_runs_once_per_batch(
        spark, tmp_path, fake_es):
    """The bulk writer is a node of the streaming plan, and the one
    action foreachBatch runs executes it once per micro-batch: every
    partition of every batch sends exactly ceil(rows / batch_size)
    bulks, and /metrics counts exactly the stored docs."""
    from kafka_elasticsearch_injector_spark.streaming.metrics import (
        InjectorMetrics,
    )

    es, url = fake_es
    src_dir = str(tmp_path / "src")
    files, rows_per_file, batch_size = 6, 5, 2
    for f in range(files):             # one file = one source partition
        spark.createDataFrame(
            [(f"k{i}", json.dumps({"id": f"f{f}r{i}", "value": i}),
              "my-topic", f % 2, 100 * f + i, TS)
             for i in range(rows_per_file)],
            "key STRING, value STRING, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP",
        ).coalesce(1).write.mode("append").parquet(src_dir)

    cfg = InjectorConfig(record_type="json", topics=("my-topic",),
                         batch_size=batch_size)
    metrics = InjectorMetrics()
    source = (
        spark.readStream.schema(
            "key STRING, value STRING, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP")
        .option("maxFilesPerTrigger", 2)
        .parquet(src_dir)
    )
    q = start_pipeline(
        spark, cfg, SCHEMA,
        transport_factory=lambda u=url: HttpTransport(u),
        checkpoint_dir=str(tmp_path / "ckpt"), source_df=source,
        available_now=True, metrics=metrics)
    try:
        assert q.awaitTermination(120), "stream pass timed out"
    finally:
        q.stop()

    batches = [p for p in q.recentProgress if p["numInputRows"]]
    assert [p["numInputRows"] for p in batches] == [2 * rows_per_file] * 3
    plan = q._jsq.streamingQuery().lastExecution().executedPlan()
    assert _write_arrow_nodes(plan) == 1
    bulks_per_partition = -(-rows_per_file // batch_size)
    assert es.bulk_requests == len(batches) * 2 * bulks_per_partition
    assert len(es.docs) == files * rows_per_file
    created = [line for line in metrics.prometheus_text().splitlines()
               if line.startswith("elasticsearch_documents_created ")]
    assert created == [f"elasticsearch_documents_created {len(es.docs)}"]


def test_create_only_dedup_and_triage(fake_es):
    """elasticsearch_test.go:70-133 semantics: duplicate id → 409 counted
    AlreadyExists, count stays 1; 429 retried with backoff."""
    es, url = fake_es
    w = ElasticBulkWriter(HttpTransport(url), batch_size=2,
                          backoff_s=0.01, max_retries=3)
    stats = w.write([
        ("idx", "1", '{"a": 1}'),
        ("idx", "1", '{"a": 1}'),   # same batch duplicate → 409
        ("idx", "2", '{"a": 2}'),
    ])
    assert stats.created == 2 and stats.already_exists == 1
    # re-deliver the whole batch (at-least-once replay) → all 409s
    stats2 = ElasticBulkWriter(HttpTransport(url), batch_size=10,
                               backoff_s=0.01).write(
        [("idx", "1", "{}"), ("idx", "2", "{}")])
    assert stats2.created == 0 and stats2.already_exists == 2
    assert len([key for key in es.docs if key[0] == "idx"]) == 2


def test_backoff_retry_on_429(fake_es):
    # The first _bulk answers both items 429; the retry lands them.
    es, url = fake_es
    es.throttle_bulks = 1
    w = ElasticBulkWriter(HttpTransport(url), batch_size=10,
                          backoff_s=0.01, max_retries=5)
    stats = w.write([("idx", "1", "{}"), ("idx", "2", "{}")])
    assert stats.created == 2 and stats.retried == 2


def test_retry_cap_raises(fake_es):
    es, url = fake_es
    es.throttle_bulks = 100             # every _bulk answers 429
    w = ElasticBulkWriter(HttpTransport(url), batch_size=10,
                          backoff_s=0.0, max_retries=2)
    with pytest.raises(RuntimeError, match="after 3 attempts"):
        w.write([("idx", "1", "{}")])
