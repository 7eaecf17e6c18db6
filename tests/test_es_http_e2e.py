"""End-to-end tests over a LIVE fake-ES HTTP server (tests/fake_es.py):
the production HttpTransport + ElasticBulkWriter + foreachPartition
sink path, exercised over a real socket — the sandbox analog of the
reference's docker-compose e2e (consumer_test.go:106-147: produce →
consume → assert doc at expected index/id; elasticsearch_test.go
duplicate-id create-only semantics; store.go:33-46 retry loop).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import pytest

from kafka_elasticsearch_injector_spark.config import InjectorConfig
from kafka_elasticsearch_injector_spark.streaming.es_sink import (
    ElasticBulkWriter, HttpTransport,
)
from kafka_elasticsearch_injector_spark.streaming.pipeline import start_pipeline

TS = dt.datetime(2018, 3, 10, 14, 30, 0)
SCHEMA = "id STRING, value INT"


def test_http_bulk_triage_live(fake_es):
    """Mixed batch through the real NDJSON wire format: 201 / 409 / 400
    triage plus a throttled first request that the writer retries."""
    es, url = fake_es
    es.docs[("idx", "dup")] = {"id": "pre"}
    es.throttle_bulks = 1  # first _bulk answers all-429

    w = ElasticBulkWriter(HttpTransport(url), batch_size=10,
                          backoff_s=0.01, max_retries=5)
    stats = w.write([
        ("idx", "new1", json.dumps({"id": "a"})),
        ("idx", "dup", json.dumps({"id": "b"})),
        ("idx", "bad", '{"broken'),
        ("idx", "new2", json.dumps({"id": "c"})),
    ])
    assert stats.created == 2
    assert stats.already_exists == 1
    assert stats.bad_request == 1
    assert stats.retried == 4          # whole chunk throttled once
    assert es.docs[("idx", "new1")] == {"id": "a"}
    assert es.docs[("idx", "dup")] == {"id": "pre"}  # create-only: kept
    assert ("idx", "bad") not in es.docs
    assert es.bulk_requests == 2       # throttled + successful retry


def test_http_bulk_request_level_429_retries(fake_es):
    """Real ES under load refuses the WHOLE _bulk request (HTTP 429, no
    items array). The transport maps that to a uniform retryable item
    status instead of letting HTTPError kill the partition task."""
    es, url = fake_es
    es.reject_bulks = 2                 # two full-request rejections
    w = ElasticBulkWriter(HttpTransport(url), batch_size=10,
                          backoff_s=0.01, max_retries=5)
    stats = w.write([("idx", "a", json.dumps({"v": 1})),
                     ("idx", "b", json.dumps({"v": 2}))])
    assert stats.created == 2
    assert stats.retried == 4           # 2 records × 2 rejected rounds
    assert es.bulk_requests == 3
    assert set(es.docs) == {("idx", "a"), ("idx", "b")}


def test_http_bulk_request_level_503_retries(fake_es):
    es, url = fake_es
    es.reject_bulks, es.reject_status = 1, 503
    w = ElasticBulkWriter(HttpTransport(url), batch_size=10,
                          backoff_s=0.01, max_retries=3)
    stats = w.write([("idx", "a", json.dumps({"v": 1}))])
    assert stats.created == 1 and stats.retried == 1


def test_http_bulk_auth_error_propagates(fake_es):
    """Non-retryable request-level 4xx (bad auth/endpoint config) must
    surface, not spin in the retry loop."""
    import urllib.error

    es, url = fake_es
    es.reject_bulks, es.reject_status = 1, 401
    w = ElasticBulkWriter(HttpTransport(url), batch_size=10,
                          backoff_s=0.01, max_retries=3)
    with pytest.raises(urllib.error.HTTPError):
        w.write([("idx", "a", json.dumps({"v": 1}))])
    assert es.docs == {}


def test_http_bulk_connection_refused_bounded_retry():
    """Connection-level failure (node down, no listener) triages as
    retryable 503 and exhausts the bounded retry budget with an error
    that names the underlying cause, instead of an executor-killing
    socket exception."""
    import socket

    sock = socket.socket()
    sock.bind(("127.0.0.1", 0))         # reserved but never listening
    port = sock.getsockname()[1]
    sock.close()
    w = ElasticBulkWriter(HttpTransport(f"http://127.0.0.1:{port}",
                                        timeout_s=0.2),
                          batch_size=10, backoff_s=0.01, max_retries=2)
    with pytest.raises(RuntimeError,
                       match=r"after 3 attempts.*last failure"):
        w.write([("idx", "a", json.dumps({"v": 1}))])


def test_http_bulk_dns_failure_is_not_retried():
    """A typo'd es_host (DNS resolution failure) is a permanent config
    error: it must propagate immediately, not spin the backoff loop
    masquerading as a transient 503."""
    import urllib.error

    w = ElasticBulkWriter(
        HttpTransport("http://no-such-host.invalid:9200", timeout_s=0.5),
        batch_size=10, backoff_s=0.01, max_retries=5)
    with pytest.raises(urllib.error.URLError):
        w.write([("idx", "a", json.dumps({"v": 1}))])


def test_http_bulk_batch_chunking(fake_es):
    """batch_size splits one logical write into multiple _bulk posts."""
    es, url = fake_es
    w = ElasticBulkWriter(HttpTransport(url), batch_size=2,
                          backoff_s=0.01, max_retries=2)
    stats = w.write([("idx", str(i), json.dumps({"v": i}))
                     for i in range(5)])
    assert stats.created == 5
    assert es.bulk_requests == 3       # ceil(5/2)


def _write_source(spark, path, rows):
    spark.createDataFrame(
        rows, "key STRING, value STRING, topic STRING, partition INT, "
              "offset LONG, timestamp TIMESTAMP"
    ).write.mode("overwrite").parquet(path)


def _run_pipeline(spark, src_dir, ckpt, url):
    cfg = InjectorConfig(record_type="json", topics=("my-topic",),
                         bulk_backoff_s=0.01)
    source = (
        spark.readStream.schema(
            "key STRING, value STRING, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP")
        .parquet(src_dir)
    )
    q = start_pipeline(
        spark, cfg, SCHEMA,
        transport_factory=lambda u=url: HttpTransport(u),
        checkpoint_dir=ckpt, source_df=source, available_now=True)
    q.awaitTermination(120)
    q.stop()


def test_streaming_pipeline_over_http(spark, tmp_path, fake_es):
    """Full pipeline: file stream → injector transform → foreachBatch →
    executor-side HTTP bulk writes into the live fake — then an
    at-least-once REPLAY of the same offsets lands only 409s and the
    store is unchanged (the reference's create-only idempotency)."""
    es, url = fake_es
    src_dir = str(tmp_path / "src")

    rows = [
        ("k1", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 7, TS),
        ("k2", json.dumps({"id": "b", "value": 2}), "my-topic", 1, 3, TS),
        ("k3", None, "my-topic", 0, 8, TS),        # nil → dropped
        ("k4", '{"broken', "my-topic", 0, 9, TS),  # corrupt → dropped
    ]
    _write_source(spark, src_dir, rows)
    _run_pipeline(spark, src_dir, str(tmp_path / "ckpt1"), url)

    assert set(es.docs) == {("my-topic-2018-03-10", "0:7"),
                            ("my-topic-2018-03-10", "1:3")}
    doc = es.docs[("my-topic-2018-03-10", "0:7")]
    assert doc["id"] == "a" and doc["value"] == 1
    assert doc["@timestamp"] == int(TS.timestamp() * 1000)

    # Replay from a fresh checkpoint: same offsets re-delivered. The
    # sink must converge (no error, no mutation) — duplicates triage
    # as already_exists, never as updates.
    before = {k: dict(v) for k, v in es.docs.items()}
    _run_pipeline(spark, src_dir, str(tmp_path / "ckpt2"), url)
    assert es.docs == before


def test_streaming_pipeline_http_throttled(spark, tmp_path, fake_es):
    """429 on the first bulk of each partition: the executor-side
    writer retries through and every record still lands exactly once."""
    es, url = fake_es
    es.throttle_bulks = 2
    src_dir = str(tmp_path / "src")
    _write_source(spark, src_dir, [
        ("k1", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 1, TS),
        ("k2", json.dumps({"id": "b", "value": 2}), "my-topic", 0, 2, TS),
    ])
    _run_pipeline(spark, src_dir, str(tmp_path / "ckpt"), url)
    assert set(es.docs) == {("my-topic-2018-03-10", "0:1"),
                            ("my-topic-2018-03-10", "0:2")}
    assert es.bulk_requests >= 2       # at least one throttled + retry


def test_streaming_pipeline_crash_recovery_over_shared_checkpoint(
        spark, tmp_path, fake_es):
    """Crash-recovery e2e, composing a restart over a shared
    checkpoint with the live fake's failure injection: the query dies
    MID-BATCH after a partial bulk (first record lands, then the node
    starts failing hard), and a restart over the SAME checkpoint
    replays the uncommitted batch — the already-written doc triages as
    409 and is NOT overwritten, the unwritten doc lands. This is the reference's recovery story
    end-to-end: offsets commit only after the sink returns
    (consumer.go:163-173), so at-least-once redelivery + create-only
    writes (elasticsearch.go:120-124) converge to effectively-once."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    es, url = fake_es
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # ONE parquet file → one source partition → one writer posting in
    # row order; batch_size=1 makes each record its own _bulk request.
    spark.createDataFrame(
        [("k1", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 1, TS),
         ("k2", json.dumps({"id": "b", "value": 2}), "my-topic", 0, 2, TS)],
        "key STRING, value STRING, topic STRING, partition INT, "
        "offset LONG, timestamp TIMESTAMP",
    ).repartition(1).write.mode("overwrite").parquet(src_dir)

    cfg = InjectorConfig(record_type="json", topics=("my-topic",),
                         batch_size=1, bulk_backoff_s=0.01)

    def run():
        source = (
            spark.readStream.schema(
                "key STRING, value STRING, topic STRING, partition INT, "
                "offset LONG, timestamp TIMESTAMP")
            .parquet(src_dir))
        q = start_pipeline(
            spark, cfg, SCHEMA,
            transport_factory=lambda u=url: HttpTransport(u),
            checkpoint_dir=ckpt, source_df=source, available_now=True)
        try:
            assert q.awaitTermination(120), "stream pass timed out"
        finally:
            q.stop()

    # Bulk #0 (record 0:1) succeeds; every later bulk dies with 401 —
    # non-retryable, so the partition task and the query crash with the
    # batch UNCOMMITTED in the checkpoint.
    es.reject_from, es.reject_status = 1, 401
    with pytest.raises(StreamingQueryException):
        run()
    assert set(es.docs) == {("my-topic-2018-03-10", "0:1")}  # partial write

    # Prove the replay is create-only (409 keeps the stored doc), not
    # an idempotent overwrite: poison the landed doc with a sentinel —
    # if recovery re-wrote it, the sentinel would vanish.
    es.docs[("my-topic-2018-03-10", "0:1")] = {"id": "sentinel"}
    es.reject_from = None                      # node healthy again

    run()                                      # same checkpoint → replay
    assert set(es.docs) == {("my-topic-2018-03-10", "0:1"),
                            ("my-topic-2018-03-10", "0:2")}
    assert es.docs[("my-topic-2018-03-10", "0:1")] == {"id": "sentinel"}
    doc = es.docs[("my-topic-2018-03-10", "0:2")]
    assert doc["id"] == "b" and doc["value"] == 2


def test_streaming_pipeline_resumes_file_context_checkpoint(
        spark, tmp_path, fake_es):
    """A checkpoint written the way the previous release ran the
    service resumes under `start_pipeline`: the first pass runs with
    the checkpoint-manager conf unset (Spark's FileContext manager) and
    the bulk writer run as a second query inside foreachBatch. Records
    appended afterwards are the only ones the restart sends — no 409 —
    and it adds the same checkpoint files a FileContext pass would."""
    from kafka_elasticsearch_injector_spark.streaming.es_sink import (
        STATS_SCHEMA, write_arrow_factory,
    )
    from kafka_elasticsearch_injector_spark.streaming.metrics import (
        InjectorMetrics,
    )
    from kafka_elasticsearch_injector_spark.streaming.pipeline import (
        build_elastic_records,
    )

    from .test_checkpoint_manager import KEY, PACKAGE, manager_class

    es, url = fake_es
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    cfg = InjectorConfig(record_type="json", topics=("my-topic",))
    kafka_schema = ("key STRING, value STRING, topic STRING, "
                    "partition INT, offset LONG, timestamp TIMESTAMP")

    def append(offsets):
        spark.createDataFrame(
            [(f"k{o}", json.dumps({"id": f"r{o}", "value": o}),
              "my-topic", 0, o, TS) for o in offsets],
            kafka_schema).coalesce(1).write.mode("append").parquet(src_dir)

    def source():
        return spark.readStream.schema(kafka_schema).parquet(src_dir)

    def files():
        return {os.path.relpath(os.path.join(root, name), ckpt)
                for root, _, names in os.walk(ckpt) for name in names}

    def doc_ids():
        return {doc_id for _, doc_id in es.docs}

    append(range(3))
    spark.conf.unset(KEY)
    assert manager_class(spark, ckpt) == \
        f"{PACKAGE}.FileContextBasedCheckpointFileManager"
    writer = write_arrow_factory(cfg, lambda u=url: HttpTransport(u))
    q = (build_elastic_records(source(), cfg, SCHEMA).writeStream
         .foreachBatch(lambda df, _: df.select("index_name", "doc_id",
                                               "payload")
                       .mapInArrow(writer, STATS_SCHEMA).collect())
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(120), "first pass timed out"
    finally:
        q.stop()
    assert doc_ids() == {"0:0", "0:1", "0:2"}
    first_files, first_bulks = files(), es.bulk_requests
    for key in es.docs:         # a re-sent doc would 409 against these
        es.docs[key] = {"id": "sentinel"}

    append(range(3, 5))
    metrics = InjectorMetrics()
    q = start_pipeline(
        spark, cfg, SCHEMA,
        transport_factory=lambda u=url: HttpTransport(u),
        checkpoint_dir=ckpt, source_df=source(), available_now=True,
        metrics=metrics)
    try:
        assert q.awaitTermination(120), "restart pass timed out"
    finally:
        q.stop()
    assert doc_ids() == {"0:0", "0:1", "0:2", "0:3", "0:4"}
    assert es.bulk_requests == first_bulks + 1
    assert (metrics.sink.created, metrics.sink.already_exists) == (2, 0)
    assert sum(v == {"id": "sentinel"} for v in es.docs.values()) == 3
    assert files() - first_files == {
        os.path.join(log, name) for log in ("offsets", "commits", "sources/0")
        for name in ("1", ".1.crc")}
    assert first_files <= files()


def test_service_entrypoint_end_to_end(spark, tmp_path, fake_es):
    """The `python -m kafka_elasticsearch_injector_spark` service path:
    env-var config (the reference's container contract), production
    HttpTransport to a live fake-ES node, health/readiness/metrics
    probes on an ephemeral port — everything the Go binary exposed,
    driven through the real main() with an injected file source."""
    import urllib.request

    from kafka_elasticsearch_injector_spark.__main__ import main

    es, url = fake_es
    src_dir = str(tmp_path / "src")
    _write_source(spark, src_dir, [
        ("k1", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 7, TS),
        ("k2", json.dumps({"id": "b", "value": 2}), "my-topic", 0, 8, TS),
    ])
    source = (
        spark.readStream.schema(
            "key STRING, value STRING, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP")
        .parquet(src_dir))

    env = {
        "KAFKA_TOPICS": "my-topic",
        "KAFKA_CONSUMER_RECORD_TYPE": "json",
        "ELASTICSEARCH_HOST": url,
        "ES_BULK_BACKOFF": "10ms",
        "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        "PAYLOAD_SCHEMA_DDL": SCHEMA,
        "PROBES_PORT": "0",
        "TRIGGER_SECONDS": "0.2",
    }
    q, probes, _metrics_srv = main(env=env, source_df=source)
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(es.docs) < 2:
            if not q.isActive:
                q.awaitTermination(1)
                break
            time.sleep(0.2)
        assert set(es.docs) == {("my-topic-2018-03-10", "0:7"),
                                ("my-topic-2018-03-10", "0:8")}
        base = f"http://127.0.0.1:{probes.port}"
        assert urllib.request.urlopen(f"{base}/healthz").status == 200
        assert urllib.request.urlopen(f"{base}/readiness").status == 200
        body = urllib.request.urlopen(f"{base}/metrics").read().decode()
        assert "kafka" in body or "es_" in body or body  # prometheus text
    finally:
        q.stop()
        if probes is not None:
            probes.stop()


def test_service_entrypoint_custom_probe_routes(spark, tmp_path, fake_es):
    """K8S_LIVENESS_ROUTE / K8S_READINESS_ROUTE through the real
    main(): kubelet hits the manifest's custom paths and the default
    paths are gone (probes.go:9-10 + README.md:23-24 — the reference
    mux serves ONLY the env-var routes). The sibling e2e above covers
    the unset-env default paths."""
    import urllib.error
    import urllib.request

    from kafka_elasticsearch_injector_spark.__main__ import main

    es, url = fake_es
    src_dir = str(tmp_path / "src")
    _write_source(spark, src_dir, [
        ("k1", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 7, TS),
    ])
    source = (
        spark.readStream.schema(
            "key STRING, value STRING, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP")
        .parquet(src_dir))

    env = {
        "KAFKA_TOPICS": "my-topic",
        "KAFKA_CONSUMER_RECORD_TYPE": "json",
        "ELASTICSEARCH_HOST": url,
        "ES_BULK_BACKOFF": "10ms",
        "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        "PAYLOAD_SCHEMA_DDL": SCHEMA,
        "PROBES_PORT": "0",
        "TRIGGER_SECONDS": "0.2",
        "K8S_LIVENESS_ROUTE": "/k8s/alive",
        "K8S_READINESS_ROUTE": "/k8s/ready",
    }
    q, probes, _metrics_srv = main(env=env, source_df=source)
    try:
        base = f"http://127.0.0.1:{probes.port}"
        assert urllib.request.urlopen(f"{base}/k8s/alive").status == 200
        assert urllib.request.urlopen(f"{base}/k8s/ready").status == 200
        for stale in ("/healthz", "/readiness"):
            try:
                urllib.request.urlopen(f"{base}{stale}")
                raise AssertionError(f"expected 404 at {stale}")
            except urllib.error.HTTPError as e:
                assert e.code == 404
    finally:
        q.stop()
        if probes is not None:
            probes.stop()


def test_service_entrypoint_fails_fast_on_missing_config():
    from kafka_elasticsearch_injector_spark.__main__ import main

    reg = {"SCHEMA_REGISTRY_URL": "http://registry:8081"}
    # avro without a registry is already a config-level ValueError
    with pytest.raises(ValueError, match="SCHEMA_REGISTRY_URL"):
        main(env={})
    with pytest.raises(SystemExit, match="KAFKA_TOPICS"):
        main(env=reg)
    with pytest.raises(SystemExit, match="CHECKPOINT_DIR"):
        main(env={**reg, "KAFKA_TOPICS": "t"})
    # json WITHOUT PAYLOAD_SCHEMA_DDL is no longer an error: it selects
    # the schemaless (map<string,variant>) mode — covered end-to-end by
    # test_service_entrypoint_schemaless below.


def test_service_entrypoint_schemaless(spark, tmp_path, fake_es):
    """The reference's most common deployment through the real main():
    KAFKA_CONSUMER_RECORD_TYPE=json with NO PAYLOAD_SCHEMA_DDL — the
    payload is decoded dynamically (encode_decode.go:87-113) and lands
    in live fake-ES with its original field types intact."""
    from kafka_elasticsearch_injector_spark.__main__ import main

    es, url = fake_es
    src_dir = str(tmp_path / "src")
    _write_source(spark, src_dir, [
        ("k1", json.dumps({"id": "a", "n": 60, "nest": {"ok": True}}),
         "my-topic", 0, 7, TS),
    ])
    source = (
        spark.readStream.schema(
            "key STRING, value STRING, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP")
        .parquet(src_dir))
    env = {
        "KAFKA_TOPICS": "my-topic",
        "KAFKA_CONSUMER_RECORD_TYPE": "json",
        "ELASTICSEARCH_HOST": url,
        "ES_BULK_BACKOFF": "10ms",
        "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        "TRIGGER_SECONDS": "0.2",
    }
    q, _probes, _metrics_srv = main(env=env, source_df=source)
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(es.docs) < 1:
            if not q.isActive:
                q.awaitTermination(1)
                break
            time.sleep(0.2)
        doc = es.docs[("my-topic-2018-03-10", "0:7")]
        assert doc["id"] == "a" and doc["n"] == 60
        assert doc["nest"] == {"ok": True}
    finally:
        q.stop()


def test_service_entrypoint_avro_full_stack(spark, tmp_path, fake_es):
    """The complete reference stack over real sockets, through the
    service entrypoint: Confluent-framed Avro records, writer schema
    fetched from a LIVE registry fake via the real HTTP client (driver
    plan-time and executor decode-time), decode → enrich → route, and
    create-only bulks into the live ES fake — the closest this sandbox
    gets to the reference's docker-compose e2e (consumer_test.go:
    106-147), with zero stand-in transports."""
    import datetime as dt

    from kafka_elasticsearch_injector_spark.__main__ import main

    from .avro_writer import Codec
    from .confluent_fixtures import wire_encode

    from .test_registry_http import FIXTURE_SCHEMA, FakeRegistry

    es, url = fake_es
    reg = FakeRegistry({1: FIXTURE_SCHEMA})
    reg_url = reg.start()
    ts = dt.datetime(2018, 3, 10, 14, 30, 0)
    codec = Codec(FIXTURE_SCHEMA)
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [(b"k1", wire_encode(1, codec.encode({"id": 1})), "t", 0, 7, ts),
         (b"k2", wire_encode(1, codec.encode({"id": 2})), "t", 0, 8, ts),
         (b"k3", b"\x00\x00\x00\x00\x01\xff", "t", 0, 9, ts)],  # malformed
        "key BINARY, value BINARY, topic STRING, partition INT, "
        "offset LONG, timestamp TIMESTAMP",
    ).repartition(1).write.mode("overwrite").parquet(src_dir)
    source = (
        spark.readStream.schema(
            "key BINARY, value BINARY, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP")
        .parquet(src_dir))

    env = {
        "KAFKA_TOPICS": "t",
        "KAFKA_CONSUMER_RECORD_TYPE": "avro",
        "SCHEMA_REGISTRY_URL": reg_url,
        "AVRO_READER_SCHEMA_ID": "1",
        "ELASTICSEARCH_HOST": url,
        "ES_BULK_BACKOFF": "10ms",
        "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        "TRIGGER_SECONDS": "0.2",
    }
    q, probes, _metrics_srv = main(env=env, source_df=source)
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(es.docs) < 2:
            if not q.isActive:
                q.awaitTermination(1)
                break
            time.sleep(0.2)
        assert set(es.docs) == {("t-2018-03-10", "0:7"),
                                ("t-2018-03-10", "0:8")}
        assert es.docs[("t-2018-03-10", "0:7")]["id"] == 1
        assert reg.hits, "writer schema was never fetched over HTTP"
    finally:
        q.stop()
        if probes is not None:
            probes.stop()
        reg.stop()


def test_service_entrypoint_dead_letter_quarantine(spark, tmp_path, fake_es):
    """DEAD_LETTER_DIR through the entrypoint: undeliverable records
    land in the quarantine parquet with the raw envelope + reason while
    clean records still reach ES — the env-surface twin of
    test_streaming.test_dead_letter_quarantine."""
    from kafka_elasticsearch_injector_spark.__main__ import main

    es, url = fake_es
    src_dir = str(tmp_path / "src")
    dlq = str(tmp_path / "dlq")
    _write_source(spark, src_dir, [
        ("k1", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 7, TS),
        ("k3", None, "my-topic", 0, 8, TS),             # nil payload
        ("k4", '{"broken', "my-topic", 0, 9, TS),       # corrupt JSON
    ])
    source = (
        spark.readStream.schema(
            "key STRING, value STRING, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP")
        .parquet(src_dir))
    env = {
        "KAFKA_TOPICS": "my-topic",
        "KAFKA_CONSUMER_RECORD_TYPE": "json",
        "ELASTICSEARCH_HOST": url,
        "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        "PAYLOAD_SCHEMA_DDL": SCHEMA,
        "DEAD_LETTER_DIR": dlq,
        "TRIGGER_SECONDS": "0.2",
    }
    q, probes, _metrics_srv = main(env=env, source_df=source)
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(es.docs) < 1:
            if not q.isActive:
                q.awaitTermination(1)
                break
            time.sleep(0.2)
    finally:
        q.stop()
        if probes is not None:
            probes.stop()
    assert set(es.docs) == {("my-topic-2018-03-10", "0:7")}
    dropped = {(r.offset, r._drop_reason)
               for r in spark.read.parquet(dlq).collect()}
    assert dropped == {(8, "null_payload"), (9, "corrupt_payload")}


def test_gzip_bulk_bodies(fake_es):
    """ES_BULK_COMPRESS=true gzips the _bulk NDJSON (Content-Encoding:
    gzip, honored by ES's default http.compression) — same triage
    semantics over the wire, ~network-bound ingest win."""
    es, url = fake_es
    w = ElasticBulkWriter(HttpTransport(url, compress=True), batch_size=2,
                          backoff_s=0.01, max_retries=2)
    stats = w.write([("idx", str(i), json.dumps({"v": i}))
                     for i in range(5)])
    assert stats.created == 5
    assert es.gzip_bulks == 3            # every chunk arrived gzipped
    assert es.docs[("idx", "3")] == {"v": 3}
    # env knob flows through from_config
    cfg = InjectorConfig.from_env({"ES_BULK_COMPRESS": "true",
                                   "KAFKA_CONSUMER_RECORD_TYPE": "json",
                                   "KAFKA_TOPICS": "t"})
    assert HttpTransport.from_config(cfg).compress is True


def test_bulk_max_bytes_chunking(fake_es):
    """ES_BULK_MAX_BYTES caps each bulk's approximate body size on top
    of the row cap: wide records flush early (no http.max_content_length
    blowups), skinny records still fill up to batch_size rows."""
    es, url = fake_es
    wide = "x" * 400
    w = ElasticBulkWriter(HttpTransport(url), batch_size=100,
                          backoff_s=0.01, max_retries=2, max_bytes=1000)
    stats = w.write([("idx", str(i), json.dumps({"v": wide}))
                     for i in range(6)])
    assert stats.created == 6
    assert es.bulk_requests == 3        # ~2 wide records per 1000-byte bulk
    # row cap still applies when records are tiny
    es.bulk_requests = 0
    w2 = ElasticBulkWriter(HttpTransport(url), batch_size=2,
                           backoff_s=0.01, max_retries=2, max_bytes=10**6)
    stats2 = w2.write([("idx", f"t{i}", "{}") for i in range(5)])
    assert stats2.created == 5
    assert es.bulk_requests == 3        # ceil(5/2)
    # env knob parses sizes
    cfg = InjectorConfig.from_env({"ES_BULK_MAX_BYTES": "5mb",
                                   "KAFKA_CONSUMER_RECORD_TYPE": "json",
                                   "KAFKA_TOPICS": "t"})
    assert cfg.bulk_max_bytes == 5 << 20


def test_metrics_port_splits_scrape_surface(spark, tmp_path, fake_es):
    """METRICS_PORT parity (reference README:35, promhttp on its own
    port): with METRICS_PORT set, /metrics is served on THAT port and
    the probes server stops exposing it — probe and scrape surfaces
    split exactly like the Go binary's. LOG_LEVEL flows through to the
    service logger."""
    import logging
    import urllib.error
    import urllib.request

    from kafka_elasticsearch_injector_spark.__main__ import main

    es, url = fake_es
    src_dir = str(tmp_path / "src")
    _write_source(spark, src_dir, [
        ("k1", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 7, TS),
    ])
    source = (
        spark.readStream.schema(
            "key STRING, value STRING, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP")
        .parquet(src_dir))
    env = {
        "KAFKA_TOPICS": "my-topic",
        "KAFKA_CONSUMER_RECORD_TYPE": "json",
        "ELASTICSEARCH_HOST": url,
        "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        "PAYLOAD_SCHEMA_DDL": SCHEMA,
        "PROBES_PORT": "0",
        "METRICS_PORT": "0",
        "LOG_LEVEL": "WARN",
        "TRIGGER_SECONDS": "0.2",
    }
    prior_level = logging.getLogger().level
    q, probes, msrv = main(env=env, source_df=source)
    try:
        assert msrv is not None and msrv.port != probes.port
        assert logging.getLogger().level == logging.WARNING
        deadline = time.time() + 60
        while time.time() < deadline and len(es.docs) < 1:
            if not q.isActive:
                q.awaitTermination(1)
                break
            time.sleep(0.2)
        mbase = f"http://127.0.0.1:{msrv.port}"
        body = urllib.request.urlopen(f"{mbase}/metrics").read().decode()
        assert body  # prometheus text exposition
        pbase = f"http://127.0.0.1:{probes.port}"
        assert urllib.request.urlopen(f"{pbase}/healthz").status == 200
        with pytest.raises(urllib.error.HTTPError) as ex:
            urllib.request.urlopen(f"{pbase}/metrics")
        assert ex.value.code == 404  # moved off the probe surface
    finally:
        logging.getLogger().setLevel(prior_level)
        q.stop()
        probes.stop()
        if msrv is not None:
            msrv.stop()


def test_sigterm_graceful_drain(spark, tmp_path, fake_es):
    """k8s lifecycle parity (reference cmd/injector.go:63-77): the
    installed SIGTERM handler stops the streaming query ORDERLY —
    checkpoint closes cleanly and awaitTermination returns so the
    process exits inside the k8s grace period (a mid-batch signal
    abandons that batch to checkpoint replay; create-only 409s absorb
    the duplicates). A second signal force-exits 128+signum. The
    handler is invoked directly (a real signal would hit the test
    runner); signal registration itself is asserted via getsignal."""
    import signal as _signal

    from kafka_elasticsearch_injector_spark.__main__ import (
        install_signal_handlers, main,
    )

    es, url = fake_es
    src_dir = str(tmp_path / "src")
    _write_source(spark, src_dir, [
        ("k1", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 7, TS),
    ])
    source = (
        spark.readStream.schema(
            "key STRING, value STRING, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP")
        .parquet(src_dir))
    env = {
        "KAFKA_TOPICS": "my-topic",
        "KAFKA_CONSUMER_RECORD_TYPE": "json",
        "ELASTICSEARCH_HOST": url,
        "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        "PAYLOAD_SCHEMA_DDL": SCHEMA,
        "TRIGGER_SECONDS": "0.2",
    }
    prev_term = _signal.getsignal(_signal.SIGTERM)
    prev_int = _signal.getsignal(_signal.SIGINT)
    q, probes, msrv = main(env=env, source_df=source)
    try:
        handler = install_signal_handlers(q)
        assert _signal.getsignal(_signal.SIGTERM) is handler
        assert _signal.getsignal(_signal.SIGINT) is handler
        # let the first batch land, then "SIGTERM"
        deadline = time.time() + 60
        while time.time() < deadline and len(es.docs) < 1:
            time.sleep(0.2)
        assert ("my-topic-2018-03-10", "0:7") in es.docs
        handler(_signal.SIGTERM, None)
        q.awaitTermination(60)
        deadline = time.time() + 30
        while time.time() < deadline and q.isActive:
            time.sleep(0.2)
        assert not q.isActive          # stopped orderly, not killed
        assert q.exception() is None   # clean stop, no error
        assert handler.state["fired"] == _signal.SIGTERM  # CLI exit code
        # second signal: force-exit path (os._exit stubbed — the real
        # call would kill the test runner)
        import os as _os
        calls = []
        real_exit = _os._exit
        _os._exit = lambda code: calls.append(code)
        try:
            handler(_signal.SIGINT, None)
        finally:
            _os._exit = real_exit
        assert calls == [128 + _signal.SIGINT]
    finally:
        _signal.signal(_signal.SIGTERM, prev_term)
        _signal.signal(_signal.SIGINT, prev_int)
        if q.isActive:
            q.stop()
