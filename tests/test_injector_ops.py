"""Unit tests for the injector operator layer — ports the reference's
routing matrix (src/elasticsearch/codec_test.go:18-121) and decode tests
(src/kafka/encode_decode_test.go:31-127) onto build_elastic_records.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from kafka_elasticsearch_injector_spark.config import InjectorConfig
from kafka_elasticsearch_injector_spark.streaming.pipeline import (
    build_elastic_records,
)

TS = dt.datetime(2018, 3, 10, 14, 30, 0)
SCHEMA = "id STRING, value INT"


def kafka_df(spark, rows=None):
    rows = rows if rows is not None else [
        ("k1", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 7, TS),
    ]
    return spark.createDataFrame(
        rows, "key STRING, value STRING, topic STRING, partition INT, "
              "offset LONG, timestamp TIMESTAMP")


def cfg(**kw):
    defaults = dict(record_type="json", topics=("my-topic",))
    defaults.update(kw)
    return InjectorConfig(**defaults)


def rows_of(df):
    return [r.asDict() for r in df.collect()]


# --- routing matrix (codec_test.go) ---------------------------------------


def test_default_day_index_and_doc_id(spark):
    out = rows_of(build_elastic_records(kafka_df(spark), cfg(), SCHEMA))
    assert out[0]["index_name"] == "my-topic-2018-03-10"
    assert out[0]["doc_id"] == "0:7"
    assert out[0]["doc_type"] == "_doc"


def test_hour_suffix(spark):
    out = rows_of(build_elastic_records(
        kafka_df(spark), cfg(es_time_suffix="hour"), SCHEMA))
    assert out[0]["index_name"] == "my-topic-2018-03-10-14"


def test_index_prefix_and_override(spark):
    out = rows_of(build_elastic_records(
        kafka_df(spark), cfg(es_index="custom", es_index_prefix="pfx-"), SCHEMA))
    assert out[0]["index_name"] == "pfx-custom-2018-03-10"


def test_index_column_routing(spark):
    out = rows_of(build_elastic_records(
        kafka_df(spark), cfg(es_index_column="id"), SCHEMA))
    assert out[0]["index_name"] == "my-topic-a"


def test_missing_index_column_fails_at_plan_time(spark):
    with pytest.raises(ValueError, match="routing column 'nope'"):
        build_elastic_records(kafka_df(spark), cfg(es_index_column="nope"), SCHEMA)


def test_doc_id_column(spark):
    out = rows_of(build_elastic_records(
        kafka_df(spark), cfg(es_doc_id_column="value"), SCHEMA))
    assert out[0]["doc_id"] == "1"


def test_missing_doc_id_column_fails_at_plan_time(spark):
    with pytest.raises(ValueError, match="routing column 'nope'"):
        build_elastic_records(kafka_df(spark), cfg(es_doc_id_column="nope"), SCHEMA)


def test_blacklist_removes_field_from_payload_only(spark):
    out = rows_of(build_elastic_records(
        kafka_df(spark), cfg(blacklisted_columns=("value",)), SCHEMA))
    payload = json.loads(out[0]["payload"])
    assert "value" not in payload and payload["id"] == "a"
    assert payload["@timestamp"] == int(TS.timestamp() * 1000)


# --- decode tests (encode_decode_test.go) ---------------------------------


def test_nil_message_dropped(spark):
    df = kafka_df(spark, [
        ("k", None, "t", 0, 1, TS),
        ("k", json.dumps({"id": "x", "value": 2}), "t", 0, 2, TS),
    ])
    out = rows_of(build_elastic_records(df, cfg(), SCHEMA))
    assert len(out) == 1 and out[0]["doc_id"] == "0:2"


def test_malformed_json_dropped_batch_continues(spark):
    df = kafka_df(spark, [
        ("k", '{"alo": 60"', "t", 0, 1, TS),          # fixture from A2
        ("k", json.dumps({"id": "x", "value": 2}), "t", 0, 2, TS),
    ])
    out = rows_of(build_elastic_records(df, cfg(), SCHEMA))
    assert len(out) == 1 and out[0]["doc_id"] == "0:2"


def test_include_key_embeds_decoded_json_key(spark):
    # The reference json.Unmarshals the key into a map and embeds the
    # DECODED object (encode_decode.go:98-104) — never the raw bytes.
    df = kafka_df(spark, [
        (json.dumps({"uid": "u1"}), json.dumps({"id": "a", "value": 1}),
         "my-topic", 0, 7, TS),
    ])
    out = rows_of(build_elastic_records(df, cfg(include_key=True), SCHEMA))
    assert json.loads(out[0]["payload"])["key"] == {"uid": "u1"}


def test_include_key_nil_key_omits_field(spark):
    # msg.Key == nil → key field omitted, record kept
    # (encode_decode.go:66: `includeKey && msg.Key != nil`).
    df = kafka_df(spark, [
        (None, json.dumps({"id": "a", "value": 1}), "my-topic", 0, 7, TS),
    ])
    out = rows_of(build_elastic_records(df, cfg(include_key=True), SCHEMA))
    assert len(out) == 1
    assert "key" not in json.loads(out[0]["payload"])


def test_include_key_undecodable_key_fails_record(spark):
    # A non-null key that isn't a JSON object errors the record in the
    # reference (json.Unmarshal into map fails); here it is side-dropped.
    df = kafka_df(spark, [
        ("not-json", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 7, TS),
        (json.dumps({"u": 1}), json.dumps({"id": "b", "value": 2}),
         "my-topic", 0, 8, TS),
    ])
    out = rows_of(build_elastic_records(df, cfg(include_key=True), SCHEMA))
    assert len(out) == 1 and out[0]["doc_id"] == "0:8"


def test_include_key_avro_decodes_key_record(spark):
    # Avro keys go through the same Confluent decode path as values
    # (encode_decode.go:66-72, nativeFromBinary on msg.Key).
    from .avro_writer import Codec
    from .confluent_fixtures import dict_registry, wire_encode

    val_schema = json.dumps({
        "type": "record", "name": "v",
        "fields": [{"name": "id", "type": "string"},
                   {"name": "value", "type": "int"}]})
    key_schema = json.dumps({
        "type": "record", "name": "k",
        "fields": [{"name": "uid", "type": "string"}]})
    registry = dict_registry({1: val_schema, 5: key_schema})
    vc, kc = Codec(val_schema), Codec(key_schema)
    rows = [
        (wire_encode(5, kc.encode({"uid": "u1"})),
         wire_encode(1, vc.encode({"id": "a", "value": 1})),
         "my-topic", 0, 7, TS),
        (None,  # nil key: record kept, key field omitted
         wire_encode(1, vc.encode({"id": "b", "value": 2})),
         "my-topic", 0, 8, TS),
    ]
    df = spark.createDataFrame(
        rows, "key BINARY, value BINARY, topic STRING, partition INT, "
              "offset LONG, timestamp TIMESTAMP")
    out = rows_of(build_elastic_records(
        df, cfg(record_type="avro", include_key=True,
                schema_registry_url="mem://fixture"), None,
        registry=registry, reader_schema_id=1, key_reader_schema_id=5))
    by_id = {r["doc_id"]: json.loads(r["payload"]) for r in out}
    assert by_id["0:7"]["key"] == {"uid": "u1"}
    assert "key" not in by_id["0:8"]


def test_null_routing_value_fails_batch(spark):
    # record.go:30-42: a missing/null routing value errors the record;
    # the Spark analog fails the batch via raise_error instead of
    # shipping "_index": null.
    df = kafka_df(spark, [
        ("k", json.dumps({"id": None, "value": 1}), "my-topic", 0, 7, TS),
    ])
    out = build_elastic_records(df, cfg(es_index_column="id"), SCHEMA)
    with pytest.raises(Exception, match="null es_index_column"):
        out.collect()


def test_timestamp_is_epoch_millis(spark):
    out = rows_of(build_elastic_records(kafka_df(spark), cfg(), SCHEMA))
    assert json.loads(out[0]["payload"])["@timestamp"] == 1520692200000


# --- config layer ----------------------------------------------------------


def test_config_from_env_roundtrip():
    c = InjectorConfig.from_env({
        "KAFKA_ADDRESS": "k:9092", "KAFKA_TOPICS": "a,b",
        "KAFKA_CONSUMER_GROUP": "g", "KAFKA_CONSUMER_RECORD_TYPE": "json",
        "ELASTICSEARCH_HOST": "http://es:9200", "ES_TIME_SUFFIX": "hour",
        "ES_BLACKLISTED_COLUMNS": "a,b", "ES_BULK_BACKOFF": "500ms",
    })
    assert c.topics == ("a", "b") and c.es_time_suffix == "hour"
    assert c.blacklisted_columns == ("a", "b") and c.bulk_backoff_s == 0.5


def test_every_config_field_is_set_by_from_env():
    # The service is configured by environment variables only, so a field
    # from_env leaves at its default is a setting no deployment can reach.
    import dataclasses

    passed: set[str] = set()

    class Recorder(InjectorConfig):
        def __init__(self, **kwargs):
            passed.update(kwargs)

    Recorder.from_env({})
    fields = {f.name for f in dataclasses.fields(InjectorConfig)}
    assert fields - passed == set(), "fields without an env var"


def test_config_rejects_bad_record_type():
    with pytest.raises(ValueError, match="avro|json"):
        InjectorConfig(record_type="protobuf")


def test_config_rejects_bad_time_suffix():
    with pytest.raises(ValueError, match="day|hour"):
        InjectorConfig(record_type="json", es_time_suffix="week")


def test_avro_requires_registry():
    with pytest.raises(ValueError, match="SCHEMA_REGISTRY_URL"):
        InjectorConfig(record_type="avro")


# --- blacklist non-destructiveness (record_test.go:15-45) -----------------


def test_blacklist_ignores_unknown_and_keeps_rest(spark):
    out = rows_of(build_elastic_records(
        kafka_df(spark), cfg(blacklisted_columns=("value", "zzz")), SCHEMA))
    assert set(json.loads(out[0]["payload"])) == {"id", "@timestamp"}


def test_main_requires_avro_reader_schema_ids_before_spark(monkeypatch):
    # The avro decode compiles against pinned reader schemas, so a
    # missing id must stop the service before a session starts.
    from kafka_elasticsearch_injector_spark import __main__ as service

    def no_spark(*a, **kw):
        raise AssertionError("main started Spark")

    monkeypatch.setattr(service, "get_spark", no_spark)
    env = {"KAFKA_CONSUMER_RECORD_TYPE": "avro",
           "SCHEMA_REGISTRY_URL": "http://registry:8081",
           "KAFKA_TOPICS": "t", "CHECKPOINT_DIR": "/nonexistent/ckpt"}
    with pytest.raises(SystemExit, match="AVRO_READER_SCHEMA_ID"):
        service.main(env=env)
    with pytest.raises(SystemExit, match="AVRO_KEY_READER_SCHEMA_ID"):
        service.main(env={**env, "AVRO_READER_SCHEMA_ID": "1",
                          "KAFKA_CONSUMER_INCLUDE_KEY": "true"})


def test_config_es_connection_surface():
    c = InjectorConfig.from_env({
        "ELASTICSEARCH_HOST": "es.internal:9200",
        "ELASTICSEARCH_SCHEME": "https",
        "ELASTICSEARCH_USER": "writer",
        "ELASTICSEARCH_PASSWORD": "s3cret",
        "ELASTICSEARCH_IGNORE_CERT": "true",
        "KAFKA_CONSUMER_BUFFER_SIZE": "500",
        "PROBES_PORT": "0",
        "KAFKA_CONSUMER_RECORD_TYPE": "json",
    })
    assert c.es_host == "https://es.internal:9200"  # scheme composed
    assert c.es_user == "writer" and c.es_password == "s3cret"
    assert c.es_ignore_cert is True
    assert c.buffer_size == 500
    assert c.probes_port == 0


def test_config_scheme_does_not_override_explicit():
    c = InjectorConfig.from_env({
        "ELASTICSEARCH_HOST": "http://explicit:9200",
        "ELASTICSEARCH_SCHEME": "https",
        "KAFKA_CONSUMER_RECORD_TYPE": "json",
    })
    assert c.es_host == "http://explicit:9200"


def test_http_transport_basic_auth_header():
    from kafka_elasticsearch_injector_spark.streaming.es_sink import (
        HttpTransport,
    )

    t = HttpTransport("https://es:9200", user="writer", password="pw",
                      ignore_cert=True)
    h = t._headers()
    import base64

    assert h["Authorization"] == "Basic " + base64.b64encode(
        b"writer:pw").decode()
    assert t._ssl_context() is not None      # unverified ctx for https
    t2 = HttpTransport("http://es:9200", ignore_cert=True)
    assert t2._ssl_context() is None         # plain http: no ctx
    assert "Authorization" not in t2._headers()


def test_probe_server_liveness_and_readiness():
    import urllib.error
    import urllib.request

    from kafka_elasticsearch_injector_spark.streaming.probes import (
        ProbeServer,
    )

    state = {"ready": False}
    srv = ProbeServer(0, ready_fn=lambda: state["ready"]).start()
    base = f"http://127.0.0.1:{srv.port}"
    try:
        with urllib.request.urlopen(f"{base}/healthz") as r:
            assert r.status == 200           # liveness: constant true
        try:
            urllib.request.urlopen(f"{base}/readiness")
            raise AssertionError("expected 503 before ready")
        except urllib.error.HTTPError as e:
            assert e.code == 503
        state["ready"] = True                # ES ping comes up
        with urllib.request.urlopen(f"{base}/readiness") as r:
            assert r.status == 200
    finally:
        srv.stop()


def test_config_probe_routes_matrix():
    """K8S_LIVENESS_ROUTE / K8S_READINESS_ROUTE (reference
    README.md:23-24, probes.go:9-10): custom paths pass through, unset
    falls back to this repo's documented defaults, and malformed or
    colliding routes fail fast at config time (the Go ServeMux would
    panic on "" and silently 404 a pattern without a leading slash —
    kubelet then kills a healthy pod)."""
    import pytest

    c = InjectorConfig.from_env({
        "KAFKA_CONSUMER_RECORD_TYPE": "json",
        "K8S_LIVENESS_ROUTE": "/alive",
        "K8S_READINESS_ROUTE": "/ready",
    })
    assert c.liveness_route == "/alive"
    assert c.readiness_route == "/ready"
    d = InjectorConfig.from_env({"KAFKA_CONSUMER_RECORD_TYPE": "json"})
    assert d.liveness_route == "/healthz"
    assert d.readiness_route == "/readiness"
    with pytest.raises(ValueError, match="K8S_LIVENESS_ROUTE"):
        InjectorConfig.from_env({"KAFKA_CONSUMER_RECORD_TYPE": "json",
                                 "K8S_LIVENESS_ROUTE": "alive"})
    with pytest.raises(ValueError, match="K8S_READINESS_ROUTE"):
        InjectorConfig.from_env({"KAFKA_CONSUMER_RECORD_TYPE": "json",
                                 "K8S_READINESS_ROUTE": ""})
    with pytest.raises(ValueError, match="must differ"):
        InjectorConfig.from_env({"KAFKA_CONSUMER_RECORD_TYPE": "json",
                                 "K8S_LIVENESS_ROUTE": "/probe",
                                 "K8S_READINESS_ROUTE": "/probe"})
    # /metrics folded onto the probes server (METRICS_PORT unset or
    # equal): a probe route there would shadow the scrape endpoint
    # with a bare 200 — rejected
    with pytest.raises(ValueError, match="METRICS_PORT"):
        InjectorConfig.from_env({"KAFKA_CONSUMER_RECORD_TYPE": "json",
                                 "K8S_LIVENESS_ROUTE": "/metrics",
                                 "PROBES_PORT": "9102"})
    with pytest.raises(ValueError, match="METRICS_PORT"):
        InjectorConfig.from_env({"KAFKA_CONSUMER_RECORD_TYPE": "json",
                                 "K8S_READINESS_ROUTE": "/metrics",
                                 "PROBES_PORT": "9102",
                                 "METRICS_PORT": "9102"})
    # no probes server at all (PROBES_PORT unset): the routes are
    # never served, so nothing can shadow the scrape endpoint — a
    # /metrics route is inert, not an error
    no_srv = InjectorConfig.from_env({"KAFKA_CONSUMER_RECORD_TYPE": "json",
                                      "K8S_LIVENESS_ROUTE": "/metrics"})
    assert no_srv.liveness_route == "/metrics"
    assert no_srv.probes_port is None
    # split topology (distinct METRICS_PORT): the probes server has no
    # /metrics branch, so the route is legal — reference parity
    # (promhttp on its own port never collides with the probe mux)
    split = InjectorConfig.from_env({"KAFKA_CONSUMER_RECORD_TYPE": "json",
                                     "K8S_LIVENESS_ROUTE": "/metrics",
                                     "PROBES_PORT": "5000",
                                     "METRICS_PORT": "9102"})
    assert split.liveness_route == "/metrics"


def test_probe_server_custom_routes():
    """Custom probe routes answer, and the default paths 404 when
    overridden (probes.go registers ONLY the env-var paths)."""
    import urllib.error
    import urllib.request

    from kafka_elasticsearch_injector_spark.streaming.probes import (
        ProbeServer,
    )

    srv = ProbeServer(0, ready_fn=lambda: True,
                      liveness_route="/alive",
                      readiness_route="/ready").start()
    base = f"http://127.0.0.1:{srv.port}"
    try:
        with urllib.request.urlopen(f"{base}/alive") as r:
            assert r.status == 200
        with urllib.request.urlopen(f"{base}/ready") as r:
            assert r.status == 200
        for stale in ("/healthz", "/readiness"):
            try:
                urllib.request.urlopen(f"{base}{stale}")
                raise AssertionError(f"expected 404 at {stale}")
            except urllib.error.HTTPError as e:
                assert e.code == 404
    finally:
        srv.stop()


def test_starting_offsets_config():
    """KAFKA_STARTING_OFFSETS: latest (reference parity default) /
    earliest (backfill) / per-partition JSON; anything else fails fast."""
    from kafka_elasticsearch_injector_spark.config import InjectorConfig

    base = {"KAFKA_TOPICS": "t", "KAFKA_CONSUMER_RECORD_TYPE": "json"}
    assert InjectorConfig.from_env(base).starting_offsets == "latest"
    assert InjectorConfig.from_env(
        {**base, "KAFKA_STARTING_OFFSETS": "earliest"}
    ).starting_offsets == "earliest"
    j = '{"t": {"0": 23, "1": -2}}'
    assert InjectorConfig.from_env(
        {**base, "KAFKA_STARTING_OFFSETS": j}).starting_offsets == j
    with pytest.raises(ValueError, match="KAFKA_STARTING_OFFSETS"):
        InjectorConfig.from_env({**base, "KAFKA_STARTING_OFFSETS": "newest"})


def test_typed_timestamp_field_collision_overwritten(spark):
    """A declared payload field named @timestamp is OVERWRITTEN by the
    injected epoch-ms (Go map assignment, encode_decode.go:96) — a
    duplicate JSON key would be a 400 at the ES parser."""
    rows = [("k", json.dumps({"id": "a", "@timestamp": 42}),
             "my-topic", 0, 7, TS)]
    out = build_elastic_records(
        kafka_df(spark, rows), cfg(), "`@timestamp` INT, id STRING")
    [doc] = [json.loads(r.payload) for r in out.collect()]
    assert doc["id"] == "a"
    assert doc["@timestamp"] == int(TS.timestamp() * 1000) != 42
    assert json.dumps(doc).count("@timestamp") == 1


def test_typed_key_field_collision_per_row(spark):
    """include_key + a declared payload field named "key": Go assigns
    Json["key"] only for NON-NIL Kafka keys, so the payload's own field
    survives nil-key records and is overwritten otherwise."""
    rows = [
        (json.dumps({"k": "theirs"}), json.dumps({"key": "mine", "id": "a"}),
         "my-topic", 0, 1, TS),
        (None, json.dumps({"key": "mine", "id": "b"}), "my-topic", 0, 2, TS),
    ]
    out = build_elastic_records(
        kafka_df(spark, rows), cfg(include_key=True), "key STRING, id STRING")
    docs = {json.loads(r.payload)["id"]: json.loads(r.payload)
            for r in out.collect()}
    assert docs["a"]["key"] == {"k": "theirs"}   # non-nil key overwrites
    assert docs["b"]["key"] == "mine"            # nil key: payload field kept


def test_avro_time_logical_payload_serializes(spark):
    """An Avro time-millis/time-micros field decodes to Spark TimeType
    (sources/avro_codec.py r12) — which Spark 4.1's to_json cannot
    serialize. The payload builder must cast TIME (at any nesting
    depth) to its ISO string instead of crashing the batch
    (pipeline._json_safe)."""
    from .avro_writer import Codec
    from .confluent_fixtures import dict_registry, wire_encode

    val_schema = json.dumps({
        "type": "record", "name": "v", "fields": [
            {"name": "id", "type": "string"},
            {"name": "tod", "type": {"type": "int",
                                     "logicalType": "time-millis"}},
            {"name": "nested", "type": {
                "type": "record", "name": "n", "fields": [
                    {"name": "tus", "type": ["null", {
                        "type": "long",
                        "logicalType": "time-micros"}]}]}},
            {"name": "laps", "type": {"type": "array", "items": {
                "type": "int", "logicalType": "time-millis"}}},
        ]})
    registry = dict_registry({1: val_schema})
    vc = Codec(val_schema)
    rows = [
        (None, wire_encode(1, vc.encode({
            "id": "a", "tod": dt.time(3, 4, 5, 678000),
            "nested": {"tus": dt.time(23, 59, 59, 999999)},
            "laps": [dt.time(0, 0, 1), dt.time(0, 1, 0)]})),
         "my-topic", 0, 7, TS),
        (None, wire_encode(1, vc.encode({
            "id": "b", "tod": dt.time(12, 0),
            "nested": {"tus": None}, "laps": []})),
         "my-topic", 0, 8, TS),
    ]
    df = spark.createDataFrame(
        rows, "key BINARY, value BINARY, topic STRING, partition INT, "
              "offset LONG, timestamp TIMESTAMP")
    out = rows_of(build_elastic_records(
        df, cfg(record_type="avro",
                schema_registry_url="mem://fixture"), None,
        registry=registry, reader_schema_id=1))
    by_id = {r["doc_id"]: json.loads(r["payload"]) for r in out}
    assert by_id["0:7"]["tod"] == "03:04:05.678"
    assert by_id["0:7"]["nested"]["tus"] == "23:59:59.999999"
    assert by_id["0:7"]["laps"] == ["00:00:01", "00:01:00"]
    assert by_id["0:8"]["tod"] == "12:00:00"
    assert by_id["0:8"]["nested"] == {}   # null omitted by to_json
    assert by_id["0:8"]["laps"] == []


def test_config_metrics_port_and_log_level_from_env():
    c = InjectorConfig.from_env({
        "KAFKA_TOPICS": "t", "KAFKA_CONSUMER_RECORD_TYPE": "json",
        "METRICS_PORT": "9102", "LOG_LEVEL": "WARN",
    })
    assert c.metrics_port == 9102 and c.log_level == "WARN"
    import logging

    assert c.python_log_level() == logging.WARNING
    assert c.spark_log_level() == "WARN"
    # defaults: no dedicated metrics port, INFO (reference README:34-35)
    d = InjectorConfig.from_env(
        {"KAFKA_TOPICS": "t", "KAFKA_CONSUMER_RECORD_TYPE": "json"})
    assert d.metrics_port is None and d.log_level == "INFO"
    assert d.python_log_level() == logging.INFO
    # NONE passes nothing (level.AllowNone() parity) and maps to log4j OFF
    n = InjectorConfig(record_type="json", log_level="NONE")
    assert n.python_log_level() > logging.CRITICAL
    assert n.spark_log_level() == "OFF"


def test_config_rejects_bad_log_level_and_metrics_port():
    with pytest.raises(ValueError, match="LOG_LEVEL"):
        InjectorConfig(record_type="json", log_level="TRACE")
    with pytest.raises(ValueError, match="METRICS_PORT"):
        InjectorConfig(record_type="json", metrics_port=70000)


def test_avro_time_in_key_schema_serializes(spark):
    """r12 review: the DECODED KEY struct takes the same TIME→string
    JSON guard as payload fields — a time-millis field in the key
    schema must serialize, not crash the batch at to_json."""
    from .avro_writer import Codec
    from .confluent_fixtures import dict_registry, wire_encode

    val_schema = json.dumps({
        "type": "record", "name": "v",
        "fields": [{"name": "id", "type": "string"}]})
    key_schema = json.dumps({
        "type": "record", "name": "k", "fields": [
            {"name": "uid", "type": "string"},
            {"name": "at", "type": {"type": "int",
                                    "logicalType": "time-millis"}}]})
    registry = dict_registry({1: val_schema, 5: key_schema})
    vc, kc = Codec(val_schema), Codec(key_schema)
    rows = [(wire_encode(5, kc.encode(
                {"uid": "u1", "at": dt.time(3, 4, 5, 678000)})),
             wire_encode(1, vc.encode({"id": "a"})),
             "my-topic", 0, 7, TS)]
    df = spark.createDataFrame(
        rows, "key BINARY, value BINARY, topic STRING, partition INT, "
              "offset LONG, timestamp TIMESTAMP")
    out = rows_of(build_elastic_records(
        df, cfg(record_type="avro", include_key=True,
                schema_registry_url="mem://fixture"), None,
        registry=registry, reader_schema_id=1, key_reader_schema_id=5))
    payload = json.loads(out[0]["payload"])
    assert payload["key"] == {"uid": "u1", "at": "03:04:05.678"}


def test_time_map_key_serializes_iso(spark):
    """r12 review: a TIME map KEY would otherwise serialize as raw
    internal nanoseconds; the JSON guard ISO-casts keys too."""
    import pyspark.sql.types as T

    from kafka_elasticsearch_injector_spark.streaming.pipeline import (
        _json_safe,
    )

    schema = T.StructType([T.StructField(
        "m", T.MapType(T.TimeType(), T.StringType()), True)])
    df = spark.createDataFrame(
        [({dt.time(3, 4, 5): "x"},)], schema)
    got = df.select(F.to_json(F.struct(
        _json_safe(F.col("m"), schema["m"].dataType).alias("m")
    )).alias("j")).collect()[0].j
    assert json.loads(got) == {"m": {"03:04:05": "x"}}
