"""Schemaless JSON ingest: json records with NO declared payload schema.

The reference's default deployment decodes arbitrary JSON into
``map[string]interface{}`` (src/kafka/encode_decode.go:87-113) — no
schema is declared anywhere in its config. These tests mirror its
round-trip suite (src/kafka/encode_decode_test.go:31-127) against
``build_elastic_records(..., payload_schema=None)``: faithful type
passthrough via map<string,variant>, @timestamp assignment, key
embedding rules, corrupt/nil drops, runtime routing lookups — plus a
full streaming e2e with no schema in sight.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest

from kafka_elasticsearch_injector_spark.config import InjectorConfig
from kafka_elasticsearch_injector_spark.streaming.es_sink import HttpTransport
from kafka_elasticsearch_injector_spark.streaming.pipeline import (
    build_elastic_records, start_pipeline,
)

TS = dt.datetime(2018, 3, 10, 14, 30, 0)
TS_MS = int(TS.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)


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


def payloads(df):
    return [json.loads(r.payload) for r in df.collect()]


# --- round-trip fidelity (encode_decode_test.go:31-49) ---------------------


def test_schemaless_roundtrip_preserves_types(spark):
    """Numbers stay numbers, bools stay bools, nested objects/arrays and
    JSON nulls survive — the map[string]interface{} contract, which a
    map<string,string> decode would destroy."""
    val = {"id": "alo", "n": 60, "pi": 2.5, "ok": True, "gone": None,
           "nest": {"x": [1, "two", False]}}
    out = build_elastic_records(
        kafka_df(spark, [("k", json.dumps(val), "my-topic", 0, 7, TS)]),
        cfg(), payload_schema=None)
    [doc] = payloads(out)
    ts = doc.pop("@timestamp")
    assert doc == val
    assert isinstance(ts, int)


def test_schemaless_routing_defaults(spark):
    out = build_elastic_records(kafka_df(spark), cfg(), None).collect()
    assert out[0].index_name == "my-topic-2018-03-10"
    assert out[0].doc_id == "0:7"
    assert out[0].doc_type == "_doc"


def test_schemaless_timestamp_assignment_overwrites(spark):
    """jsonValue[kafkaTimestampKey] = ts is a Go map ASSIGNMENT — a
    payload field named @timestamp is replaced, not duplicated."""
    val = {"id": "a", "@timestamp": 42}
    out = build_elastic_records(
        kafka_df(spark, [("k", json.dumps(val), "my-topic", 0, 7, TS)]),
        cfg(), None)
    [doc] = payloads(out)
    assert doc["@timestamp"] != 42
    assert doc["id"] == "a"
    assert len(doc) == 2


# --- key embedding (encode_decode_test.go:94-127) ---------------------------


def test_schemaless_include_key_embeds_object(spark):
    out = build_elastic_records(
        kafka_df(spark, [(json.dumps({"k": "marco"}),
                          json.dumps({"id": "pop", "value": 60}),
                          "my-topic", 0, 7, TS)]),
        cfg(include_key=True), None)
    [doc] = payloads(out)
    assert doc["key"] == {"k": "marco"}
    assert doc["id"] == "pop" and doc["value"] == 60


def test_schemaless_nil_key_preserves_payload_key_field(spark):
    """Go assigns jsonValue["key"] ONLY for a non-nil Kafka key
    (encode_decode.go:98-104): with a nil key, a payload field named
    "key" survives untouched."""
    val = {"id": "a", "key": "mine"}
    out = build_elastic_records(
        kafka_df(spark, [(None, json.dumps(val), "my-topic", 0, 7, TS)]),
        cfg(include_key=True), None)
    [doc] = payloads(out)
    assert doc["key"] == "mine"


def test_schemaless_nonnil_key_overwrites_payload_key_field(spark):
    val = {"id": "a", "key": "mine"}
    out = build_elastic_records(
        kafka_df(spark, [(json.dumps({"k": "theirs"}), json.dumps(val),
                          "my-topic", 0, 7, TS)]),
        cfg(include_key=True), None)
    [doc] = payloads(out)
    assert doc["key"] == {"k": "theirs"}


def test_schemaless_bad_key_drops(spark):
    rows = [
        ("not json", json.dumps({"id": "a"}), "my-topic", 0, 1, TS),
        ('["array"]', json.dumps({"id": "b"}), "my-topic", 0, 2, TS),
        (json.dumps({"k": "ok"}), json.dumps({"id": "c"}), "my-topic", 0, 3, TS),
    ]
    out = build_elastic_records(
        kafka_df(spark, rows), cfg(include_key=True), None,
        return_drops=True).collect()
    reasons = {r.offset: r._drop_reason for r in out}
    assert reasons == {1: "bad_key", 2: "bad_key", 3: None}


# --- drop semantics (encode_decode_test.go:51-63) ---------------------------


def test_schemaless_corrupt_and_nil_drops(spark):
    rows = [
        ("k", None, "my-topic", 0, 1, TS),             # nil payload
        ("k", '{"broken', "my-topic", 0, 2, TS),       # malformed
        ("k", "[1,2]", "my-topic", 0, 3, TS),          # top-level array
        ("k", "42", "my-topic", 0, 4, TS),             # top-level scalar
        ("k", json.dumps({"id": "ok"}), "my-topic", 0, 5, TS),
    ]
    out = build_elastic_records(
        kafka_df(spark, rows), cfg(), None, return_drops=True).collect()
    reasons = {r.offset: r._drop_reason for r in out}
    assert reasons == {1: "null_payload", 2: "corrupt_payload",
                       3: "corrupt_payload", 4: "corrupt_payload", 5: None}


# --- blacklist + runtime routing --------------------------------------------


def test_schemaless_blacklist(spark):
    val = {"id": "a", "secret": "x", "value": 1}
    out = build_elastic_records(
        kafka_df(spark, [("k", json.dumps(val), "my-topic", 0, 7, TS)]),
        cfg(blacklisted_columns=("secret",)), None)
    [doc] = payloads(out)
    assert "secret" not in doc
    assert doc["id"] == "a" and doc["value"] == 1


def test_schemaless_routing_columns_runtime_lookup(spark):
    """Routing fields resolve per record from the dynamic map; a numeric
    doc-id field string-casts like record.go:30-42's GetValueForField."""
    val = {"id": 123, "bucket": "red"}
    out = build_elastic_records(
        kafka_df(spark, [("k", json.dumps(val), "my-topic", 0, 7, TS)]),
        cfg(es_index_column="bucket", es_doc_id_column="id"), None).collect()
    assert out[0].index_name == "my-topic-red"
    assert out[0].doc_id == "123"


def test_schemaless_missing_routing_value_fails_batch(spark):
    """No schema to check at plan time → a record missing the routing
    field fails the batch at runtime, the record.go:30-42 analog."""
    out = build_elastic_records(
        kafka_df(spark, [("k", json.dumps({"id": "a"}), "my-topic", 0, 7, TS)]),
        cfg(es_doc_id_column="nope"), None)
    with pytest.raises(Exception, match="routing value"):
        out.collect()


# --- streaming e2e: no declared schema anywhere -----------------------------


def test_stream_schemaless_end_to_end(spark, tmp_path, fake_es):
    """The reference's most common deployment: point the service at a
    topic, declare NOTHING about the payload. Mirrors
    test_streaming.py's e2e minus the schema."""
    es, url = fake_es
    src_dir = str(tmp_path / "src")
    rows = [
        ("k1", json.dumps({"id": "a", "value": 1, "tags": ["x", "y"]}),
         "my-topic", 0, 7, TS),
        ("k2", json.dumps({"other_shape": True}), "my-topic", 1, 3, TS),
        ("k3", None, "my-topic", 0, 8, TS),
        ("k4", '{"broken', "my-topic", 0, 9, TS),
    ]
    spark.createDataFrame(
        rows, "key STRING, value STRING, topic STRING, partition INT, "
              "offset LONG, timestamp TIMESTAMP"
    ).write.mode("overwrite").parquet(src_dir)

    source = (
        spark.readStream.schema(
            "key STRING, value STRING, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP")
        .parquet(src_dir))
    q = start_pipeline(
        spark, cfg(), payload_schema=None,
        transport_factory=lambda u=url: HttpTransport(u),
        checkpoint_dir=str(tmp_path / "ckpt"), source_df=source,
        available_now=True)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    docs = es.docs
    assert set(docs) == {("my-topic-2018-03-10", "0:7"),
                         ("my-topic-2018-03-10", "1:3")}
    doc = docs[("my-topic-2018-03-10", "0:7")]
    assert doc["id"] == "a" and doc["value"] == 1 and doc["tags"] == ["x", "y"]
    assert isinstance(doc["@timestamp"], int)
    assert docs[("my-topic-2018-03-10", "1:3")]["other_shape"] is True


# --- generative fidelity guard ----------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_scalars = st.one_of(
    st.none(), st.booleans(),
    st.integers(-2**63, 2**63 - 1),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=16))
_values = st.recursive(
    _scalars,
    lambda c: st.one_of(st.lists(c, max_size=4),
                        st.dictionaries(st.text(max_size=8), c, max_size=4)),
    max_leaves=8)
# "@timestamp"/"key" overwrite semantics are pinned by the unit tests
# above; the property concerns FIELD FIDELITY, so reserved names are
# excluded from the generated objects.
_payload_objs = st.dictionaries(
    st.text(max_size=10).filter(lambda k: k not in ("@timestamp", "key")),
    _values, min_size=0, max_size=6)


@settings(max_examples=15, deadline=None)
@given(st.lists(_payload_objs, min_size=1, max_size=8))
def test_schemaless_roundtrip_property(spark, objs):
    """Arbitrary JSON objects survive the schemaless pipeline exactly:
    decode → enrich → to_json re-serialization loses nothing and
    coerces nothing (ints stay ints — including past 2^53, where the
    reference's float64 unmarshal actually LOSES precision; nested
    structure, bools, nulls, unicode all intact). One Spark job per
    example (the objects ride as one batch)."""
    rows = [("k", json.dumps(o), "t", 0, i, TS) for i, o in enumerate(objs)]
    out = build_elastic_records(
        kafka_df(spark, rows), cfg(), None, return_drops=True).collect()
    by_offset = {r.offset: r for r in out}
    for i, o in enumerate(objs):
        r = by_offset[i]
        assert r._drop_reason is None, (o, r._drop_reason)
        doc = json.loads(r.payload)
        doc.pop("@timestamp")
        assert doc == o


def test_schemaless_arbitrary_precision_numbers(spark):
    """JSON numbers beyond IEEE double survive EXACTLY (variant holds
    them as decimals): the reference's json.Unmarshal puts every number
    in a float64 and silently loses them — faithful-or-better parity,
    pinned here so a decode-path change can't regress it."""
    val = ('{"big": 123456789012345678901234567890, '
           '"i64max": 9223372036854775807, '
           '"frac": 0.1234567890123456789012345, "id": "x"}')
    out = build_elastic_records(
        kafka_df(spark, [("k", val, "my-topic", 0, 7, TS)]), cfg(), None)
    [row] = out.collect()
    p = row.payload
    assert '"big":123456789012345678901234567890' in p
    assert '"i64max":9223372036854775807' in p
    assert '"frac":0.1234567890123456789012345' in p


def test_schemaless_plan_is_jvm_side(spark):
    """The docstring claims the whole schemaless path is JVM-side
    Catalyst expressions (from_json + variant/map ops, zero Python) —
    gate it like the relational surface: no Python eval nodes anywhere
    in the physical plan (whole-stage codegen spans depend on the
    input relation — variant exprs are CodegenFallback over a local
    relation — so the Python-free property is the invariant)."""
    out = build_elastic_records(
        kafka_df(spark), cfg(include_key=True,
                             blacklisted_columns=("secret",)), None)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF",
                 "MapInPandas", "FlatMapsInPandas"):
        assert node not in plan, (node, plan)
