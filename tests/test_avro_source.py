"""Avro source layer: pure-Python codec, Confluent wire format, schema
registry cache, and the Spark decode operator.

Mirrors the reference's test pyramid for this surface:
- encode_decode_test.go:31-127 — decode round-trips, malformed payload
  side-drop, nil-value handling;
- schema_registry.go:16-27 — fetch-once caching;
- fixtures/producer.go:96-118 — wire-format framing (magic byte 0,
  big-endian schema id);
- consumer_test.go:106-147 — end-to-end: framed Avro in → typed rows out
  (here through the full streaming pipeline into the ES-fake sink).
"""

from __future__ import annotations

import datetime as dt
import json

import pytest

from kafka_elasticsearch_injector_spark.sources import (
    AvroError,
    avro_to_spark_type,
    decode_confluent,
    wire_decode,
)

from .avro_writer import Codec
from .confluent_fixtures import dict_registry, encode_confluent, wire_encode

# The reference's Avro fixture schema (src/kafka/fixtures/fixtures.go:15-24).
FIXTURE_SCHEMA = json.dumps({
    "type": "record", "name": "fixture_record",
    "fields": [{"name": "id", "type": "int"}],
})

NESTED_SCHEMA = json.dumps({
    "type": "record", "name": "evt",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "score", "type": "double"},
        {"name": "flags", "type": {"type": "array", "items": "boolean"}},
        {"name": "attrs", "type": {"type": "map", "values": "string"}},
        {"name": "kind", "type": {"type": "enum", "name": "k",
                                  "symbols": ["A", "B"]}},
        {"name": "raw", "type": "bytes"},
    ],
})


def test_varint_zigzag_known_vectors():
    codec = Codec('"long"')
    # Public Avro spec examples: zigzag(0)=0, (-1)=1, (1)=2, (-2)=3 ...
    assert codec.encode(0) == b"\x00"
    assert codec.encode(-1) == b"\x01"
    assert codec.encode(1) == b"\x02"
    assert codec.encode(-64) == b"\x7f"
    assert codec.encode(64) == b"\x80\x01"
    for n in (0, 1, -1, 63, -64, 64, 2**40, -(2**40), 2**62):
        assert codec.decode(codec.encode(n)) == n


def test_record_roundtrip_nested():
    codec = Codec(NESTED_SCHEMA)
    value = {
        "id": 42, "name": "abc", "score": 2.5,
        "flags": [True, False], "attrs": {"x": "1", "y": "2"},
        "kind": "B", "raw": b"\x00\xff",
    }
    assert codec.decode(codec.encode(value)) == value
    null_name = dict(value, name=None)
    assert codec.decode(codec.encode(null_name)) == null_name


def test_decode_errors():
    codec = Codec(FIXTURE_SCHEMA)
    with pytest.raises(AvroError):
        codec.decode(b"")            # truncated varint
    with pytest.raises(AvroError):
        codec.decode(b"\x02\x02")    # trailing bytes


def test_wire_format_framing():
    framed = wire_encode(7, b"\x54")
    assert framed == b"\x00\x00\x00\x00\x07\x54"     # magic 0 + BE id
    schema_id, body = wire_decode(framed)
    assert (schema_id, body) == (7, b"\x54")
    # magic byte is NOT validated on read (encode_decode.go:144-147)
    assert wire_decode(b"\xff\x00\x00\x00\x07\x54") == (7, b"\x54")
    with pytest.raises(AvroError):
        wire_decode(b"\x00\x00")     # shorter than header


def test_registry_caches_fetches():
    calls = []

    def fetch(schema_id):
        calls.append(schema_id)
        return FIXTURE_SCHEMA

    from kafka_elasticsearch_injector_spark.sources import SchemaRegistryClient
    client = SchemaRegistryClient(fetcher=fetch)
    assert client.get_schema(1) == FIXTURE_SCHEMA
    assert client.get_schema(1) == FIXTURE_SCHEMA
    assert calls == [1]              # fetched once, cached forever


def test_avro_to_spark_type_mapping():
    t = avro_to_spark_type(NESTED_SCHEMA)
    assert t.simpleString() == (
        "struct<id:bigint,name:string,score:double,flags:array<boolean>,"
        "attrs:map<string,string>,kind:string,raw:binary>")
    with pytest.raises(AvroError):
        avro_to_spark_type('["int", "string"]')      # non-nullable union


def test_decode_confluent_spark(spark):
    registry = dict_registry({1: FIXTURE_SCHEMA, 2: NESTED_SCHEMA})
    codec1, codec2 = Codec(FIXTURE_SCHEMA), Codec(NESTED_SCHEMA)
    rows = [
        (wire_encode(1, codec1.encode({"id": 10})),),
        # different writer id on the same topic → name-based projection
        (wire_encode(2, codec2.encode({
            "id": 99, "name": "x", "score": 0.5, "flags": [],
            "attrs": {}, "kind": "A", "raw": b""})),),
        (b"\x00\x00\x00\x00\x01\xff\xff\xff",),      # malformed body
        (None,),                                     # nil message
    ]
    df = spark.createDataFrame(rows, "value binary")
    decoded = decode_confluent(df, registry, reader_schema_id=1)
    out = {tuple(r) for r in
           decoded.selectExpr("decoded.id", "_decode_error is null").collect()}
    assert (10, True) in out
    assert (None, True) not in out                   # id=99 projected by name
    assert (99, True) in out
    kept = decoded.filter("_decode_error is null")
    assert kept.count() == 2
    # one Arrow kernel, no pandas round trip
    plan = decoded._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
    # zero-row batches and all-nil batches pass through with the schema
    empty = decode_confluent(df.limit(0), registry, reader_schema_id=1)
    assert empty.collect() == []
    assert empty.schema == decoded.schema
    nils = decode_confluent(spark.createDataFrame([(None,), (None,)],
                                                  "value binary"),
                            registry, reader_schema_id=1)
    assert [tuple(r) for r in nils.collect()] == [
        (None, None, "nil message")] * 2


def test_avro_streaming_end_to_end(spark, tmp_path, fake_es):
    """Framed Avro through the full pipeline into the ES-fake sink —
    the consumer_test.go:106-147 shape with an Avro payload."""
    from kafka_elasticsearch_injector_spark.config import InjectorConfig
    from kafka_elasticsearch_injector_spark.streaming.es_sink import (
        HttpTransport,
    )
    from kafka_elasticsearch_injector_spark.streaming.pipeline import (
        start_pipeline,
    )

    es, url = fake_es

    ts = dt.datetime(2018, 3, 10, 14, 30, 0)
    codec = Codec(FIXTURE_SCHEMA)
    rows = [
        (b"k1", wire_encode(1, codec.encode({"id": 1})), "t", 0, 7, ts),
        (b"k2", b"\x00\x00\x00\x00\x01\xff", "t", 0, 8, ts),  # malformed
    ]
    src_dir, ckpt = (str(tmp_path / d) for d in ("src", "ckpt"))
    spark.createDataFrame(
        rows, "key BINARY, value BINARY, topic STRING, partition INT, "
              "offset LONG, timestamp TIMESTAMP"
    ).write.mode("overwrite").parquet(src_dir)

    cfg = InjectorConfig(record_type="avro", topics=("t",),
                         schema_registry_url="mem://fixture")
    source = (
        spark.readStream.schema(
            "key BINARY, value BINARY, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP")
        .parquet(src_dir)
    )
    q = start_pipeline(
        spark, cfg, None,
        transport_factory=lambda u=url: HttpTransport(u),
        checkpoint_dir=ckpt, source_df=source,
        registry=dict_registry({1: FIXTURE_SCHEMA}), reader_schema_id=1)
    try:
        import time
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(index == "t-2018-03-10" for index, _ in es.docs):
                break
            time.sleep(0.5)
    finally:
        q.stop()

    doc = es.docs[("t-2018-03-10", "0:7")]
    assert doc["id"] == 1
    assert doc["@timestamp"] == int(ts.timestamp() * 1000)
    # the malformed record was side-dropped, not fatal
    assert [i for index, i in es.docs if index == "t-2018-03-10"] == ["0:7"]


def test_encode_confluent_roundtrip(spark):
    """Producer-side framing (reference op 26): struct → framed Avro →
    decode_confluent recovers the struct, id and header byte-exact."""
    registry = dict_registry({1: FIXTURE_SCHEMA})
    df = spark.createDataFrame(
        [(7, (10,)), (8, (20,)), (9, None)],
        "k long, payload struct<id:int>")
    framed = encode_confluent(df, registry, schema_id=1, struct_col="payload")
    raw = {r.k: r.value and bytes(r.value) for r in framed.collect()}
    assert raw[7][:5] == b"\x00\x00\x00\x00\x01"       # magic + BE id
    assert raw[7][5:] == Codec(FIXTURE_SCHEMA).encode({"id": 10})
    assert raw[9] is None                               # null passthrough
    decoded = decode_confluent(
        framed.filter("value is not null"), registry, reader_schema_id=1)
    assert {(r.k, r.decoded.id) for r in decoded.collect()} == {(7, 10), (8, 20)}


# ---------------------------------------------------- property-based


from hypothesis import given, settings
from hypothesis import strategies as st

_PROP_SCHEMA = json.dumps({
    "type": "record", "name": "PropRec", "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "flag", "type": "boolean"},
        {"name": "score", "type": "double"},
        {"name": "blob", "type": "bytes"},
        {"name": "opt", "type": ["null", "long"]},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
        {"name": "color", "type": {"type": "enum", "name": "Color",
                                   "symbols": ["RED", "GREEN", "BLUE"]}},
        {"name": "child", "type": {"type": "record", "name": "Child",
                                   "fields": [{"name": "x", "type": "int"}]}},
    ],
})

_values = st.fixed_dictionaries({
    "id": st.integers(-2**63, 2**63 - 1),
    "name": st.text(max_size=40),
    "flag": st.booleans(),
    "score": st.floats(allow_nan=False),  # NaN != NaN breaks equality
    "blob": st.binary(max_size=40),
    "opt": st.one_of(st.none(), st.integers(-2**63, 2**63 - 1)),
    "tags": st.lists(st.text(max_size=10), max_size=5),
    "attrs": st.dictionaries(st.text(max_size=8),
                             st.integers(-2**31, 2**31), max_size=5),
    "color": st.sampled_from(["RED", "GREEN", "BLUE"]),
    "child": st.fixed_dictionaries({"x": st.integers(-2**31, 2**31 - 1)}),
})


@settings(max_examples=200, deadline=None)
@given(_values)
def test_codec_roundtrip_property(value):
    """decode(encode(v)) == v for arbitrary schema-conforming values —
    the reference trusts goavro for this (encode_decode.go:52-62); our
    pure-Python codec earns the same trust by property."""
    codec = Codec(_PROP_SCHEMA)
    assert codec.decode(codec.encode(value)) == value


# --- logical types (Avro 1.11 spec; goavro surfaces these to the
# reference, encode_decode.go:52-62) ----------------------------------------

DEC_BYTES = json.dumps({"type": "bytes", "logicalType": "decimal",
                        "precision": 4, "scale": 2})
DEC_FIXED = json.dumps({"type": "fixed", "name": "d3", "size": 3,
                        "logicalType": "decimal", "precision": 5, "scale": 2})
from decimal import Decimal  # noqa: E402


def test_decimal_bytes_spec_vectors():
    """Hand-derived wire bytes: unscaled two's-complement big-endian in
    an avro bytes value (length varint + payload)."""
    codec = Codec(DEC_BYTES)
    # 12.34 → unscaled 1234 = 0x04D2 → len 2 (zigzag varint 0x04) + bytes
    assert codec.encode(Decimal("12.34")) == b"\x04\x04\xd2"
    assert codec.decode(b"\x04\x04\xd2") == Decimal("12.34")
    # -0.01 → unscaled -1 → single byte 0xFF
    assert codec.encode(Decimal("-0.01")) == b"\x02\xff"
    assert codec.decode(b"\x02\xff") == Decimal("-0.01")
    # trailing-zero scale normalization: 1 ≡ 1.00 at scale 2
    assert codec.decode(codec.encode(Decimal("1"))) == Decimal("1.00")


def test_decimal_fixed_spec_vectors():
    codec = Codec(DEC_FIXED)
    # fixed(3): no length prefix, sign-extended to exactly 3 bytes
    assert codec.encode(Decimal("12.34")) == b"\x00\x04\xd2"
    assert codec.decode(b"\x00\x04\xd2") == Decimal("12.34")
    assert codec.encode(Decimal("-0.01")) == b"\xff\xff\xff"
    assert codec.decode(b"\xff\xff\xff") == Decimal("-0.01")


def test_decimal_scale_mismatch_raises():
    codec = Codec(DEC_BYTES)
    with pytest.raises(AvroError, match="scale"):
        codec.encode(Decimal("1.234"))     # 3 fractional digits at scale 2
    with pytest.raises(AvroError, match="overflow"):
        Codec(DEC_FIXED).encode(Decimal("99999999.99"))


def test_date_timestamp_vectors():
    date_codec = Codec(json.dumps({"type": "int", "logicalType": "date"}))
    assert date_codec.decode(date_codec.encode(dt.date(2020, 1, 1))) == \
        dt.date(2020, 1, 1)
    # day 0 is the epoch; encoding is plain zigzag varint of the day count
    assert date_codec.encode(dt.date(1970, 1, 1)) == b"\x00"
    assert date_codec.decode(b"\x02") == dt.date(1970, 1, 2)

    ms_codec = Codec(json.dumps(
        {"type": "long", "logicalType": "timestamp-millis"}))
    t = dt.datetime(2009, 2, 13, 23, 31, 30, 123000, tzinfo=dt.timezone.utc)
    assert ms_codec.decode(ms_codec.encode(t)) == t
    assert ms_codec.decode(ms_codec.encode(1234567890123)) == t  # int accepted

    us_codec = Codec(json.dumps(
        {"type": "long", "logicalType": "timestamp-micros"}))
    t_us = t.replace(microsecond=123456)
    assert us_codec.decode(us_codec.encode(t_us)) == t_us

    # naive datetime on write = UTC instant (session convention)
    naive = dt.datetime(2009, 2, 13, 23, 31, 30, 123000)
    assert ms_codec.decode(ms_codec.encode(naive)) == t

    local_codec = Codec(json.dumps(
        {"type": "long", "logicalType": "local-timestamp-micros"}))
    assert local_codec.decode(local_codec.encode(naive)) == naive


def test_invalid_logical_declarations_fall_back():
    """The spec mandates IGNORING invalid logical declarations: decode
    must surface the underlying type, not error."""
    # scale > precision → plain bytes
    bad = json.dumps({"type": "bytes", "logicalType": "decimal",
                      "precision": 2, "scale": 3})
    assert Codec(bad).decode(b"\x04\x04\xd2") == b"\x04\xd2"
    assert avro_to_spark_type(bad).simpleString() == "binary"
    # decimal on a non-bytes underlying → underlying wins
    bad2 = json.dumps({"type": "string", "logicalType": "decimal",
                       "precision": 4, "scale": 2})
    assert Codec(bad2).decode(b"\x02a") == "a"
    # unknown logical name → underlying
    bad3 = json.dumps({"type": "int", "logicalType": "no-such-type"})
    assert Codec(bad3).decode(b"\x02") == 1
    # fixed too small for the declared precision → plain fixed
    bad4 = json.dumps({"type": "fixed", "name": "f1", "size": 1,
                       "logicalType": "decimal", "precision": 5, "scale": 0})
    assert Codec(bad4).decode(b"\x07") == b"\x07"


def test_logical_spark_type_mapping():
    schema = json.dumps({
        "type": "record", "name": "lt", "fields": [
            {"name": "price", "type": {"type": "bytes",
                                       "logicalType": "decimal",
                                       "precision": 10, "scale": 2}},
            {"name": "day", "type": {"type": "int", "logicalType": "date"}},
            {"name": "at", "type": {"type": "long",
                                    "logicalType": "timestamp-millis"}},
            {"name": "at_us", "type": {"type": "long",
                                       "logicalType": "timestamp-micros"}},
            {"name": "local", "type": {
                "type": "long", "logicalType": "local-timestamp-micros"}},
            {"name": "uid", "type": {"type": "string",
                                     "logicalType": "uuid"}},
            {"name": "tod", "type": {"type": "int",
                                     "logicalType": "time-millis"}},
        ]})
    assert avro_to_spark_type(schema).simpleString() == (
        "struct<price:decimal(10,2),day:date,at:timestamp,at_us:timestamp,"
        "local:timestamp_ntz,uid:string,tod:time(6)>")  # time-* surfaced
    # r12: time-millis/micros ride Spark 4.1's TimeType (Arrow time64)
    with pytest.raises(AvroError, match="38"):
        avro_to_spark_type(json.dumps({
            "type": "bytes", "logicalType": "decimal",
            "precision": 40, "scale": 2}))


def test_decode_confluent_logical_end_to_end(spark):
    """Logical values leave the `mapInArrow` decode kernel as real
    Spark DECIMAL/DATE/TIMESTAMP columns — the full goavro-parity lane."""
    schema = json.dumps({
        "type": "record", "name": "lt", "fields": [
            {"name": "id", "type": "int"},
            {"name": "price", "type": {"type": "bytes",
                                       "logicalType": "decimal",
                                       "precision": 10, "scale": 2}},
            {"name": "day", "type": {"type": "int", "logicalType": "date"}},
            {"name": "at", "type": ["null", {
                "type": "long", "logicalType": "timestamp-micros"}]},
        ]})
    registry = dict_registry({5: schema})
    codec = Codec(schema)
    t = dt.datetime(2021, 6, 1, 12, 0, 0, 250000, tzinfo=dt.timezone.utc)
    rows = [
        (wire_encode(5, codec.encode({
            "id": 1, "price": Decimal("1234.56"),
            "day": dt.date(2021, 6, 1), "at": t})),),
        (wire_encode(5, codec.encode({
            "id": 2, "price": Decimal("-0.01"),
            "day": dt.date(1969, 12, 31), "at": None})),),
    ]
    df = spark.createDataFrame(rows, "value binary")
    out = decode_confluent(df, registry, reader_schema_id=5)
    assert out.schema["decoded"].dataType.simpleString() == (
        "struct<id:int,price:decimal(10,2),day:date,at:timestamp>")
    got = {r.id: r for r in out.select("decoded.*").collect()}
    assert got[1].price == Decimal("1234.56")
    assert got[1].day == dt.date(2021, 6, 1)
    assert got[1].at == t.replace(tzinfo=None)   # session tz is UTC
    assert got[2].price == Decimal("-0.01")
    assert got[2].day == dt.date(1969, 12, 31)
    assert got[2].at is None


@settings(max_examples=150, deadline=None)
@given(st.integers(-10**9, 10**9), st.integers(0, 6),
       st.integers(-100_000, 100_000),
       st.integers(-2**50, 2**50),
       st.integers(0, 86_399_999_999))
def test_logical_roundtrip_property(unscaled, scale, days, micros, tod_us):
    dec = Codec(json.dumps({"type": "bytes", "logicalType": "decimal",
                            "precision": 16, "scale": scale}))
    v = Decimal(f"{unscaled}E-{scale}")
    assert dec.decode(dec.encode(v)) == v
    datec = Codec(json.dumps({"type": "int", "logicalType": "date"}))
    d = dt.date(1970, 1, 1) + dt.timedelta(days=days)
    assert datec.decode(datec.encode(d)) == d
    usc = Codec(json.dumps({"type": "long",
                            "logicalType": "timestamp-micros"}))
    ts = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + \
        dt.timedelta(microseconds=micros)
    assert usc.decode(usc.encode(ts)) == ts
    todc = Codec(json.dumps({"type": "long",
                             "logicalType": "time-micros"}))
    tod = (dt.datetime.min + dt.timedelta(microseconds=tod_us)).time()
    assert todc.decode(todc.encode(tod)) == tod
    # millis lane: truncate to the representable grid, then exact
    msc = Codec(json.dumps({"type": "int", "logicalType": "time-millis"}))
    tod_ms = (dt.datetime.min
              + dt.timedelta(microseconds=(tod_us // 1000) * 1000)).time()
    assert msc.decode(msc.encode(tod_ms)) == tod_ms


def test_encode_confluent_logical_roundtrip(spark):
    """Producer side: real Spark DECIMAL/DATE/TIMESTAMP columns encode
    through the logical writer and decode back identical."""
    schema = json.dumps({
        "type": "record", "name": "lt", "fields": [
            {"name": "price", "type": {"type": "bytes",
                                       "logicalType": "decimal",
                                       "precision": 10, "scale": 2}},
            {"name": "day", "type": {"type": "int", "logicalType": "date"}},
            {"name": "at", "type": {"type": "long",
                                    "logicalType": "timestamp-micros"}},
        ]})
    registry = dict_registry({9: schema})
    src = spark.createDataFrame(
        [(Decimal("99.95"), dt.date(2022, 2, 2),
          dt.datetime(2022, 2, 2, 3, 4, 5, 678901)),
         (Decimal("-0.01"), dt.date(1969, 12, 31),
          dt.datetime(1970, 1, 1, 0, 0, 0, 1))],
        "price decimal(10,2), day date, at timestamp")
    framed = encode_confluent(
        src.select(__import__("pyspark.sql.functions", fromlist=["struct"])
                   .struct("price", "day", "at").alias("rec")),
        registry, schema_id=9, struct_col="rec")
    back = decode_confluent(framed, registry, reader_schema_id=9)
    got = sorted((r.price, r.day, r.at)
                 for r in back.select("decoded.*").collect())
    assert got == [
        (Decimal("-0.01"), dt.date(1969, 12, 31),
         dt.datetime(1970, 1, 1, 0, 0, 0, 1)),
        (Decimal("99.95"), dt.date(2022, 2, 2),
         dt.datetime(2022, 2, 2, 3, 4, 5, 678901)),
    ]


def test_logical_type_divergence_side_drops(spark):
    """Producer evolves the writer schema's field to timestamp-millis
    while the pinned reader still declares plain long: the mismatched
    record must SIDE-DROP with a decode error (consumer.go:154-159
    parity), not crash the micro-batch in the Arrow conversion."""
    plain = json.dumps({"type": "record", "name": "r", "fields": [
        {"name": "at", "type": "long"}]})
    evolved = json.dumps({"type": "record", "name": "r", "fields": [
        {"name": "at", "type": {"type": "long",
                                "logicalType": "timestamp-millis"}}]})
    registry = dict_registry({1: plain, 2: evolved})
    t = dt.datetime(2021, 6, 1, tzinfo=dt.timezone.utc)
    rows = [
        (wire_encode(1, Codec(plain).encode({"at": 1000})),),
        (wire_encode(2, Codec(evolved).encode({"at": t})),),  # divergent
    ]
    out = decode_confluent(
        spark.createDataFrame(rows, "value binary"), registry,
        reader_schema_id=1)
    got = [(r["at"], r["err"]) for r in
           out.selectExpr("decoded.at as at", "_decode_error as err")
           .collect()]
    assert (1000, None) in got
    [(bad_at, err)] = [g for g in got if g[1] is not None]
    assert bad_at is None and "does not fit reader column" in err


# --- time-millis / time-micros (round 12: surfaced as datetime.time ⇄
# Spark TimeType; goavro surfaces a duration, encode_decode.go:52-62,
# which has no Spark analog — civil time is the faithful mapping) -----------

TIME_MS = json.dumps({"type": "int", "logicalType": "time-millis"})
TIME_US = json.dumps({"type": "long", "logicalType": "time-micros"})


def test_time_logical_wire_vectors():
    """Hand-derived wire bytes both directions: the underlying int/long
    is the count since midnight, zigzag-varint encoded."""
    ms = Codec(TIME_MS)
    us = Codec(TIME_US)
    # midnight = 0 → varint 0x00
    assert ms.encode(dt.time(0, 0)) == b"\x00"
    assert ms.decode(b"\x00") == dt.time(0, 0)
    # 00:00:00.001 → 1 ms → zigzag(1) = 0x02
    assert ms.decode(b"\x02") == dt.time(0, 0, 0, 1000)
    assert ms.encode(dt.time(0, 0, 0, 1000)) == b"\x02"
    # 03:04:05.678 → 11_045_678 ms; round-trip + int passthrough
    t = dt.time(3, 4, 5, 678000)
    assert ms.decode(ms.encode(t)) == t
    assert ms.decode(ms.encode(11_045_678)) == t
    # micros lane keeps full precision
    t_us = dt.time(3, 4, 5, 678901)
    assert us.decode(us.encode(t_us)) == t_us
    assert us.decode(us.encode(11_045_678_901)) == t_us
    # 23:59:59.999999 — last representable instant
    last = dt.time(23, 59, 59, 999999)
    assert us.decode(us.encode(last)) == last
    # millis lane truncates sub-ms digits toward zero (same floor
    # contract as timestamp-millis encode)
    assert ms.decode(ms.encode(dt.time(3, 4, 5, 678901))) == t


def test_time_out_of_range_and_bad_type():
    ms = Codec(TIME_MS)
    us = Codec(TIME_US)
    # 24h in millis / micros is out of the spec's time-of-day domain:
    # decode must raise (→ per-record side-drop in decode_confluent).
    # The malformed wire bytes come from a RAW int/long codec — the
    # time writer itself now refuses to produce them (below).
    raw_int, raw_long = Codec('"int"'), Codec('"long"')
    with pytest.raises(AvroError, match="out of range"):
        ms.decode(raw_int.encode(86_400_000))
    with pytest.raises(AvroError, match="out of range"):
        us.decode(raw_long.encode(86_400_000_000))
    with pytest.raises(AvroError, match="out of range"):
        us.decode(raw_long.encode(-1))
    # r13: the writer's int pass-through enforces the same [0, 24h)
    # window the reader does — goavro leniency is about TYPE, and an
    # accepted write the codec's own reader then rejects would be an
    # asymmetric round-trip
    with pytest.raises(AvroError, match="24h"):
        ms.encode(86_400_000)
    with pytest.raises(AvroError, match="24h"):
        us.encode(86_400_000_000)
    with pytest.raises(AvroError, match="24h"):
        us.encode(-1)
    # last representable count still passes through both lanes
    assert ms.decode(ms.encode(86_399_999)) == dt.time(23, 59, 59, 999000)
    assert us.decode(us.encode(86_399_999_999)) == \
        dt.time(23, 59, 59, 999999)
    # a datetime is NOT a time-of-day
    with pytest.raises(AvroError, match="time field"):
        ms.encode(dt.datetime(2020, 1, 1, 3, 4, 5))


def test_time_spark_type_mapping_and_invalid_fallback():
    assert avro_to_spark_type(TIME_MS).typeName().startswith("time")
    assert avro_to_spark_type(TIME_US).typeName().startswith("time")
    # wrong underlying type → spec-mandated fallback to the underlying
    bad = json.dumps({"type": "long", "logicalType": "time-millis"})
    assert avro_to_spark_type(bad).simpleString() == "bigint"
    assert Codec(bad).decode(b"\x02") == 1
    bad2 = json.dumps({"type": "int", "logicalType": "time-micros"})
    assert avro_to_spark_type(bad2).simpleString() == "int"


def test_decode_confluent_time_end_to_end(spark):
    schema = json.dumps({
        "type": "record", "name": "tt", "fields": [
            {"name": "at_ms", "type": {"type": "int",
                                       "logicalType": "time-millis"}},
            {"name": "at_us", "type": {"type": "long",
                                       "logicalType": "time-micros"}}]})
    registry = dict_registry({11: schema})
    codec = Codec(schema)
    rows = [
        (wire_encode(11, codec.encode(
            {"at_ms": dt.time(3, 4, 5, 678000),
             "at_us": dt.time(23, 59, 59, 999999)})),),
        # out-of-range time-of-day must SIDE-DROP, not fail the batch.
        # The writer now refuses to produce such bytes (r13 range
        # check), so the hostile producer is simulated with a
        # binary-compatible twin schema that drops the logical types.
        (wire_encode(11, Codec(json.dumps({
            "type": "record", "name": "tt", "fields": [
                {"name": "at_ms", "type": "int"},
                {"name": "at_us", "type": "long"}]})).encode(
            {"at_ms": 86_400_000, "at_us": 0})),),
    ]
    out = decode_confluent(
        spark.createDataFrame(rows, "value binary"), registry,
        reader_schema_id=11)
    got = [(r.at_ms, r.at_us, r.err) for r in out.selectExpr(
        "decoded.at_ms as at_ms", "decoded.at_us as at_us",
        "_decode_error as err").collect()]
    assert (dt.time(3, 4, 5, 678000), dt.time(23, 59, 59, 999999),
            None) in got
    [(bad_ms, bad_us, err)] = [g for g in got if g[2] is not None]
    assert bad_ms is None and "out of range" in err


def test_decimal_scale_divergence_side_drops(spark):
    """Producer bumps decimal(10,2) → decimal(10,4): a record whose
    extra fraction digits are ZEROS rescales losslessly and passes; a
    record with real sub-scale digits must SIDE-DROP with a decode
    error instead of crashing the micro-batch in the pandas→Arrow
    decimal rescale (ADVICE r11)."""
    reader = json.dumps({"type": "record", "name": "p", "fields": [
        {"name": "price", "type": {
            "type": "bytes", "logicalType": "decimal",
            "precision": 10, "scale": 2}}]})
    wider = json.dumps({"type": "record", "name": "p", "fields": [
        {"name": "price", "type": {
            "type": "bytes", "logicalType": "decimal",
            "precision": 10, "scale": 4}}]})
    registry = dict_registry({1: reader, 2: wider})
    rows = [
        (wire_encode(1, Codec(reader).encode({"price": Decimal("12.34")})),),
        (wire_encode(2, Codec(wider).encode(
            {"price": Decimal("12.3400")})),),   # lossless rescale → keep
        (wire_encode(2, Codec(wider).encode(
            {"price": Decimal("12.3456")})),),   # lossy → side-drop
        (wire_encode(2, Codec(wider).encode(
            {"price": Decimal("123456789.1234")})),),  # precision overflow
    ]
    out = decode_confluent(
        spark.createDataFrame(rows, "value binary"), registry,
        reader_schema_id=1)
    got = [(r.price, r.err) for r in out.selectExpr(
        "decoded.price as price", "_decode_error as err").collect()]
    clean = sorted(g[0] for g in got if g[1] is None)
    assert clean == [Decimal("12.34"), Decimal("12.34")]
    drops = [g for g in got if g[1] is not None]
    assert len(drops) == 2
    assert all(g[0] is None and "does not fit reader column" in g[1]
               for g in drops)


def test_local_timestamp_aware_writer_keeps_wall_clock():
    """local-timestamp-* stores WALL-CLOCK time: an aware non-UTC input
    must encode its wall-clock digits, not the UTC instant (ADVICE
    r11) — symmetric with the reader, which returns naive datetimes."""
    codec = Codec(json.dumps(
        {"type": "long", "logicalType": "local-timestamp-millis"}))
    tz = dt.timezone(dt.timedelta(hours=2))
    aware = dt.datetime(2021, 6, 1, 12, 30, 0, tzinfo=tz)
    assert codec.decode(codec.encode(aware)) == \
        dt.datetime(2021, 6, 1, 12, 30, 0)
    # UTC-aware input: wall clock == UTC digits, same answer either way
    aware_utc = dt.datetime(2021, 6, 1, 12, 30, 0,
                            tzinfo=dt.timezone.utc)
    assert codec.decode(codec.encode(aware_utc)) == \
        dt.datetime(2021, 6, 1, 12, 30, 0)
    us_codec = Codec(json.dumps(
        {"type": "long", "logicalType": "local-timestamp-micros"}))
    assert us_codec.decode(us_codec.encode(aware)) == \
        dt.datetime(2021, 6, 1, 12, 30, 0)


# --- poison integers and schema evolution (one resolver per writer id) -----

_LONG_REC = json.dumps({"type": "record", "name": "n", "fields": [
    {"name": "v", "type": "long"}]})
_INT_REC = json.dumps({"type": "record", "name": "n", "fields": [
    {"name": "v", "type": "int"}]})


@pytest.mark.parametrize("reader, writer, poison", [
    # 13-byte varint: 1.9e25 overflows an Arrow int64
    (_LONG_REC, _LONG_REC, b"\xfe" * 12 + b"\x01"),
    # an Avro int holding 2^40 overflows the reader's int32 column
    (_INT_REC, _INT_REC, Codec(_LONG_REC).encode({"v": 2**40})),
    # a writer long read into a reader int column
    (_INT_REC, _LONG_REC, Codec(_LONG_REC).encode({"v": 2**40})),
], ids=["varint-13-bytes", "int-2^40", "long-into-int"])
def test_poison_integer_side_drops_one_record(spark, reader, writer, poison):
    """An integer no Arrow column can hold side-drops its own record; the
    micro-batch around it still decodes (consumer.go:154-159)."""
    registry = dict_registry({1: reader, 2: writer})
    good = Codec(writer)
    rows = [(1, wire_encode(2, good.encode({"v": 7}))),
            (2, wire_encode(2, poison)),
            (3, wire_encode(2, good.encode({"v": -8})))]
    out = decode_confluent(
        spark.createDataFrame(rows, "k int, value binary"), registry,
        reader_schema_id=1)
    got = sorted((r.k, r.v, r.err) for r in out.selectExpr(
        "k", "decoded.v as v", "_decode_error as err").collect())
    assert [(k, v) for k, v, _ in got] == [(1, 7), (2, None), (3, -8)]
    assert [k for k, _, err in got if err is not None] == [2]
    assert got[1][2].startswith("AvroError: ")



def _v_rec(v_type: dict) -> str:
    return json.dumps({"type": "record", "name": "h", "fields": [
        {"name": "v", "type": v_type}]})


@pytest.mark.parametrize("writer, good, hostile", [
    # map<int> key length -1
    (_v_rec({"type": "map", "values": "int"}), {"a": 1}, b"\x02\x01\x00"),
    # array<null>: 4 bytes claiming 1,000,000 items
    (_v_rec({"type": "array", "items": "null"}), [None] * 5,
     b"\x80\x89\x7a\x00"),
    # array<long>: 100 items claimed, 3 bytes left
    (_v_rec({"type": "array", "items": "long"}), [1, -2],
     b"\xc8\x01\x02\x04\x06"),
    # array<array<null>>: 1,000 blocks of 4,096 nulls in 3,003 bytes
    (_v_rec({"type": "array", "items": {"type": "array", "items": "null"}}),
     [[None] * 3, []], b"\xd0\x0f" + b"\x80\x40\x00" * 1000 + b"\x00"),
], ids=["map-key-length", "null-1M-in-4-bytes", "long-100-in-3-bytes",
        "nested-null-4M-in-3003-bytes"])
def test_hostile_block_side_drops_one_record(spark, writer, good, hostile):
    """A block whose key length or item count the body cannot hold
    side-drops its own record; the records around it decode."""
    codec = Codec(writer)
    rows = [(1, wire_encode(1, codec.encode({"v": good}))),
            (2, wire_encode(1, hostile)),
            (3, wire_encode(1, codec.encode({"v": good})))]
    out = decode_confluent(
        spark.createDataFrame(rows, "k int, value binary"),
        dict_registry({1: writer}), reader_schema_id=1)
    got = sorted((r.k, r.v, r.err) for r in out.selectExpr(
        "k", "decoded.v as v", "_decode_error as err").collect())
    assert [k for k, _, err in got if err is not None] == [2]
    assert got[1][1] is None and got[1][2].startswith("AvroError: ")
    assert [dict(v) if isinstance(good, dict) else list(v)
            for k, v, _ in got if k != 2] == [good, good]


_EVOLVED_READER = json.dumps({"type": "record", "name": "ev", "fields": [
    {"name": "id", "type": "long"},
    {"name": "score", "type": "double"},
    {"name": "name", "type": "string"},
    {"name": "opt", "type": ["null", "long"]},
    {"name": "inner", "type": {"type": "record", "name": "in", "fields": [
        {"name": "a", "type": "int"}]}},
    {"name": "added", "type": ["null", "string"]},
    {"name": "tail", "type": "string"},
]})
# fields reordered; int → long and int → double; [null, X] → X and
# X → [null, X]; writer-only array, map and nested record fields; a
# nested record field the reader's record drops
_EVOLVED_WRITER = json.dumps({"type": "record", "name": "ev", "fields": [
    {"name": "tail", "type": "string"},
    {"name": "tags", "type": {"type": "array", "items": "string"}},
    {"name": "inner", "type": {"type": "record", "name": "in", "fields": [
        {"name": "dropped", "type": {"type": "map", "values": "long"}},
        {"name": "a", "type": "int"}]}},
    {"name": "attrs", "type": {"type": "map", "values": {
        "type": "array", "items": "long"}}},
    {"name": "name", "type": ["null", "string"]},
    {"name": "opt", "type": "long"},
    {"name": "gone", "type": {"type": "record", "name": "g", "fields": [
        {"name": "x", "type": "double"}, {"name": "y", "type": "bytes"}]}},
    {"name": "score", "type": "int"},
    {"name": "id", "type": "int"},
]})


def test_schema_evolution_resolves_by_name(spark):
    registry = dict_registry({1: _EVOLVED_READER, 2: _EVOLVED_WRITER})
    codec = Codec(_EVOLVED_WRITER)
    rows = [(wire_encode(2, codec.encode({
        "tail": "t1", "tags": ["a", "bc"],
        "inner": {"dropped": {"k": 1, "l": -2}, "a": 5},
        "attrs": {"x": [1, 2, 3], "y": []}, "name": "n1", "opt": -4,
        "gone": {"x": 0.5, "y": b"\x00\x01"}, "score": 3, "id": 2**31 - 1,
    })),), (wire_encode(2, codec.encode({
        "tail": "", "tags": [], "inner": {"dropped": {}, "a": -1},
        "attrs": {}, "name": None, "opt": 0,
        "gone": {"x": -1.0, "y": b""}, "score": -2, "id": -9,
    })),)]
    out = decode_confluent(spark.createDataFrame(rows, "value binary"),
                           registry, reader_schema_id=1)
    got = sorted((tuple(r.decoded) if r.decoded else None, r._decode_error)
                 for r in out.collect())
    assert got == [
        ((-9, -2.0, None, 0, (-1,), None, ""), None),
        ((2**31 - 1, 3.0, "n1", -4, (5,), None, "t1"), None),
    ]


def test_container_kind_misfits_side_drop(spark):
    """A writer container of another kind than the reader column side-drops
    the record (a string read as an array, a record or an array read as a
    map); a writer map read as a struct is null, like any non-record."""
    reader = json.dumps({"type": "record", "name": "c", "fields": [
        {"name": "s", "type": ["null", {"type": "array", "items": "string"}]},
        {"name": "m", "type": ["null", {"type": "map", "values": "long"}]},
        {"name": "r", "type": ["null", {"type": "record", "name": "rr",
                                        "fields": [{"name": "a",
                                                    "type": "long"}]}]}]})

    def writer(s, m, r):
        return json.dumps({"type": "record", "name": "c", "fields": [
            {"name": "s", "type": s}, {"name": "m", "type": m},
            {"name": "r", "type": r}]})

    arr = {"type": "array", "items": "string"}
    lmap = {"type": "map", "values": "long"}
    rec = {"type": "record", "name": "rr", "fields": [
        {"name": "a", "type": "long"}]}
    schemas = {
        2: writer(arr, lmap, rec),
        3: writer("string", lmap, rec),                   # string → array
        4: writer(arr, rec, rec),                         # record → map
        5: writer(arr, {"type": "array", "items": "long"}, rec),  # array → map
        6: writer(arr, lmap, lmap),                       # map → struct
    }
    values = {
        2: {"s": ["x"], "m": {"k": 1}, "r": {"a": 2}},
        3: {"s": "xy", "m": {"k": 1}, "r": {"a": 2}},
        4: {"s": ["x"], "m": {"a": 1}, "r": {"a": 2}},
        5: {"s": ["x"], "m": [1], "r": {"a": 2}},
        6: {"s": ["x"], "m": {"k": 1}, "r": {"a": 2}},
    }
    registry = dict_registry({1: reader, **schemas})
    rows = [(i, wire_encode(i, Codec(schemas[i]).encode(values[i])))
            for i in schemas]
    out = decode_confluent(spark.createDataFrame(rows, "i int, value binary"),
                           registry, reader_schema_id=1)
    got = {r.i: (r.decoded and (r.decoded.s, r.decoded.m,
                                r.decoded.r and tuple(r.decoded.r)),
                 r._decode_error) for r in out.collect()}
    assert got[2] == ((["x"], {"k": 1}, (2,)), None)
    assert got[6] == ((["x"], {"k": 1}, None), None)
    for i, (value_type, column) in {3: ("str", "array<string>"),
                                    4: ("dict", "map<string,bigint>"),
                                    5: ("list", "map<string,bigint>")}.items():
        assert got[i] == (None, (
            f"AvroError: writer value of type {value_type} does not fit "
            f"reader column type {column} (logical-type divergence between "
            "writer and reader schemas?)"))
