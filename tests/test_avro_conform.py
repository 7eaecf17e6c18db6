"""Contract of the reader resolution that `sources.avro_codec.compile_reader`
compiles from a writer schema and a reader column type, without a Spark
session.

For each reader type: one writer schema and value that land in it (and
what they land as) and one that cannot, which raises the per-record
AvroError that `decode_confluent` side-drops into `_decode_error`.
"""

from __future__ import annotations

import datetime as dt
import json
import time
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from kafka_elasticsearch_injector_spark.sources import AvroError
from kafka_elasticsearch_injector_spark.sources.avro_codec import (
    compile_reader,
)

from .avro_writer import Codec, _write_varint

UTC = dt.timezone.utc


def _logical(t: str, name: str, **attrs) -> str:
    return json.dumps({"type": t, "logicalType": name, **attrs})


def _dec(precision: int, scale: int) -> str:
    return _logical("bytes", "decimal", precision=precision, scale=scale)


def read(writer: str, value, reader_type, session_tz=None):
    """Encode `value` under `writer`, then decode it into `reader_type`."""
    body = Codec(writer).encode(value)
    out, pos = compile_reader(writer, reader_type, session_tz)(
        memoryview(body), 0)
    assert pos == len(body)
    return out


# (reader type, (accepted writer, value), resolved value,
#  (rejected writer, value))
CASES = [
    (T.LongType(), ('"long"', 7), 7, ('"boolean"', True)),  # bool is no int
    (T.IntegerType(), ('"int"', -3), -3, ('"double"', 1.0)),
    (T.DoubleType(), ('"int"', 2), 2, ('"boolean"', False)),  # int fits
    (T.FloatType(), ('"float"', 0.5), 0.5, ('"string"', "0.5")),
    (T.BooleanType(), ('"boolean"', True), True, ('"int"', 1)),
    (T.StringType(), ('"string"', "s"), "s", ('"bytes"', b"s")),
    (T.BinaryType(), ('"bytes"', bytearray(b"b")), b"b", ('"string"', "b")),
    (T.DecimalType(10, 2), (_dec(10, 4), Decimal("1.2000")), Decimal("1.20"),
     (_dec(10, 3), Decimal("1.234"))),                  # lossless vs lossy
    (T.DecimalType(4, 2), (_dec(4, 1), Decimal("12.3")), Decimal("12.30"),
     (_dec(5, 1), Decimal("123.4"))),                   # precision overflow
    # Avro decimals are always finite; a NaN reaches a decimal column
    # only as a writer double, which never fits one
    (T.DecimalType(10, 2), (_dec(10, 1), Decimal("-0.5")), Decimal("-0.50"),
     ('"double"', float("nan"))),
    (T.DateType(), (_logical("int", "date"), dt.date(2020, 2, 29)),
     dt.date(2020, 2, 29),
     (_logical("long", "timestamp-micros"),
      dt.datetime(2020, 2, 29, tzinfo=UTC))),           # date vs datetime
    (T.TimeType(), (_logical("int", "time-millis"), dt.time(23, 59)),
     dt.time(23, 59),
     (_logical("long", "timestamp-millis"), dt.datetime(2020, 1, 1))),
    (T.TimestampType(),
     (_logical("long", "timestamp-micros"), dt.datetime(2020, 1, 1, tzinfo=UTC)),
     dt.datetime(2020, 1, 1, tzinfo=UTC),
     (_logical("int", "date"), dt.date(2020, 1, 1))),
    (T.TimestampNTZType(),
     (_logical("long", "local-timestamp-micros"), dt.datetime(2020, 1, 1)),
     dt.datetime(2020, 1, 1), ('"long"', 1577836800000)),
    (T.ArrayType(T.LongType()),
     (json.dumps({"type": "array", "items": ["null", "long"]}), [1, None]),
     [1, None],
     (json.dumps({"type": "array", "items": ["long", "boolean"]}), [1, True])),
    (T.MapType(T.StringType(), T.DoubleType()),
     (json.dumps({"type": "map", "values": ["null", "int"]}),
      {"a": 1, "b": None}),
     {"a": 1, "b": None},
     (json.dumps({"type": "map", "values": "string"}), {"a": "x"})),
]


@pytest.mark.parametrize(
    "dtype, ok, resolved, bad", CASES,
    ids=[f"{c[0].simpleString()}-{i}" for i, c in enumerate(CASES)])
def test_conformer_accepts_and_rejects(dtype, ok, resolved, bad):
    out = read(*ok, dtype)
    assert out == resolved and type(out) is type(resolved)
    assert read('"null"', None, dtype) is None
    with pytest.raises(AvroError, match="does not fit reader column type"):
        read(*bad, dtype)


def test_conformer_error_text():
    with pytest.raises(AvroError) as err:
        read('"boolean"', True, T.LongType())
    assert str(err.value) == (
        "writer value of type bool does not fit reader column type bigint "
        "(logical-type divergence between writer and reader schemas?)")
    with pytest.raises(AvroError, match=r"type Decimal .* decimal\(4,2\)"):
        read(_dec(10, 2), Decimal("123.45"), T.DecimalType(4, 2))


def test_int_column_rejects_values_outside_int32():
    for writer in ('"int"', '"long"'):
        assert read(writer, -2**31, T.IntegerType()) == -2**31
        assert read(writer, 2**31 - 1, T.IntegerType()) == 2**31 - 1
        with pytest.raises(AvroError, match="reader column type int "):
            read(writer, 2**31, T.IntegerType())
    assert read('"int"', 2**40, T.LongType()) == 2**40  # a long holds it
    # a varint is an Avro long: at most 10 bytes and 64 bits
    long_reader = compile_reader('"long"', T.LongType())
    with pytest.raises(AvroError, match="longer than 10 bytes"):
        long_reader(memoryview(b"\xfe" * 12 + b"\x01"), 0)
    with pytest.raises(AvroError, match="wider than 64 bits"):
        long_reader(memoryview(b"\xff" * 9 + b"\x7f"), 0)
    assert long_reader(memoryview(b"\xfe" + b"\xff" * 8 + b"\x01"), 0) == (
        2**63 - 1, 10)


def test_conformer_struct_projection_by_name():
    reader = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("inner",
                      T.StructType([T.StructField("a", T.IntegerType())])),
    ])

    def record(inner_type):
        return json.dumps({"type": "record", "name": "r", "fields": [
            {"name": "id", "type": "long"},
            {"name": "extra", "type": "string"},
            {"name": "inner", "type": inner_type}]})

    inner_ab = {"type": "record", "name": "i", "fields": [
        {"name": "a", "type": "int"}, {"name": "b", "type": "int"}]}
    # missing fields → null, extra fields dropped, nested by name too
    assert read(record(inner_ab),
                {"id": 1, "extra": "x", "inner": {"a": 2, "b": 3}},
                reader) == {"id": 1, "name": None, "inner": {"a": 2}}
    # a writer value that is not a record, at any depth, is null in a
    # struct column — not an error
    assert read('"null"', None, reader) is None
    assert read(json.dumps({"type": "array", "items": ["long", "string"]}),
                [1, "x"], reader) is None
    assert read(record("int"), {"id": 1, "extra": "n", "inner": 5},
                reader) == {"id": 1, "name": None, "inner": None}
    # a misfit nested value rejects the whole record
    inner_str = {"type": "record", "name": "i", "fields": [
        {"name": "a", "type": "string"}]}
    with pytest.raises(AvroError, match="reader column type int"):
        read(record(inner_str), {"id": 1, "extra": "", "inner": {"a": "2"}},
             reader)


def test_conformer_localizes_naive_instants_to_session_zone():
    local = _logical("long", "local-timestamp-micros")
    assert read(local, dt.datetime(2021, 5, 6, 7, 8, 9), T.TimestampType(),
                "America/Sao_Paulo") == dt.datetime(
        2021, 5, 6, 10, 8, 9, tzinfo=UTC)
    aware = dt.datetime(2021, 5, 6, 7, 8, 9, tzinfo=UTC)
    out = read(_logical("long", "timestamp-micros"), aware,
               T.TimestampType(), "America/Sao_Paulo")
    assert out == aware and out.tzinfo is UTC
    with pytest.raises(AvroError, match="reader column type timestamp"):
        read(_logical("int", "date"), dt.date(2021, 5, 6), T.TimestampType(),
             "America/Sao_Paulo")
    # a wall-clock time the zone skips raises (side-dropped per record)
    with pytest.raises(Exception, match="2021-03-14 02:30:00"):
        read(local, dt.datetime(2021, 3, 14, 2, 30), T.TimestampType(),
             "America/New_York")
    # without a zone the naive value is left to the caller's conversion
    naive = dt.datetime(2021, 5, 6, 7, 8, 9)
    out = read(local, naive, T.TimestampType())
    assert out == naive and out.tzinfo is None


def _body(*counts: int, tail: bytes = b"") -> memoryview:
    out = bytearray()
    for n in counts:
        _write_varint(out, n)
    return memoryview(bytes(out) + tail)


def test_map_key_length_is_checked():
    # count 1, key length -1: the string reader's check rejects it
    # instead of moving the cursor backwards
    read = compile_reader('{"type": "map", "values": "int"}')
    with pytest.raises(AvroError, match="bad length"):
        read(memoryview(bytes([0x02, 0x01, 0x00])), 0)


@pytest.mark.parametrize("items, body", [
    # 4 bytes claiming 1,000,000 items that take no bytes each
    ("null", _body(1_000_000, 0)),
    # 100 longs (at least a byte each) in 3 bytes
    ("long", _body(100, tail=b"\x02\x04\x06")),
    # 1,000 blocks of 4,096 nulls in 3,003 bytes: the bound spans the
    # nested blocks
    ({"type": "array", "items": "null"}, _body(1000, *[4096, 0] * 1000, 0)),
], ids=["null-1M-in-4-bytes", "long-100-in-3-bytes",
        "nested-null-4M-in-3003-bytes"])
def test_block_count_is_bounded_before_the_items(items, body):
    read = compile_reader(json.dumps({"type": "array", "items": items}))
    start = time.perf_counter()
    with pytest.raises(AvroError, match="block count"):
        read(body, 0)
    assert time.perf_counter() - start < 0.05


def test_fixed_length_is_checked():
    # a fixed(4) field over a 1-byte body: the reader rejects it like a
    # short bytes/string body instead of returning the short slice
    fixed4 = {"type": "fixed", "name": "f4", "size": 4}
    read = compile_reader(json.dumps({
        "type": "record", "name": "r", "fields": [
            {"name": "f", "type": fixed4}]}))
    with pytest.raises(AvroError, match="bad length"):
        read(memoryview(b"\x01"), 0)
    assert read(memoryview(b"abcd"), 0) == ({"f": b"abcd"}, 4)


def test_legal_zero_width_blocks_still_decode():
    read = compile_reader('{"type": "array", "items": "null"}')
    assert read(_body(5, 0), 0) == ([None] * 5, 2)
    read = compile_reader(json.dumps(
        {"type": "array", "items": {"type": "array", "items": "null"}}))
    assert read(_body(2, 3, 0, 2, 0, 0), 0) == ([[None] * 3, [None] * 2], 6)
    for _ in range(2):  # each value starts a fresh count
        assert read(_body(1, 4000, 0, 0), 0) == ([[None] * 4000], 5)
    empty = {"type": "record", "name": "e", "fields": []}
    read = compile_reader(json.dumps({"type": "map", "values": empty}))
    assert read(_body(1, tail=b"\x02k\x00"), 0) == ({"k": {}}, 4)
