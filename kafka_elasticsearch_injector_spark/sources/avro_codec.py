"""Pure-Python Avro binary decoder (Apache Avro 1.11 spec subset),
resolved against a Spark reader type in the same compile step.

Why this exists: the reference decodes Confluent-framed Avro with goavro
(reference src/kafka/encode_decode.go:42-81) and Spark's `from_avro`
lives in the external spark-avro artifact, which is not always loaded.
This module implements the Avro binary encoding from the public spec for
the types the reference's payload surface uses (SURVEY.md §1.2): null,
boolean, int, long, float, double, bytes, string, record, enum, array,
map, union, fixed.

Logical types (Avro 1.11 spec §Logical Types) are surfaced as their
logical Python values, matching what goavro hands the reference
(encode_decode.go:52-62 inherits goavro's decimal/date/timestamp
surfacing): ``decimal`` (bytes/fixed) → `decimal.Decimal`, ``date`` →
`datetime.date`, ``timestamp-millis``/``timestamp-micros`` → aware-UTC
`datetime.datetime`, ``local-timestamp-millis``/``-micros`` → naive
`datetime.datetime`, ``time-millis``/``time-micros`` → `datetime.time`
(Spark 4.1's TimeType rides the Arrow time64 lane; goavro surfaces a
duration, which has no Spark analog — a civil time is the faithful
time-of-day mapping, and out-of-range values side-drop per record),
``uuid`` → str (no conversion needed). An INVALID logical declaration
(bad precision/scale, wrong underlying type) is ignored and the
underlying type used — the spec-mandated fallback.

`compile_reader` builds one reader per writer schema, which the caller
caches per schema id (the goavro codec cache, encode_decode.go:123-134).
It decides at compile time how each writer node lands in the reader
column, so a record is decoded and resolved in one pass:

- a writer record read as a struct projects fields by name: writer-only
  fields are decoded and dropped, reader-only fields are null (full Avro
  aliases/defaults are out of scope). Any other writer node read as a
  struct decodes to null;
- a writer leaf whose kind fits the reader type returns its value with
  no per-value check (`bool` is not an int; an int fits a double);
- a writer node that can never fit is decoded, then raises `_misfit`,
  the per-record AvroError `decode_confluent` side-drops — say a
  producer adds ``timestamp-millis`` to a long the pinned reader still
  declares plain (consumer.go:154-159 parity);
- per-value work stays only where the value decides: the int32 range of
  an int column, the decimal quantize to the reader's scale under its
  precision, localizing a naive instant to the session time zone, and
  the time-of-day range.

With no reader type the value comes back as decoded. The package has no
encoder: the producer side under test lives in `tests/avro_writer.py`.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import struct
from decimal import Decimal
from typing import Any, Callable

import pandas as pd
from pyspark.sql import types as T

_EPOCH_DATE = dt.date(1970, 1, 1)
_EPOCH_UTC = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
_EPOCH_NAIVE = dt.datetime(1970, 1, 1)

_Reader = Callable[[memoryview, int], tuple[Any, int]]


class AvroError(ValueError):
    """Malformed schema or payload."""


def parse_schema(schema: str | dict | list) -> dict | list | str:
    """Parse and minimally validate a schema declaration."""
    if isinstance(schema, str):
        s = schema.strip()
        if s.startswith("{") or s.startswith("["):
            schema = json.loads(s)
        else:
            schema = s.strip('"')
    return schema


def _schema_type(schema) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


#: logical name → underlying type(s) it is valid on (Avro 1.11 spec).
_LOGICAL_UNDERLYING = {
    "decimal": ("bytes", "fixed"),
    "date": ("int",),
    "time-millis": ("int",),
    "time-micros": ("long",),
    "timestamp-millis": ("long",),
    "timestamp-micros": ("long",),
    "local-timestamp-millis": ("long",),
    "local-timestamp-micros": ("long",),
    "uuid": ("string",),
}


def logical_type(schema) -> tuple[str, dict] | None:
    """Return ``(name, attrs)`` when `schema` declares a logical type
    this codec surfaces, else None. Invalid declarations (unknown name,
    wrong underlying type, bad decimal precision/scale) return None —
    the Avro spec mandates falling back to the underlying type, not
    erroring."""
    if not isinstance(schema, dict):
        return None
    name = schema.get("logicalType")
    if name not in _LOGICAL_UNDERLYING:
        return None
    if schema.get("type") not in _LOGICAL_UNDERLYING[name]:
        return None
    if name == "decimal":
        p, s = schema.get("precision"), schema.get("scale", 0)
        if not (isinstance(p, int) and not isinstance(p, bool) and p >= 1
                and isinstance(s, int) and not isinstance(s, bool)
                and 0 <= s <= p):
            return None
        if schema["type"] == "fixed":
            # precision must fit the fixed size: max = digits of
            # 2^(8*size-1)-1 (spec's stated bound). A non-positive or
            # non-int size is itself invalid → same ignore-fallback.
            size = schema.get("size")
            if not (isinstance(size, int) and not isinstance(size, bool)
                    and size >= 1):
                return None
            if len(str((1 << (8 * size - 1)) - 1)) < p:
                return None
        return name, {"precision": p, "scale": s}
    return name, {}


def _read_varint(buf: memoryview, pos: int) -> tuple[int, int]:
    """Zigzag varint of at most 10 bytes and 64 bits (an Avro long), so
    a hostile body cannot hand the Arrow conversion an int it refuses."""
    shift, acc = 0, 0
    while True:
        if pos >= len(buf):
            raise AvroError("truncated varint")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 63:
            raise AvroError("varint longer than 10 bytes")
    if acc >> 64:
        raise AvroError("varint wider than 64 bits")
    return (acc >> 1) ^ -(acc & 1), pos  # zigzag decode


def _time_of_day(micros: int) -> dt.time:
    """Surface a ``time-millis``/``time-micros`` value as a civil
    `datetime.time`. The Avro spec defines the value as time since
    midnight — anything outside [0, 24h) is a malformed record, raised
    as AvroError so `decode_confluent` side-drops it per record rather
    than producing a wrapped wall clock. (goavro surfaces time-of-day
    as a Go duration, encode_decode.go:52-62 inheritance; a civil time
    maps onto Spark's TimeType, which a duration cannot.)"""
    if not 0 <= micros < 86_400_000_000:
        raise AvroError(f"time-of-day out of range: {micros} µs")
    return (dt.datetime.min + dt.timedelta(microseconds=micros)).time()


#: logical name → (value kind, conversion of the underlying value).
#: Conversions are exact (goavro parity, encode_decode.go:52-62).
_LOGICAL = {
    "date": ("date", lambda v: _EPOCH_DATE + dt.timedelta(days=v)),
    "time-millis": ("time", lambda v: _time_of_day(v * 1000)),
    "time-micros": ("time", _time_of_day),
    "timestamp-millis": (
        "timestamp", lambda v: _EPOCH_UTC + dt.timedelta(milliseconds=v)),
    "timestamp-micros": (
        "timestamp", lambda v: _EPOCH_UTC + dt.timedelta(microseconds=v)),
    "local-timestamp-millis": (
        "local-timestamp",
        lambda v: _EPOCH_NAIVE + dt.timedelta(milliseconds=v)),
    "local-timestamp-micros": (
        "local-timestamp",
        lambda v: _EPOCH_NAIVE + dt.timedelta(microseconds=v)),
}

_NUMBERS = ("int", "long", "float", "double")
#: reader type → the writer value kinds that land in it as decoded.
_FITS = {
    T.BooleanType: ("boolean",),
    T.IntegerType: ("int", "long"),
    T.LongType: ("int", "long"),
    T.FloatType: _NUMBERS,
    T.DoubleType: _NUMBERS,
    T.StringType: ("string", "enum"),
    T.BinaryType: ("bytes", "fixed"),
    T.DecimalType: ("decimal",),
    T.DateType: ("date",),
    T.TimeType: ("time",),
    T.TimestampType: ("timestamp", "local-timestamp"),
    T.TimestampNTZType: ("timestamp", "local-timestamp"),
}


def _misfit(value: Any, dtype: T.DataType) -> AvroError:
    return AvroError(
        f"writer value of type {type(value).__name__} does not fit "
        f"reader column type {dtype.simpleString()} (logical-type "
        "divergence between writer and reader schemas?)")


def compile_reader(writer_schema, reader_type: T.DataType | None = None,
                   session_tz: str | None = None) -> _Reader:
    """Compile `writer_schema` into ``read(buf, pos) -> (value, pos)``
    whose value is already resolved against `reader_type` (module
    docstring rules). With `session_tz` set, a naive instant bound for
    a TimestampType column is a wall-clock time in that zone and comes
    back as the aware-UTC instant Spark's pandas conversion gives it; a
    wall-clock time the zone skips or repeats raises. Without it the
    value stays naive and the caller's conversion decides.

    Array and map items that take no bytes (`null`, an empty record)
    are bounded per decoded value: `_MAX_ZERO_WIDTH_ITEMS` across all
    of its blocks, nested ones included. The reader keeps that count
    while it decodes a value, so one reader serves one thread at a
    time (`decode_confluent` compiles its readers per partition)."""
    zero_width: list[int] = []  # such items so far; see _blocks_reader
    read = _compile(writer_schema, reader_type, session_tz, zero_width)
    if not zero_width:
        return read

    def read_bounded(buf, pos):
        zero_width[0] = 0
        return read(buf, pos)

    return read_bounded


def _compile(writer_schema, reader_type: T.DataType | None,
             session_tz: str | None, zero_width: list[int]) -> _Reader:
    """compile_reader's tree, sharing one zero-width item count."""
    schema = parse_schema(writer_schema)
    t = _schema_type(schema)
    if t == "null":
        return lambda buf, pos: (None, pos)
    if t == "union":
        branches = [_compile(b, reader_type, session_tz, zero_width)
                    for b in schema]

        def read_union(buf, pos):
            i, pos = _read_varint(buf, pos)
            if not 0 <= i < len(branches):
                raise AvroError(f"union branch {i} out of range")
            return branches[i](buf, pos)

        return read_union
    if t == "record":
        if reader_type is None or isinstance(reader_type, T.StructType):
            return _record_reader(schema, reader_type, session_tz,
                                  zero_width)
        return _mismatch(_compile(schema, None, None, zero_width),
                         reader_type)
    if t in ("array", "map"):
        if reader_type is None or isinstance(
                reader_type, T.MapType if t == "map" else T.ArrayType):
            return _blocks_reader(schema, t, reader_type, session_tz,
                                  zero_width)
        return _mismatch(_compile(schema, None, None, zero_width),
                         reader_type)

    kind, read = _leaf_reader(schema, t)
    if reader_type is None:
        return read
    if kind not in _FITS.get(type(reader_type), ()):
        return _mismatch(read, reader_type)
    if isinstance(reader_type, T.IntegerType):
        def check(v):
            if -0x8000_0000 <= v <= 0x7FFF_FFFF:
                return v
            raise _misfit(v, reader_type)
    elif isinstance(reader_type, T.DecimalType):
        # a LOSSLESS rescale passes; lossy rescale and precision
        # overflow raise
        ctx = decimal.Context(prec=reader_type.precision,
                              traps=[decimal.Inexact, decimal.InvalidOperation])
        quantum = Decimal(1).scaleb(-reader_type.scale)

        def check(v):
            try:
                return ctx.quantize(v, quantum)
            except decimal.DecimalException:
                raise _misfit(v, reader_type) from None
    elif (kind == "local-timestamp" and session_tz is not None
          and isinstance(reader_type, T.TimestampType)):
        def check(v):
            # returned in UTC: pyarrow binds an aware datetime to
            # timestamp[tz=UTC] by its wall clock, ignoring its zone
            return pd.Timestamp(v).tz_localize(
                session_tz).tz_convert("UTC").to_pydatetime()
    else:
        return read

    def read_checked(buf, pos):
        v, pos = read(buf, pos)
        return check(v), pos

    return read_checked


def _mismatch(read: _Reader, reader_type: T.DataType) -> _Reader:
    """A writer node that can never land in `reader_type`: its bytes are
    still decoded (their own faults raise first), then it is null in a
    struct column and a misfit anywhere else."""
    if isinstance(reader_type, T.StructType):
        return lambda buf, pos: (None, read(buf, pos)[1])

    def read_misfit(buf, pos):
        raise _misfit(read(buf, pos)[0], reader_type)

    return read_misfit


def _record_reader(schema: dict, reader_type: T.StructType | None,
                   session_tz: str | None, zero_width: list[int]) -> _Reader:
    targets = ({f["name"]: None for f in schema["fields"]}
               if reader_type is None
               else {f.name: f.dataType for f in reader_type.fields})
    fields = [(f["name"] if f["name"] in targets else None,
               _compile(f["type"], targets.get(f["name"]), session_tz,
                        zero_width))
              for f in schema["fields"]]
    names = tuple(targets)

    def read_record(buf, pos):
        out = dict.fromkeys(names)  # reader-only fields stay null
        for name, read in fields:
            value, pos = read(buf, pos)
            if name is not None:  # writer-only fields are dropped
                out[name] = value
        return out, pos

    return read_record


#: cap on the array and map items of one decoded value whose items take
#: no bytes (`null`, an empty record): the bytes left cannot bound
#: their count, and nested blocks multiply it.
_MAX_ZERO_WIDTH_ITEMS = 4096


def _min_width(schema) -> int:
    """Fewest bytes one value of `schema` encodes to."""
    schema = parse_schema(schema)
    t = _schema_type(schema)
    if t == "record":
        return sum(_min_width(f["type"]) for f in schema["fields"])
    if t == "fixed":
        return schema["size"]
    return {"null": 0, "float": 4, "double": 8}.get(t, 1)


def _blocks_reader(schema: dict, t: str, reader_type: T.DataType | None,
                   session_tz: str | None, zero_width: list[int]) -> _Reader:
    is_map = t == "map"
    item_schema = schema["values" if is_map else "items"]
    item_type = None if reader_type is None else (
        reader_type.valueType if is_map else reader_type.elementType)
    read_item = _compile(item_schema, item_type, session_tz, zero_width)
    read_key = _leaf_reader("string", "string")[1]
    width = _min_width(item_schema) + is_map  # a map key takes ≥ 1 byte
    if not width and not zero_width:
        zero_width.append(0)  # compile_reader resets it per value

    def read_blocks(buf, pos):
        out: Any = {} if is_map else []
        while True:
            n, pos = _read_varint(buf, pos)
            if n == 0:
                return out, pos
            if n < 0:  # negative count: byte size follows (skippable)
                n = -n
                _, pos = _read_varint(buf, pos)
            # bound the count before the item loop, once per block
            if width:
                too_many = n * width > len(buf) - pos
            else:
                zero_width[0] += n
                too_many = zero_width[0] > _MAX_ZERO_WIDTH_ITEMS
            if too_many:
                raise AvroError(f"block count {n} exceeds the body")
            for _ in range(n):
                if is_map:
                    key, pos = read_key(buf, pos)
                    out[key], pos = read_item(buf, pos)
                else:
                    v, pos = read_item(buf, pos)
                    out.append(v)

    return read_blocks


def _leaf_reader(schema, t: str) -> tuple[str, _Reader]:
    """(value kind, reader) of a writer leaf; the kind is the Avro type,
    or the logical type's value kind (`_LOGICAL`, ``decimal``)."""
    logical = logical_type(schema)
    if logical is not None and logical[0] != "uuid":  # uuid is already str
        name, attrs = logical
        _, base = _leaf_reader(
            {k: v for k, v in schema.items() if k != "logicalType"}, t)
        if name == "decimal":
            kind, scale = name, attrs["scale"]

            def convert(raw):  # exact: built from the digit string
                unscaled = int.from_bytes(raw, "big", signed=True)
                return Decimal(f"{unscaled}E-{scale}")
        else:
            kind, convert = _LOGICAL[name]

        def read_logical(buf, pos):
            v, pos = base(buf, pos)
            return convert(v), pos

        return kind, read_logical

    if t == "boolean":
        return t, lambda buf, pos: (buf[pos] != 0, pos + 1)
    if t in ("int", "long"):
        return t, _read_varint
    if t in ("float", "double"):
        fmt, size = ("<f", 4) if t == "float" else ("<d", 8)
        return t, lambda buf, pos: (
            struct.unpack_from(fmt, buf, pos)[0], pos + size)
    if t in ("bytes", "string"):
        decode = t == "string"

        def read_bytes(buf, pos):
            n, pos = _read_varint(buf, pos)
            if n < 0 or pos + n > len(buf):
                raise AvroError("bad length")
            raw = bytes(buf[pos:pos + n])
            return (raw.decode("utf-8") if decode else raw), pos + n

        return t, read_bytes
    if t == "enum":
        symbols = schema["symbols"]

        def read_enum(buf, pos):
            i, pos = _read_varint(buf, pos)
            if not 0 <= i < len(symbols):
                raise AvroError(f"enum index {i} out of range")
            return symbols[i], pos

        return t, read_enum
    if t == "fixed":
        size = schema["size"]

        def read_fixed(buf, pos):
            if pos + size > len(buf):
                raise AvroError("bad length")
            return bytes(buf[pos:pos + size]), pos + size

        return t, read_fixed
    raise AvroError(f"unsupported Avro type {t!r}")
