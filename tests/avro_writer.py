"""Test-side Avro binary encoder: the producer half the source tests and
fixtures frame payloads with. The package only decodes
(`sources.avro_codec.compile_reader`); `Codec.decode` is that reader
with no reader type, so a round trip here pins the service's decoder.

Logical values encode the way the reader surfaces them: `Decimal` →
decimal, `datetime.date` → date, `datetime.time` → time-*, aware or
naive `datetime.datetime` → timestamp-* (naive = UTC) and
local-timestamp-* (wall clock). The underlying int is accepted too
(goavro leniency), range-checked for time-* like the reader.
"""

from __future__ import annotations

import datetime as dt
import struct
from decimal import Decimal
from typing import Any, Callable

from kafka_elasticsearch_injector_spark.sources.avro_codec import (
    _EPOCH_DATE,
    _EPOCH_NAIVE,
    _EPOCH_UTC,
    AvroError,
    _schema_type,
    compile_reader,
    logical_type,
    parse_schema,
)

_Writer = Callable[[bytearray, Any], None]


def _write_varint(out: bytearray, n: int) -> None:
    n = (n << 1) ^ (n >> 63) if n < 0 else n << 1  # zigzag encode
    n &= (1 << 64) - 1
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _decimal_unscaled(v: Decimal, scale: int) -> int:
    """Exact unscaled integer of `v` at `scale`; AvroError if `v` has
    more fractional digits than the schema's scale (the spec forbids
    silent rounding — scale is part of the type)."""
    sign, digits, exponent = v.as_tuple()
    if not isinstance(exponent, int):
        raise AvroError(f"non-finite decimal {v}")
    shift = scale + exponent
    if shift < 0:
        raise AvroError(
            f"decimal {v} does not fit scale {scale} without rounding")
    unscaled = int("".join(map(str, digits)) or "0") * 10 ** shift
    return -unscaled if sign else unscaled


def _logical_writer(name: str, attrs: dict, schema: dict) -> _Writer:
    base = _make_writer({k: v for k, v in schema.items()
                         if k != "logicalType"})
    if name == "decimal":
        scale = attrs["scale"]
        fixed_size = schema.get("size") if schema["type"] == "fixed" else None

        def write_decimal(out, v):
            if isinstance(v, (bytes, bytearray)):  # pre-encoded passthrough
                base(out, v)
                return
            if not isinstance(v, Decimal):
                raise AvroError(
                    f"decimal field needs Decimal or bytes, "
                    f"got {type(v).__name__}")
            unscaled = _decimal_unscaled(v, scale)
            if fixed_size is not None:
                try:
                    raw = unscaled.to_bytes(fixed_size, "big", signed=True)
                except OverflowError:
                    raise AvroError(
                        f"decimal {v} overflows fixed({fixed_size})") from None
            else:
                raw = unscaled.to_bytes(
                    unscaled.bit_length() // 8 + 1, "big", signed=True)
            base(out, raw)

        return write_decimal

    def to_days(v):
        if isinstance(v, int) and not isinstance(v, bool):
            return v  # goavro-style leniency: underlying value accepted
        if isinstance(v, dt.datetime) or not isinstance(v, dt.date):
            raise AvroError(f"date field needs datetime.date, "
                            f"got {type(v).__name__}")
        return (v - _EPOCH_DATE).days

    def to_instant(unit_td, local=False):
        def conv(v):
            if isinstance(v, int) and not isinstance(v, bool):
                return v
            if not isinstance(v, dt.datetime):
                raise AvroError(f"timestamp field needs datetime, "
                                f"got {type(v).__name__}")
            if local and v.tzinfo is not None:
                # local-timestamp-* stores WALL-CLOCK time (Avro spec):
                # keep the digits the caller wrote, as the reader
                # returns naive datetimes
                v = v.replace(tzinfo=None)
            epoch = _EPOCH_UTC if v.tzinfo is not None else _EPOCH_NAIVE
            return (v - epoch) // unit_td  # exact integer division
        return conv

    def to_time(unit_micros):
        def conv(v):
            if isinstance(v, int) and not isinstance(v, bool):
                # the same [0, 24h) window the reader enforces, so the
                # writer never produces bytes its reader rejects
                if not 0 <= v * unit_micros < 86_400_000_000:
                    raise AvroError(
                        f"time value {v} outside [0, 24h) for the "
                        f"declared unit")
                return v
            if not isinstance(v, dt.time) or isinstance(v, dt.datetime):
                raise AvroError(f"time field needs datetime.time, "
                                f"got {type(v).__name__}")
            # wall clock only: a tzinfo is ignored; sub-unit digits
            # truncate toward zero like to_instant's floor division
            micros = ((v.hour * 60 + v.minute) * 60
                      + v.second) * 1_000_000 + v.microsecond
            return micros // unit_micros
        return conv

    ms, us = dt.timedelta(milliseconds=1), dt.timedelta(microseconds=1)
    convert = {
        "date": to_days,
        "time-millis": to_time(1000),
        "time-micros": to_time(1),
        "timestamp-millis": to_instant(ms),
        "timestamp-micros": to_instant(us),
        "local-timestamp-millis": to_instant(ms, local=True),
        "local-timestamp-micros": to_instant(us, local=True),
    }[name]

    def write_logical(out, v):
        base(out, convert(v))

    return write_logical


def _make_writer(schema) -> _Writer:
    schema = parse_schema(schema)
    t = _schema_type(schema)

    logical = logical_type(schema)
    if logical is not None and logical[0] != "uuid":
        return _logical_writer(logical[0], logical[1], schema)

    if t == "null":
        return lambda out, v: None
    if t == "boolean":
        return lambda out, v: out.append(1 if v else 0)
    if t in ("int", "long"):
        return _write_varint
    if t == "float":
        return lambda out, v: out.extend(struct.pack("<f", v))
    if t == "double":
        return lambda out, v: out.extend(struct.pack("<d", v))
    if t in ("bytes", "string"):
        def write_bytes(out, v):
            raw = v.encode("utf-8") if isinstance(v, str) else v
            _write_varint(out, len(raw))
            out.extend(raw)

        return write_bytes
    if t == "record":
        fields = [(f["name"], _make_writer(f["type"]))
                  for f in schema["fields"]]

        def write_record(out, v):
            for fname, fw in fields:
                fw(out, v[fname])

        return write_record
    if t == "enum":
        index = {s: i for i, s in enumerate(schema["symbols"])}
        return lambda out, v: _write_varint(out, index[v])
    if t in ("array", "map"):
        is_map = t == "map"
        item_writer = _make_writer(schema["values" if is_map else "items"])

        def write_blocks(out, v):
            if v:
                _write_varint(out, len(v))
                for item in v:
                    if is_map:
                        raw = item.encode("utf-8")
                        _write_varint(out, len(raw))
                        out.extend(raw)
                        item = v[item]
                    item_writer(out, item)
            _write_varint(out, 0)

        return write_blocks
    if t == "union":
        branches = [(b, _make_writer(b)) for b in schema]

        def write_union(out, v):
            for i, (bschema, bw) in enumerate(branches):
                if _matches(bschema, v):
                    _write_varint(out, i)
                    bw(out, v)
                    return
            raise AvroError(f"no union branch for {type(v).__name__}")

        return write_union
    if t == "fixed":
        return lambda out, v: out.extend(v)
    raise AvroError(f"unsupported Avro type {t!r}")


def _matches(schema, v) -> bool:
    schema = parse_schema(schema)
    logical = logical_type(schema)
    is_int = isinstance(v, int) and not isinstance(v, bool)
    if logical is not None and logical[0] != "uuid":
        name = logical[0]
        if name == "decimal":
            return isinstance(v, (Decimal, bytes, bytearray))
        if name == "date":
            return is_int or (isinstance(v, dt.date)
                              and not isinstance(v, dt.datetime))
        if name in ("time-millis", "time-micros"):
            return is_int or (isinstance(v, dt.time)
                              and not isinstance(v, dt.datetime))
        return is_int or isinstance(v, dt.datetime)
    t = _schema_type(schema)
    if t == "null":
        return v is None
    if t == "boolean":
        return isinstance(v, bool)
    if t in ("int", "long"):
        return is_int
    if t in ("float", "double"):
        return is_int or isinstance(v, float)
    if t in ("string", "enum"):
        return isinstance(v, str)
    if t in ("bytes", "fixed"):
        return isinstance(v, (bytes, bytearray))
    if t in ("record", "map"):
        return isinstance(v, dict)
    if t == "array":
        return isinstance(v, (list, tuple))
    return False


class Codec:
    """Encode with the writer above; decode with the service's reader
    (`compile_reader` with no reader type) and its trailing-bytes check."""

    def __init__(self, schema: str | dict | list):
        self.schema = parse_schema(schema)
        self._read = compile_reader(self.schema)
        self._write = _make_writer(self.schema)

    def decode(self, payload: bytes) -> Any:
        value, pos = self._read(memoryview(payload), 0)
        if pos != len(payload):
            raise AvroError(f"{len(payload) - pos} trailing bytes")
        return value

    def encode(self, value: Any) -> bytes:
        out = bytearray()
        self._write(out, value)
        return bytes(out)
