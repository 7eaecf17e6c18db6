"""Pure-Python Avro binary codec (Apache Avro 1.11 spec subset).

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
surfacing): ``decimal`` (bytes/fixed) ⇄ `decimal.Decimal`, ``date`` ⇄
`datetime.date`, ``timestamp-millis``/``timestamp-micros`` ⇄ aware-UTC
`datetime.datetime`, ``local-timestamp-millis``/``-micros`` ⇄ naive
`datetime.datetime`, ``time-millis``/``time-micros`` ⇄ `datetime.time`
(Spark 4.1's TimeType rides the Arrow time64 lane; goavro surfaces a
duration, which has no Spark analog — a civil time is the faithful
time-of-day mapping, and out-of-range values side-drop per record),
``uuid`` ⇄ str (no conversion needed). An INVALID logical declaration
(bad precision/scale, wrong underlying type) is ignored and the
underlying type used — the spec-mandated fallback.

Codecs are compiled once per schema and cached by the caller (mirroring
the per-schema-id codec cache at encode_decode.go:123-134) — the
recursive readers/writers are built at compile time, so per-record decode
is closure dispatch, no schema interpretation in the hot loop. For Spark,
the hot path wraps this in an Arrow kernel (mapInArrow,
sources/confluent.py) whose reader-schema conformer is compiled the same
way; at 100 TB the decode is embarrassingly parallel per partition and
this codec is only the per-record kernel.
"""

from __future__ import annotations

import datetime as dt
import json
import struct
from decimal import Decimal
from typing import Any, Callable

PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}

_EPOCH_DATE = dt.date(1970, 1, 1)
_EPOCH_UTC = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
_EPOCH_NAIVE = dt.datetime(1970, 1, 1)

_Reader = Callable[[memoryview, int], tuple[Any, int]]
_Writer = Callable[[bytearray, Any], None]


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


# ------------------------------------------------------------ varint/zigzag


def _read_varint(buf: memoryview, pos: int) -> tuple[int, int]:
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
    return (acc >> 1) ^ -(acc & 1), pos  # zigzag decode


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


# ---------------------------------------------------------- logical types


def _strip_logical(schema: dict) -> dict:
    return {k: v for k, v in schema.items() if k != "logicalType"}


def _logical_reader(name: str, attrs: dict, schema: dict, named) -> _Reader:
    """Wrap the underlying reader with the logical-value conversion.

    goavro parity (the reference's decode surface, encode_decode.go:52-62):
    decimal → exact unscaled/10^scale (big.Rat there, Decimal here), date
    → civil date, timestamp-* → instants. Conversions are exact — the
    Decimal is built from the digit string, never through float or a
    rounding context.
    """
    base = _make_reader(_strip_logical(schema), named)
    if name == "decimal":
        scale = attrs["scale"]

        def read_decimal(buf, pos):
            raw, pos = base(buf, pos)
            unscaled = int.from_bytes(raw, "big", signed=True)
            return Decimal(f"{unscaled}E-{scale}"), pos

        return read_decimal

    convert = {
        "date": lambda v: _EPOCH_DATE + dt.timedelta(days=v),
        "time-millis": lambda v: _time_of_day(v * 1000),
        "time-micros": _time_of_day,
        "timestamp-millis": lambda v: _EPOCH_UTC + dt.timedelta(milliseconds=v),
        "timestamp-micros": lambda v: _EPOCH_UTC + dt.timedelta(microseconds=v),
        "local-timestamp-millis":
            lambda v: _EPOCH_NAIVE + dt.timedelta(milliseconds=v),
        "local-timestamp-micros":
            lambda v: _EPOCH_NAIVE + dt.timedelta(microseconds=v),
    }[name]

    def read_logical(buf, pos):
        v, pos = base(buf, pos)
        return convert(v), pos

    return read_logical


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


def _logical_writer(name: str, attrs: dict, schema: dict, named) -> _Writer:
    base = _make_writer(_strip_logical(schema), named)
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

    def to_instant(unit_td, epoch_aware, local=False):
        def conv(v):
            if isinstance(v, int) and not isinstance(v, bool):
                return v
            if not isinstance(v, dt.datetime):
                raise AvroError(f"timestamp field needs datetime, "
                                f"got {type(v).__name__}")
            if local and v.tzinfo is not None:
                # local-timestamp-* stores WALL-CLOCK time (Avro spec:
                # "timestamp ... in a local timezone, regardless of
                # what specific time zone"). Converting an aware value
                # against the UTC epoch would store the UTC instant —
                # silently shifting the wall-clock and asymmetric with
                # the reader (which returns naive datetimes). Strip the
                # tz to keep the wall-clock digits the caller wrote.
                v = v.replace(tzinfo=None)
            epoch = epoch_aware if v.tzinfo is not None else _EPOCH_NAIVE
            return (v - epoch) // unit_td  # exact integer division
        return conv

    def to_time(unit_micros):
        def conv(v):
            if isinstance(v, int) and not isinstance(v, bool):
                # Underlying value accepted (goavro leniency on TYPE),
                # but range-checked to the same [0, 24h) window the
                # reader enforces (_time_of_day) — otherwise the codec
                # would happily write a value its own reader then
                # rejects as malformed (asymmetric round-trip).
                if not 0 <= v * unit_micros < 86_400_000_000:
                    raise AvroError(
                        f"time value {v} outside [0, 24h) for the "
                        f"declared unit")
                return v
            if not isinstance(v, dt.time) or isinstance(v, dt.datetime):
                raise AvroError(f"time field needs datetime.time, "
                                f"got {type(v).__name__}")
            # Wall-clock fields only — a tzinfo on the time is ignored
            # (Avro time-of-day is zone-less, same wall-clock contract
            # as local-timestamp-*). Sub-unit digits truncate toward
            # zero, matching to_instant's floor division.
            micros = ((v.hour * 60 + v.minute) * 60
                      + v.second) * 1_000_000 + v.microsecond
            return micros // unit_micros
        return conv

    convert = {
        "date": to_days,
        "time-millis": to_time(1000),
        "time-micros": to_time(1),
        "timestamp-millis": to_instant(dt.timedelta(milliseconds=1), _EPOCH_UTC),
        "timestamp-micros": to_instant(dt.timedelta(microseconds=1), _EPOCH_UTC),
        "local-timestamp-millis":
            to_instant(dt.timedelta(milliseconds=1), _EPOCH_UTC, local=True),
        "local-timestamp-micros":
            to_instant(dt.timedelta(microseconds=1), _EPOCH_UTC, local=True),
    }[name]

    def write_logical(out, v):
        base(out, convert(v))

    return write_logical


# ---------------------------------------------------------------- readers


def _make_reader(schema, named: dict[str, _Reader] | None = None) -> _Reader:
    named = named if named is not None else {}
    schema = parse_schema(schema)
    t = _schema_type(schema)

    logical = logical_type(schema)
    if logical is not None and logical[0] != "uuid":  # uuid is already str
        return _logical_reader(logical[0], logical[1], schema, named)

    if t == "null":
        return lambda buf, pos: (None, pos)
    if t == "boolean":
        return lambda buf, pos: (buf[pos] != 0, pos + 1)
    if t in ("int", "long"):
        return _read_varint
    if t == "float":
        return lambda buf, pos: (
            struct.unpack_from("<f", buf, pos)[0], pos + 4)
    if t == "double":
        return lambda buf, pos: (
            struct.unpack_from("<d", buf, pos)[0], pos + 8)
    if t in ("bytes", "string"):
        decode = t == "string"

        def read_bytes(buf, pos, _decode=decode):
            n, pos = _read_varint(buf, pos)
            if n < 0 or pos + n > len(buf):
                raise AvroError("bad length")
            raw = bytes(buf[pos:pos + n])
            return (raw.decode("utf-8") if _decode else raw), pos + n

        return read_bytes

    if t == "record":
        fullname = schema.get("name", "")
        if fullname in named:
            return lambda buf, pos: named[fullname](buf, pos)
        field_readers: list[tuple[str, _Reader]] = []

        def read_record(buf, pos):
            out = {}
            for fname, fr in field_readers:
                out[fname], pos = fr(buf, pos)
            return out, pos

        named[fullname] = read_record  # register before fields: recursion
        for f in schema["fields"]:
            field_readers.append((f["name"], _make_reader(f["type"], named)))
        return read_record

    if t == "enum":
        symbols = schema["symbols"]

        def read_enum(buf, pos):
            i, pos = _read_varint(buf, pos)
            if not 0 <= i < len(symbols):
                raise AvroError(f"enum index {i} out of range")
            return symbols[i], pos

        return read_enum

    if t == "array" or t == "map":
        item_reader = _make_reader(
            schema["items"] if t == "array" else schema["values"], named)
        is_map = t == "map"

        def read_blocks(buf, pos):
            out: Any = {} if is_map else []
            while True:
                n, pos = _read_varint(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:  # negative count: byte size follows (skippable)
                    n = -n
                    _, pos = _read_varint(buf, pos)
                for _ in range(n):
                    if is_map:
                        klen, pos = _read_varint(buf, pos)
                        key = bytes(buf[pos:pos + klen]).decode("utf-8")
                        pos += klen
                        out[key], pos = item_reader(buf, pos)
                    else:
                        v, pos = item_reader(buf, pos)
                        out.append(v)

        return read_blocks

    if t == "union":
        branch_readers = [_make_reader(b, named) for b in schema]

        def read_union(buf, pos):
            i, pos = _read_varint(buf, pos)
            if not 0 <= i < len(branch_readers):
                raise AvroError(f"union branch {i} out of range")
            return branch_readers[i](buf, pos)

        return read_union

    if t == "fixed":
        size = schema["size"]
        return lambda buf, pos: (bytes(buf[pos:pos + size]), pos + size)

    raise AvroError(f"unsupported Avro type {t!r}")


# ---------------------------------------------------------------- writers


def _make_writer(schema, named: dict[str, _Writer] | None = None) -> _Writer:
    named = named if named is not None else {}
    schema = parse_schema(schema)
    t = _schema_type(schema)

    logical = logical_type(schema)
    if logical is not None and logical[0] != "uuid":
        return _logical_writer(logical[0], logical[1], schema, named)

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
        fullname = schema.get("name", "")
        if fullname in named:
            return lambda out, v: named[fullname](out, v)
        field_writers: list[tuple[str, _Writer]] = []

        def write_record(out, v):
            for fname, fw in field_writers:
                fw(out, v[fname])

        named[fullname] = write_record
        for f in schema["fields"]:
            field_writers.append((f["name"], _make_writer(f["type"], named)))
        return write_record

    if t == "enum":
        index = {s: i for i, s in enumerate(schema["symbols"])}
        return lambda out, v: _write_varint(out, index[v])

    if t == "array":
        item_writer = _make_writer(schema["items"], named)

        def write_array(out, v):
            if v:
                _write_varint(out, len(v))
                for item in v:
                    item_writer(out, item)
            _write_varint(out, 0)

        return write_array

    if t == "map":
        value_writer = _make_writer(schema["values"], named)

        def write_map(out, v):
            if v:
                _write_varint(out, len(v))
                for k, item in v.items():
                    raw = k.encode("utf-8")
                    _write_varint(out, len(raw))
                    out.extend(raw)
                    value_writer(out, item)
            _write_varint(out, 0)

        return write_map

    if t == "union":
        branch_writers = [(b, _make_writer(b, named)) for b in schema]

        def write_union(out, v):
            for i, (bschema, bw) in enumerate(branch_writers):
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
    if logical is not None and logical[0] != "uuid":
        name = logical[0]
        if name == "decimal":
            return isinstance(v, (Decimal, bytes, bytearray))
        if name == "date":
            return (isinstance(v, dt.date) and not isinstance(v, dt.datetime)
                    ) or (isinstance(v, int) and not isinstance(v, bool))
        if name in ("time-millis", "time-micros"):
            return (isinstance(v, dt.time)
                    and not isinstance(v, dt.datetime)) or (
                isinstance(v, int) and not isinstance(v, bool))
        return isinstance(v, dt.datetime) or (
            isinstance(v, int) and not isinstance(v, bool))
    t = _schema_type(schema)
    if t == "null":
        return v is None
    if t == "boolean":
        return isinstance(v, bool)
    if t in ("int", "long"):
        return isinstance(v, int) and not isinstance(v, bool)
    if t in ("float", "double"):
        return isinstance(v, (int, float)) and not isinstance(v, bool)
    if t in ("string", "enum"):
        return isinstance(v, str)
    if t in ("bytes", "fixed"):
        return isinstance(v, (bytes, bytearray))
    if t == "record":
        return isinstance(v, dict)
    if t == "array":
        return isinstance(v, (list, tuple))
    if t == "map":
        return isinstance(v, dict)
    return False


class Codec:
    """Compiled per-schema binary codec — build once, reuse per record
    (the analog of goavro.Codec cached per schema id,
    reference src/kafka/encode_decode.go:123-134)."""

    def __init__(self, schema: str | dict | list):
        self.schema = parse_schema(schema)
        self._read = _make_reader(self.schema)
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
