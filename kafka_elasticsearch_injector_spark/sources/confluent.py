"""Confluent wire-format Avro decode as a Spark operator.

Wire format (public Confluent convention; reference
src/kafka/encode_decode.go:115-147): byte 0 = magic (written as 0 by
producers, reference src/kafka/fixtures/producer.go:96-118, and NOT
validated on read — parity preserved), bytes 1-4 = big-endian int32
schema id, bytes 5.. = Avro binary body.

Decode strategy (SURVEY.md §4.2 custom work #1):
- the READER schema is resolved at plan time (one registry fetch → a
  constant of the query, the Catalyst analog of the reference's
  sync.Map schema cache) and compiled to the output StructType;
- the hot path is an Arrow kernel (`mapInArrow`, no pandas round
  trip): per executor, a codec cache keyed by writer schema id
  (exactly encode_decode.go:123-134) decodes each record, and a
  conformer compiled once from the reader struct projects it by field
  name — so multi-schema-id topics work without replanning; the
  conformed values become the Arrow struct column in one `pa.array`
  call and the input columns pass through untouched;
- decode failures do NOT fail the batch: the record's `decoded` is
  null and the error lands in `_decode_error` (malformed side-drop,
  consumer.go:154-159 — the pipeline filters on `_decode_error IS
  NULL`).
"""

from __future__ import annotations

import datetime as dt
import decimal
import struct
from collections.abc import Callable, Iterator
from decimal import Decimal
from typing import Any

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from .avro_codec import AvroError, Codec, logical_type, parse_schema
from .schema_registry import SchemaRegistryClient

WIRE_HEADER_LEN = 5


def wire_decode(message: bytes) -> tuple[int, bytes]:
    """Split a framed message into (schema_id, body). The magic byte is
    deliberately not validated (encode_decode.go:144-147 reads only
    bytes 1-4)."""
    if len(message) < WIRE_HEADER_LEN:
        raise AvroError(f"message shorter than wire header: {len(message)}B")
    return struct.unpack(">i", message[1:5])[0], message[5:]


def avro_to_spark_type(schema) -> T.DataType:
    """Map an Avro schema to the Spark type the decode emits.

    Unions are supported in the reference's shape only: [null, X] (or
    [X, null]) → nullable X; other unions are rejected at plan time —
    the same narrowing goavro's map coercion imposes
    (encode_decode.go:52-62)."""
    schema = parse_schema(schema)
    if isinstance(schema, list):
        branches = [b for b in schema if parse_schema(b) != "null"]
        if len(branches) != 1:
            raise AvroError(f"only [null, X] unions supported, got {schema}")
        return avro_to_spark_type(branches[0])
    if isinstance(schema, str):
        return {
            "null": T.NullType(), "boolean": T.BooleanType(),
            "int": T.IntegerType(), "long": T.LongType(),
            "float": T.FloatType(), "double": T.DoubleType(),
            "bytes": T.BinaryType(), "string": T.StringType(),
        }[schema]
    # Logical types (Avro 1.11 spec): the codec surfaces logical Python
    # values (avro_codec._logical_reader), so the Spark type must be the
    # logical one — a decimal field silently arriving as BinaryType was
    # exactly the goavro-parity gap this closes (encode_decode.go:52-62).
    logical = logical_type(schema)
    if logical is not None:
        name, attrs = logical
        if name == "decimal":
            if attrs["precision"] > 38:
                raise AvroError(
                    f"decimal precision {attrs['precision']} exceeds "
                    "Spark's DecimalType max of 38")
            return T.DecimalType(attrs["precision"], attrs["scale"])
        return {
            "date": T.DateType(), "uuid": T.StringType(),
            "time-millis": T.TimeType(),
            "time-micros": T.TimeType(),
            "timestamp-millis": T.TimestampType(),
            "timestamp-micros": T.TimestampType(),
            "local-timestamp-millis": T.TimestampNTZType(),
            "local-timestamp-micros": T.TimestampNTZType(),
        }[name]
    t = schema["type"]
    if t == "record":
        return T.StructType([
            T.StructField(f["name"], avro_to_spark_type(f["type"]), True)
            for f in schema["fields"]])
    if t == "enum":
        return T.StringType()
    if t == "fixed":
        return T.BinaryType()
    if t == "array":
        return T.ArrayType(avro_to_spark_type(schema["items"]), True)
    if t == "map":
        return T.MapType(T.StringType(), avro_to_spark_type(schema["values"]), True)
    if t in ("int", "long", "float", "double", "boolean",
             "null", "bytes", "string"):
        return avro_to_spark_type(t)
    raise AvroError(f"unsupported Avro type {t!r}")


def _misfit(value: Any, dtype: T.DataType) -> AvroError:
    return AvroError(
        f"writer value of type {type(value).__name__} does not fit "
        f"reader column type {dtype.simpleString()} (logical-type "
        "divergence between writer and reader schemas?)")


def compile_conformer(dtype: T.DataType,
                      session_tz: str | None = None) -> Callable[[Any], Any]:
    """Compile the projection of decoded values onto the reader type.

    Built once per reader type, like the codec's readers
    (avro_codec._make_reader): the returned closure does no schema
    interpretation per record. Its contract:

    - structs project by field name — missing fields → null, extra
      fields dropped (name-based resolution; full Avro aliases/defaults
      are out of scope and documented so); a non-dict value → null;
    - atomic values are TYPE-CHECKED against the reader column. Decode
      surfaces values per the WRITER schema (incl. its logical types),
      so a writer/reader logical-type divergence (say the producer adds
      ``timestamp-millis`` to a long the pinned reader still declares
      plain) would otherwise sail through here and fail the Arrow
      conversion of the whole batch instead of side-dropping the record
      (consumer.go:154-159 parity). The AvroError raised here is caught
      per record;
    - `bool` is not an int; an int is accepted for a double;
    - decimals are quantized to the reader's scale with Inexact and
      InvalidOperation trapped under prec = reader precision: a
      LOSSLESS rescale (writer scale differs but the extra digits are
      zeros) passes, while lossy rescale, precision overflow and NaN
      raise;
    - with `session_tz` set, a naive datetime bound for a TimestampType
      column is a wall-clock time in that zone and comes back as the
      aware-UTC instant Spark's pandas conversion gives it
      (``pd.Timestamp(v).tz_localize(session_tz)``); a wall-clock time
      the zone skips or repeats raises. Without it the value stays
      naive and the caller's conversion decides.
    """
    if isinstance(dtype, T.StructType):
        fields = [(f.name, compile_conformer(f.dataType, session_tz))
                  for f in dtype.fields]

        def conform_struct(value):
            if not isinstance(value, dict):
                return None
            get = value.get
            return {name: conform(get(name)) for name, conform in fields}

        return conform_struct
    if isinstance(dtype, T.ArrayType):
        conform_item = compile_conformer(dtype.elementType, session_tz)

        def conform_array(value):
            if value is None:
                return None
            return [conform_item(v) for v in value]

        return conform_array
    if isinstance(dtype, T.MapType):
        conform_value = compile_conformer(dtype.valueType, session_tz)

        def conform_map(value):
            if value is None:
                return None
            return {k: conform_value(v) for k, v in value.items()}

        return conform_map
    if isinstance(dtype, T.DecimalType):
        ctx = decimal.Context(
            prec=dtype.precision,
            traps=[decimal.Inexact, decimal.InvalidOperation])
        quantum = Decimal(1).scaleb(-dtype.scale)

        def conform_decimal(value):
            if value is None:
                return None
            # quiet NaN quantizes to NaN, so finiteness is checked first
            if isinstance(value, Decimal) and value.is_finite():
                try:
                    return ctx.quantize(value, quantum)
                except decimal.DecimalException:
                    pass
            raise _misfit(value, dtype)

        return conform_decimal
    if isinstance(dtype, T.TimestampType) and session_tz is not None:

        def conform_instant(value):
            if value is None:
                return None
            if not isinstance(value, dt.datetime):
                raise _misfit(value, dtype)
            if value.tzinfo is None:
                # returned in UTC: pyarrow binds an aware datetime to
                # timestamp[tz=UTC] by its wall clock, ignoring its zone
                return pd.Timestamp(value).tz_localize(
                    session_tz).tz_convert("UTC").to_pydatetime()
            return value

        return conform_instant

    # (the exact type that passes at once, the full gate for the rest)
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType,
                          T.ByteType)):
        exact, accept = int, (lambda v: isinstance(v, int)
                              and not isinstance(v, bool))
    elif isinstance(dtype, (T.DoubleType, T.FloatType)):
        exact, accept = float, (lambda v: isinstance(v, (int, float))
                                and not isinstance(v, bool))
    elif isinstance(dtype, T.BooleanType):
        exact, accept = bool, (lambda v: isinstance(v, bool))
    elif isinstance(dtype, T.StringType):
        exact, accept = str, (lambda v: isinstance(v, str))
    elif isinstance(dtype, T.BinaryType):
        exact, accept = bytes, (lambda v: isinstance(v, (bytes, bytearray)))
    elif isinstance(dtype, T.DateType):
        exact, accept = dt.date, (lambda v: isinstance(v, dt.date)
                                  and not isinstance(v, dt.datetime))
    elif isinstance(dtype, T.TimeType):
        exact, accept = dt.time, (lambda v: isinstance(v, dt.time))
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        exact, accept = dt.datetime, (lambda v: isinstance(v, dt.datetime))
    else:
        return lambda value: value

    def conform_atomic(value):
        if value is None or type(value) is exact or accept(value):
            return value
        raise _misfit(value, dtype)

    return conform_atomic


def decode_confluent(
    df: DataFrame,
    registry: SchemaRegistryClient,
    reader_schema_id: int,
    payload_col: str = "value",
    decoded_col: str = "decoded",
    error_col: str = "_decode_error",
) -> DataFrame:
    """Decode a Confluent-framed Avro binary column into a typed struct.

    Output = input columns + `decoded` struct (reader schema shape) +
    `_decode_error` string (null on success). Works on batch and
    streaming DataFrames alike — mapInArrow is a narrow, shuffle-free
    map, so source parallelism is preserved end to end. The input
    columns pass through as the Arrow arrays they arrived in; only the
    payload column is read into Python.
    """
    reader_json = registry.get_schema(reader_schema_id)
    reader_type = avro_to_spark_type(reader_json)
    if not isinstance(reader_type, T.StructType):
        # Non-record top level is an error in the reference too
        # (encode_decode.go:52-62).
        raise AvroError("reader schema must be a record")

    out_schema = T.StructType(
        [f for f in df.schema.fields] + [
            T.StructField(decoded_col, reader_type, True),
            T.StructField(error_col, T.StringType(), True),
        ])
    decoded_type = to_arrow_type(reader_type)
    conform = compile_conformer(
        reader_type, df.sparkSession.conf.get("spark.sql.session.timeZone"))

    def decode_batches(batches: Iterator[pa.RecordBatch]
                       ) -> Iterator[pa.RecordBatch]:
        codecs: dict[int, Codec] = {}  # per-worker, keyed by writer id

        def decode_one(raw) -> tuple[Any, str | None]:
            if raw is None:
                return None, "nil message"  # ErrNilMessage path
            try:
                schema_id, body = wire_decode(raw)
                codec = codecs.get(schema_id)
                if codec is None:
                    codec = Codec(registry.get_schema(schema_id))
                    codecs[schema_id] = codec
                value = codec.decode(body)
                if not isinstance(value, dict):
                    return None, "non-record payload"
                return conform(value), None
            except Exception as ex:  # noqa: BLE001 — side-drop, not fail
                return None, f"{type(ex).__name__}: {ex}"

        for batch in batches:
            results = [decode_one(r)
                       for r in batch.column(payload_col).to_pylist()]
            yield pa.RecordBatch.from_arrays(
                batch.columns + [
                    pa.array([d for d, _ in results], decoded_type),
                    pa.array([e for _, e in results], pa.string())],
                names=batch.schema.names + [decoded_col, error_col])

    return df.mapInArrow(decode_batches, out_schema)
