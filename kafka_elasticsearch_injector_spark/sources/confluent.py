"""Confluent wire-format Avro decode as a Spark operator.

Wire format (public Confluent convention; reference
src/kafka/encode_decode.go:115-147): byte 0 = magic (written as 0 by
producers, reference src/kafka/fixtures/producer.go:96-118, and NOT
validated on read — parity preserved), bytes 1-4 = big-endian int32
schema id, bytes 5.. = Avro binary body.

Decode strategy (SURVEY.md §4.2 custom work #1):
- the READER schema is resolved at plan time (one registry fetch → a
  constant of the query, the Catalyst analog of the reference's
  sync.Map schema cache) and mapped to the output StructType;
- the hot path is an Arrow kernel (`mapInArrow`, no pandas round
  trip): per executor, one reader per writer schema id (exactly
  encode_decode.go:123-134) is compiled against the reader struct by
  `avro_codec.compile_reader`, so each record is decoded and resolved
  by field name in one pass and multi-schema-id topics work without
  replanning; the resolved values become the Arrow struct column in one
  `pa.array` call and the input columns pass through untouched;
- decode failures do NOT fail the batch: the record's `decoded` is
  null and the error lands in `_decode_error` (malformed side-drop,
  consumer.go:154-159 — the pipeline filters on `_decode_error IS
  NULL`).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from .avro_codec import AvroError, compile_reader, logical_type, parse_schema
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
    # Logical types (Avro 1.11 spec): the reader surfaces logical Python
    # values (avro_codec._LOGICAL), so the Spark type must be the
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
    payload column is read into Python. Each record costs one
    `wire_decode` and one pass of the reader compiled for its writer
    schema id (`avro_codec.compile_reader`: resolution rules, misfit
    side-drops); each batch costs one `pa.array` per output column.
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
    session_tz = df.sparkSession.conf.get("spark.sql.session.timeZone")

    def decode_batches(batches: Iterator[pa.RecordBatch]
                       ) -> Iterator[pa.RecordBatch]:
        readers: dict[int, Any] = {}  # per-worker, keyed by writer id

        def decode_one(raw) -> tuple[Any, str | None]:
            if raw is None:
                return None, "nil message"  # ErrNilMessage path
            try:
                schema_id, body = wire_decode(raw)
                read = readers.get(schema_id)
                if read is None:
                    read = readers[schema_id] = compile_reader(
                        registry.get_schema(schema_id), reader_type,
                        session_tz)
                value, pos = read(memoryview(body), 0)
                if pos != len(body):
                    raise AvroError(f"{len(body) - pos} trailing bytes")
                if value is None:  # a writer value that is not a record
                    return None, "non-record payload"
                return value, None
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
