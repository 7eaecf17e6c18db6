"""Producer-side Confluent fixtures for the source tests: frame Avro
bodies the way a Confluent producer does, and serve writer schemas
from an in-memory registry.

Wire format: byte 0 = magic 0, bytes 1-4 = big-endian int32 schema id,
bytes 5.. = Avro binary body (reference fixtures/producer.go:96-118).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_elasticsearch_injector_spark.sources import (
    AvroError,
    SchemaRegistryClient,
    SchemaRegistryError,
    avro_to_spark_type,
)

from .avro_writer import Codec


def _header(schema_id: int) -> bytes:
    return bytes([0]) + struct.pack(">i", schema_id)


def wire_encode(schema_id: int, body: bytes) -> bytes:
    """Frame an Avro body: magic 0 + big-endian schema id."""
    return _header(schema_id) + body


def dict_registry(schemas: dict[int, str]) -> SchemaRegistryClient:
    """Registry backed by an in-memory {id: schema-json} map."""
    def fetch(schema_id: int) -> str:
        try:
            return schemas[schema_id]
        except KeyError:
            raise SchemaRegistryError(f"unknown schema id {schema_id}")

    return SchemaRegistryClient(fetcher=fetch)


def encode_confluent(df: DataFrame, registry: SchemaRegistryClient,
                     schema_id: int, struct_col: str,
                     out_col: str = "value") -> DataFrame:
    """Encode a struct column into Confluent-framed Avro binary (the
    producer side, reference fixtures/producer.go:75-146): the header
    is computed once, executors encode batch-at-a-time in mapInPandas.
    The other columns pass through; `struct_col` becomes `out_col`."""
    schema_json = registry.get_schema(schema_id)
    writer_type = avro_to_spark_type(schema_json)
    if not isinstance(writer_type, T.StructType):
        raise AvroError("writer schema must be a record")
    header = _header(schema_id)
    field_names = [f.name for f in writer_type.fields]
    keep = [f.name for f in df.schema.fields if f.name != struct_col]
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != struct_col]
        + [T.StructField(out_col, T.BinaryType(), True)])

    def encode_batches(batches: Iterator[pd.DataFrame]
                       ) -> Iterator[pd.DataFrame]:
        codec = Codec(schema_json)

        def encode_one(row) -> bytes | None:
            if row is None:
                return None
            value = {k: row.get(k) for k in field_names} \
                if isinstance(row, dict) else dict(zip(field_names, row))
            return header + codec.encode(value)

        for pdf in batches:
            out = pdf[keep].copy()
            out[out_col] = [encode_one(r) for r in pdf[struct_col]]
            yield out

    return df.mapInPandas(encode_batches, out_schema)
