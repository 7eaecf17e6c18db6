"""Avro Object Container File source/sink.

The reference only ever decodes single Confluent-framed records
(src/kafka/encode_decode.go:115-147); the OCF layer extends the same
codec to the Avro spec's file format. Coverage mirrors the codec tests:
round-trips (both codecs), header/sync corruption detection, the Spark
scan's malformed side-drop, the distributed sink, and the one-pass
parquet converter.
"""

from __future__ import annotations

import json
import os

import pytest

from kafka_elasticsearch_injector_spark.sources import AvroError
from kafka_elasticsearch_injector_spark.sources.avro_ocf import (
    decode_ocf,
    df_to_ocf,
    drop_malformed_ocf,
    encode_ocf,
    ocf_schema,
    ocf_to_parquet,
    read_ocf,
    write_ocf,
)

EVENT_SCHEMA = json.dumps({
    "type": "record", "name": "evt",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "score", "type": ["null", "double"]},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
    ],
})

RECORDS = [
    {"id": i, "name": f"n{i}", "score": None if i % 3 == 0 else i / 2.0,
     "tags": [f"t{i % 2}"]}
    for i in range(25)
]


# ------------------------------------------------------------ pure python


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_roundtrip(codec):
    data = encode_ocf(EVENT_SCHEMA, RECORDS, codec=codec, block_records=7)
    schema, out = decode_ocf(data)
    assert out == RECORDS
    assert schema["name"] == "evt"


def test_deflate_is_smaller_on_repetitive_data():
    rows = [{"id": 1, "name": "x" * 50, "score": None, "tags": []}] * 200
    raw = encode_ocf(EVENT_SCHEMA, rows, codec="null")
    comp = encode_ocf(EVENT_SCHEMA, rows, codec="deflate")
    assert len(comp) < len(raw) / 2


def test_bad_magic_rejected():
    with pytest.raises(AvroError, match="magic"):
        decode_ocf(b"PAR1" + b"\x00" * 64)


def test_sync_mismatch_rejected():
    data = bytearray(encode_ocf(EVENT_SCHEMA, RECORDS, block_records=9))
    data[-1] ^= 0xFF  # corrupt the final sync marker
    with pytest.raises(AvroError, match="sync"):
        decode_ocf(bytes(data))


def test_torn_block_rejected():
    data = encode_ocf(EVENT_SCHEMA, RECORDS)
    with pytest.raises(AvroError):
        decode_ocf(data[:-20])  # truncate mid-block


def test_unknown_codec_rejected():
    with pytest.raises(AvroError, match="codec"):
        encode_ocf(EVENT_SCHEMA, RECORDS, codec="snappy")


def test_ocf_schema_peek(tmp_path):
    p = str(tmp_path / "a.avro")
    write_ocf(p, EVENT_SCHEMA, RECORDS)
    schema = ocf_schema(p)
    assert [f["name"] for f in schema["fields"]] == [
        "id", "name", "score", "tags"]


# ------------------------------------------------------------ spark scan


def test_read_ocf_rows_and_sidedrop(spark, tmp_path):
    d = tmp_path / "lake"
    d.mkdir()
    write_ocf(str(d / "a.avro"), EVENT_SCHEMA, RECORDS[:10])
    write_ocf(str(d / "b.avro"), EVENT_SCHEMA, RECORDS[10:], codec="deflate")
    (d / "bad.avro").write_bytes(b"Obj\x01garbage-not-a-real-header")

    df = read_ocf(spark, str(d), EVENT_SCHEMA)
    rows = df.collect()
    errs = [r for r in rows if r["_decode_error"] is not None]
    assert len(errs) == 1 and "bad.avro" in errs[0]["_source_file"]

    clean = drop_malformed_ocf(df)
    assert clean.columns == ["id", "name", "score", "tags"]
    got = {(r["id"], r["name"], r["score"], tuple(r["tags"]))
           for r in clean.collect()}
    want = {(r["id"], r["name"], r["score"], tuple(r["tags"]))
            for r in RECORDS}
    assert got == want


def test_read_ocf_reader_schema_projection(spark, tmp_path):
    """Name-based resolution: missing field null, extra dropped —
    the same narrowing as the Kafka decode path."""
    d = tmp_path / "lake"
    d.mkdir()
    write_ocf(str(d / "a.avro"), EVENT_SCHEMA, RECORDS[:5])
    reader = json.dumps({
        "type": "record", "name": "evt",
        "fields": [{"name": "id", "type": "long"},
                   {"name": "missing", "type": ["null", "string"]}],
    })
    rows = drop_malformed_ocf(read_ocf(spark, str(d), reader)).collect()
    assert sorted(r["id"] for r in rows) == [0, 1, 2, 3, 4]
    assert all(r["missing"] is None for r in rows)


def test_df_to_ocf_roundtrip(spark, tmp_path):
    dest = str(tmp_path / "out")
    src = drop_malformed_ocf(read_ocf(
        spark, _write_lake(tmp_path), EVENT_SCHEMA)).repartition(3)
    df_to_ocf(src, dest, EVENT_SCHEMA)
    parts = sorted(os.listdir(dest))
    assert parts and all(p.endswith(".avro") for p in parts)
    back = drop_malformed_ocf(read_ocf(spark, dest, EVENT_SCHEMA))
    assert sorted(r["id"] for r in back.collect()) == sorted(
        r["id"] for r in RECORDS)


def test_ocf_to_parquet(spark, tmp_path):
    dest = str(tmp_path / "pq")
    ocf_to_parquet(spark, _write_lake(tmp_path), dest, EVENT_SCHEMA)
    back = spark.read.parquet(dest)
    assert back.count() == len(RECORDS)
    assert set(back.columns) == {"id", "name", "score", "tags"}


def _write_lake(tmp_path) -> str:
    d = tmp_path / "lake"
    d.mkdir(exist_ok=True)
    write_ocf(str(d / "a.avro"), EVENT_SCHEMA, RECORDS[:12])
    write_ocf(str(d / "b.avro"), EVENT_SCHEMA, RECORDS[12:])
    return str(d)


def test_ocf_logical_types_full_circle(spark, tmp_path):
    """Logical types through the OCF lane (r11): write an OCF file with
    decimal/date/timestamp fields, read it as real Spark
    DECIMAL/DATE/TIMESTAMP columns, export back via df_to_ocf, re-read
    — values identical both hops. Shares the codec with the Confluent
    path, so this pins the whole goavro-parity surface on files too."""
    import datetime as dt
    from decimal import Decimal

    schema = json.dumps({
        "type": "record", "name": "lt", "fields": [
            {"name": "id", "type": "long"},
            {"name": "price", "type": {"type": "bytes",
                                       "logicalType": "decimal",
                                       "precision": 10, "scale": 2}},
            {"name": "day", "type": {"type": "int", "logicalType": "date"}},
            {"name": "at", "type": {"type": "long",
                                    "logicalType": "timestamp-micros"}},
            {"name": "tod", "type": {"type": "long",
                                     "logicalType": "time-micros"}},
        ]})
    rows = [
        {"id": 1, "price": Decimal("19.99"), "day": dt.date(2023, 5, 4),
         "at": dt.datetime(2023, 5, 4, 1, 2, 3, 456789,
                           tzinfo=dt.timezone.utc),
         "tod": dt.time(23, 59, 59, 999999)},
        {"id": 2, "price": Decimal("-0.01"), "day": dt.date(1969, 12, 31),
         "at": dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc),
         "tod": dt.time(0, 0)},
    ]
    lake = tmp_path / "lt_lake"
    lake.mkdir()
    write_ocf(str(lake / "a.avro"), schema, rows)

    df = drop_malformed_ocf(read_ocf(spark, str(lake), schema))
    assert dict(df.dtypes)["price"] == "decimal(10,2)"
    assert dict(df.dtypes)["day"] == "date"
    assert dict(df.dtypes)["at"] == "timestamp"
    assert dict(df.dtypes)["tod"].startswith("time")  # TimeType (r12)
    got = {r.id: r for r in df.collect()}
    assert got[1].price == Decimal("19.99")
    assert got[1].day == dt.date(2023, 5, 4)
    assert got[1].at == dt.datetime(2023, 5, 4, 1, 2, 3, 456789)
    assert got[1].tod == dt.time(23, 59, 59, 999999)
    assert got[2].tod == dt.time(0, 0)

    dest = str(tmp_path / "lt_out")
    df_to_ocf(df, dest, schema)
    back = {r.id: r for r in
            drop_malformed_ocf(read_ocf(spark, dest, schema)).collect()}
    for i in (1, 2):
        assert back[i].price == got[i].price
        assert back[i].day == got[i].day
        assert back[i].at == got[i].at
        assert back[i].tod == got[i].tod
