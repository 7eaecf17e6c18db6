"""Avro Object Container File (OCF) source and sink, dependency-free.

The reference system is Avro-first but only ever sees Confluent-framed
single records off Kafka (src/kafka/encode_decode.go:115-147). A batch
engine with the same payload surface also needs the *file* shape of the
same data — the Avro 1.11 spec's Object Container File:

    magic "Obj\\x01"
    file-metadata map<string,bytes>   (avro.schema, avro.codec)
    16-byte sync marker
    blocks: [zigzag-long record count][zigzag-long byte size]
            [count records, possibly deflate-compressed][sync marker]

Everything here reuses the compiled codec from avro_codec.py, so the
per-record decode kernel is identical to the Kafka path.

Scale notes (100 TB):
- `read_ocf` parallelizes per FILE (`binaryFile` inputs are not
  splittable): an OCF lake laid out as many 128-512 MB files reads with
  full cluster parallelism. A single giant OCF file is the one shape
  that serializes — convert it once via `ocf_to_parquet` (what
  spark-avro's sync-marker split would buy is only this case).
- The decode is a narrow mapInPandas — no shuffle; source parallelism
  is preserved end to end, and malformed files side-drop per the
  reference's decode-error semantics (consumer.go:154-159) instead of
  failing the scan.
- Like every ingest format here (files.py doctrine): decode once,
  write parquet, query the parquet.
"""

from __future__ import annotations

import io
import os
import struct
import zlib
from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .avro_codec import AvroError, Codec, parse_schema, _make_reader
from .confluent import avro_to_spark_type, compile_conformer

OCF_MAGIC = b"Obj\x01"
SYNC_SIZE = 16
SOURCE_COL = "_source_file"
ERROR_COL = "_decode_error"

# File-metadata map: map<string, bytes> per the spec.
_META_READER = _make_reader({"type": "map", "values": "bytes"})


def _read_long(buf: memoryview, pos: int) -> tuple[int, int]:
    shift, acc = 0, 0
    while True:
        if pos >= len(buf):
            raise AvroError("truncated varint in OCF block header")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _write_long(out: bytearray, n: int) -> None:
    n = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    n &= (1 << 64) - 1
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def read_header(data: bytes) -> tuple[dict, str, bytes, int]:
    """Parse an OCF header → (writer schema, codec name, sync, body pos)."""
    if data[:4] != OCF_MAGIC:
        raise AvroError("not an Avro object container file (bad magic)")
    buf = memoryview(data)
    meta, pos = _META_READER(buf, 4)
    try:
        schema = parse_schema(meta["avro.schema"].decode("utf-8"))
    except KeyError:
        raise AvroError("OCF header missing avro.schema") from None
    codec_name = meta.get("avro.codec", b"null").decode("utf-8")
    if codec_name not in ("null", "deflate"):
        raise AvroError(f"unsupported OCF codec {codec_name!r}")
    sync = bytes(buf[pos:pos + SYNC_SIZE])
    if len(sync) != SYNC_SIZE:
        raise AvroError("truncated OCF sync marker")
    return schema, codec_name, sync, pos + SYNC_SIZE


def decode_ocf(data: bytes) -> tuple[dict, list[Any]]:
    """Decode a whole OCF byte string → (writer schema, records).

    Sync markers are verified after every block — a mismatch means the
    file is torn/corrupt and raises rather than yielding garbage."""
    schema, codec_name, sync, pos = read_header(data)
    codec = Codec(schema)
    buf = memoryview(data)
    records: list[Any] = []
    while pos < len(buf):
        count, pos = _read_long(buf, pos)
        size, pos = _read_long(buf, pos)
        if pos + size > len(buf):
            raise AvroError("OCF block overruns file")
        block = bytes(buf[pos:pos + size])
        pos += size
        if codec_name == "deflate":
            block = zlib.decompress(block, -15)  # raw deflate per spec
        bview, bpos = memoryview(block), 0
        for _ in range(count):
            value, bpos = codec._read(bview, bpos)
            records.append(value)
        if bpos != len(block):
            raise AvroError(f"{len(block) - bpos} trailing bytes in block")
        if bytes(buf[pos:pos + SYNC_SIZE]) != sync:
            raise AvroError("OCF sync marker mismatch (corrupt block)")
        pos += SYNC_SIZE
    return schema, records


def encode_ocf(schema, records: Iterable[Any], codec: str = "null",
               sync_marker: bytes | None = None,
               block_records: int = 1000) -> bytes:
    """Encode records into OCF bytes (writer side; also the test rig the
    way fixtures/producer.go:75-146 is the reference's).

    `sync_marker` is derivable from the schema for determinism when not
    given — any 16 bytes are valid per the spec."""
    schema = parse_schema(schema)
    if codec not in ("null", "deflate"):
        raise AvroError(f"unsupported OCF codec {codec!r}")
    import hashlib
    import json as _json
    if sync_marker is None:
        sync_marker = hashlib.md5(
            _json.dumps(schema, sort_keys=True).encode()).digest()
    if len(sync_marker) != SYNC_SIZE:
        raise AvroError("sync marker must be 16 bytes")
    c = Codec(schema)
    out = bytearray(OCF_MAGIC)
    meta = {"avro.schema": _json.dumps(schema).encode("utf-8"),
            "avro.codec": codec.encode("utf-8")}
    _write_long(out, len(meta))
    for k, v in meta.items():
        kb = k.encode("utf-8")
        _write_long(out, len(kb))
        out.extend(kb)
        _write_long(out, len(v))
        out.extend(v)
    _write_long(out, 0)  # end of metadata map
    out.extend(sync_marker)

    batch: list[Any] = []

    def flush() -> None:
        if not batch:
            return
        body = bytearray()
        for r in batch:
            c._write(body, r)
        payload = bytes(body)
        if codec == "deflate":
            comp = zlib.compressobj(wbits=-15)
            payload = comp.compress(payload) + comp.flush()
        _write_long(out, len(batch))
        _write_long(out, len(payload))
        out.extend(payload)
        out.extend(sync_marker)
        batch.clear()

    for r in records:
        batch.append(r)
        if len(batch) >= block_records:
            flush()
    flush()
    return bytes(out)


def write_ocf(path: str, schema, records: Iterable[Any],
              codec: str = "null", **kw) -> None:
    """Write one OCF file (fixtures / small exports — the distributed
    sink is `df_to_ocf`)."""
    data = encode_ocf(schema, records, codec=codec, **kw)
    with open(path, "wb") as f:
        f.write(data)


def ocf_schema(path: str) -> dict:
    """Driver-side peek at ONE file's header to discover the writer
    schema (reads ~KB, not the file). Pass the result to `read_ocf` —
    the explicit-schema doctrine (files.py) with a cheap escape hatch."""
    with open(path, "rb") as f:
        head = f.read(1 << 20)
    return read_header(head)[0]


def read_ocf(spark: SparkSession, path: str, reader_schema) -> DataFrame:
    """OCF scan → one row per record, reader-schema columns at top level
    plus `_source_file` and `_decode_error`.

    Schema resolution is name-based against `reader_schema` (missing
    fields null, extra dropped) — each file may carry a different writer
    schema, same as the Kafka path's per-schema-id dispatch. A file that
    fails header/block parse contributes ONE null row carrying the error
    (side-drop channel, never a failed scan); filter
    `_decode_error IS NULL` or use `drop_malformed_ocf`."""
    reader_schema = parse_schema(reader_schema)
    reader_type = avro_to_spark_type(reader_schema)
    if not isinstance(reader_type, T.StructType):
        raise AvroError("reader schema must be a record")

    out_schema = T.StructType(
        list(reader_type.fields) + [
            T.StructField(SOURCE_COL, T.StringType(), True),
            T.StructField(ERROR_COL, T.StringType(), True),
        ])
    field_names = [f.name for f in reader_type.fields]
    conform = compile_conformer(reader_type)

    def decode_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                try:
                    _, records = decode_ocf(bytes(content))
                except Exception as ex:  # noqa: BLE001 — side-drop
                    rows.append({**{n: None for n in field_names},
                                 SOURCE_COL: fpath,
                                 ERROR_COL: f"{type(ex).__name__}: {ex}"})
                    continue
                for rec in records:
                    shaped = conform(rec) or {}
                    shaped[SOURCE_COL] = fpath
                    shaped[ERROR_COL] = None
                    rows.append(shaped)
            yield pd.DataFrame(rows, columns=list(out_schema.fieldNames()))

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro").load(path)
        .select("path", "content")
        .mapInPandas(decode_files, out_schema)
    )


def drop_malformed_ocf(df: DataFrame) -> DataFrame:
    """Keep rows that decoded cleanly; drop the side channels."""
    return (df.filter(F.col(ERROR_COL).isNull())
            .drop(ERROR_COL, SOURCE_COL))


def df_to_ocf(df: DataFrame, dest_dir: str, schema,
              codec: str = "null") -> None:
    """Distributed OCF sink: each partition writes one
    `part-{pid:05d}.avro` — the write is embarrassingly parallel, no
    shuffle, no driver materialization. Pair with a `repartition(n)`
    upstream to choose the file count/size (aim 128-512 MB each)."""
    schema = parse_schema(schema)
    if not isinstance(avro_to_spark_type(schema), T.StructType):
        raise AvroError("sink schema must be a record")
    os.makedirs(dest_dir, exist_ok=True)

    def write_partition(rows) -> None:
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        it = iter(rows)
        try:
            first = next(it)
        except StopIteration:
            return  # no empty files
        def record_iter():
            yield first.asDict(recursive=True)
            for r in it:
                yield r.asDict(recursive=True)
        tmp = os.path.join(dest_dir, f".part-{pid:05d}.avro.tmp")
        write_ocf(tmp, schema, record_iter(), codec=codec)
        os.replace(tmp, os.path.join(dest_dir, f"part-{pid:05d}.avro"))

    df.foreachPartition(write_partition)


def ocf_to_parquet(spark: SparkSession, src: str, dest: str,
                   reader_schema, partition_by: list[str] | None = None
                   ) -> None:
    """One-pass ingest: OCF → clean parquet (malformed files dropped),
    so every later query gets pushdown/pruning (files.py doctrine)."""
    df = drop_malformed_ocf(read_ocf(spark, src, reader_schema))
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(dest)
