"""Multimodal column plumbing: image/audio media as opaque binary
columns with typed metadata, processed via Arrow-batched mapInPandas.

The container has no media files or codecs, so the media are fabricated
deterministically from text (attach_media, attach_audio). Image decode
is a stub (hash-derived dims, _fake_decode_dims) and the perceptual hash
stands in for a pixel decode; audio_features runs real signal math over
the PCM bytes. The Spark side is the production shape: binary columns,
Arrow batch iteration and the partition-parallel mapInPandas path.

100 TB design:
- media bytes live in the parquet as binary columns (or as object-store
  URIs for >RowGroup blobs); metadata (format, dims, duration) are
  sibling typed columns so predicates prune WITHOUT touching bytes.
- decode runs inside mapInPandas over Arrow batches: one Python worker
  per core per executor, batch-at-a-time, no per-row pickling. Batch
  size is bounded by spark.sql.execution.arrow.maxRecordsPerBatch to cap
  worker memory at (batch × max_blob).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id bigint, media_type string, byte_len int, content_md5 string, "
    "width int, height int"
)


def attach_media(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Fabricate a deterministic binary media column from text (the
    container has no real media files): (doc_id, media, media_type,
    byte_len, content_md5)."""
    media = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        "doc_id",
        media.alias("media"),
        F.lit("image/fake").alias("media_type"),
        F.octet_length(media).cast("int").alias("byte_len"),
        F.md5(media).alias("content_md5"),
    )


def _fake_decode_dims(content_md5: str) -> tuple[int, int]:
    """STUB decode: a real implementation would parse the image header
    (PIL.Image.open(io.BytesIO(buf)).size). Deterministic fake: dims
    derived from the content hash so tests and oracles can replicate.
    """
    return (64 + int(content_md5[0], 16), 64 + int(content_md5[1], 16))


def decode_media_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: Arrow batch in → decoded metadata batch out.

    Real decode is stubbed (see _fake_decode_dims); the batch iteration,
    binary handling, and output schema are the production shape.
    """
    for pdf in batches:
        md5s = [hashlib.md5(bytes(b)).hexdigest() for b in pdf["media"]]
        dims = [_fake_decode_dims(m) for m in md5s]
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "media_type": pdf["media_type"],
            "byte_len": [len(bytes(b)) for b in pdf["media"]],
            "content_md5": md5s,
            "width": [w for w, _ in dims],
            "height": [h for _, h in dims],
        })


def decode_media(df_media: DataFrame) -> DataFrame:
    """Run the (stubbed) decoder over Arrow batches, partition-parallel.

    This is the q_media_meta surface: hash-derived fake dims,
    deterministic and oracle-replicable."""
    return df_media.mapInPandas(decode_media_batch, schema=DECODED_SCHEMA)
AUDIO_FEATURE_SCHEMA = ("doc_id bigint, n_samples int, n_frames int, "
                        "sample_sum bigint, energy bigint, "
                        "rms_mean double, zcr_mean double")


def attach_audio(df: DataFrame, text_col: str = "text",
                 sample_rate: int = 16000) -> DataFrame:
    """Fabricate a deterministic audio column: the text's UTF-8 bytes
    reinterpreted as 16-bit little-endian PCM (truncated to an even
    byte count), with sample-rate/sample-count metadata as sibling
    typed columns — predicates on duration prune without touching the
    waveform bytes."""
    raw = F.encode(F.col(text_col), "UTF-8")
    even = F.substring(
        raw, 1, (F.floor(F.octet_length(raw) / 2) * 2).cast("int"))
    return df.select(
        "doc_id",
        even.alias("audio"),
        F.lit("audio/pcm16le").alias("media_type"),
        F.lit(sample_rate).alias("sample_rate"),
        (F.floor(F.octet_length(raw) / 2)).cast("int").alias("n_samples"),
        F.md5(even).alias("content_md5"),
    )


def audio_features(df_audio: DataFrame, frame: int = 64) -> DataFrame:
    """Windowed audio features over raw PCM: per-frame RMS and
    zero-crossing rate, averaged per clip, plus integer-exact framing
    invariants (n_samples, framed sample_sum and energy = Σs², both
    exact in int64 since |s| < 2¹⁵). Unlike the image decode this is
    not a stub — int16 reinterpretation and the signal math are pure
    numpy over the binary buffer, the same mapInPandas shape a real
    fbank/MFCC stage uses (only compressed-codec decode would need
    external libs). The integer columns are cross-engine checkable
    (any SQL engine can re-derive them by two's-complement-decoding
    the PCM bytes); the float columns are exact-verified against a
    pure-numpy recomputation in tests/test_multimodal.py."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {"doc_id": [], "n_samples": [], "n_frames": [],
                   "sample_sum": [], "energy": [],
                   "rms_mean": [], "zcr_mean": []}
            for doc_id, buf in zip(pdf["doc_id"], pdf["audio"]):
                raw = bytes(buf)
                # Total over arbitrary blobs: a trailing odd byte is not
                # a sample (attach_audio pre-truncates; foreign inputs
                # may not).
                raw = raw[: len(raw) // 2 * 2]
                ints = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                n_frames = len(ints) // frame
                framed_i = ints[: n_frames * frame]
                out["doc_id"].append(doc_id)
                out["n_samples"].append(len(ints))
                out["n_frames"].append(n_frames)
                out["sample_sum"].append(int(framed_i.sum()))
                out["energy"].append(int((framed_i * framed_i).sum()))
                if n_frames == 0:
                    out["rms_mean"].append(0.0)
                    out["zcr_mean"].append(0.0)
                    continue
                frames = framed_i.astype(np.float64).reshape(n_frames, frame)
                rms = np.sqrt((frames * frames).mean(axis=1))
                zc = (np.diff(np.signbit(frames), axis=1) != 0).sum(axis=1)
                out["rms_mean"].append(round(float(rms.mean()), 6))
                out["zcr_mean"].append(round(float(zc.mean() / frame), 6))
            yield pd.DataFrame(out)

    return df_audio.mapInPandas(kernel, schema=AUDIO_FEATURE_SCHEMA)


def perceptual_hash(df_media: DataFrame, bits: int = 32,
                    id_col: str = "doc_id",
                    media_col: str = "media") -> DataFrame:
    """Block-hash style perceptual fingerprint over the binary media
    column: (id, phash bigint of `bits` bits).

    Real deployment: decode the image, downscale to a bits-cell grid,
    bit = cell luminance vs median (pHash/blockhash family — near-dup
    images differ in few bits). The container has no image libs, so
    the DECODE stands in deterministically (the fake media IS utf-8
    text, media_col = encode(text) from attach_media): the payload is
    split into `bits` chunks of width floor(n/bits), the LAST chunk
    absorbing the n mod bits remainder so every payload byte is
    hashed (payloads differing only in the tail must not collide),
    and bit j = high bit of the first md5 nibble of chunk j — the
    ssdeep/blockhash shape: identical blocks agree bit-for-bit,
    differing blocks flip a fair coin, so near-dup payloads (most
    blocks shared) land at small hamming distance and unrelated ones
    at ~bits/2. Everything downstream of decode (bit packing,
    pigeonhole hamming join via dedup.hamming_segment_pairs) is the
    production path.

    All JVM expressions (substr/md5/conditionals) — no Python, no
    shuffle; the hash is a projection over the media scan."""
    dec = F.decode(F.col(media_col), "UTF-8")
    n = F.length(dec)
    cl = F.greatest(F.floor(n / bits).cast("int"), F.lit(1))
    phash: Column = F.lit(0).cast("bigint")
    for j in range(bits):
        # last chunk: length n (clamped to end) absorbs the remainder
        width = n if j == bits - 1 else cl
        chunk = dec.substr(F.lit(1) + F.lit(j) * cl, width)
        high = F.instr(F.lit("89abcdef"),
                       F.substring(F.md5(chunk), 1, 1)) > 0
        phash = phash + F.when(high, F.lit(1 << j).cast("bigint")) \
            .otherwise(F.lit(0).cast("bigint"))
    return df_media.select(F.col(id_col), phash.alias("phash"))
