"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched mapInPandas.

Real kernels by lane: header dims decode for PNG/GIF/BMP/JPEG/WebP
lives here (parse_image_header, r12; WebP r15), as does the Exif
orientation walk; PCM 16/24-bit, IEEE-float, and G.711 audio features
are real below. There is no pixel decode or resize: images stay
opaque past the header (resize_stub marks that boundary), as do video
frames and compressed audio. Everything Spark-side is real and tested:
schema contracts, binary column handling, Arrow batch shape, and the
mapInPandas partition-parallel execution path.

100 TB design:
- media bytes live in the parquet as binary columns (or as object-store
  URIs for >RowGroup blobs); metadata (format, dims, duration) are
  sibling typed columns so predicates prune WITHOUT touching bytes.
- decode runs inside mapInPandas over Arrow batches: one Python worker
  per core per executor, batch-at-a-time, no per-row pickling. Batch
  size is bounded by spark.sql.execution.arrow.maxRecordsPerBatch to cap
  worker memory at (batch × max_blob).
- derived features (thumbnails, fbank frames) come back as binary/array
  columns in the SAME batch iterator — one pass, no join.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "doc_id bigint, media binary, media_type string, byte_len int, "
    "content_md5 string"
)

DECODED_SCHEMA = (
    "doc_id bigint, media_type string, byte_len int, content_md5 string, "
    "width int, height int"
)


def attach_media(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Fabricate a deterministic binary media column from text (the
    container has no real media files). Schema matches MEDIA_SCHEMA."""
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

    This is the FROZEN q_media_meta surface (hash-derived fake dims —
    deterministic, oracle-replicable). The REAL header decode for
    actual image bytes is decode_image_dims below (pure-stdlib PNG /
    GIF / BMP / JPEG header parsing, corrupt side-drop)."""
    return df_media.mapInPandas(decode_media_batch, schema=DECODED_SCHEMA)


# --- real image-header decode (r12) ----------------------------------------
#
# The header fields a curation pipeline filters on — format, width,
# height — are parseable from the first bytes with the stdlib alone
# for all five formats. That makes dims-based pruning (min-resolution
# gates, aspect filters, thumbnail routing) REAL, not faked, while
# keeping the blob opaque past the header: it reads a few hundred
# bytes, where a pixel decode would touch every pixel.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# JPEG start-of-frame markers that carry dimensions: C0-CF minus the
# non-SOF C4 (DHT), C8 (JPG extension), CC (DAC).
_JPEG_SOF = {m for m in range(0xC0, 0xD0)} - {0xC4, 0xC8, 0xCC}
# Standalone JPEG markers with NO length word: TEM + RST0-7.
_JPEG_BARE = {0x01} | set(range(0xD0, 0xD8))


def _tiff_ifd0_tags(t: bytes,
                    wanted: frozenset[int]) -> dict[int, list[int]] | None:
    """Resolve the wanted IFD0 tags of a TIFF structure to integer
    lists (TIFF 6.0 §2: II/MM byte order, magic 42, 12-byte entries;
    SHORT and LONG values, inline or offset-stored). None for anything
    malformed. Shared by the Exif orientation walk and TIFF header
    dims."""
    try:
        if t[:2] == b"II":
            e = "<"
        elif t[:2] == b"MM":
            e = ">"
        else:
            return None
        if struct.unpack(e + "H", t[2:4])[0] != 42:
            return None
        (ifd,) = struct.unpack(e + "I", t[4:8])
        (n,) = struct.unpack(e + "H", t[ifd:ifd + 2])
        out: dict[int, list[int]] = {}
        for i in range(n):
            ent = t[ifd + 2 + 12 * i:ifd + 14 + 12 * i]
            if len(ent) < 12:
                # truncated ENTRY LIST: keep what resolved so far —
                # scraped corpora are full of cut-short Exif blocks,
                # and a tag read before the cut is still good (callers
                # validate required tags themselves)
                break
            tag, typ, cnt = struct.unpack(e + "HHI", ent[:8])
            if tag not in wanted or typ not in (3, 4):
                continue
            width, fmt = (2, "H") if typ == 3 else (4, "I")
            total = width * cnt
            if cnt == 0 or cnt > 1 << 20:        # bounds the resolve
                return None
            if total <= 4:
                raw = ent[8:8 + total]
            else:
                (off,) = struct.unpack(e + "I", ent[8:12])
                raw = t[off:off + total]
            if len(raw) < total:
                return None
            out[tag] = list(struct.unpack(e + str(cnt) + fmt, raw))
        return out
    except (struct.error, IndexError):
        return None


def _tiff_orientation(t: bytes) -> int | None:
    """Orientation (tag 0x0112) from a TIFF structure (Exif APP1
    payload after the 'Exif\\0\\0' signature). Returns None for
    anything malformed — orientation is advisory metadata, never a
    reason to side-drop an otherwise decodable image."""
    tags = _tiff_ifd0_tags(t, frozenset((0x0112,)))
    if not tags or 0x0112 not in tags:
        return None
    val = tags[0x0112][0]
    return val if 1 <= val <= 8 else None


def parse_exif_orientation(buf: bytes) -> int | None:
    """Exif orientation (1-8) from a JPEG's APP1 segment, or None when
    absent/malformed (public Exif 2.x + TIFF 6.0 layouts). Phone
    cameras routinely store the sensor raster plus this tag instead of
    rotating pixels — a curation pipeline that ignores it computes
    wrong aspect gates and emits sideways thumbnails for a large slice
    of any real photo corpus. WebP carries the same TIFF structure in
    the container's EXIF chunk (VP8X layout), with or without the
    'Exif\\0\\0' prefix — both are seen in the wild and libwebp-written
    files omit it."""
    if buf[:4] == b"RIFF" and buf[8:12] == b"WEBP":
        for fourcc, body, size in _walk_riff_webp(buf):
            if fourcc == b"EXIF":
                t = buf[body:body + size]
                if t[:6] == b"Exif\x00\x00":
                    t = t[6:]
                return _tiff_orientation(t)
        return None
    if buf[:4] in (b"II*\x00", b"MM\x00*"):
        # a bare TIFF file IS the Exif carrier structure: Orientation
        # lives in its own IFD0
        return _tiff_orientation(buf)
    if buf[:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            return None
        while pos + 1 < len(buf) and buf[pos + 1] == 0xFF:
            pos += 1                         # fill bytes (B.1.1.2)
        # the skip can advance past the loop-top guard: re-check
        # before the marker byte AND the two length bytes below
        if pos + 4 > len(buf):
            return None
        marker = buf[pos + 1]
        if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker in (0xDA, 0xD9):
            return None                      # scan reached: no Exif
        (seg_len,) = struct.unpack(">H", buf[pos + 2:pos + 4])
        if seg_len < 2 or pos + 2 + seg_len > len(buf):
            return None
        if marker == 0xE1 and buf[pos + 4:pos + 10] == b"Exif\x00\x00":
            return _tiff_orientation(buf[pos + 10:pos + 2 + seg_len])
        pos += 2 + seg_len
    return None


def _walk_chunks(buf: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_size) over word-aligned
    RIFF-style chunks in buf[start:end], stopping at the first
    structural inconsistency — truncated chunks simply end the walk,
    callers decide whether what they saw was enough. Used by the
    WebP container walk below."""
    pos = start
    while pos + 8 <= end:
        fourcc = buf[pos:pos + 4]
        (size,) = struct.unpack("<I", buf[pos + 4:pos + 8])
        body = pos + 8
        if body + size > end:
            return
        yield fourcc, body, size
        pos = body + size + (size & 1)       # chunks are word-aligned


def _walk_riff_webp(buf: bytes):
    """Chunks of a RIFF/WEBP container (the RIFF size field caps the
    walk; bytes after it are tail noise, not chunks)."""
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WEBP":
        return
    (riff_size,) = struct.unpack("<I", buf[4:8])
    yield from _walk_chunks(buf, 12, min(len(buf), 8 + riff_size))


def _webp_dims(buf: bytes) -> tuple[int, int] | None:
    """(width, height) from a WebP header (RFC 9649 §2): the first
    chunk is VP8 (lossy key frame: 3-byte frame tag, 9D 01 2A start
    code, 14-bit dims), VP8L (lossless: 0x2F signature then 14-bit
    dims-minus-one), or VP8X (extended: 24-bit canvas dims-minus-one).
    None for anything malformed — same contract as the other formats'
    header parsers."""
    for fourcc, body, size in _walk_riff_webp(buf):
        chunk = buf[body:body + size]
        if fourcc == b"VP8 ":
            # key frame: tag bit 0 must be 0, then the start code
            if size < 10 or chunk[0] & 1 or chunk[3:6] != b"\x9d\x01\x2a":
                return None
            (w16,) = struct.unpack("<H", chunk[6:8])
            (h16,) = struct.unpack("<H", chunk[8:10])
            w, h = w16 & 0x3FFF, h16 & 0x3FFF
        elif fourcc == b"VP8L":
            if size < 5 or chunk[0] != 0x2F:
                return None
            (bits,) = struct.unpack("<I", chunk[1:5])
            if (bits >> 29) & 0x7:           # version must be 0
                return None
            w = (bits & 0x3FFF) + 1
            h = ((bits >> 14) & 0x3FFF) + 1
        elif fourcc == b"VP8X":
            if size < 10:
                return None
            w = int.from_bytes(chunk[4:7], "little") + 1
            h = int.from_bytes(chunk[7:10], "little") + 1
        else:
            return None                      # first chunk must be VP8*
        return (w, h) if w > 0 and h > 0 else None
    return None


def parse_image_header(buf: bytes) -> tuple[str, int, int] | None:
    """Parse (format, width, height) from raw image bytes — PNG IHDR,
    GIF logical screen descriptor, BMP DIB header (INFO and CORE
    variants), a WebP VP8/VP8L/VP8X chunk header, a TIFF IFD0
    (ImageWidth/ImageLength tags), or a JPEG SOF
    segment scan. Returns None for anything not recognizably
    well-formed (truncated header, zero dims, JPEG with no SOF before
    SOS/EOI): callers side-drop those rows with a reason instead of
    propagating garbage dims.

    Pure stdlib + O(header) bytes: PNG/GIF/BMP/WebP read fixed
    offsets; the JPEG scan walks segment lengths (never entropy-coded
    data) so it touches a few hundred bytes even on multi-MB files."""
    if len(buf) >= 24 and buf[:8] == _PNG_SIG and buf[12:16] == b"IHDR":
        w, h = struct.unpack(">II", buf[16:24])
        return ("png", w, h) if 0 < w < 1 << 31 and 0 < h < 1 << 31 \
            else None
    if len(buf) >= 10 and buf[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", buf[6:10])
        return ("gif", w, h) if w > 0 and h > 0 else None
    if len(buf) >= 26 and buf[:2] == b"BM":
        (dib_size,) = struct.unpack("<I", buf[14:18])
        if dib_size >= 40:  # BITMAPINFOHEADER and successors
            w, h = struct.unpack("<ii", buf[18:26])
            h = abs(h)      # negative height = top-down row order
            return ("bmp", w, h) if w > 0 and h > 0 else None
        if dib_size == 12 and len(buf) >= 22:  # BITMAPCOREHEADER
            w, h = struct.unpack("<HH", buf[18:22])
            return ("bmp", w, h) if w > 0 and h > 0 else None
        return None
    if len(buf) >= 12 and buf[:4] == b"RIFF" and buf[8:12] == b"WEBP":
        dims = _webp_dims(buf)
        return ("webp", dims[0], dims[1]) if dims else None
    if len(buf) >= 8 and buf[:4] in (b"II*\x00", b"MM\x00*"):
        tags = _tiff_ifd0_tags(buf, frozenset((256, 257)))
        if tags and 256 in tags and 257 in tags:
            w, h = tags[256][0], tags[257][0]
            # LONG values are unbounded: cap like the PNG branch so a
            # crafted 2^31 width can't blow the Int32 dims kernel
            return ("tiff", w, h) \
                if 0 < w < 1 << 31 and 0 < h < 1 << 31 else None
        return None
    if len(buf) >= 4 and buf[:2] == b"\xff\xd8":  # SOI
        pos = 2
        while pos + 1 < len(buf):
            if buf[pos] != 0xFF:
                return None        # lost sync: not a marker boundary
            while pos < len(buf) and buf[pos] == 0xFF:
                pos += 1           # fill bytes before the marker code
            if pos >= len(buf):
                return None
            marker = buf[pos]
            pos += 1
            if marker in _JPEG_BARE:
                continue
            if marker == 0xD9:     # EOI before any SOF
                return None
            if pos + 2 > len(buf):
                return None
            (seg_len,) = struct.unpack(">H", buf[pos:pos + 2])
            if seg_len < 2:
                return None
            if marker in _JPEG_SOF:
                # A real SOF payload is ≥ 8 bytes: 2 length + 1
                # precision + 2 height + 2 width + 1 component count.
                # A shorter declared length means the dim bytes at
                # pos+3..pos+7 belong to the NEXT segment — reject
                # rather than return plausible-but-wrong dims.
                if seg_len < 8 or pos + 7 > len(buf):
                    return None
                h, w = struct.unpack(">HH", buf[pos + 3:pos + 7])
                return ("jpeg", w, h) if w > 0 and h > 0 else None
            if marker == 0xDA:     # SOS: entropy data follows, no SOF seen
                return None
            pos += seg_len
        return None
    return None


DIMS_SCHEMA = ("doc_id bigint, media_type string, byte_len int, "
               "format string, width int, height int, "
               "decode_error string")


def decode_image_dims(df_media: DataFrame,
                      media_col: str = "media") -> DataFrame:
    """Real header decode over Arrow batches: (format, width, height)
    per blob, with the malformed-record side-drop idiom the injector
    pipeline uses — unparseable headers yield null dims + a
    decode_error reason, never a task failure (one corrupt blob must
    not kill a 100 TB scan). Same mapInPandas topology as decode_media:
    narrow, shuffle-free, partition-parallel."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, ws, hs, errs, lens = [], [], [], [], []
            for b in pdf[media_col]:
                # one bytes() materialization per blob — header parsing
                # only reads the first bytes, but the copy is the cost
                buf = b"" if b is None else bytes(b)
                lens.append(len(buf))
                parsed = parse_image_header(buf)
                if parsed is None:
                    fmts.append(None)
                    ws.append(None)
                    hs.append(None)
                    errs.append("unrecognized_or_corrupt_header")
                else:
                    fmt, w, h = parsed
                    # parse_exif_orientation returns None for formats
                    # without an Exif carrier (its magic check IS the
                    # format gate — no list to keep in sync here)
                    if parse_exif_orientation(buf) in (5, 6, 7, 8):
                        # DISPLAY dims: orientations 5-8 transpose
                        # the raster, and an aspect gate fed raster
                        # dims passes sideways photos
                        w, h = h, w
                    fmts.append(fmt)
                    ws.append(w)
                    hs.append(h)
                    errs.append(None)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "byte_len": lens,
                "format": fmts,
                "width": pd.array(ws, dtype="Int32"),
                "height": pd.array(hs, dtype="Int32"),
                "decode_error": errs,
            })

    return df_media.mapInPandas(kernel, schema=DIMS_SCHEMA)


FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame binary"

FEATURE_SCHEMA = "doc_id bigint, features array<double>"


def sample_frames(df_media: DataFrame, frame_bytes: int = 64,
                  stride: int = 4) -> DataFrame:
    """Frame sampling: treat the media blob as concatenated fixed-size
    frames and emit every `stride`-th one — a 1→N Arrow kernel (one input
    row fans out to many frame rows inside the same batch iterator, no
    explode/join). A real video path swaps the byte-chunking for
    container parsing (pyav/ffmpeg) — the fan-out shape, schema, and
    partition-parallelism are exactly this.

    100 TB note: frames inherit the parent's partition, so per-frame
    models (captioning, OCR) run data-local with no shuffle; downstream
    repartition only if frame skew (long videos) unbalances tasks.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, media in zip(pdf["doc_id"], pdf["media"]):
                buf = bytes(media)
                chunks = [buf[i:i + frame_bytes]
                          for i in range(0, len(buf), frame_bytes)]
                for j, chunk in enumerate(chunks[::stride]):
                    ids.append(doc_id)
                    idxs.append(j * stride)
                    frames.append(chunk)
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame": frames})

    return df_media.mapInPandas(kernel, schema=FRAME_SCHEMA)


def extract_features(df_media: DataFrame, n_bins: int = 16) -> DataFrame:
    """Feature extraction: normalized byte-value histogram per blob — a
    real, deterministic stand-in for fbank/embedding extraction with the
    production shape (binary in → fixed-dim float vector out, one Arrow
    batch at a time, numpy-vectorized inside the kernel)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for media in pdf["media"]:
                arr = np.frombuffer(bytes(media), dtype=np.uint8)
                if arr.size == 0:
                    feats.append([0.0] * n_bins)
                    continue
                hist = np.bincount(arr % n_bins, minlength=n_bins)
                feats.append((hist / arr.size).tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return df_media.mapInPandas(kernel, schema=FEATURE_SCHEMA)


def resize_stub(df_media: DataFrame, width: int, height: int) -> DataFrame:
    """Plumbing-only resize marking the codec boundary: no pixel
    decode or resize exists in this package, and a real one needs a
    native codec (PIL/opencv/ffmpeg, not available here), so this
    kernel raises from the executors, by design. Header-level image
    facts (format, dims, Exif orientation) are real:
    parse_image_header / parse_exif_orientation."""

    def _kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        raise NotImplementedError(
            "no pixel resize exists in this package; it requires a "
            "native codec such as PIL/opencv (not available here)")
        yield  # pragma: no cover

    return df_media.mapInPandas(_kernel, schema=MEDIA_SCHEMA)


AUDIO_SCHEMA = ("doc_id bigint, audio binary, media_type string, "
                "sample_rate int, n_samples int, content_md5 string")

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


class AudioDecodeError(ValueError):
    """WAV container errors — the Spark kernel converts these into the
    side-drop reason column."""


_G711_TABLES: dict[int, "object"] = {}


def _g711_table(audio_fmt: int) -> "object":
    """256-entry int16 expansion table for G.711 (ITU-T G.711, the
    public telephony companding standard; format 6 = A-law, 7 = µ-law
    in the RIFF registry). Derived directly from the standard's
    segment/mantissa layout — the same arithmetic as the public-domain
    reference expander (Sun g711.c): µ-law is bias-132 with
    complemented codes; A-law XORs 0x55 with segment 0/1 special-cased
    and, unlike µ-law, the (post-XOR) sign bit SET meaning positive."""
    import numpy as np

    if audio_fmt not in _G711_TABLES:
        ulaw = np.empty(256, np.int16)
        alaw = np.empty(256, np.int16)
        for c in range(256):
            u = ~c & 0xFF
            t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
            ulaw[c] = (0x84 - t) if (u & 0x80) else (t - 0x84)
            a = c ^ 0x55
            t = (a & 0x0F) << 4
            seg = (a & 0x70) >> 4
            if seg == 0:
                t += 8
            elif seg == 1:
                t += 0x108
            else:
                t = (t + 0x108) << (seg - 1)
            alaw[c] = t if (a & 0x80) else -t
        _G711_TABLES[6] = alaw
        _G711_TABLES[7] = ulaw
    return _G711_TABLES[audio_fmt]


def parse_wav(buf: bytes) -> tuple[int, int, "object"]:
    """RIFF/WAVE container → (sample_rate, n_channels,
    (n_frames, n_channels) int16 samples). Public container format,
    pure stdlib+numpy: walks word-aligned RIFF chunks, requires a
    'fmt ' chunk before 'data', ignores other chunks (LIST/fact/cue).
    Supported encodings: integer PCM (format 1) at 16-bit, plus 24-bit
    reduced to the int16 high bytes (the standard 16-bit view, same
    convention as the PNG reader's 16-bit reduction); IEEE float
    (format 3, 32- and 64-bit) clipped to [-1, 1] and scaled to int16
    (round-half-even, NaN → 0 — deterministic across platforms); and
    the G.711 telephony pair — A-law (6) and µ-law (7), 8-bit codes
    expanded to int16 per the ITU tables. ADPCM/extensible formats and
    other bit widths raise AudioDecodeError with the reason —
    compressed AUDIO codecs (mp3/aac) stay out of scope entirely."""
    import numpy as np

    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise AudioDecodeError("wav: bad RIFF/WAVE header")
    pos = 12
    fmt = None
    while pos + 8 <= len(buf):
        cid = buf[pos:pos + 4]
        (size,) = struct.unpack("<I", buf[pos + 4:pos + 8])
        body_at = pos + 8
        if body_at + size > len(buf):
            raise AudioDecodeError(f"wav: truncated {cid!r} chunk")
        if cid == b"fmt ":
            if size < 16:
                raise AudioDecodeError("wav: fmt chunk too short")
            audio_fmt, ch, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", buf[body_at:body_at + 16])
            if audio_fmt not in (1, 3, 6, 7):
                raise AudioDecodeError(
                    f"wav: format {audio_fmt} unsupported "
                    "(integer PCM, IEEE float, G.711 A-law/µ-law only)")
            if audio_fmt == 1 and bits not in (16, 24):
                raise AudioDecodeError(
                    f"wav: {bits}-bit unsupported (16/24-bit PCM only)")
            if audio_fmt == 3 and bits not in (32, 64):
                raise AudioDecodeError(
                    f"wav: {bits}-bit float unsupported (32/64 only)")
            if audio_fmt in (6, 7) and bits != 8:
                raise AudioDecodeError(
                    f"wav: G.711 requires 8-bit codes, got {bits}-bit")
            if ch < 1 or rate < 1:
                raise AudioDecodeError("wav: bad fmt fields")
            fmt = (rate, ch, audio_fmt, bits)
        elif cid == b"data":
            if fmt is None:
                raise AudioDecodeError("wav: data before fmt")
            rate, ch, audio_fmt, bits = fmt
            if audio_fmt == 1 and bits == 16:
                n = size // (2 * ch)
                data = np.frombuffer(buf, "<i2", count=n * ch,
                                     offset=body_at).reshape(n, ch)
            elif audio_fmt == 1:                 # 24-bit little-endian
                n = size // (3 * ch)
                tri = np.frombuffer(buf, np.uint8, count=n * ch * 3,
                                    offset=body_at).reshape(-1, 3)
                # int16 high-byte view: bytes 1-2 of each LE triple
                data = np.ascontiguousarray(tri[:, 1:3]) \
                    .view("<i2").reshape(n, ch)
            elif audio_fmt == 3:                 # IEEE float
                width = bits // 8
                n = size // (width * ch)
                f = np.frombuffer(buf, f"<f{width}", count=n * ch,
                                  offset=body_at).astype(np.float64)
                f = np.nan_to_num(f, nan=0.0, posinf=1.0, neginf=-1.0)
                data = np.rint(np.clip(f, -1.0, 1.0) * 32767.0) \
                    .astype(np.int16).reshape(n, ch)
            else:
                n = size // ch
                codes = np.frombuffer(buf, np.uint8, count=n * ch,
                                      offset=body_at)
                data = _g711_table(audio_fmt)[codes].reshape(n, ch)
            return rate, ch, data
        pos = body_at + size + (size & 1)    # chunks are word-aligned
    raise AudioDecodeError("wav: no data chunk")


def _f80(b: bytes) -> float:
    """80-bit IEEE 754 extended float (the AIFF sample-rate field,
    'EA IFF 85' / Apple Numerics): 1 sign bit, 15-bit exponent biased
    16383, 64-bit mantissa with an EXPLICIT integer bit."""
    (se,) = struct.unpack(">H", b[:2])
    (mant,) = struct.unpack(">Q", b[2:10])
    sign = -1.0 if se & 0x8000 else 1.0
    exp = se & 0x7FFF
    if exp == 0 and mant == 0:
        return 0.0
    return sign * mant * 2.0 ** (exp - 16383 - 63)


def parse_aiff(buf: bytes) -> tuple[int, int, "object"]:
    """AIFF (big-endian PCM16, the classic 'EA IFF 85' container) →
    (sample_rate, n_channels, (n_frames, n_channels) int16 samples,
    little-endian-normalized). Walks word-aligned IFF chunks: COMM
    (channels, frame count, bit width, 80-bit extended sample rate)
    must precede SSND (offset/blockSize prologue then the samples).
    AIFC/compressed variants and widths other than 16-bit raise
    AudioDecodeError with the reason."""
    import numpy as np

    if len(buf) < 12 or buf[:4] != b"FORM":
        raise AudioDecodeError("aiff: bad FORM header")
    if buf[8:12] != b"AIFF":
        raise AudioDecodeError(
            "aiff: only plain AIFF supported (AIFC/compressed is out "
            "of scope)")
    pos = 12
    comm = None
    while pos + 8 <= len(buf):
        cid = buf[pos:pos + 4]
        (size,) = struct.unpack(">I", buf[pos + 4:pos + 8])
        body = pos + 8
        if body + size > len(buf):
            raise AudioDecodeError(f"aiff: truncated {cid!r} chunk")
        if cid == b"COMM":
            if size < 18:
                raise AudioDecodeError("aiff: COMM chunk too short")
            ch, nframes, bits = struct.unpack(
                ">hIh", buf[body:body + 8])
            rate = _f80(buf[body + 8:body + 18])
            if bits != 16:
                raise AudioDecodeError(
                    f"aiff: {bits}-bit unsupported (16-bit PCM only)")
            if ch < 1 or not 1 <= rate < 1 << 31:
                raise AudioDecodeError("aiff: bad COMM fields")
            comm = (int(round(rate)), ch, nframes)
        elif cid == b"SSND":
            if comm is None:
                raise AudioDecodeError("aiff: SSND before COMM")
            if size < 8:
                raise AudioDecodeError("aiff: SSND chunk too short")
            off, _blk = struct.unpack(">II", buf[body:body + 8])
            rate, ch, nframes = comm
            data_at = body + 8 + off
            # bound against the SSND chunk's own extent, not the file:
            # COMM may over-declare nframes while later chunks follow,
            # and those bytes must never be read as samples (r14 ADVICE)
            if data_at + nframes * ch * 2 > body + size:
                raise AudioDecodeError("aiff: truncated sample data")
            data = np.frombuffer(buf, ">i2", count=nframes * ch,
                                 offset=data_at).astype("<i2") \
                .reshape(nframes, ch)
            return rate, ch, data
        pos = body + size + (size & 1)    # IFF chunks are word-aligned
    raise AudioDecodeError("aiff: no SSND chunk")


def parse_audio_container(buf: bytes) -> tuple[int, int, "object"]:
    """Magic dispatch for the audio lane: RIFF/WAVE (PCM 16/24-bit,
    IEEE float, G.711) or FORM/AIFF (big-endian PCM16) → the same
    (rate, channels, int16 samples) contract."""
    if buf[:4] == b"FORM":
        return parse_aiff(buf)
    return parse_wav(buf)


WAV_SCHEMA = ("doc_id bigint, audio binary, media_type string, "
              "sample_rate int, n_channels int, n_samples int, "
              "content_md5 string, decode_error string")


def decode_wav(df_media: DataFrame, media_col: str = "media") -> DataFrame:
    """Audio container decode over Arrow batches — RIFF/WAVE (PCM
    16/24-bit, IEEE float 32/64, G.711) and FORM/AIFF (big-endian
    PCM16) by magic dispatch: emits
    the mono PCM16 lane audio_features consumes (multi-channel mixes
    down by integer mean — deterministic, no float) plus rate/channel
    metadata; undecodable rows side-drop with a reason. Shuffle-free
    row-local projection."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "audio", "media_type",
                                    "sample_rate", "n_channels",
                                    "n_samples", "content_md5",
                                    "decode_error")}
            for doc_id, media in zip(pdf["doc_id"], pdf[media_col]):
                rows["doc_id"].append(doc_id)
                try:
                    rate, ch, data = parse_audio_container(bytes(media))
                except Exception as ex:  # noqa: BLE001 — side-drop idiom
                    reason = (str(ex) if isinstance(ex, AudioDecodeError)
                              else f"decode failed: {ex}")
                    for k in ("audio", "media_type", "sample_rate",
                              "n_channels", "n_samples", "content_md5"):
                        rows[k].append(None)
                    rows["decode_error"].append(reason)
                    continue
                mono = (data.astype(np.int32).sum(axis=1) // ch) \
                    .astype("<i2") if ch > 1 else data[:, 0]
                pcm = mono.tobytes()
                rows["audio"].append(pcm)
                rows["media_type"].append("audio/pcm16le")
                rows["sample_rate"].append(rate)
                rows["n_channels"].append(ch)
                rows["n_samples"].append(len(mono))
                rows["content_md5"].append(hashlib.md5(pcm).hexdigest())
                rows["decode_error"].append(None)
            yield pd.DataFrame(rows)

    return df_media.mapInPandas(kernel, schema=WAV_SCHEMA)


def audio_features(df_audio: DataFrame, frame: int = 64) -> DataFrame:
    """Windowed audio features over raw PCM: per-frame RMS and
    zero-crossing rate, averaged per clip, plus integer-exact framing
    invariants (n_samples, framed sample_sum and energy = Σs², both
    exact in int64 since |s| < 2¹⁵). UNLIKE the image kernels this is
    NOT a stub — int16 reinterpretation and the signal math are pure
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
