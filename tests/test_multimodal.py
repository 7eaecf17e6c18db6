"""Multimodal kernels: frame sampling (1→N Arrow fan-out), feature
extraction (binary → fixed-dim vector), stub boundary behavior, and the
streaming metrics listener. Expectations are hand-computed on tiny
deterministic inputs."""

from __future__ import annotations

import pytest

from kafka_elasticsearch_injector_spark.operators import multimodal as M


def _media_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, media binary, media_type string, "
              "byte_len int, content_md5 string")


def test_sample_frames_fan_out(spark):
    blob = bytes(range(20))  # 20 bytes → frames of 8: [0:8],[8:16],[16:20]
    df = _media_df(spark, [(1, blob, "video/fake", 20, "x")])
    out = M.sample_frames(df, frame_bytes=8, stride=2).collect()
    got = {(r.doc_id, r.frame_idx, bytes(r.frame)) for r in out}
    # stride 2 keeps chunk 0 and chunk 2
    assert got == {(1, 0, bytes(range(8))), (1, 2, bytes(range(16, 20)))}


def test_sample_frames_empty_blob(spark):
    df = _media_df(spark, [(1, b"", "video/fake", 0, "x")])
    assert M.sample_frames(df, frame_bytes=8).count() == 0


def test_extract_features_histogram(spark):
    blob = bytes([0, 0, 1, 17])  # %16 → bins {0: 2, 1: 2}
    df = _media_df(spark, [(1, blob, "audio/fake", 4, "x"),
                           (2, b"", "audio/fake", 0, "y")])
    rows = {r.doc_id: r.features for r in M.extract_features(df).collect()}
    assert rows[1][0] == 0.5 and rows[1][1] == 0.5 and sum(rows[1]) == 1.0
    assert rows[2] == [0.0] * 16


def test_resize_stub_raises_from_executors(spark):
    df = _media_df(spark, [(1, b"xx", "image/fake", 2, "x")])
    with pytest.raises(Exception, match="NotImplementedError|not available"):
        M.resize_stub(df, 32, 32).collect()


def test_media_pipeline_end_to_end(spark, sf_dir):
    """attach → decode over the real documents table: md5-derived dims
    land in [64, 79] and byte_len matches the text length."""
    from kafka_elasticsearch_injector_spark.io import table

    docs = table(spark, sf_dir, "documents").limit(50)
    out = M.decode_media(M.attach_media(docs))
    rows = out.collect()
    assert len(rows) == 50
    assert all(64 <= r.width <= 79 and 64 <= r.height <= 79 for r in rows)


def test_metrics_listener_collects_progress(spark, tmp_path):
    import json
    import os

    from kafka_elasticsearch_injector_spark.streaming.listener import (
        InjectorMetricsListener,
    )

    listener = InjectorMetricsListener()
    spark.streams.addListener(listener)
    try:
        src_dir = str(tmp_path / "src")
        os.makedirs(src_dir)
        spark.createDataFrame(
            [(1, "a")], "id long, v string").write.parquet(
            os.path.join(src_dir, "f.parquet"))
        q = (
            spark.readStream.schema("id long, v string")
            .parquet(os.path.join(src_dir, "*.parquet"))
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        # listener events are delivered asynchronously
        import time
        deadline = time.time() + 20
        while time.time() < deadline and listener.total_rows < 1:
            time.sleep(0.2)
        assert listener.total_rows >= 1
        assert listener.batches >= 1
        assert json.dumps(listener.last_sources)  # serializable shape
    finally:
        spark.streams.removeListener(listener)


def test_audio_attach_and_features(spark, sf_dir):
    import numpy as np

    from kafka_elasticsearch_injector_spark.io import table
    from kafka_elasticsearch_injector_spark.operators.multimodal import (
        attach_audio, audio_features,
    )

    docs = table(spark, sf_dir, "documents").limit(20)
    audio = attach_audio(docs)
    rows = audio.collect()
    assert all(len(bytes(r.audio)) == r.n_samples * 2 for r in rows)
    assert all(r.media_type == "audio/pcm16le" for r in rows)

    feats = {r.doc_id: r for r in audio_features(audio, frame=64).collect()}
    # recompute one clip in pure python/numpy — kernel must agree exactly
    ref = rows[0]
    pcm = np.frombuffer(bytes(ref.audio), dtype="<i2").astype(np.float64)
    n_frames = len(pcm) // 64
    got = feats[ref.doc_id]
    assert got.n_frames == n_frames
    assert got.n_samples == len(pcm)
    framed = pcm[: n_frames * 64].astype(np.int64)
    assert got.sample_sum == int(framed.sum())
    assert got.energy == int((framed * framed).sum())
    if n_frames:
        frames = pcm[: n_frames * 64].reshape(n_frames, 64)
        rms = float(np.sqrt((frames * frames).mean(axis=1)).mean())
        zcr = float((np.diff(np.signbit(frames), axis=1) != 0)
                    .sum(axis=1).mean() / 64)
        assert got.rms_mean == round(rms, 6)
        assert got.zcr_mean == round(zcr, 6)


def test_audio_features_signed_samples_property(spark):
    # The document corpus is pure ASCII, so every fabricated PCM sample
    # is non-negative and the sign/zero-crossing branch never fires
    # there. Exercise it with synthetic SIGNED waveforms: random bytes
    # (high bytes >= 0x80 → negative int16 samples) verified cell-by-
    # cell against a pure-numpy recomputation, including the oracle's
    # two's-complement decode formula.
    import random

    import numpy as np

    rng = random.Random(20260814)
    rows = []
    for doc_id in range(8):
        n = rng.choice([0, 1, 63, 64, 65, 128, 401, 1024])
        rows.append((doc_id, bytes(rng.randrange(256) for _ in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, audio binary")
    got = {r.doc_id: r for r in M.audio_features(df, frame=64).collect()}

    for doc_id, buf in rows:
        buf = buf[: len(buf) // 2 * 2]
        pcm = np.frombuffer(buf, dtype="<i2").astype(np.int64)
        # oracle decode formula parity: lo + 256*hi - 65536*(hi>=128)
        lo = np.frombuffer(buf, dtype=np.uint8)[0::2].astype(np.int64)
        hi = np.frombuffer(buf, dtype=np.uint8)[1::2].astype(np.int64)
        assert np.array_equal(pcm, lo + 256 * hi - 65536 * (hi >= 128))

        n_frames = len(pcm) // 64
        framed = pcm[: n_frames * 64]
        r = got[doc_id]
        assert r.n_samples == len(pcm)
        assert r.n_frames == n_frames
        assert r.sample_sum == int(framed.sum())
        assert r.energy == int((framed * framed).sum())
        if n_frames:
            assert any(framed < 0), "synthetic PCM must exercise signs"
            frames = framed.astype(np.float64).reshape(n_frames, 64)
            rms = float(np.sqrt((frames * frames).mean(axis=1)).mean())
            zcr = float((np.diff(np.signbit(frames), axis=1) != 0)
                        .sum(axis=1).mean() / 64)
            assert r.rms_mean == round(rms, 6)
            assert r.zcr_mean == round(zcr, 6)
            assert r.zcr_mean > 0, "signed noise must cross zero"
        else:
            assert (r.rms_mean, r.zcr_mean) == (0.0, 0.0)


# --- real image-header decode (r12): hand-authored byte fixtures -----------

import struct


def _png(w, h):
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + b"junk")


def _gif(w, h, ver=b"GIF89a"):
    return ver + struct.pack("<HH", w, h) + b"\xf7\x00\x00" + b"junk"


def _bmp_info(w, h):
    return (b"BM" + struct.pack("<IHHI", 0, 0, 0, 54)
            + struct.pack("<IiiHH", 40, w, h, 1, 24) + b"junk")


def _bmp_core(w, h):
    return (b"BM" + struct.pack("<IHHI", 0, 0, 0, 26)
            + struct.pack("<IHHHH", 12, w, h, 1, 24) + b"junk")


def _jpeg(w, h, sof=0xC0, pre_segments=()):
    out = b"\xff\xd8"                                 # SOI
    for marker, payload in pre_segments:
        out += bytes([0xFF, marker]) + struct.pack(
            ">H", len(payload) + 2) + payload
    out += bytes([0xFF, sof]) + struct.pack(">H", 8 + 3 * 1)
    out += b"\x08" + struct.pack(">HH", h, w) + b"\x01\x11\x00"
    return out + b"\xff\xda\x00\x02" + b"entropy..."  # SOS + data


def _webp(chunks):
    """RIFF/WEBP container from [(fourcc, payload)], word-aligned."""
    body = b"WEBP"
    for cc, pl in chunks:
        body += cc + struct.pack("<I", len(pl)) + pl
        if len(pl) & 1:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _webp_vp8(w, h):
    """Lossy key-frame header: frame tag (keyframe, show bit), the
    9D 01 2A start code, 14-bit dims (RFC 6386 §9.1)."""
    payload = (b"\x10\x00\x00" + b"\x9d\x01\x2a"
               + struct.pack("<HH", w, h) + b"partitions...")
    return _webp([(b"VP8 ", payload)])


def _webp_vp8l_hdr(w, h, alpha=0, version=0, tail=b"\x00\x00"):
    bits = (w - 1) | ((h - 1) << 14) | (alpha << 28) | (version << 29)
    return _webp([(b"VP8L", b"\x2f" + struct.pack("<I", bits) + tail)])


def _webp_vp8x(w, h, extra=()):
    payload = (b"\x00\x00\x00\x00" + (w - 1).to_bytes(3, "little")
               + (h - 1).to_bytes(3, "little"))
    return _webp([(b"VP8X", payload), *extra])


def test_parse_image_header_webp():
    p = M.parse_image_header
    assert p(_webp_vp8(640, 480)) == ("webp", 640, 480)
    assert p(_webp_vp8l_hdr(12, 34)) == ("webp", 12, 34)
    assert p(_webp_vp8l_hdr(1, 1)) == ("webp", 1, 1)
    assert p(_webp_vp8x(16384, 2)) == ("webp", 16384, 2)
    # corrupt / out-of-contract cases → None
    assert p(_webp_vp8(640, 480)[:14]) is None          # truncated chunk
    bad_start = _webp_vp8(9, 9).replace(b"\x9d\x01\x2a", b"\x9d\x01\x2b")
    assert p(bad_start) is None
    inter = _webp([(b"VP8 ", b"\x11\x00\x00\x9d\x01\x2a"
                    + struct.pack("<HH", 9, 9))])       # inter frame
    assert p(inter) is None
    assert p(_webp_vp8l_hdr(12, 34, version=1)) is None
    assert p(_webp([(b"VP8L", b"\x30\x00\x00\x00\x00")])) is None  # bad sig
    assert p(_webp([(b"VP8X", b"\x00" * 9)])) is None   # short VP8X
    assert p(_webp([(b"ALPH", b"\x00\x00")])) is None   # wrong first chunk
    assert p(b"RIFF\x04\x00\x00\x00WAVE") is None       # RIFF, not WEBP


def test_webp_exif_orientation_and_display_dims(spark):
    app1 = _exif_app1(6)                    # APP1 wrapper + Exif payload
    exif_payload = app1[4:]                 # 'Exif\0\0' + TIFF
    rot = _webp_vp8x(32, 64, extra=[(b"EXIF", exif_payload)])
    assert M.parse_exif_orientation(rot) == 6
    # libwebp-written files omit the 'Exif\0\0' prefix: bare TIFF
    bare = _webp_vp8x(32, 64, extra=[(b"EXIF", exif_payload[6:])])
    assert M.parse_exif_orientation(bare) == 6
    assert M.parse_exif_orientation(_webp_vp8(32, 64)) is None
    df = spark.createDataFrame(
        [(1, rot, "image/webp"), (2, _webp_vp8(32, 64), "image/webp")],
        "doc_id long, media binary, media_type string")
    got = {r.doc_id: r for r in M.decode_image_dims(df).collect()}
    assert (got[1].format, got[1].width, got[1].height) == ("webp", 64, 32)
    assert (got[2].format, got[2].width, got[2].height) == ("webp", 32, 64)
    # parse_image_header itself stays raster-order (documented)
    assert M.parse_image_header(rot) == ("webp", 32, 64)


def test_parse_image_header_fixtures():
    p = M.parse_image_header
    assert p(_png(640, 480)) == ("png", 640, 480)
    assert p(_gif(320, 200)) == ("gif", 320, 200)
    assert p(_gif(1, 1, ver=b"GIF87a")) == ("gif", 1, 1)
    assert p(_bmp_info(800, 600)) == ("bmp", 800, 600)
    assert p(_bmp_info(800, -600)) == ("bmp", 800, 600)  # top-down rows
    assert p(_bmp_core(16, 16)) == ("bmp", 16, 16)
    # baseline SOF0, APP0/JFIF + comment before the frame header
    jfif = (0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    com = (0xFE, b"a comment")
    assert p(_jpeg(1024, 768, pre_segments=(jfif, com))) == \
        ("jpeg", 1024, 768)
    # progressive SOF2, DHT (a NON-SOF Cx marker) before it
    dht = (0xC4, b"\x00" * 5)
    assert p(_jpeg(333, 222, sof=0xC2, pre_segments=(jfif, dht))) == \
        ("jpeg", 333, 222)
    # restart marker (bare, no length) must be skipped, not parsed
    raw = b"\xff\xd8" + b"\xff\xd0" + _jpeg(9, 7)[2:]
    assert p(raw) == ("jpeg", 9, 7)


def test_parse_image_header_corrupt_cases():
    p = M.parse_image_header
    assert p(b"") is None
    assert p(b"\x89PNG\r\n\x1a\n") is None            # truncated at sig
    assert p(_png(640, 480)[:20]) is None             # truncated IHDR
    bad_chunk = _png(1, 1).replace(b"IHDR", b"IDAT")  # wrong first chunk
    assert p(bad_chunk) is None
    assert p(_png(0, 480)) is None                    # zero width
    assert p(_gif(0, 5)) is None
    assert p(b"GIF88a" + struct.pack("<HH", 3, 3)) is None  # bad version
    assert p(_bmp_info(0, 10)) is None
    assert p(b"BM" + b"\x00" * 12 + struct.pack("<I", 20)) is None  # odd DIB
    # JPEG: SOS before any SOF → no dims
    assert p(b"\xff\xd8\xff\xda\x00\x02rest") is None
    # JPEG: EOI before SOF
    assert p(b"\xff\xd8\xff\xd9") is None
    # JPEG: lost marker sync
    assert p(b"\xff\xd8\x00\x00\x00") is None
    # JPEG: segment length lies past the buffer (truncated SOF)
    assert p(_jpeg(10, 10)[:6]) is None
    # JPEG: SOF whose declared length is under the 8-byte minimum
    # (2 len + 1 precision + 4 dims + 1 components) — the bytes at the
    # dim offsets belong to the NEXT segment, so returning (99, 77)
    # here would be plausible-but-wrong dims, not a parse
    short_sof = (b"\xff\xd8\xff\xc0" + struct.pack(">H", 4)
                 + b"\x08" + struct.pack(">HH", 99, 77) + b"\x01\x11\x00")
    assert p(short_sof) is None
    assert p(b"\xff\xd8\xff\xc0" + struct.pack(">H", 7) + b"\x08"
             + struct.pack(">HH", 12, 34) + b"\x01") is None
    # not an image at all
    assert p(b"plain text bytes that look like nothing") is None


def test_decode_image_dims_side_drop(spark):
    rows = [
        (1, _png(640, 480), "image/png"),
        (2, _jpeg(32, 64), "image/jpeg"),
        (3, _gif(5, 6), "image/gif"),
        (4, _bmp_info(7, 8), "image/bmp"),
        (5, b"corrupt garbage", "image/png"),
        (6, None, "image/png"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, media binary, media_type string")
    got = {r.doc_id: r for r in M.decode_image_dims(df).collect()}
    assert (got[1].format, got[1].width, got[1].height) == ("png", 640, 480)
    assert (got[2].format, got[2].width, got[2].height) == ("jpeg", 32, 64)
    assert (got[3].format, got[3].width, got[3].height) == ("gif", 5, 6)
    assert (got[4].format, got[4].width, got[4].height) == ("bmp", 7, 8)
    for bad in (5, 6):
        assert got[bad].format is None and got[bad].width is None
        assert got[bad].decode_error == "unrecognized_or_corrupt_header"
    assert all(got[i].decode_error is None for i in (1, 2, 3, 4))
    assert got[6].byte_len == 0


def test_decode_image_dims_reports_display_dims_for_exif_rotation(spark):
    """The header gate and the pixel gate must agree: orientations 5-8
    transpose the raster, so decode_image_dims reports DISPLAY dims
    (r14 review finding — an aspect gate fed raster dims passes
    sideways phone photos that image_pixel_stats would report
    upright)."""
    app1 = _exif_app1(6)
    rot = _jpeg(32, 64, pre_segments=[(0xE1, app1[4:])])
    upr = _jpeg(32, 64, pre_segments=[(0xE1, _exif_app1(1)[4:])])
    df = spark.createDataFrame(
        [(1, rot, "image/jpeg"), (2, upr, "image/jpeg"),
         (3, _jpeg(32, 64), "image/jpeg")],
        "doc_id long, media binary, media_type string")
    got = {r.doc_id: r for r in M.decode_image_dims(df).collect()}
    assert (got[1].width, got[1].height) == (64, 32)   # transposed
    assert (got[2].width, got[2].height) == (32, 64)   # orientation 1
    assert (got[3].width, got[3].height) == (32, 64)   # no Exif
    # parse_image_header itself stays raster-order (documented)
    assert M.parse_image_header(bytes(rot)) == ("jpeg", 32, 64)


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=256))
def test_parse_image_header_never_raises(buf):
    """Fuzz: arbitrary bytes — including truncations of valid headers
    and random junk behind real magics — must yield None or a
    well-formed (format, w>0, h>0), never an exception (one corrupt
    blob must not kill a 100 TB scan task)."""
    out = M.parse_image_header(buf)
    if out is not None:
        fmt, w, h = out
        assert fmt in ("png", "gif", "bmp", "jpeg", "webp") \
            and w > 0 and h > 0


@settings(max_examples=150, deadline=None)
@given(st.sampled_from(["png", "gif", "bmp", "jpeg", "webp"]),
       st.integers(0, 40), st.binary(max_size=8))
def test_parse_image_header_truncation_and_tail_noise(kind, cut, noise):
    """Prefixes of VALID headers (cut anywhere) never raise; a full
    valid header keeps parsing no matter what bytes follow it."""
    full = {"png": _png(12, 34), "gif": _gif(12, 34),
            "bmp": _bmp_info(12, 34), "jpeg": _jpeg(12, 34),
            "webp": _webp_vp8(12, 34)}[kind]
    out = M.parse_image_header(full[:cut])
    assert out is None or out == (kind, 12, 34)
    assert M.parse_image_header(full + noise) == (kind, 12, 34)


# --- WAV container decode (r13) ---------------------------------------------

def _wav(rate, samples, extra_chunk=None, fmt_code=1, bits=16):
    """Hand-built RIFF/WAVE: samples is an (n, ch) int16 array."""
    import numpy as np

    ch = samples.shape[1]
    data = np.ascontiguousarray(samples.astype("<i2")).tobytes()
    fmt = struct.pack("<HHIIHH", fmt_code, ch, rate, rate * 2 * ch,
                      2 * ch, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk is not None:
        chunks += extra_chunk
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_parse_wav_mono_stereo_and_word_alignment():
    import numpy as np

    mono = np.array([[100], [-200], [32767], [-32768]], np.int16)
    rate, ch, data = M.parse_wav(_wav(16000, mono))
    assert (rate, ch) == (16000, 1)
    assert np.array_equal(data, mono)
    # odd-size chunk between fmt and data must be skipped with its
    # pad byte (RIFF word alignment)
    odd = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    rate, ch, data = M.parse_wav(_wav(8000, mono, extra_chunk=odd))
    assert rate == 8000 and np.array_equal(data, mono)
    stereo = np.array([[100, 300], [-100, -301]], np.int16)
    rate, ch, data = M.parse_wav(_wav(44100, stereo))
    assert ch == 2 and np.array_equal(data, stereo)


def _exif_app1(orientation, order="II", extra_entries=0):
    import struct as _s

    e = "<" if order == "II" else ">"
    n = 1 + extra_entries
    entries = b""
    for _ in range(extra_entries):           # unrelated tag first
        entries += _s.pack(e + "HHI", 0x010F, 2, 4) + b"test"
    entries += _s.pack(e + "HHI", 0x0112, 3, 1) \
        + _s.pack(e + "H", orientation) + b"\x00\x00"
    tiff = (order.encode() + _s.pack(e + "H", 42) + _s.pack(e + "I", 8)
            + _s.pack(e + "H", n) + entries + _s.pack(e + "I", 0))
    payload = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + _s.pack(">H", len(payload) + 2) + payload


def test_parse_exif_orientation():
    """Exif APP1 orientation: both byte orders, multi-entry IFDs,
    non-Exif APP1 skipped, malformed TIFF returns None (advisory
    metadata never side-drops)."""
    for order in ("II", "MM"):
        for o in range(1, 9):
            buf = b"\xff\xd8" + _exif_app1(o, order) + b"\xff\xd9"
            assert M.parse_exif_orientation(buf) == o, (order, o)
    multi = b"\xff\xd8" + _exif_app1(6, "MM", extra_entries=2) \
        + b"\xff\xd9"
    assert M.parse_exif_orientation(multi) == 6
    # XMP APP1 (no Exif signature) before the Exif one
    xmp = b"\xff\xe1" + struct.pack(">H", 13) + b"http://ns.x"
    assert M.parse_exif_orientation(
        b"\xff\xd8" + xmp + _exif_app1(3) + b"\xff\xd9") == 3
    assert M.parse_exif_orientation(b"\xff\xd8\xff\xd9") is None
    assert M.parse_exif_orientation(b"not jpeg") is None
    # truncated tail mid-fill-bytes: None, not struct.error (r14
    # review finding: the skip loop advanced past the bounds guard)
    assert M.parse_exif_orientation(b"\xff\xd8\xff\xff\xff\xe0") is None
    # out-of-range and malformed cases -> None, never an exception
    bad = b"\xff\xd8" + _exif_app1(9) + b"\xff\xd9"
    assert M.parse_exif_orientation(bad) is None
    app1 = _exif_app1(6)
    trunc = b"\xff\xd8" + app1[:14] + bytes(4) + b"\xff\xd9"
    assert M.parse_exif_orientation(
        trunc[:2] + b"\xff\xe1" + struct.pack(">H", 8)
        + b"Exif\x00\x00" + b"\xff\xd9") is None


def _g711_wav(rate, codes, ch, fmt_code):
    """Hand-built RIFF/WAVE with 8-bit G.711 codes."""
    fmt = struct.pack("<HHIIHH", fmt_code, ch, rate, rate * ch, ch, 8)
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(codes)) + bytes(codes))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_parse_wav_g711_expansion_tables():
    """G.711 µ-law/A-law expansion against published ITU table values
    (independent of the implementation's formula), plus the structural
    invariants the standard fixes: sign symmetry in the top code bit,
    strict monotonicity within each sign, and the per-segment step
    doubling."""
    import numpy as np

    allc = bytes(range(256))
    _, _, u = M.parse_wav(_g711_wav(8000, allc, 1, 7))
    _, _, a = M.parse_wav(_g711_wav(8000, allc, 1, 6))
    u, a = u[:, 0].astype(int), a[:, 0].astype(int)
    # published spot values (CCITT G.711 tables, e.g. Sun g711.c)
    assert u[0x00] == -32124 and u[0x80] == 32124
    assert u[0x01] == -31100 and u[0xFF] == 0 and u[0x7F] == 0
    assert u[0xFE] == 8
    assert a[0x55] == -8 and a[0xD5] == 8
    assert a[0x2A] == -32256 and a[0xAA] == 32256
    assert a[0x00] == -5504
    # sign symmetry: flipping the transmitted sign bit negates
    for tab in (u, a):
        assert all(tab[c] == -tab[c ^ 0x80] for c in range(256))
    # µ-law: codes 0x80..0xFF run +32124 down to 0 (monotone)
    assert list(u[0x80:]) == sorted(u[0x80:], reverse=True)
    # A-law positive codes sorted by value: 128 distinct levels in 8
    # segments of 16, with the chord step constant inside a segment
    # and doubling from segment 2 on (16,16,32,64,...,1024 — G.711
    # Table 1's segmented quantizer shape)
    pos = sorted(a[c] for c in range(256) if a[c] > 0)
    assert len(set(pos)) == 128
    for seg in range(8):
        chord = np.diff(pos[16 * seg:16 * (seg + 1)])
        assert set(chord) == {16 << max(0, seg - 1)}, seg


def test_wav_g711_rides_decode_and_features(spark):
    """G.711 WAVs flow through the same Spark audio lane as PCM16."""
    import numpy as np

    codes = bytes([0xFF, 0xFE, 0x7F, 0x00] * 25)        # µ-law mono
    rows = [(1, bytearray(_g711_wav(8000, codes, 1, 7)), "audio/wav"),
            (2, bytearray(_g711_wav(8000, bytes([0xD5, 0x55] * 50),
                                    2, 6)), "audio/wav")]
    df = spark.createDataFrame(rows, "doc_id long, media binary, "
                                     "media_type string")
    got = {r.doc_id: r for r in M.decode_wav(df).collect()}
    assert got[1].sample_rate == 8000 and got[1].n_channels == 1
    assert got[1].n_samples == 100 and got[1].decode_error is None
    assert got[2].n_channels == 2 and got[2].n_samples == 50


def _f80_encode(x):
    """Independent forward 80-bit extended encoder (math.frexp-based,
    no reuse of the module's decoder)."""
    import math

    if x == 0:
        return bytes(10)
    m, e = math.frexp(x)                 # x = m * 2**e, 0.5 <= m < 1
    mant = int(m * (1 << 64))
    return struct.pack(">HQ", (e - 1) + 16383, mant)


def _aiff(rate, samples, ssnd_offset=0, form=b"AIFF", bits=16):
    """Hand-built FORM/AIFF: samples is an (n, ch) int16 array."""
    import numpy as np

    n, ch = samples.shape
    comm = (struct.pack(">hIh", ch, n, bits) + _f80_encode(rate))
    data = np.ascontiguousarray(samples.astype(">i2")).tobytes()
    ssnd = struct.pack(">II", ssnd_offset, 0) + bytes(ssnd_offset) + data
    chunks = (b"COMM" + struct.pack(">I", len(comm)) + comm
              + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd)
    return b"FORM" + struct.pack(">I", 4 + len(chunks)) + form + chunks


def test_parse_aiff_mono_stereo_and_rate():
    import numpy as np

    mono = np.array([[100], [-200], [32767], [-32768]], np.int16)
    rate, ch, data = M.parse_aiff(_aiff(44100, mono))
    assert (rate, ch) == (44100, 1)
    assert np.array_equal(data, mono)
    # the canonical published 44.1 kHz extended-float encoding
    assert _f80_encode(44100) == bytes.fromhex("400eac44000000000000")
    assert M._f80(bytes.fromhex("400eac44000000000000")) == 44100.0
    stereo = np.array([[1, -1], [1000, -1000]], np.int16)
    rate, ch, data = M.parse_aiff(_aiff(8000, stereo, ssnd_offset=6))
    assert (rate, ch) == (8000, 2)
    assert np.array_equal(data, stereo)
    # byte order actually matters: the container is big-endian
    raw = _aiff(8000, np.array([[0x0102]], np.int16))
    assert b"\x01\x02" in raw


def test_parse_aiff_rejects_with_reasons():
    import numpy as np

    mono = np.array([[7]], np.int16)
    with pytest.raises(M.AudioDecodeError, match="FORM"):
        M.parse_aiff(b"FORX" + _aiff(8000, mono)[4:])
    with pytest.raises(M.AudioDecodeError, match="AIFC"):
        M.parse_aiff(_aiff(8000, mono, form=b"AIFC"))
    with pytest.raises(M.AudioDecodeError, match="16-bit"):
        M.parse_aiff(_aiff(8000, mono, bits=8))
    with pytest.raises(M.AudioDecodeError, match="truncated"):
        M.parse_aiff(_aiff(8000, mono)[:-1])
    with pytest.raises(M.AudioDecodeError, match="no SSND"):
        M.parse_aiff(_aiff(8000, mono)[:38])   # full COMM, no SSND


def test_parse_aiff_bounds_samples_to_ssnd_chunk_extent():
    """COMM may over-declare nframes while a trailing chunk supplies
    the bytes the read would otherwise spill into — those bytes must
    never be read as samples (r14 ADVICE: bound against the SSND
    chunk's own extent, not len(buf))."""
    import numpy as np

    mono = np.array([[11], [22]], np.int16)
    raw = bytearray(_aiff(8000, mono))
    # COMM nframes lives right after the 2-byte channel count:
    # FORM(12) + 'COMM'(4) + size(4) + ch(2) → offset 22, ">I"
    assert struct.unpack(">I", raw[22:26])[0] == 2
    raw[22:26] = struct.pack(">I", 4)          # claim 4 frames
    # trailing ANNO chunk makes len(buf) big enough to fool a
    # whole-file bound — 8 bytes of annotation = 4 fake samples
    tail = b"ANNO" + struct.pack(">I", 8) + b"\x7f\xff" * 4
    raw += tail
    raw[4:8] = struct.pack(">I", len(raw) - 8)  # fix FORM size
    with pytest.raises(M.AudioDecodeError, match="truncated sample"):
        M.parse_aiff(bytes(raw))
    # and the honest version (no over-claim) still decodes fine
    ok = bytearray(_aiff(8000, mono)) + tail
    ok[4:8] = struct.pack(">I", len(ok) - 8)
    rate, ch, data = M.parse_aiff(bytes(ok))
    assert (rate, ch) == (8000, 1)
    assert np.array_equal(data, mono)


def test_aiff_rides_decode_wav_kernel(spark):
    import numpy as np

    wav_mono = np.array([[5], [6]], np.int16)
    aiff_st = np.array([[100, 300], [-100, -300]], np.int16)
    rows = [(1, bytearray(_wav(16000, wav_mono)), "audio/wav"),
            (2, bytearray(_aiff(22050, aiff_st)), "audio/aiff")]
    df = spark.createDataFrame(rows, "doc_id long, media binary, "
                                     "media_type string")
    got = {r.doc_id: r for r in M.decode_wav(df).collect()}
    assert got[1].sample_rate == 16000 and got[1].n_channels == 1
    assert got[2].sample_rate == 22050 and got[2].n_channels == 2
    # integer-mean mixdown of the big-endian stereo, normalized LE
    mono = np.frombuffer(bytes(got[2].audio), "<i2")
    assert list(mono) == [200, -200]


def test_parse_wav_rejects_with_reasons():
    import numpy as np

    mono = np.array([[1]], np.int16)
    with pytest.raises(M.AudioDecodeError, match="RIFF"):
        M.parse_wav(b"RIFX" + _wav(8000, mono)[4:])
    with pytest.raises(M.AudioDecodeError, match="format 2 unsupported"):
        M.parse_wav(_wav(8000, mono, fmt_code=2))       # ADPCM
    with pytest.raises(M.AudioDecodeError, match="float unsupported"):
        M.parse_wav(_wav(8000, mono, fmt_code=3))       # float at 16-bit
    with pytest.raises(M.AudioDecodeError, match="8-bit codes"):
        M.parse_wav(_wav(8000, mono, fmt_code=7))       # µ-law at 16-bit
    with pytest.raises(M.AudioDecodeError, match="16/24-bit"):
        M.parse_wav(_wav(8000, mono, bits=8))
    with pytest.raises(M.AudioDecodeError, match="truncated"):
        M.parse_wav(_wav(8000, mono)[:-1])
    with pytest.raises(M.AudioDecodeError, match="no data"):
        M.parse_wav(_wav(8000, mono)[:36])     # ends after the fmt chunk
    buf = _wav(8000, mono)
    with pytest.raises(M.AudioDecodeError, match="data before fmt"):
        M.parse_wav(buf[:12] + buf[buf.index(b"data"):])


def _wav_raw(rate, ch, fmt_code, bits, payload):
    fmt = struct.pack("<HHIIHH", fmt_code, ch, rate, 0, 0, bits)
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(payload)) + payload)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_parse_wav_ieee_float_clips_and_scales():
    import numpy as np

    vals = [-2.0, -1.0, -0.5, 0.0, 0.25, 1.0, 1.5, float("nan")]
    want = [-32767, -32767, -16384, 0, 8192, 32767, 32767, 0]
    for width, code in ((4, "<f"), (8, "<d")):
        payload = b"".join(struct.pack(code, v) for v in vals)
        rate, ch, data = M.parse_wav(
            _wav_raw(48000, 1, 3, width * 8, payload))
        assert (rate, ch) == (48000, 1)
        assert data.dtype == np.int16
        assert data[:, 0].tolist() == want, width
    # stereo float32: interleaved frames keep channel order
    st = struct.pack("<4f", 1.0, -1.0, 0.5, -0.5)
    rate, ch, data = M.parse_wav(_wav_raw(8000, 2, 3, 32, st))
    assert ch == 2
    assert data.tolist() == [[32767, -32767], [16384, -16384]]


def test_parse_wav_24bit_reduces_to_high_bytes():
    import numpy as np

    # LE triples: 0x123456 → int16 0x1234; 0x876543 → int16 -30875
    payload = bytes([0x56, 0x34, 0x12, 0x43, 0x65, 0x87])
    rate, ch, data = M.parse_wav(_wav_raw(44100, 1, 1, 24, payload))
    assert (rate, ch) == (44100, 1)
    assert data[:, 0].tolist() == [0x1234,
                                   np.int16(np.uint16(0x8765))]
    # stereo: one frame of two 24-bit samples
    st = bytes([0, 0, 1, 0, 0, 0xFF])
    _, ch, data = M.parse_wav(_wav_raw(8000, 2, 1, 24, st))
    assert ch == 2 and data.tolist() == [[0x0100, -256]]


def test_float_and_24bit_ride_decode_wav_kernel(spark):
    import numpy as np

    f32 = _wav_raw(16000, 1, 3, 32, struct.pack("<3f", 0.5, -0.25, 2.0))
    i24 = _wav_raw(22050, 1, 1, 24, bytes([0, 0x10, 0x20] * 2))
    rows = [(1, bytearray(f32), "audio/wav"),
            (2, bytearray(i24), "audio/wav")]
    df = spark.createDataFrame(rows, "doc_id long, media binary, "
                                     "media_type string")
    got = {r.doc_id: r for r in M.decode_wav(df).collect()}
    assert got[1].decode_error is None and got[1].n_samples == 3
    assert np.frombuffer(bytes(got[1].audio), "<i2").tolist() == \
        [16384, -8192, 32767]
    assert got[2].decode_error is None and got[2].n_samples == 2
    assert np.frombuffer(bytes(got[2].audio), "<i2").tolist() == \
        [0x2010, 0x2010]


def test_decode_wav_feeds_audio_features(spark):
    import numpy as np

    t = np.arange(800)
    tone = (8000 * np.sin(2 * np.pi * t / 80)).astype(np.int16)
    stereo = np.stack([tone, tone], axis=1)
    rows = [
        (1, bytearray(_wav(16000, tone[:, None]))),
        (2, bytearray(_wav(16000, stereo))),      # mixes down to ~tone
        (3, bytearray(b"not a wav at all")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {r.doc_id: r for r in M.decode_wav(df).collect()}
    assert got[1].sample_rate == 16000 and got[1].n_samples == 800
    assert got[1].n_channels == 1 and got[1].decode_error is None
    assert bytes(got[1].audio) == tone.astype("<i2").tobytes()
    # stereo mixdown of two identical channels is the mono signal
    assert bytes(got[2].audio) == bytes(got[1].audio)
    assert got[2].n_channels == 2
    assert "wav" in got[3].decode_error and got[3].audio is None
    # the decoded lane feeds the existing feature kernel unchanged
    feats = {r.doc_id: r for r in M.audio_features(
        M.decode_wav(df).filter("decode_error is null")).collect()}
    assert feats[1].n_samples == 800 and feats[1].rms_mean > 0
    assert feats[1].energy == int((tone.astype(np.int64) ** 2)
                                  [:800 // 64 * 64].sum())
