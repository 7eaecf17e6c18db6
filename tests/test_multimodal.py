"""Multimodal kernels: the stubbed image decode, the PCM audio feature
kernel, and the streaming metrics listener. Expectations are
hand-computed or recomputed in numpy on tiny deterministic inputs."""

from __future__ import annotations

from kafka_elasticsearch_injector_spark.operators import multimodal as M


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
