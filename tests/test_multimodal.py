"""Multimodal tests: real image resize, real audio/video decode replayed
against local numpy references, user-SQL surface gating."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tree_sitter_analyzer_spark import synth
from tree_sitter_analyzer_spark.plans.sql_surface import register_views, run_user_sql
from tree_sitter_analyzer_spark.registry import load_all
from tree_sitter_analyzer_spark.sources import codec, multimodal

from .conftest import SF_SMALL, SF_TINY


def test_resize_roundtrip_shape_and_values(spark):
    df = codec.attach_bytes(synth.tiles_df(spark, SF_TINY).limit(12))
    out = multimodal.resize_tiles(df, 8, 8).select(
        "image_id", "w", "h", "fmt", "resized_bytes", "resized_w", "resized_h"
    ).collect()
    assert len(out) == 12
    for r in out:
        small = codec.decode_px(bytes(r["resized_bytes"]))
        assert small.shape == (8, 8, 3)
        # spot-check against a local resample of the decoded original
        px = codec.decode_px(
            codec.encode_px(
                codec.synth_pixels(r["image_id"], r["w"], r["h"]), r["fmt"]
            )
        )
        yi = np.minimum((np.arange(8) * r["h"]) // 8, r["h"] - 1)
        xi = np.minimum((np.arange(8) * r["w"]) // 8, r["w"] - 1)
        assert np.array_equal(small, px[yi][:, xi])


# ---------------------------------------------------------------------------
# REAL decoders: WAV (stdlib wave) and the GVID frame container.
# ---------------------------------------------------------------------------

def test_wav_roundtrip_exact():
    """decode(encode(x)) reproduces the int16 waveform bit-exactly (as
    float32/32768) and the header's sample rate."""
    for mid, sr in ((7, 8000), (12, 44100)):
        x = multimodal.synth_audio_i16(mid, sr, 1000)
        assert x.dtype == np.int16 and len(x) == sr
        got, rate = multimodal.decode_audio(multimodal.encode_wav(x, sr))
        assert rate == sr
        assert np.array_equal(got, x.astype(np.float32) / 32768.0)


def test_wav_decoder_parses_foreign_payloads_and_rejects_garbage():
    """The decoder is a real WAV parser, not a synth-roundtrip trick:
    stereo downmixes by channel mean; non-PCM16 and garbage raise."""
    import wave as _wave

    sr = 8000
    left = np.arange(-100, 100, dtype=np.int16)
    right = np.zeros_like(left)
    stereo = np.column_stack([left, right]).reshape(-1)
    got, rate = multimodal.decode_audio(
        multimodal.encode_wav(stereo, sr, n_channels=2)
    )
    assert rate == sr
    assert np.allclose(got, (left.astype(np.float32) / 32768.0) / 2)
    with pytest.raises((_wave.Error, EOFError, ValueError)):
        multimodal.decode_audio(b"not a wav file at all")


def test_video_container_roundtrip_sampling_and_truncation():
    """GVID: every_n=1 decodes every frame's exact luma; every_n=3 samples
    frames 0,3,6,…; truncated payloads and bad magic raise ValueError."""
    frames = [multimodal.synth_video_px(5, f, 16, 12) for f in range(7)]
    buf = multimodal.encode_video(frames, 24000)
    allf = multimodal.decode_video_frames(buf, 1)
    assert allf.shape == (7, 12, 16)
    want = np.stack([px.astype(np.float64) @ multimodal._LUMA for px in frames])
    assert np.array_equal(allf, want)
    sampled = multimodal.decode_video_frames(buf, 3)
    assert np.array_equal(sampled, want[[0, 3, 6]])
    with pytest.raises(ValueError):
        multimodal.decode_video_frames(buf[:-5], 1)
    with pytest.raises(ValueError):
        multimodal.decode_video_frames(b"XVID" + buf[4:], 1)
    empty = multimodal.encode_video([], 24000)
    assert multimodal.decode_video_frames(empty, 1).shape[0] == 0


def _wave_writer_bytes(samples, sample_rate):
    """The stdlib ``wave`` writer's PCM16 mono encoding of ``samples``."""
    import io
    import wave as _wave

    bio = io.BytesIO()
    with _wave.open(bio, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return bio.getvalue()


def test_audio_features_real_decode_matches_numpy_reference(spark):
    """End-to-end real path: Spark encode→decode→features equals a pure
    local numpy reference (no Spark involved) value-for-value. The WAV
    bytes equal the stdlib writer's; a 0 Hz clip (which that writer
    refuses) encodes and yields zero features instead of failing the job."""
    rows = [(i, None, 8000 if i % 2 else 16000, 1, 1000, 1) for i in range(8)]
    rows.append((8, None, 0, 1, 1000, 1))
    df = spark.createDataFrame(rows, multimodal.AUDIO_SCHEMA)
    got = {
        r["media_id"]: (r["rms_milli"], r["zero_crossings"], r["decoder"])
        for r in multimodal.audio_features(multimodal.attach_audio_bytes(df))
        .select("media_id", "rms_milli", "zero_crossings", "decoder")
        .collect()
    }
    assert got[8] == (0, 0, "real")
    for mid, _, sr, _, dur, _ in rows[:-1]:
        samples = multimodal.synth_audio_i16(mid, sr, dur)
        buf = multimodal.encode_wav(samples, sr)
        assert buf == _wave_writer_bytes(samples, sr)
        x, rate = multimodal.decode_audio(buf)
        x = x[:rate]
        want_rms = int(np.sqrt(np.mean(x * x)) * 1000)
        want_zc = int(np.sum(np.abs(np.diff(np.signbit(x)))))
        assert got[mid] == (want_rms, want_zc, "real")


def test_video_features_real_decode_matches_numpy_reference(spark):
    """End-to-end real path: per-clip sampled count and luma stats equal a
    local container-parse reference; lossy (jpeg) frames also decode."""
    rows = [(i, None, 16, 12, 24000, 1 + 7 * i, 1) for i in range(6)]
    df = spark.createDataFrame(rows, multimodal.VIDEO_SCHEMA)
    for fmt in ("png", "jpeg"):
        got = {
            r["media_id"]: (
                r["n_sampled_frames"], r["mean_luma_milli"],
                r["std_luma_milli"], r["decoder"],
            )
            for r in multimodal.video_frame_features(
                multimodal.attach_video_bytes(df, fmt=fmt), every_n=10
            )
            .select("media_id", "n_sampled_frames", "mean_luma_milli",
                    "std_luma_milli", "decoder")
            .collect()
        }
        for mid, _, w, h, fps, nf, _ in rows:
            frames = [
                multimodal.synth_video_px(mid, f, w, h) for f in range(nf)
            ]
            luma = multimodal.decode_video_frames(
                multimodal.encode_video(frames, fps, fmt=fmt), 10
            )
            assert got[mid] == (
                luma.shape[0],
                int(luma.mean() * 1000),
                int(luma.std() * 1000),
                "real",
            )
            assert luma.shape[0] == -(-nf // 10)  # ceil(n_frames/every_n)


def test_sql_surface_select_and_gate(spark):
    register_views(spark, SF_TINY)
    env = run_user_sql(
        spark,
        "SELECT tile_kind, count(*) AS n FROM tiles GROUP BY tile_kind",
    )
    assert env["stats"]["total_matches"] == 7
    assert not env["stats"]["was_truncated"]

    env2 = run_user_sql(spark, "SELECT image_id FROM tiles", max_rows=10)
    assert env2["stats"]["returned"] == 10
    assert env2["stats"]["total_matches"] == 1500
    assert env2["stats"]["was_truncated"]

    # A registry builder over other tables leaves the user's views alone.
    count_li = "SELECT count(*) AS n FROM lineitem"
    n_li = run_user_sql(spark, count_li)["results"][0]["n"]
    load_all()["median_ci"].spark_fn(spark, SF_SMALL)
    env3 = run_user_sql(spark, "SELECT image_id FROM tiles", max_rows=10)
    assert env3["stats"]["total_matches"] == 1500
    assert run_user_sql(spark, count_li)["results"][0]["n"] == n_li

    for bad in (
        "DROP TABLE tiles",
        "INSERT INTO tiles VALUES (1)",
        "SELECT 1; SELECT 2",
        "SET spark.sql.shuffle.partitions=1",
    ):
        with pytest.raises(ValueError):
            run_user_sql(spark, bad)


def test_sql_surface_spatial_join(spark):
    """Ad-hoc SQL can express the cell join over the registered views."""
    register_views(spark, SF_TINY)
    env = run_user_sql(
        spark,
        """SELECT z.polygon_id, count(*) AS n
           FROM tiles t JOIN zones z
             ON t.lon >= z.xmin AND t.lon < z.xmax
            AND t.lat >= z.ymin AND t.lat < z.ymax
           GROUP BY z.polygon_id ORDER BY n DESC LIMIT 5""",
    )
    assert env["stats"]["returned"] == 5
    assert env["results"][0]["n"] >= env["results"][-1]["n"]
