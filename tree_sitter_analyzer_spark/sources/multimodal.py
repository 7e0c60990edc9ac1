"""Multimodal payloads: image resize, REAL audio/video decode.

Task brief: treat image/audio/video as opaque ``binary`` columns with
typed metadata; decode / feature-extract / resize / frame-sample as
pandas UDFs over ``mapInPandas``. All three decode paths are real:

- image  — the deterministic raster codec (codec.py) decodes to pixels;
- audio  — PCM16 WAV (no ffmpeg/libsndfile needed): ``encode_wav`` packs
  the canonical 44-byte RIFF header, ``decode_audio`` parses any mono/stereo
  PCM16 RIFF/WAVE byte string with the stdlib ``wave`` reader into float32
  samples + the header's rate;
- video  — a self-describing container (``GVID`` header + length-prefixed
  frames, each frame an existing-codec GPNG/GJPG image):
  ``decode_video_frames`` seeks frame-to-frame via the length prefixes and
  decodes ONLY the sampled frames (real partial decode, the every_n-th
  frame-sampling op of the training-data brief).

This matches the reference's extractor discipline — every format it
claims, it actually parses (``ast_cache.py:581-593``'s per-language
workers). Every pass here is a row function handed to ``codec.map_rows``;
the per-kind image stats reduce each decoded tile to a few integers
there and roll them up with one ``groupBy``.
"""

from __future__ import annotations

import io
import struct
import wave
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .codec import decode_px, encode_px, map_rows


# ---------------------------------------------------------------------------
# Image: real resize (box downsample) — the thumbnail/training-resize op.
# ---------------------------------------------------------------------------

def resize_tiles(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Decode → box-resample to (out_w, out_h) → re-encode lossless.

    Nearest-neighbor index sampling (pure numpy) — deterministic across
    executors, no interpolation-library variance (the pinned-libjpeg
    lesson, SURVEY.md §7.3).
    """

    def row(buf):
        px = decode_px(buf)
        h, w = px.shape[:2]
        yi = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
        xi = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
        return encode_px(px[yi][:, xi], "png"), out_w, out_h

    return map_rows(
        df,
        ["bytes"],
        [
            StructField("resized_bytes", BinaryType()),
            StructField("resized_w", IntegerType()),
            StructField("resized_h", IntegerType()),
        ],
        row,
    )


# ---------------------------------------------------------------------------
# Audio: PCM16 WAV (real codec, no ffmpeg): struct-packed header, stdlib
# ``wave`` reader.
# ---------------------------------------------------------------------------

AUDIO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("bytes", BinaryType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("codec", IntegerType()),  # enum id, not a string blob
    ]
)

VIDEO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("bytes", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("fps_milli", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("codec", IntegerType()),
    ]
)


def synth_audio_i16(media_id: int, sample_rate: int, duration_ms: int) -> np.ndarray:
    """Deterministic int16 PCM waveform for a clip: a media_id-keyed tone
    (220–1540 Hz) plus seeded noise at half amplitude. Any executor (or a
    local numpy oracle) reproduces the same samples bit-exactly."""
    n = max(0, sample_rate * duration_ms // 1000)
    t = np.arange(n, dtype=np.float64) / max(sample_rate, 1)
    f0 = 220.0 + 110.0 * (int(media_id) % 13)
    rng = np.random.Generator(np.random.Philox(int(media_id)))
    x = 0.5 * np.sin(2 * np.pi * f0 * t) + 0.1 * rng.standard_normal(n)
    return np.clip(x * 32767.0, -32768, 32767).astype(np.int16)


# RIFF size, "WAVE", "fmt " chunk (PCM, channels, rate, byte rate, block
# align, bits), "data" size — the layout the stdlib ``wave`` writer emits.
_WAV_HEADER = struct.Struct("<4sI4s4sIHHIIHH4sI")


def encode_wav(samples: np.ndarray, sample_rate: int, n_channels: int = 1) -> bytes:
    """PCM16 RIFF/WAVE bytes: the 44-byte canonical header, byte-identical
    to the stdlib ``wave`` writer's, plus the samples. Unlike that writer
    it accepts a 0 Hz rate, so a zero-rate clip encodes as a header with
    no samples. ``samples`` is int16, frame-interleaved when
    ``n_channels > 1``."""
    data = np.asarray(samples, dtype="<i2").tobytes()
    return _WAV_HEADER.pack(
        b"RIFF", 36 + len(data), b"WAVE", b"fmt ", 16, 1, n_channels,
        sample_rate, 2 * n_channels * sample_rate, 2 * n_channels, 16,
        b"data", len(data),
    ) + data


def decode_audio(buf: bytes) -> tuple[np.ndarray, int]:
    """REAL audio decode: parse a PCM16 RIFF/WAVE byte string with the
    stdlib ``wave`` reader → (float32 samples in [-1, 1], sample_rate).
    Multi-channel audio is downmixed to mono by channel mean. Raises
    ``wave.Error``/``ValueError`` on a malformed payload."""
    with wave.open(io.BytesIO(bytes(buf)), "rb") as w:
        if w.getsampwidth() != 2:
            raise ValueError(f"expected PCM16, got sampwidth={w.getsampwidth()}")
        rate = w.getframerate()
        nch = w.getnchannels()
        raw = w.readframes(w.getnframes())
    x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    return x, rate


# ---------------------------------------------------------------------------
# Video: GVID container — header + length-prefixed codec frames.
# ---------------------------------------------------------------------------

VIDEO_MAGIC = b"GVID"
VIDEO_HEADER = struct.Struct("<4siiii")  # magic, w, h, fps_milli, n_frames
_FRAME_LEN = struct.Struct("<I")

# BT.601 luma weights — same grayscale the image phash uses (codec.phash64).
_LUMA = np.array([0.299, 0.587, 0.114])


def synth_video_px(media_id: int, frame_idx: int, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 frame keyed on (media_id, frame_idx)."""
    rng = np.random.Generator(np.random.Philox([int(media_id), int(frame_idx)]))
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def encode_video(frames: list[np.ndarray], fps_milli: int, fmt: str = "png") -> bytes:
    """GVID container: header + per-frame (uint32 length, codec bytes).
    Frames are encoded with the raster codec (GPNG lossless / GJPG lossy),
    so a video IS a sequence of the engine's image payloads — one decode
    stack for both modalities."""
    if not frames:
        return VIDEO_HEADER.pack(VIDEO_MAGIC, 0, 0, fps_milli, 0)
    h, w = frames[0].shape[:2]
    parts = [VIDEO_HEADER.pack(VIDEO_MAGIC, w, h, fps_milli, len(frames))]
    for px in frames:
        fb = encode_px(px, fmt)
        parts.append(_FRAME_LEN.pack(len(fb)))
        parts.append(fb)
    return b"".join(parts)


def decode_video_frames(buf: bytes, every_n: int) -> np.ndarray:
    """REAL frame sampling: walk the GVID container via the length
    prefixes, decoding ONLY every ``every_n``-th frame (frames in between
    are seeked over, never decoded — the partial-read discipline that
    makes sparse sampling cheap). Returns a (k, h, w) float64 BT.601 luma
    stack. Raises ``ValueError`` on bad magic or a truncated payload."""
    buf = bytes(buf)
    if len(buf) < VIDEO_HEADER.size:
        raise ValueError("truncated video header")
    magic, w, h, _fps, n_frames = VIDEO_HEADER.unpack_from(buf)
    if magic != VIDEO_MAGIC:
        raise ValueError(f"bad video magic {magic!r}")
    out = []
    pos = VIDEO_HEADER.size
    for i in range(n_frames):
        if pos + _FRAME_LEN.size > len(buf):
            raise ValueError(f"truncated at frame {i}")
        (flen,) = _FRAME_LEN.unpack_from(buf, pos)
        pos += _FRAME_LEN.size
        if pos + flen > len(buf):
            raise ValueError(f"truncated frame {i} payload")
        if i % every_n == 0:
            px = decode_px(buf[pos:pos + flen])
            if px.shape[:2] != (h, w):
                raise ValueError(f"frame {i} shape {px.shape} != header ({h},{w})")
            out.append(px.astype(np.float64) @ _LUMA)
        pos += flen
    if not out:
        return np.empty((0, h, w))
    return np.stack(out)


_BYTES = [StructField("bytes", BinaryType())]


def attach_video_bytes(df: DataFrame, fmt: str = "png") -> DataFrame:
    """Fill the ``bytes`` column with a REAL GVID payload synthesized from
    each row's metadata (deterministic per media_id) — the video analog of
    ``codec.attach_bytes``. Production reads real bytes from the table and
    skips this step."""

    def row(mid, nf, w, h, fps):
        frames = [
            synth_video_px(int(mid), f, int(w), int(h)) for f in range(int(nf))
        ]
        return (encode_video(frames, int(fps), fmt),)

    return map_rows(
        df,
        ["media_id", "n_frames", "width", "height", "fps_milli"],
        _BYTES,
        row,
    ).select(*df.columns)


def attach_audio_bytes(df: DataFrame) -> DataFrame:
    """Fill the ``bytes`` column with a REAL PCM16 WAV payload synthesized
    from each row's metadata (deterministic per media_id)."""
    return map_rows(
        df,
        ["media_id", "sample_rate", "duration_ms"],
        _BYTES,
        lambda mid, sr, dur: (
            encode_wav(synth_audio_i16(int(mid), int(sr), int(dur)), int(sr)),
        ),
    ).select(*df.columns)


def video_frame_features(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling pipeline: decode every ``every_n``-th frame of the
    ``bytes`` column (GVID container, length-prefix seeking), emit per-clip
    sampled-frame count + mean/std luma (the training-data "frame-sample"
    op). The ``decoder`` column records the decode path: always 'real'.

    Batch shape: one Arrow batch in → same rows out + 4 columns; frames
    never leave the executor (only scalar features cross the wire), which
    is what keeps this viable at 10^12 clips.
    """

    def row(buf):
        frames = decode_video_frames(buf, every_n)
        # zero-length clips (or all frames skipped) must not poison the
        # batch: emit zeros, not NaN
        if frames.size == 0:
            return frames.shape[0], 0, 0
        return (
            frames.shape[0],
            int(frames.mean() * 1000),
            int(frames.std() * 1000),
        )

    return map_rows(
        df,
        ["bytes"],
        [
            StructField("n_sampled_frames", LongType()),
            StructField("mean_luma_milli", LongType()),
            StructField("std_luma_milli", LongType()),
        ],
        row,
    ).withColumn("decoder", F.lit("real"))


def audio_features(df: DataFrame) -> DataFrame:
    """Per-clip features: RMS energy + zero-crossing count over the first
    second. Parses the ``bytes`` column (PCM16 WAV via the stdlib reader),
    trusting the decoded header's sample rate for the one-second window.
    The ``decoder`` column records the decode path: always 'real'."""

    def row(buf):
        x, rate = decode_audio(buf)
        x = x[:rate]  # first second, per the DECODED header
        if x.size == 0:  # zero-rate/empty clip: zeros, not NaN
            return 0, 0
        return (
            int(np.sqrt(np.mean(x * x)) * 1000),
            int(np.sum(np.abs(np.diff(np.signbit(x))))),
        )

    return map_rows(
        df,
        ["bytes"],
        [
            StructField("rms_milli", LongType()),
            StructField("zero_crossings", LongType()),
        ],
        row,
    ).withColumn("decoder", F.lit("real"))


def _luma_i64(px: "np.ndarray") -> "np.ndarray":
    """Integer BT.601 luma (299R+587G+114B)//1000 of a decoded (h, w, 3)
    uint8 image, as int64 — the gray level every per-tile stat reads."""
    return (
        px[..., 0].astype(np.int64) * 299
        + px[..., 1].astype(np.int64) * 587
        + px[..., 2].astype(np.int64) * 114
    ) // 1000


def _per_tile(
    df: DataFrame, features_np: Callable[[np.ndarray], tuple], names: list[str]
) -> DataFrame:
    """(tile_kind, *names): ``features_np`` of each decoded tile."""
    return map_rows(
        df,
        ["bytes"],
        [StructField(n, LongType()) for n in names],
        lambda buf: features_np(decode_px(buf)),
        keep=["tile_kind"],
    )


# ---------------------------------------------------------------------------
# R223: GLCM texture features (Haralick 1973) — the classic image-texture
# descriptor, exact and integer: per decoded tile, integer-luma gray
# (299R+587G+114B)//1000, 8-level quantization (>>5), the directed
# gray-level co-occurrence matrix for the right-neighbor offset (0,1),
# and the unnormalized Haralick reductions — contrast SUM c_ij(i-j)^2,
# angular-second-moment SUM c_ij^2, and milli-floored homogeneity
# SUM (1000 c_ij)//(1+|i-j|) — all bigints, so the per-kind rollup is
# aggregation-order-proof. Scale: one Arrow mapInPandas decode pass
# (the S6 extraction-worker shape), features reduce per tile inside
# the batch; only 5 integers per tile leave the worker.
# ---------------------------------------------------------------------------

GLCM_SCHEMA_FIELDS = ["n_pairs", "contrast", "energy", "hom_milli"]


def glcm_features_np(px: "np.ndarray") -> tuple[int, int, int, int]:
    """numpy reference: (n_pairs, contrast, energy, hom_milli) for one
    decoded (h, w, 3) uint8 image — the same arithmetic the Spark pass
    runs (used verbatim by the pytest oracle)."""
    gray = _luma_i64(px)
    q = gray >> 5  # 8 levels
    a, b = q[:, :-1], q[:, 1:]
    idx = a * 8 + b
    c = np.bincount(idx.ravel(), minlength=64).astype(np.int64)
    i, j = np.divmod(np.arange(64), 8)
    contrast = int((c * (i - j) ** 2).sum())
    energy = int((c * c).sum())
    hom = int(((1000 * c) // (1 + np.abs(i - j))).sum())
    return int(a.size), contrast, energy, hom


def glcm_texture(df: DataFrame) -> DataFrame:
    """Per-kind GLCM texture rollup over decoded tiles:
    (tile_kind, n_tiles, n_pairs, contrast, energy, hom_milli)."""
    feats = _per_tile(df, glcm_features_np, GLCM_SCHEMA_FIELDS)
    return feats.groupBy("tile_kind").agg(
        F.count("*").cast("bigint").alias("n_tiles"),
        F.expr("CAST(sum(n_pairs) AS BIGINT)").alias("n_pairs"),
        F.expr("CAST(sum(contrast) AS BIGINT)").alias("contrast"),
        F.expr("CAST(sum(energy) AS BIGINT)").alias("energy"),
        F.expr("CAST(sum(hom_milli) AS BIGINT)").alias("hom_milli"),
    )


# ---------------------------------------------------------------------------
# R254: Otsu threshold per tile. Reference analog: the reference's
# per-format extraction workers compute per-file structural summaries
# (ast_cache.py:581-593); here the classic CV auto-threshold (Otsu
# 1979) runs per decoded tile on a 6-bit luma histogram. Deterministic
# integer definition (floored milli class means, squared separation
# weighted by w0*w1; ties -> smallest threshold) — chosen so every
# intermediate stays far under 2^63 for 128x128 tiles and the numpy
# reference replays it bit-for-bit. Only 4 integers per tile leave the
# Arrow worker.
# ---------------------------------------------------------------------------

OTSU_SCHEMA_FIELDS = ["thr", "sep_q", "fg_px"]


def otsu_features_np(px: "np.ndarray") -> tuple[int, int, int]:
    """numpy reference: (thr, sep_q, fg_px) for one decoded (h, w, 3)
    uint8 image. 6-bit luma histogram; sep_q = w0*w1*(mu0-mu1)^2 with
    mu in floored milli-levels; argmax with smallest-t tie-break."""
    gray = _luma_i64(px)
    q = gray >> 2  # 6-bit levels 0..63
    hist = np.bincount(q.ravel(), minlength=64).astype(np.int64)
    n = int(hist.sum())
    s = int((hist * np.arange(64, dtype=np.int64)).sum())
    w0 = np.cumsum(hist)[:-1]  # t = 0..62: class0 = levels <= t
    s0 = np.cumsum(hist * np.arange(64, dtype=np.int64))[:-1]
    valid = (w0 > 0) & (w0 < n)
    mu0 = np.zeros(63, dtype=np.int64)
    mu1 = np.zeros(63, dtype=np.int64)
    mu0[valid] = (1000 * s0[valid]) // w0[valid]
    mu1[valid] = (1000 * (s - s0[valid])) // (n - w0[valid])
    sep = np.where(valid, w0 * (n - w0) * (mu0 - mu1) ** 2, -1)
    thr = int(np.argmax(sep))  # argmax takes the FIRST max: smallest t
    fg = int(n - w0[thr])
    return thr, int(sep[thr]), fg


def otsu_stats(df: DataFrame) -> DataFrame:
    """Per-kind Otsu rollup over decoded tiles: (tile_kind, n_tiles,
    sum_thr, min_thr, max_thr, sum_sep_q, fg_milli)."""
    feats = _per_tile(df, otsu_features_np, OTSU_SCHEMA_FIELDS)
    tot = df.selectExpr(
        "tile_kind", "CAST(w AS BIGINT) * CAST(h AS BIGINT) AS px"
    ).groupBy("tile_kind").agg(
        F.expr("CAST(sum(px) AS BIGINT)").alias("total_px")
    )
    agg = feats.groupBy("tile_kind").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_tiles"),
        F.expr("CAST(sum(thr) AS BIGINT)").alias("sum_thr"),
        F.expr("CAST(min(thr) AS BIGINT)").alias("min_thr"),
        F.expr("CAST(max(thr) AS BIGINT)").alias("max_thr"),
        F.expr("CAST(sum(sep_q) AS BIGINT)").alias("sum_sep_q"),
        F.expr("CAST(sum(fg_px) AS BIGINT)").alias("fg_px"),
    )
    return agg.join(tot, "tile_kind").selectExpr(
        "tile_kind", "n_tiles", "sum_thr", "min_thr", "max_thr",
        "sum_sep_q", "(1000 * fg_px) DIV total_px AS fg_milli",
    )


# ---------------------------------------------------------------------------
# R255: Sobel gradient / edge-density stats per tile. The standard 3x3
# Sobel kernels on integer luma, L1 gradient magnitude (|Gx| + |Gy| —
# the classic fast approximation, exactly integer), edge = magnitude
# >= 512 (a mid-range fixed threshold: max |Gx|+|Gy| = 2040). Interior
# pixels only — no padding policy to disagree on.
# ---------------------------------------------------------------------------

SOBEL_SCHEMA_FIELDS = ["n_interior", "grad_sum", "edges"]


def sobel_features_np(px: "np.ndarray") -> tuple[int, int, int]:
    """numpy reference: (n_interior, grad_sum, edges) for one decoded
    (h, w, 3) uint8 image."""
    g = _luma_i64(px)
    gx = (
        g[:-2, 2:] + 2 * g[1:-1, 2:] + g[2:, 2:]
        - g[:-2, :-2] - 2 * g[1:-1, :-2] - g[2:, :-2]
    )
    gy = (
        g[2:, :-2] + 2 * g[2:, 1:-1] + g[2:, 2:]
        - g[:-2, :-2] - 2 * g[:-2, 1:-1] - g[:-2, 2:]
    )
    mag = np.abs(gx) + np.abs(gy)
    return int(mag.size), int(mag.sum()), int((mag >= 512).sum())


def sobel_stats(df: DataFrame) -> DataFrame:
    """Per-kind Sobel rollup: (tile_kind, n_tiles, n_interior,
    grad_sum, edges, edge_milli, mean_grad_milli)."""
    feats = _per_tile(df, sobel_features_np, SOBEL_SCHEMA_FIELDS)
    return feats.groupBy("tile_kind").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_tiles"),
        F.expr("CAST(sum(n_interior) AS BIGINT)").alias("n_interior"),
        F.expr("CAST(sum(grad_sum) AS BIGINT)").alias("grad_sum"),
        F.expr("CAST(sum(edges) AS BIGINT)").alias("edges"),
    ).selectExpr(
        "tile_kind", "n_tiles", "n_interior", "grad_sum", "edges",
        "(1000 * edges) DIV n_interior AS edge_milli",
        "(1000 * grad_sum) DIV n_interior AS mean_grad_milli",
    )


# ---------------------------------------------------------------------------
# R256: radial luma (vignetting) profile. Three concentric zones by
# exact integer squared distance from the doubled-coordinate center
# (dy2 = 2r - (h-1): no half-pixel floats anywhere): zone 0 if
# 9*d2 <= D2, zone 1 if 9*d2 <= 4*D2, else 2, with D2 = (h-1)^2 +
# (w-1)^2. Per-zone luma sums detect center-bright/edge-dark bias —
# the image-QA vignetting screen.
# ---------------------------------------------------------------------------

# per tile: (n_px, luma_sum) of zones 0, 1 and 2, stacked back into rows
RADIAL_SCHEMA_FIELDS = [
    "n_px0", "luma_sum0", "n_px1", "luma_sum1", "n_px2", "luma_sum2",
]


def radial_profile_np(px: "np.ndarray") -> list[tuple[int, int, int]]:
    """numpy reference: [(zone, n_px, luma_sum)] for one decoded
    (h, w, 3) uint8 image."""
    h, w = px.shape[:2]
    g = _luma_i64(px)
    ys = 2 * np.arange(h, dtype=np.int64)[:, None] - (h - 1)
    xs = 2 * np.arange(w, dtype=np.int64)[None, :] - (w - 1)
    d2 = ys * ys + xs * xs
    big = (h - 1) ** 2 + (w - 1) ** 2
    zone = np.where(9 * d2 <= 4 * big, np.where(9 * d2 <= big, 0, 1), 2)
    out = []
    for z in (0, 1, 2):
        m = zone == z
        out.append((z, int(m.sum()), int(g[m].sum())))
    return out


def radial_profile(df: DataFrame) -> DataFrame:
    """Per-(kind, zone) luma rollup: (tile_kind, zone, n_tiles, n_px,
    luma_sum, mean_luma_milli)."""
    feats = _per_tile(
        df,
        lambda px: tuple(
            v for _z, n, s in radial_profile_np(px) for v in (n, s)
        ),
        RADIAL_SCHEMA_FIELDS,
    ).selectExpr(
        "tile_kind",
        "stack(3, 0L, n_px0, luma_sum0, 1L, n_px1, luma_sum1,"
        " 2L, n_px2, luma_sum2) AS (zone, n_px, luma_sum)",
    )
    return feats.groupBy("tile_kind", "zone").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_tiles"),
        F.expr("CAST(sum(n_px) AS BIGINT)").alias("n_px"),
        F.expr("CAST(sum(luma_sum) AS BIGINT)").alias("luma_sum"),
    ).selectExpr(
        "tile_kind", "zone", "n_tiles", "n_px", "luma_sum",
        "(1000 * luma_sum) DIV (255 * n_px) AS mean_luma_milli",
    )


# ---------------------------------------------------------------------------
# R304: connected-component blob census per tile — the morphology-level
# CV op beside otsu (threshold), sobel (edges), glcm (texture): Otsu's
# foreground mask labeled into 4-connected blobs. Labeling is the
# vectorized min-label propagation (labels start as pixel indices;
# each pass takes the min over the 4-neighborhood inside the mask until
# fixpoint) — deterministic, pure numpy, no scipy. Per tile only 3
# integers leave the Arrow worker: n_blobs, largest blob px, fg px.
# ---------------------------------------------------------------------------

BLOB_SCHEMA_FIELDS = ["n_blobs", "max_blob", "fg_px"]


def blob_features_np(px: "np.ndarray") -> tuple[int, int, int]:
    """numpy reference: (n_blobs, max_blob, fg_px) for one decoded
    (h, w, 3) uint8 image — 4-connected components of the Otsu
    foreground (levels > thr, same convention as otsu_features_np)."""
    gray = _luma_i64(px)
    q = gray >> 2
    thr, _sep, _fg = otsu_features_np(px)
    mask = q > thr
    if not mask.any():
        return 0, 0, 0
    h, w = mask.shape
    lab = np.where(
        mask, np.arange(h * w, dtype=np.int64).reshape(h, w), h * w
    )
    big = h * w
    while True:
        nxt = lab.copy()
        nxt[1:, :] = np.minimum(nxt[1:, :], lab[:-1, :])
        nxt[:-1, :] = np.minimum(nxt[:-1, :], lab[1:, :])
        nxt[:, 1:] = np.minimum(nxt[:, 1:], lab[:, :-1])
        nxt[:, :-1] = np.minimum(nxt[:, :-1], lab[:, 1:])
        nxt = np.where(mask, nxt, big)
        if np.array_equal(nxt, lab):
            break
        lab = nxt
    roots = lab[mask]
    _, counts = np.unique(roots, return_counts=True)
    return int(counts.size), int(counts.max()), int(mask.sum())


def blob_stats(df: DataFrame) -> DataFrame:
    """Per-kind blob rollup: (tile_kind, n_tiles, sum_blobs, max_blob,
    fg_px, blobs_per_tile_milli, mean_blob_px_milli)."""
    feats = _per_tile(df, blob_features_np, BLOB_SCHEMA_FIELDS)
    return (
        feats.groupBy("tile_kind")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_tiles"),
            F.expr("CAST(sum(n_blobs) AS BIGINT)").alias("sum_blobs"),
            F.expr("CAST(max(max_blob) AS BIGINT)").alias("max_blob"),
            F.expr("CAST(sum(fg_px) AS BIGINT)").alias("fg_px"),
        )
        .selectExpr(
            "tile_kind", "n_tiles", "sum_blobs", "max_blob", "fg_px",
            "(1000 * sum_blobs) DIV n_tiles AS blobs_per_tile_milli",
            "CASE WHEN sum_blobs = 0 THEN 0"
            " ELSE (1000 * fg_px) DIV sum_blobs END AS mean_blob_px_milli",
        )
    )


# ---------------------------------------------------------------------------
# R323: Harris-Stephens corner response per tile (Harris 1988). Integer-
# exact house form: Sobel gradients on integer luma, 3x3 box-summed
# structure tensor (Sxx, Syy, Sxy) over the interior-of-interior, and
# the response written as R20 = 20*det - trace^2 (k = 1/20 cross-
# multiplied away — no floats anywhere). A pixel is a corner when
# R20 > 10^9 (calibrated mid-range on the synthetic corpus: per-tile
# positive fractions span ~0.3-0.99 so the threshold separates). Sum
# of corner responses leaves the worker pre-reduced by DIV 1024 so
# per-kind rollups stay far under 2^63 at any corpus size.
# ---------------------------------------------------------------------------

HARRIS_T = 1_000_000_000

HARRIS_SCHEMA_FIELDS = ["n_resp", "corners", "resp_red", "max_r20"]


def harris_features_np(px: "np.ndarray") -> tuple[int, int, int, int]:
    """numpy reference: (n_resp, corners, resp_red, max_r20) for one
    decoded (h, w, 3) uint8 image. resp_red = sum over corners of
    R20 DIV 1024."""
    g = _luma_i64(px)
    gx = (
        g[:-2, 2:] + 2 * g[1:-1, 2:] + g[2:, 2:]
        - g[:-2, :-2] - 2 * g[1:-1, :-2] - g[2:, :-2]
    )
    gy = (
        g[2:, :-2] + 2 * g[2:, 1:-1] + g[2:, 2:]
        - g[:-2, :-2] - 2 * g[:-2, 1:-1] - g[:-2, 2:]
    )

    def box3(a: "np.ndarray") -> "np.ndarray":
        return (
            a[:-2, :-2] + a[:-2, 1:-1] + a[:-2, 2:]
            + a[1:-1, :-2] + a[1:-1, 1:-1] + a[1:-1, 2:]
            + a[2:, :-2] + a[2:, 1:-1] + a[2:, 2:]
        )

    sxx, syy, sxy = box3(gx * gx), box3(gy * gy), box3(gx * gy)
    r20 = 20 * (sxx * syy - sxy * sxy) - (sxx + syy) ** 2
    corner = r20 > HARRIS_T
    resp_red = int((r20[corner] // 1024).sum()) if corner.any() else 0
    mx = int(r20.max()) if r20.size else 0
    return int(r20.size), int(corner.sum()), resp_red, mx


def harris_stats(df: DataFrame) -> DataFrame:
    """Per-kind Harris corner rollup: (tile_kind, n_tiles, n_resp,
    corners, corner_milli, resp_red, max_r20)."""
    feats = _per_tile(df, harris_features_np, HARRIS_SCHEMA_FIELDS)
    return feats.groupBy("tile_kind").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_tiles"),
        F.expr("CAST(sum(n_resp) AS BIGINT)").alias("n_resp"),
        F.expr("CAST(sum(corners) AS BIGINT)").alias("corners"),
        F.expr("CAST(sum(resp_red) AS BIGINT)").alias("resp_red"),
        F.expr("CAST(max(max_r20) AS BIGINT)").alias("max_r20"),
    ).selectExpr(
        "tile_kind", "n_tiles", "n_resp", "corners",
        "(1000 * corners) DIV n_resp AS corner_milli",
        "resp_red", "max_r20",
    )


# ---------------------------------------------------------------------------
# R324: local binary patterns (Ojala 1996) — the classic micro-texture
# descriptor beside the GLCM family: per interior pixel an 8-bit code
# (clockwise neighbors from top-left, bit set iff neighbor >= center),
# the per-tile 256-bin histogram reduced to (uniform-pattern count,
# energy = sum of squared bin counts, dominant code). "Uniform" = at
# most 2 circular 0/1 transitions (the 58 rotation-robust patterns
# that carry most texture information). All integers; the dominant-
# code argmax ties break to the smallest code (np.argmax first-max).
# ---------------------------------------------------------------------------

_LBP_OFFS = [(-1, -1), (-1, 0), (-1, 1), (0, 1),
             (1, 1), (1, 0), (1, -1), (0, -1)]
_LBP_UNIFORM = np.array(
    [1 if bin(((c << 1) | (c >> 7)) & 0xFF ^ c).count("1") <= 2 else 0
     for c in range(256)],
    dtype=np.int64,
)

LBP_SCHEMA_FIELDS = [
    "n_interior", "uniform_px", "energy", "dom_code", "dom_count",
]


def lbp_features_np(px: "np.ndarray") -> tuple[int, int, int, int, int]:
    """numpy reference: (n_interior, uniform_px, energy, dom_code,
    dom_count) for one decoded (h, w, 3) uint8 image."""
    g = _luma_i64(px)
    c = g[1:-1, 1:-1]
    code = np.zeros_like(c)
    for bit, (dy, dx) in enumerate(_LBP_OFFS):
        nb = g[1 + dy:g.shape[0] - 1 + dy, 1 + dx:g.shape[1] - 1 + dx]
        code |= (nb >= c).astype(np.int64) << bit
    hist = np.bincount(code.ravel(), minlength=256).astype(np.int64)
    uniform = int((hist * _LBP_UNIFORM).sum())
    energy = int((hist * hist).sum())
    dom = int(np.argmax(hist))
    return int(c.size), uniform, energy, dom, int(hist[dom])


def lbp_stats(df: DataFrame) -> DataFrame:
    """Per-kind LBP texture rollup: (tile_kind, n_tiles, n_interior,
    uniform_px, uniform_milli, energy, dom_code_min, dom_code_max,
    dom_count)."""
    feats = _per_tile(df, lbp_features_np, LBP_SCHEMA_FIELDS)
    return feats.groupBy("tile_kind").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_tiles"),
        F.expr("CAST(sum(n_interior) AS BIGINT)").alias("n_interior"),
        F.expr("CAST(sum(uniform_px) AS BIGINT)").alias("uniform_px"),
        F.expr("CAST(sum(energy) AS BIGINT)").alias("energy"),
        F.expr("CAST(min(dom_code) AS BIGINT)").alias("dom_code_min"),
        F.expr("CAST(max(dom_code) AS BIGINT)").alias("dom_code_max"),
        F.expr("CAST(sum(dom_count) AS BIGINT)").alias("dom_count"),
    ).selectExpr(
        "tile_kind", "n_tiles", "n_interior", "uniform_px",
        "(1000 * uniform_px) DIV n_interior AS uniform_milli",
        "energy", "dom_code_min", "dom_code_max", "dom_count",
    )


# ---------------------------------------------------------------------------
# R325: integer image moments (Hu 1962 precursors) — luma-weighted raw
# moments m00/m10/m01, FLOORED centroid (the engine's floored-mean
# discipline), and exact central second moments mu20/mu02/mu11 about
# that integer centroid. The anisotropy certificates (mu20 > mu02;
# mu11 > 0) classify each tile's dominant intensity orientation with
# no atan2 ever formed. x = column, y = row.
# ---------------------------------------------------------------------------

MOMENTS_SCHEMA_FIELDS = ["m00", "cx", "cy", "mu20", "mu02", "mu11"]


def moments_features_np(
    px: "np.ndarray",
) -> tuple[int, int, int, int, int, int]:
    """numpy reference: (m00, cx, cy, mu20, mu02, mu11) for one decoded
    (h, w, 3) uint8 image — floored integer centroid, exact central
    second moments about it."""
    g = _luma_i64(px)
    h, w = g.shape
    ys = np.arange(h, dtype=np.int64)[:, None]
    xs = np.arange(w, dtype=np.int64)[None, :]
    m00 = int(g.sum())
    m10 = int((g * xs).sum())
    m01 = int((g * ys).sum())
    cx = m10 // max(m00, 1)
    cy = m01 // max(m00, 1)
    mu20 = int((g * (xs - cx) ** 2).sum())
    mu02 = int((g * (ys - cy) ** 2).sum())
    mu11 = int((g * (xs - cx) * (ys - cy)).sum())
    return m00, cx, cy, mu20, mu02, mu11


def moments_stats(df: DataFrame) -> DataFrame:
    """Per-kind image-moment rollup: (tile_kind, n_tiles, m00_sum,
    cx_sum, cy_sum, mu20_sum, mu02_sum, mu11_sum, aniso_x_tiles,
    mu11_pos_tiles)."""
    feats = _per_tile(df, moments_features_np, MOMENTS_SCHEMA_FIELDS)
    return feats.groupBy("tile_kind").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_tiles"),
        F.expr("CAST(sum(m00) AS BIGINT)").alias("m00_sum"),
        F.expr("CAST(sum(cx) AS BIGINT)").alias("cx_sum"),
        F.expr("CAST(sum(cy) AS BIGINT)").alias("cy_sum"),
        F.expr("CAST(sum(mu20) AS BIGINT)").alias("mu20_sum"),
        F.expr("CAST(sum(mu02) AS BIGINT)").alias("mu02_sum"),
        F.expr("CAST(sum(mu11) AS BIGINT)").alias("mu11_sum"),
        F.expr(
            "CAST(sum(CASE WHEN mu20 > mu02 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("aniso_x_tiles"),
        F.expr(
            "CAST(sum(CASE WHEN mu11 > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("mu11_pos_tiles"),
    )


# ---------------------------------------------------------------------------
# R337: 3x3 median-filter denoise statistics (Tukey 1977 — the classic
# edge-preserving smoother). Per interior pixel the exact median of
# the 9-neighborhood luma (9 values: the 5th order statistic of a
# sorted integer stack — no interpolation rule to disagree on); the
# per-tile outputs are the count of pixels the filter CHANGES, the
# total absolute change mass, and the max single-pixel change —
# the denoisability profile of the corpus. Integer-exact; numpy
# reference replays bit-for-bit.
# ---------------------------------------------------------------------------

MEDIAN3_SCHEMA_FIELDS = ["n_interior", "changed", "change_mass", "max_change"]


def median3_features_np(px: "np.ndarray") -> tuple[int, int, int, int]:
    """numpy reference: (n_interior, changed, change_mass, max_change)
    for one decoded (h, w, 3) uint8 image."""
    g = _luma_i64(px)
    stack = np.stack([
        g[1 + dy:g.shape[0] - 1 + dy, 1 + dx:g.shape[1] - 1 + dx]
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)
    ])
    med = np.sort(stack, axis=0)[4]
    diff = np.abs(med - g[1:-1, 1:-1])
    return (
        int(diff.size), int((diff > 0).sum()), int(diff.sum()),
        int(diff.max()) if diff.size else 0,
    )


def median3_stats(df: DataFrame) -> DataFrame:
    """Per-kind median-filter rollup: (tile_kind, n_tiles, n_interior,
    changed, changed_milli, change_mass, max_change)."""
    feats = _per_tile(df, median3_features_np, MEDIAN3_SCHEMA_FIELDS)
    return feats.groupBy("tile_kind").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_tiles"),
        F.expr("CAST(sum(n_interior) AS BIGINT)").alias("n_interior"),
        F.expr("CAST(sum(changed) AS BIGINT)").alias("changed"),
        F.expr("CAST(sum(change_mass) AS BIGINT)").alias("change_mass"),
        F.expr("CAST(max(max_change) AS BIGINT)").alias("max_change"),
    ).selectExpr(
        "tile_kind", "n_tiles", "n_interior", "changed",
        "(1000 * changed) DIV n_interior AS changed_milli",
        "change_mass", "max_change",
    )


# ---------------------------------------------------------------------------
# R342: blur metric — variance of the Laplacian (the standard focus /
# blur detector, Pech-Pacheco 2000): 4-neighbor integer Laplacian
# L = 4g - g_N - g_S - g_E - g_W on interior luma, per-tile variance
# about the FLOORED mean (python floor semantics — L can be negative,
# the numpy reference uses // consistently). Sharp tiles score high,
# smooth/blurred tiles low; the per-kind rollup carries the blurriest
# and sharpest tile scores so degraded subsets stand out.
# ---------------------------------------------------------------------------

BLUR_SCHEMA_FIELDS = ["n_interior", "var_mean", "abs_mass"]


def blur_features_np(px: "np.ndarray") -> tuple[int, int, int]:
    """numpy reference: (n_interior, var_mean, abs_mass) for one
    decoded (h, w, 3) uint8 image. var_mean = floor of the Laplacian
    variance about its floored mean."""
    g = _luma_i64(px)
    lap = (
        4 * g[1:-1, 1:-1]
        - g[:-2, 1:-1] - g[2:, 1:-1] - g[1:-1, :-2] - g[1:-1, 2:]
    )
    n = lap.size
    m = int(lap.sum()) // n
    var = int(((lap - m) ** 2).sum()) // n
    return int(n), var, int(np.abs(lap).sum())


def blur_stats(df: DataFrame) -> DataFrame:
    """Per-kind blur rollup: (tile_kind, n_tiles, n_interior,
    sharpest, blurriest, var_mean_sum, abs_mass)."""
    feats = _per_tile(df, blur_features_np, BLUR_SCHEMA_FIELDS)
    return feats.groupBy("tile_kind").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_tiles"),
        F.expr("CAST(sum(n_interior) AS BIGINT)").alias("n_interior"),
        F.expr("CAST(max(var_mean) AS BIGINT)").alias("sharpest"),
        F.expr("CAST(min(var_mean) AS BIGINT)").alias("blurriest"),
        F.expr("CAST(sum(var_mean) AS BIGINT)").alias("var_mean_sum"),
        F.expr("CAST(sum(abs_mass) AS BIGINT)").alias("abs_mass"),
    )
