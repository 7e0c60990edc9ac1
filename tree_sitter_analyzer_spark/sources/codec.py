"""Deterministic raster codec + vectorized pixel pipeline.

The container ships no image library (PIL/cv2 absent), so per FIXTURES.md
and the task brief the *codec* is a clearly-marked deterministic fake while
all Spark-side plumbing — schema, Arrow batching, UDF signatures, batch
shapes — is real and tested. Swapping in libjpeg/libpng later changes ONLY
``encode_px`` / ``decode_px``.

Formats (both carry a 12-byte header: magic, w, h):
- ``png``  — GPNG: lossless, raw uint8 HxWx3 payload. decode(encode(x)) == x.
- ``jpeg`` — GJPG: lossy, pixels quantized to multiples of 4 (round-to-
  nearest). Max abs error 2 → PSNR ≈ 47 dB, comfortably over the
  input_hint's ≥40 dB gate, and deterministic across executors (pure
  numpy integer math — the "pin libjpeg version" problem from SURVEY.md
  §7.3 is designed out).

Pixels themselves are synthesized per image_id (seeded Philox) as smooth
gradients + noise (FIXTURES.md §1). phash is an 8×8 average-hash over a
box-downsampled grayscale — 64-bit, pure numpy.

Every per-row media pass in ``sources/`` is a row function handed to
``map_rows``, the one ``mapInPandas`` call (Arrow batches in, scalar
columns out). This module is the engine's "extraction worker"
(``ast_cache.py:581-593`` — spawn-pool ``_worker_index_file``): the
reference parses source files in parallel workers; we decode/encode tiles
in parallel Arrow batches.
"""

from __future__ import annotations

import struct
from collections.abc import Callable
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MAGIC_PNG = b"GPNG"
MAGIC_JPG = b"GJPG"
HEADER = struct.Struct("<4sii")  # magic, w, h


# ---------------------------------------------------------------------------
# numpy core (shared by the Spark UDFs and the test oracle)
# ---------------------------------------------------------------------------

@lru_cache(maxsize=64)
def _gradient_base(w: int, h: int) -> np.ndarray:
    """Shared smooth-gradient base per shape (only a handful of shapes
    exist); cached so per-image work is just seeded noise + clip."""
    yy, xx = np.mgrid[0:h, 0:w]
    return (
        (xx * 255.0 / max(w - 1, 1))[..., None] * np.array([1.0, 0.5, 0.25])
        + (yy * 255.0 / max(h - 1, 1))[..., None] * np.array([0.25, 0.5, 1.0])
    ) / 1.25


def synth_pixels(image_id: str, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 image for an image_id: smooth gradient
    + seeded noise. Seed = the integer suffix of the id, so any executor
    reproduces the same pixels (bit-stable extraction)."""
    seed = int(image_id.rsplit("_", 1)[-1])
    rng = np.random.Generator(np.random.Philox(seed))
    noise = rng.integers(-12, 13, size=(h, w, 3))
    return np.clip(_gradient_base(w, h) + noise, 0, 255).astype(np.uint8)


def encode_px(px: np.ndarray, fmt: str) -> bytes:
    h, w = px.shape[:2]
    if fmt == "png":
        return HEADER.pack(MAGIC_PNG, w, h) + px.tobytes()
    if fmt == "jpeg":
        # Round to multiples of 4, clamped so 254/255 don't wrap past 255
        # (max abs error 3 at the top of the range, 2 elsewhere → PSNR ≈ 47 dB).
        q = np.minimum((px.astype(np.uint16) + 2) >> 2 << 2, 252).astype(np.uint8)
        return HEADER.pack(MAGIC_JPG, w, h) + q.tobytes()
    raise NotImplementedError(
        f"fmt {fmt!r}: real codecs (libjpeg/libpng/webp) are not available "
        "in this container; plug them in here."
    )


def decode_px(buf: bytes) -> np.ndarray:
    magic, w, h = HEADER.unpack_from(buf)
    if magic not in (MAGIC_PNG, MAGIC_JPG):
        raise NotImplementedError(f"unknown magic {magic!r}")
    px = np.frombuffer(buf, dtype=np.uint8, offset=HEADER.size)
    return px.reshape(h, w, 3)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0 * 255.0 / mse))


def phash64(px: np.ndarray) -> int:
    """8×8 average hash: grayscale → box-downsample → bit per cell above
    mean. Returns signed int64 (Spark/parquet have no uint64)."""
    g = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = g.shape
    # Box downsample to 8×8 via reshaped means (w, h are multiples of 8
    # for all synthetic sizes; general case pads).
    if h % 8 or w % 8:
        ph, pw = (-h) % 8, (-w) % 8
        g = np.pad(g, ((0, ph), (0, pw)), mode="edge")
        h, w = g.shape
    cells = g.reshape(8, h // 8, 8, w // 8).mean(axis=(1, 3))
    bits = (cells > cells.mean()).flatten()
    return int.from_bytes(np.packbits(bits).tobytes(), "big", signed=True)


# ---------------------------------------------------------------------------
# Spark layer — Arrow-batched, schema-typed
# ---------------------------------------------------------------------------

def map_rows(
    df: DataFrame,
    reads: list[str],
    fields: list[StructField],
    fn: Callable[..., tuple],
    keep: list[str] | None = None,
) -> DataFrame:
    """The per-row media pass: ``fn(*row)`` over the ``reads`` columns of
    each row returns one value per output field.

    Output is the ``keep`` columns (default: every input column not named
    by a field) followed by ``fields``. Only the read and kept columns
    cross into the Arrow batches. The loop over rows is unavoidable for
    variable-shaped payloads, exactly like any real codec call; the heavy
    axis (pixels, samples) is vectorized inside ``fn``.
    """
    names = [f.name for f in fields]
    if keep is None:
        keep = [c for c in df.columns if c not in names]
    cols = list(dict.fromkeys([*keep, *reads]))
    if cols != df.columns:
        df = df.select(*cols)
    schema = StructType([df.schema[c] for c in keep] + fields)

    def gen(batches):
        for pdf in batches:
            out = pd.DataFrame(
                [fn(*row) for row in zip(*(pdf[c] for c in reads))],
                columns=names,
                index=pdf.index,
            )
            yield pd.concat([pdf[keep], out], axis=1)

    return df.mapInPandas(gen, schema=schema)


def attach_bytes(df: DataFrame) -> DataFrame:
    """Add the ``bytes`` payload column: encode synthetic pixels per row."""
    return map_rows(
        df,
        ["image_id", "w", "h", "fmt"],
        [StructField("bytes", BinaryType())],
        lambda iid, w, h, fmt: (
            encode_px(synth_pixels(iid, int(w), int(h)), fmt),
        ),
    )


def synth_decode_stats_fused(df: DataFrame) -> DataFrame:
    """The extraction pass: synthesize → encode → decode → verify in ONE
    Arrow pass, so the bytes payload never round-trips through Arrow.

    Adds: decoded_ok, px_mean, px_std, pixel_phash (recomputed from the
    decoded pixels), psnr_db (decoded vs the deterministic original —
    the per-row invariant of input_hint: allclose for png ⇒ psnr=inf,
    ≥40 dB for jpeg). A table of real stored bytes would change only
    the first two lines of the row function.
    """

    def row(iid, w, h, fmt):
        orig = synth_pixels(iid, int(w), int(h))
        px = decode_px(encode_px(orig, fmt))
        return (
            bool(px.shape == orig.shape),
            float(px.mean()),
            float(px.std()),
            phash64(px),
            psnr(orig, px),
        )

    return map_rows(
        df,
        ["image_id", "w", "h", "fmt"],
        [
            StructField("decoded_ok", BooleanType()),
            StructField("px_mean", DoubleType()),
            StructField("px_std", DoubleType()),
            StructField("pixel_phash", LongType()),
            StructField("psnr_db", DoubleType()),
        ],
        row,
    )


def crop_stats(df: DataFrame, x0: int, y0: int, x1: int, y1: int) -> DataFrame:
    """Partial read (SURVEY.md P7 — read_partial_tool's [line,col]-range
    slicing, pixel form): decode only the requested pixel window and emit
    its stats. Out-of-range windows clamp to the image (the reference
    clamps line ranges the same way)."""

    def row(buf):
        px = decode_px(buf)
        h, w = px.shape[:2]
        win = px[min(y0, h):min(y1, h), min(x0, w):min(x1, w)]
        return (
            int(win.shape[1]),
            int(win.shape[0]),
            float(win.mean()) if win.size else 0.0,
        )

    return map_rows(
        df,
        ["bytes"],
        [
            StructField("crop_w", LongType()),
            StructField("crop_h", LongType()),
            StructField("crop_mean", DoubleType()),
        ],
        row,
    )


# ---------------------------------------------------------------------------
# R52: per-tile image feature extraction (edge / gradient / histogram)
# ---------------------------------------------------------------------------
#
# The classic raster feature pass a training pipeline runs before filtering
# imagery: Sobel gradient energy (blur/texture proxy), edge density, and
# the luma histogram shape (contrast / dynamic-range proxy). ALL-INTEGER
# math (int32 convolution, mag² threshold — no sqrt, integer luma
# (77R+150G+29B)>>8, bin = luma>>4) so every executor and the numpy test
# oracle produce bit-identical features. Rows-only for the driver (pixels
# aren't SQL-reachable); tests/test_codec.py pins exact values against an
# independent numpy reference.

EDGE_MAG2_THRESHOLD = 20000  # |grad| > ~141 on the 0..255*4 Sobel scale


def pixel_feature_row(px: np.ndarray) -> dict:
    """Integer feature vector of one decoded (h, w, 3) uint8 image."""
    r = px[..., 0].astype(np.int32)
    g = px[..., 1].astype(np.int32)
    b = px[..., 2].astype(np.int32)
    luma = (77 * r + 150 * g + 29 * b) >> 8  # 0..255, integer-exact
    # Sobel on the interior (valid convolution, no padding artifacts)
    gx = (
        (luma[:-2, 2:] + 2 * luma[1:-1, 2:] + luma[2:, 2:])
        - (luma[:-2, :-2] + 2 * luma[1:-1, :-2] + luma[2:, :-2])
    )
    gy = (
        (luma[2:, :-2] + 2 * luma[2:, 1:-1] + luma[2:, 2:])
        - (luma[:-2, :-2] + 2 * luma[:-2, 1:-1] + luma[:-2, 2:])
    )
    mag2 = gx * gx + gy * gy
    n_px = int(mag2.size)
    hist = np.bincount((luma >> 4).ravel(), minlength=16)
    dom = int(hist.argmax())
    return {
        "mean_grad_sq": int(mag2.sum(dtype=np.int64)) // max(n_px, 1),
        "edge_frac_milli": 1000
        * int((mag2 > EDGE_MAG2_THRESHOLD).sum())
        // max(n_px, 1),
        "dominant_bin": dom,
        "dominant_share_milli": 1000 * int(hist[dom]) // int(luma.size),
        "nonzero_bins": int((hist > 0).sum()),
    }


_FEATURE_FIELDS = [
    "mean_grad_sq",
    "edge_frac_milli",
    "dominant_bin",
    "dominant_share_milli",
    "nonzero_bins",
]


def synth_pixel_features_fused(df: DataFrame) -> DataFrame:
    """Fused synthesize → encode → decode → feature pass (one Arrow pass,
    same single-hop discipline as synth_decode_stats_fused): emits the
    integer feature columns for each tile. Production path decodes real
    ``bytes`` instead of synthesizing — only the first line of the row
    function changes."""

    def row(iid, w, h, fmt):
        feats = pixel_feature_row(
            decode_px(encode_px(synth_pixels(iid, int(w), int(h)), fmt))
        )
        return tuple(feats[f] for f in _FEATURE_FIELDS)

    return map_rows(
        df,
        ["image_id", "w", "h", "fmt"],
        [StructField(f, LongType()) for f in _FEATURE_FIELDS],
        row,
    )


# ---------------------------------------------------------------------------
# R135: pixel-level verification of phash candidate pairs — the north
# rule's per-row invariant (decoded-pixel allclose / PSNR >= 40 dB for
# lossy) promoted from a test assertion to a queryable operator, shaped
# like the two-phase dedup tiers: cheap content-keyed candidates (phash
# band join) → expensive exact verify (decode BOTH sides, integer SSE)
# on candidates only. PSNR >= 40 dB is evaluated log-free as the exact
# rational  400·sse <= 2601·n_subpx  (mse <= 255²/10⁴ = 2601/400), so
# the verdict is bit-deterministic. Payload bytes are attached ONLY to
# images that appear in a candidate pair (semi-join reduction before
# the decode — at 10^12 rows the decode pass reads a vanishing fraction
# of the corpus).
# ---------------------------------------------------------------------------

def pair_pixel_verify(pairs_with_bytes: DataFrame) -> DataFrame:
    """(image_a, image_b, hamming, n_subpx, sse, mse_milli, psnr40_ok,
    verdict) per candidate pair — exact integer pixel comparison.
    verdict: exact | near40 | differs | shape_mismatch."""

    def row(ba, bb):
        pa, pb = decode_px(ba), decode_px(bb)
        if pa.shape != pb.shape:
            return 0, 0, -1, False, "shape_mismatch"
        d = pa.astype(np.int64) - pb.astype(np.int64)
        sse = int((d * d).sum())
        n = int(pa.size)
        ok = 400 * sse <= 2601 * n
        verdict = "exact" if sse == 0 else ("near40" if ok else "differs")
        return n, sse, 1000 * sse // n, ok, verdict

    return map_rows(
        pairs_with_bytes,
        ["bytes_a", "bytes_b"],
        [
            StructField("n_subpx", LongType()),
            StructField("sse", LongType()),
            StructField("mse_milli", LongType()),
            StructField("psnr40_ok", BooleanType()),
            StructField("verdict", StringType()),
        ],
        row,
        keep=["image_a", "image_b", "hamming"],
    )
