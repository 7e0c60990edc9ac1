"""Codec + pixel-invariant tests (FIXTURES.md §4/§5; input_hint gates).

Property tests mirror the reference's encode/decode round-trip suite
(tests/property/test_encoding_micro.py): lossless exactness, lossy PSNR
floor, phash determinism, grid hierarchy consistency.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tree_sitter_analyzer_spark import grid
from tree_sitter_analyzer_spark.sources import codec

from .conftest import SF_TINY


@given(st.integers(0, 10**9), st.sampled_from([16, 32, 64, 128]),
       st.sampled_from([16, 32, 64, 128]))
@settings(max_examples=25, deadline=None)
def test_png_roundtrip_exact(seed, w, h):
    px = codec.synth_pixels(f"img_{seed:012d}", w, h)
    out = codec.decode_px(codec.encode_px(px, "png"))
    assert np.array_equal(px, out)


@given(st.integers(0, 10**9), st.sampled_from([16, 32, 64, 128]),
       st.sampled_from([16, 32, 64, 128]))
@settings(max_examples=25, deadline=None)
def test_jpeg_psnr_gate(seed, w, h):
    px = codec.synth_pixels(f"img_{seed:012d}", w, h)
    out = codec.decode_px(codec.encode_px(px, "jpeg"))
    assert np.abs(px.astype(int) - out.astype(int)).max() <= 3
    assert codec.psnr(px, out) >= 40.0


def test_pixels_deterministic_across_calls():
    a = codec.synth_pixels("img_000000000042", 64, 32)
    b = codec.synth_pixels("img_000000000042", 64, 32)
    assert np.array_equal(a, b)


def test_phash_is_int64_and_deterministic():
    px = codec.synth_pixels("img_000000000007", 128, 128)
    v1, v2 = codec.phash64(px), codec.phash64(px)
    assert v1 == v2
    assert -(1 << 63) <= v1 < (1 << 63)


@given(
    st.floats(min_value=-179.9, max_value=179.9),
    st.floats(min_value=-89.9, max_value=89.9),
    st.integers(1, 12),
)
@settings(max_examples=100, deadline=None)
def test_grid_parent_consistency(lon, lat, res):
    """cell_to_parent(latlng_to_cell(p, r), r-1) == latlng_to_cell(p, r-1)."""
    child = grid.np_cell(np.array([lon]), np.array([lat]), res)
    parent_direct = grid.np_cell(np.array([lon]), np.array([lat]), res - 1)
    parent_derived = grid.np_parent(child, res, res - 1)
    assert parent_direct[0] == parent_derived[0]


def test_ingest_pipeline_invariants(spark):
    """Full extraction at sf0.001: zero decode failures, zero PSNR or
    caption violations — the audit job with target 0 (SURVEY.md §5.9) —
    and, on a sample of both formats, each tile's decode stats equal a
    local numpy replay of synthesize → encode → decode."""
    from tree_sitter_analyzer_spark.operators import ingest

    ext = ingest.extract_tiles(spark, SF_TINY)
    summary = ingest.ingest_summary(ext).collect()
    assert len(summary) == 2  # png + jpeg
    for row in summary:
        assert row["n_decode_fail"] == 0, row
        assert row["n_psnr_violations"] == 0, row
        assert row["n_caption_violations"] == 0, row
        if row["fmt"] == "jpeg":
            assert row["min_psnr_db"] >= 40.0

    sample = (
        ext.where("i % 97 < 5")
        .select("image_id", "w", "h", "fmt", "decoded_ok", "px_mean",
                "px_std", "pixel_phash", "psnr_db")
        .collect()
    )
    assert {r["fmt"] for r in sample} == {"png", "jpeg"}
    for r in sample:
        orig = codec.synth_pixels(r["image_id"], r["w"], r["h"])
        px = codec.decode_px(codec.encode_px(orig, r["fmt"]))
        assert r["decoded_ok"] is (px.shape == orig.shape)
        assert r["px_mean"] == float(px.mean())
        assert r["px_std"] == float(px.std())
        assert r["pixel_phash"] == codec.phash64(px)
        assert r["psnr_db"] == codec.psnr(orig, px)


def test_spark_cell_matches_numpy_oracle(spark):
    """Spark-computed cell ids == numpy oracle on the same tiles."""
    from tree_sitter_analyzer_spark import synth
    from tree_sitter_analyzer_spark.operators.pip_join import tile_cells

    pdf = (
        tile_cells(synth.tiles_df(spark, "/root/testdata/sf0.001"), res=9)
        .select("lon", "lat", "cell")
        .toPandas()
    )
    expected = grid.np_cell(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 9)
    assert np.array_equal(pdf["cell"].to_numpy(), expected)


def test_crop_stats_window(spark):
    """P7 partial read: crop window stats match a local numpy crop."""
    import pandas as pd
    from tree_sitter_analyzer_spark import synth
    from tree_sitter_analyzer_spark.sources import codec as c

    df = synth.tiles_df(spark, "/root/testdata/sf0.001").limit(20)
    df = c.attach_bytes(df)
    out = c.crop_stats(df, 2, 2, 10, 10).select(
        "image_id", "w", "h", "fmt", "crop_w", "crop_h", "crop_mean"
    ).toPandas()
    assert len(out) == 20
    for _, r in out.iterrows():
        px = c.synth_pixels(r["image_id"], int(r["w"]), int(r["h"]))
        dec = c.decode_px(c.encode_px(px, r["fmt"]))
        win = dec[2:10, 2:10]
        assert r["crop_w"] == win.shape[1] and r["crop_h"] == win.shape[0]
        assert abs(r["crop_mean"] - float(win.mean())) < 1e-9


def test_canonical_sink_deterministic(spark, tmp_path):
    """S8 golden-master discipline: two writes of the same frame produce
    byte-identical single-file CSV."""
    from tree_sitter_analyzer_spark import synth
    from tree_sitter_analyzer_spark.sources.sinks import write_canonical
    import glob

    df = synth.tiles_df(spark, "/root/testdata/sf0.001").select(
        "image_id", "fmt", "phash"
    )
    outs = []
    for i in (1, 2):
        p = str(tmp_path / f"m{i}")
        env = write_canonical(df, p, ["image_id"], fmt="csv", single_file=True)
        assert env["rows"] == 1500
        [f] = glob.glob(p + "/part-*.csv")
        outs.append(open(f, "rb").read())
    assert outs[0] == outs[1]


def _ref_pixel_features(px):
    """Independent numpy reference for pixel_feature_row: explicit-loop
    Sobel (not the vectorized slicing the operator uses) + direct
    histogram — a genuinely different code path."""
    import numpy as np

    px = px.astype(np.int64)
    luma = (77 * px[..., 0] + 150 * px[..., 1] + 29 * px[..., 2]) // 256
    h, w = luma.shape
    KX = np.array([[-1, 0, 1], [-2, 0, 2], [-1, 0, 1]])
    KY = np.array([[-1, -2, -1], [0, 0, 0], [1, 2, 1]])
    n_px = (h - 2) * (w - 2)
    sum_mag2 = 0
    edge_px = 0
    for y in range(1, h - 1):
        for x in range(1, w - 1):
            win = luma[y - 1 : y + 2, x - 1 : x + 2]
            gx = int((KX * win).sum())
            gy = int((KY * win).sum())
            m2 = gx * gx + gy * gy
            sum_mag2 += m2
            if m2 > 20000:
                edge_px += 1
    hist = [0] * 16
    for v in luma.ravel():
        hist[int(v) // 16] += 1
    dom = max(range(16), key=lambda b: (hist[b], -b))
    return {
        "mean_grad_sq": sum_mag2 // n_px,
        "edge_frac_milli": 1000 * edge_px // n_px,
        "dominant_bin": dom,
        "dominant_share_milli": 1000 * hist[dom] // (h * w),
        "nonzero_bins": sum(1 for c in hist if c > 0),
    }


def test_pixel_features_match_numpy_reference():
    """R52: the vectorized integer feature extractor equals a loop-wise
    numpy reference exactly, for both codecs."""
    from tree_sitter_analyzer_spark.sources import codec as c

    for seed, w, h, fmt in [
        ("img_000000000007", 16, 32, "png"),
        ("img_000000000012", 32, 16, "jpeg"),
        ("img_000000000999", 16, 16, "jpeg"),
    ]:
        px = c.decode_px(c.encode_px(c.synth_pixels(seed, w, h), fmt))
        got = c.pixel_feature_row(px)
        assert got == _ref_pixel_features(px), (seed, fmt)


def test_edge_stats_query_spark_matches_local(spark):
    """R52 end-to-end: the fused Spark pass reproduces per-kind rollups
    computed locally from the same deterministic corpus."""
    from collections import defaultdict

    from tree_sitter_analyzer_spark import synth
    from tree_sitter_analyzer_spark.registry import load_all
    from tree_sitter_analyzer_spark.sources import codec as c

    out = (
        load_all()["edge_stats"]
        .spark_fn(spark, "/root/testdata/sf0.001")
        .toPandas()
        .set_index("tile_kind")
        .sort_index()
    )
    rows = (
        synth.tiles_df(spark, "/root/testdata/sf0.001")
        .where("i <= 8000")
        .select("image_id", "w", "h", "fmt", "tile_kind")
        .toPandas()
    )
    acc = defaultdict(list)
    for _, r in rows.iterrows():
        px = c.decode_px(
            c.encode_px(c.synth_pixels(r["image_id"], int(r["w"]), int(r["h"])), r["fmt"])
        )
        acc[r["tile_kind"]].append(c.pixel_feature_row(px))
    assert sorted(acc) == list(out.index)
    for kind, feats in acc.items():
        n = len(feats)
        assert out.loc[kind, "n_tiles"] == n
        assert out.loc[kind, "avg_grad_sq"] == sum(f["mean_grad_sq"] for f in feats) // n
        assert out.loc[kind, "avg_edge_frac_milli"] == (
            sum(f["edge_frac_milli"] for f in feats) // n
        )
        assert out.loc[kind, "max_edge_frac_milli"] == max(
            f["edge_frac_milli"] for f in feats
        )
        assert out.loc[kind, "min_nonzero_bins"] == min(f["nonzero_bins"] for f in feats)
