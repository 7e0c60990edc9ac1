"""Spatial/grid structural property tests (FIXTURES.md §5; reference
tests/property/): random-rectangle PIP vs a pure-numpy oracle, repartition
invariance, grid totality/roundtrip, cover losslessness/maximality, the
zonal ref-point dedup audit. Restored per round-2 ADVICE: the round-2
property-test rewrite dropped these, and no oracle-parity or sweep check
covers repartition invariance or the compaction/grid invariants.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tree_sitter_analyzer_spark import grid, synth
from tree_sitter_analyzer_spark.operators import pip_join

from .conftest import SF_TINY


@pytest.fixture(scope="module")
def tiles_pdf(spark):
    return synth.tiles_df(spark, SF_TINY).select("image_id", "lon", "lat").toPandas()


rect = st.tuples(
    st.floats(139.4, 140.1), st.floats(35.3, 35.9),
    st.floats(0.001, 0.08), st.floats(0.001, 0.08),
)


@given(rect)
@settings(max_examples=10, deadline=None)
def test_random_rect_pip_matches_numpy(spark, tiles_pdf, r):
    """Two-phase cell-join PIP on a random rectangle == numpy predicate
    (the miswire-audit target-0 invariant, SURVEY.md §5.9)."""
    cx, cy, hw, hh = r
    zone = spark.createDataFrame(
        [("z0", "x", cx - hw, cx + hw, cy - hh, cy + hh)],
        "polygon_id STRING, zkind STRING, xmin DOUBLE, xmax DOUBLE, "
        "ymin DOUBLE, ymax DOUBLE",
    )
    tiles = synth.tiles_df(spark, SF_TINY)
    got = {
        row["image_id"]
        for row in pip_join.pip_join(tiles, zone, res=9).select("image_id").collect()
    }
    lon, lat = tiles_pdf["lon"].to_numpy(), tiles_pdf["lat"].to_numpy()
    mask = (
        (lon >= cx - hw) & (lon < cx + hw) & (lat >= cy - hh) & (lat < cy + hh)
    )
    expected = set(tiles_pdf["image_id"].to_numpy()[mask])
    assert got == expected


@pytest.mark.parametrize("n", [1, 4, 17])
def test_pip_join_invariant_under_repartition(spark, n):
    tiles = synth.tiles_df(spark, SF_TINY).repartition(n)
    zones = synth.zones_df(spark)
    rows = (
        pip_join.pip_join(tiles, zones, res=9)
        .groupBy()
        .count()
        .collect()[0]["count"]
    )
    baseline = (
        pip_join.pip_join(synth.tiles_df(spark, SF_TINY), zones, res=9).count()
    )
    assert rows == baseline


@given(
    st.floats(min_value=-179.99, max_value=179.99),
    st.floats(min_value=-89.99, max_value=89.99),
)
@settings(max_examples=200, deadline=None)
def test_grid_totality_and_bounds(lon, lat):
    """Every point maps to exactly one valid cell at every res (mapping
    totality, cf. test_element_type_mapping_property.py)."""
    for res in (0, 7, 9, 12):
        c = int(grid.np_cell(np.array([lon]), np.array([lat]), res)[0])
        assert c // grid.RES_MUL == res
        ix = (c - res * grid.RES_MUL) // grid.IX_MUL
        iy = c % grid.IX_MUL
        assert 0 <= ix < 360 * (1 << res) + 1
        assert 0 <= iy < 180 * (1 << res) + 1


def test_zone_cover_is_exact_cover(spark):
    """Every tile the exact predicate admits is in a cover cell (no false
    negatives from the candidate phase — the LSH-guarantee direction)."""
    tiles = synth.tiles_df(spark, SF_TINY)
    zones = synth.zones_df(spark)
    from pyspark.sql import functions as F

    exact = (
        tiles.crossJoin(F.broadcast(zones))
        .where(F.expr(pip_join.PIP_PREDICATE))
        .select("image_id", "polygon_id")
    )
    two_phase = pip_join.pip_join(tiles, zones, res=9).select(
        "image_id", "polygon_id"
    )
    assert exact.exceptAll(two_phase).count() == 0
    assert two_phase.exceptAll(exact).count() == 0


def test_convex_pip_matches_numpy(spark):
    """Convex-hexagon two-phase PIP == numpy half-plane oracle on every
    tile × polygon pair (the full-fidelity miswire audit for polygons)."""
    import pandas as pd

    tiles = synth.tiles_df(spark, SF_TINY)
    pz = synth.poly_zones_df(spark)
    got = {
        (r["polygon_id"], r["image_id"])
        for r in pip_join.cover_join(
            tiles, grid.cell_col("lon", "lat", 9),
            pip_join.poly_cover_scanline(pz, 9),
            synth.convex_pip_predicate("lon", "lat"),
        )
        .select("polygon_id", "image_id")
        .collect()
    }
    tp = tiles.select("image_id", "lon", "lat").toPandas()
    zp = pz.toPandas()
    k = 6
    expected = set()
    lon, lat = tp["lon"].to_numpy(), tp["lat"].to_numpy()
    for _, z in zp.iterrows():
        inside = np.ones(len(tp), dtype=bool)
        for m in range(k):
            n = (m + 1) % k
            cross = (z[f"x{n}"] - z[f"x{m}"]) * (lat - z[f"y{m}"]) - (
                z[f"y{n}"] - z[f"y{m}"]
            ) * (lon - z[f"x{m}"])
            inside &= cross >= 0
        for iid in tp["image_id"].to_numpy()[inside]:
            expected.add((z["polygon_id"], iid))
    assert got == expected and len(got) > 0


def test_compact_cover_invariants(spark):
    """Compaction is lossless and canonical: (a) expanding every compacted
    cell back to res 9 reproduces the original cover exactly (disjointness
    + completeness in one check, since exceptAll is multiset-aware), and
    (b) no polygon retains a complete 4-child block at any level (maximal
    compaction — the h3 compact_cells contract)."""
    from pyspark.sql import functions as F

    zones = synth.zones_df(spark)
    cover9 = pip_join.zone_cover(zones, res=9).select("polygon_id", "cell")
    comp = pip_join.compact_cover(zones, res=9, min_res=7)

    # (a) re-expand: a res-r cell covers 4^(9-r) res-9 children.
    def children_to9(df, r):
        d = 9 - r
        if d == 0:
            return df.select("polygon_id", "cell")
        ix = grid.cell_to_ix(F.col("cell"), r)
        iy = grid.cell_to_iy(F.col("cell"))
        return (
            df.where(F.col("res") == r)
            .withColumn("cix", F.explode(F.sequence(ix * (1 << d), (ix + 1) * (1 << d) - 1)))
            .withColumn("ciy_base", iy * (1 << d))
            .withColumn("ciy", F.explode(F.sequence(F.col("ciy_base"), F.col("ciy_base") + (1 << d) - 1)))
            .select(
                "polygon_id",
                F.expr(grid.cell_from_ixiy_sql("cix", "ciy", 9)).alias("cell"),
            )
        )

    expanded = (
        children_to9(comp.where("res = 9"), 9)
        .unionByName(children_to9(comp, 8))
        .unionByName(children_to9(comp, 7))
    )
    assert expanded.exceptAll(cover9).count() == 0
    assert cover9.exceptAll(expanded).count() == 0

    # (b) maximality: no (polygon, parent) group of size 4 survives.
    for r in (9, 8):
        quads = (
            comp.where(F.col("res") == r)
            .withColumn("p", F.expr(grid.parent_sql("cell", r, r - 1)))
            .groupBy("polygon_id", "p")
            .count()
            .where("count = 4")
        )
        assert quads.count() == 0, f"incomplete compaction at res {r}"


def test_pip_compact_equals_pip_join(spark):
    """The mixed-res compacted-cover join returns the exact same multiset
    of (tile, zone) rows as the single-res join — the disjoint-cover
    guarantee (each pair matches on exactly one cell, no dup rows)."""
    tiles = synth.tiles_df(spark, SF_TINY)
    zones = synth.zones_df(spark)
    a = pip_join.pip_join(tiles, zones, res=9).select("image_id", "polygon_id")
    cover = pip_join.compact_cover(zones, res=9, min_res=7).join(
        zones.select("polygon_id", "xmin", "xmax", "ymin", "ymax"), "polygon_id"
    )
    b = pip_join.cover_join(
        tiles, pip_join.cell_chain(9, 7), cover, pip_join.PIP_PREDICATE
    ).select("image_id", "polygon_id")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_zonal_weighted_refpoint_dedup(spark):
    """The reference-point method yields each (tile, zone) overlap pair
    exactly once: the cell-join pair set equals the naive rectangle-join
    pair set as a multiset (no dup from footprints spanning cells)."""
    from pyspark.sql import functions as F
    from tree_sitter_analyzer_spark.operators import zonal

    tiles = synth.tiles_df(spark, SF_TINY)
    zones = synth.zones_df(spark)
    naive = (
        zonal.tile_footprints(tiles)
        .crossJoin(F.broadcast(zones))
        .where(F.expr(zonal.FP_OVERLAP_PREDICATE))
        .select("image_id", "polygon_id")
    )
    t = zonal.tile_footprints(tiles)
    t = (
        t.withColumn("ix", F.explode(F.sequence(grid.ix_col("fx_min", 9), grid.ix_col("fx_max", 9))))
        .withColumn("iy", F.explode(F.sequence(grid.iy_col("fy_min", 9), grid.iy_col("fy_max", 9))))
        .withColumn("cell", F.expr(grid.cell_from_ixiy_sql("ix", "iy", 9)))
    )
    refpoint = grid.cell_sql("GREATEST(xmin, fx_min)", "GREATEST(ymin, fy_min)", 9)
    cellwise = (
        t.join(F.broadcast(pip_join.zone_cover(zones, 9)), "cell")
        .where(F.expr(zonal.FP_OVERLAP_PREDICATE))
        .where(F.expr(f"cell = {refpoint}"))
        .select("image_id", "polygon_id")
    )
    assert naive.exceptAll(cellwise).count() == 0
    assert cellwise.exceptAll(naive).count() == 0


def test_scanline_cover_tighter_and_complete(spark):
    """The scanline polygon cover has strictly fewer cells than the
    polygons' bounding boxes (tighter), yet holds the cell of every tile
    exactly inside its polygon (complete)."""
    from pyspark.sql import functions as F

    tiles = synth.tiles_df(spark, SF_TINY)
    pz = synth.poly_zones_df(spark)
    scan = pip_join.poly_cover_scanline(pz, 9).select("polygon_id", "cell")
    xs = ", ".join(f"x{m}" for m in range(6))
    ys = ", ".join(f"y{m}" for m in range(6))
    n_bbox = pz.select(F.sum(
        (grid.ix_col(f"GREATEST({xs})", 9) - grid.ix_col(f"LEAST({xs})", 9) + 1)
        * (grid.iy_col(f"GREATEST({ys})", 9) - grid.iy_col(f"LEAST({ys})", 9) + 1)
    )).first()[0]
    assert scan.count() < n_bbox
    inside = (
        tiles.crossJoin(F.broadcast(pz))
        .where(F.expr(synth.convex_pip_predicate("lon", "lat")))
        .select("polygon_id", grid.cell_col("lon", "lat", 9).alias("cell"))
    )
    assert inside.count() > 0
    assert inside.join(scan, ["polygon_id", "cell"], "left_anti").count() == 0


@pytest.mark.parametrize("layer", ["hexagons", "stars"])
def test_poly_cover_join_equals_cross_join(spark, layer):
    """The scanline polygon cover through cover_join returns exactly the
    pairs of an exact broadcast cross-join — convex hexagons with the
    half-plane verify, concave stars with the ray-cast verify."""
    from pyspark.sql import functions as F

    tiles = synth.tiles_df(spark, SF_TINY)
    if layer == "hexagons":
        zones = synth.poly_zones_df(spark)
        pred = synth.convex_pip_predicate("lon", "lat")
    else:
        zones = synth.star_zones_df(spark)
        pred = synth.raycast_pip_predicate("lon", "lat")
    got = pip_join.cover_join(
        tiles, grid.cell_col("lon", "lat", 9), pip_join.poly_cover_scanline(zones, 9),
        pred,
    ).select("image_id", "polygon_id")
    exact = tiles.crossJoin(F.broadcast(zones)).where(F.expr(pred)).select(
        "image_id", "polygon_id"
    )
    assert exact.count() > 0
    assert got.exceptAll(exact).count() == 0
    assert exact.exceptAll(got).count() == 0


@given(st.floats(-179.9, 179.9), st.floats(-89.9, 89.9), st.integers(0, 12))
@settings(max_examples=200, deadline=None)
def test_cell_center_roundtrip(lon, lat, res):
    """cell_to_center inverts the index: the center of a point's cell maps
    back to the same cell, and lies within half a cell edge of the point."""
    cell = int(grid.np_cell(np.array([lon]), np.array([lat]), res)[0])
    clon, clat = grid.np_cell_center(np.array([cell]), res)
    assert int(grid.np_cell(clon, clat, res)[0]) == cell
    s = grid.cell_size(res)
    assert abs(clon[0] - lon) <= s / 2 + 1e-12
    assert abs(clat[0] - lat) <= s / 2 + 1e-12


# --- DBSCAN: engine vs pure-Python brute force ------------------------------

def _brute_dbscan(ids, lon, lat, eps, min_pts):
    """Independent spec implementation: O(n²) numpy neighbors, union-find
    components over core-core edges, min-core-key cluster labels, border
    -> min neighbor cluster. Returns {id: (role, cluster)}."""
    import numpy as _np

    n = len(ids)
    dx = lon[:, None] - lon[None, :]
    dy = lat[:, None] - lat[None, :]
    nbr = (dx * dx + dy * dy) <= eps * eps  # includes self
    core = nbr.sum(axis=1) >= min_pts
    parent = list(range(n))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a in range(n):
        if not core[a]:
            continue
        for b in range(a + 1, n):
            if core[b] and nbr[a, b]:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb
    out = {}
    comp_min: dict[int, int] = {}
    for a in range(n):
        if core[a]:
            r = find(a)
            comp_min[r] = min(comp_min.get(r, ids[a]), ids[a])
    for a in range(n):
        if core[a]:
            out[ids[a]] = ("core", comp_min[find(a)])
        else:
            nc = [comp_min[find(b)] for b in range(n) if core[b] and nbr[a, b]]
            if nc:
                out[ids[a]] = ("border", min(nc))
            else:
                out[ids[a]] = ("noise", -1)
    return out


def test_dbscan_matches_brute_force(spark):
    """Grid-candidate pairs + cell-quotient components == the O(n²)
    union-find spec, on a seeded point set straddling cell borders (two
    dense blobs + a sparse ring + background noise)."""
    import numpy as np
    from tree_sitter_analyzer_spark.operators import dbscan as dbs

    rng = np.random.default_rng(42)
    blob1 = rng.normal([139.7031, 35.6016], 0.002, (60, 2))  # on a cell corner
    blob2 = rng.normal([139.9, 35.75], 0.0015, (40, 2))
    ring_t = rng.uniform(0, 2 * np.pi, 30)
    ring = np.stack(
        [139.8 + 0.004 * np.cos(ring_t), 35.5 + 0.004 * np.sin(ring_t)], axis=1
    )
    noise = np.stack(
        [rng.uniform(139.5, 140.1, 25), rng.uniform(35.4, 35.9, 25)], axis=1
    )
    pts = np.concatenate([blob1, blob2, ring, noise])
    ids = np.arange(len(pts))
    pdf = [
        (int(i), f"img_{i:012d}", float(x), float(y))
        for i, (x, y) in zip(ids, pts)
    ]
    tiles = spark.createDataFrame(
        pdf, "i BIGINT, image_id STRING, lon DOUBLE, lat DOUBLE"
    )
    got = {
        r["image_id"]: (r["role"], r["cluster"])
        for r in dbs.dbscan_labels(spark, tiles, eps=0.005, min_pts=8).collect()
    }
    want = _brute_dbscan(ids, pts[:, 0], pts[:, 1], 0.005, 8)
    want = {f"img_{i:012d}": v for i, v in want.items()}
    assert got == want


@pytest.mark.parametrize("n", [1, 5, 23])
def test_traj_stats_invariant_under_repartition(spark, n):
    """The trajectory derivation orders by the UNIQUE (ts, event_id) key
    inside each user partition, so the window cumsum — and everything
    downstream — must be bit-identical under any physical partitioning
    of the input (a tie-broken-only-by-ts ordering would not be)."""
    from tree_sitter_analyzer_spark.operators import trajectory as traj

    base = traj.traj_stats(traj.pings_df(spark, SF_TINY)).toPandas()
    ev = spark.read.parquet(f"{SF_TINY}/events.parquet").repartition(n)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # rebuild pings from the repartitioned events through the same op
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p = (
        ev.select(
            "user_id", "event_id", "ts",
            F.expr(traj._DX).alias("dx"), F.expr(traj._DY).alias("dy"),
            F.expr(traj._SX).alias("sx"), F.expr(traj._SY).alias("sy"),
        )
        .withColumn("seq", F.row_number().over(w))
        .withColumn("ix", F.col("sx") + F.sum("dx").over(cum))
        .withColumn("iy", F.col("sy") + F.sum("dy").over(cum))
        .withColumn("day", F.expr(f"{traj._EPOCH_US_SPARK} DIV {traj._DAY_US}"))
    )
    got = traj.traj_stats(p).toPandas()
    key = ["user_id"]
    base = base.sort_values(key).reset_index(drop=True)
    got = got.sort_values(key).reset_index(drop=True)
    assert got.equals(base)


@given(
    st.floats(min_value=-179.0, max_value=179.0),
    st.floats(min_value=-89.0, max_value=89.0),
)
@settings(max_examples=200, deadline=None)
def test_hex_binning_is_nearest_center(lon, lat):
    """The hex cube-round must assign every point to the NEAREST hex
    center (the defining property of hexagonal binning — what makes it
    the H3-geometry analog rather than a sheared square grid), and the
    cell center must round-trip to its own cell."""
    import numpy as np

    size = 0.005
    hq, hr = grid.np_hex_qr(np.array([lon]), np.array([lat]), size)
    cx, cy = grid.np_hex_center(hq, hr, size)
    d0 = (lon - cx[0]) ** 2 + (lat - cy[0]) ** 2
    for dq, dr in [(1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)]:
        nx, ny = grid.np_hex_center(hq + dq, hr + dr, size)
        dn = (lon - nx[0]) ** 2 + (lat - ny[0]) ** 2
        assert d0 <= dn + 1e-12
    q2, r2 = grid.np_hex_qr(cx, cy, size)
    assert q2[0] == hq[0] and r2[0] == hr[0]


def test_hex_sql_matches_numpy_duckdb(spark):
    """The portable hex SQL, evaluated by DuckDB over the synthetic
    tiles, must equal the numpy mirror bit-for-bit (the Spark side is
    covered by the hex_density oracle parity test)."""
    import duckdb
    import numpy as np

    hq, hr = grid.hex_qr_sql("lon", "lat", 0.005)
    t = synth.tiles_sql(
        f"(SELECT o_orderkey FROM '{SF_TINY}/orders.parquet')", "o_orderkey"
    )
    df = duckdb.sql(
        f"WITH tiles AS ({t}) SELECT lon, lat, {hq} AS hq, {hr} AS hr FROM tiles"
    ).df()
    nq, nr = grid.np_hex_qr(df.lon.to_numpy(), df.lat.to_numpy(), 0.005)
    assert (df.hq.to_numpy() == nq).all() and (df.hr.to_numpy() == nr).all()


@pytest.mark.parametrize("threshold", [8, 32, 128])
def test_quadtree_is_disjoint_complete_partition(spark, threshold):
    """Quadtree leaves must (1) conserve the tile count, (2) respect the
    split threshold (every leaf above max depth holds <= T), (3) be
    mutually disjoint — no leaf is the spatial ancestor of another —
    and (4) every leaf above RMIN must exist because its parent split
    (parent count > T): the four structural invariants the oracle's
    value hash alone cannot name — at three thresholds, not just the
    registered default."""
    from tree_sitter_analyzer_spark.operators import quadtree as qt

    tiles = synth.tiles_df(spark, SF_TINY)
    leaves = qt.quadtree_leaves(tiles, threshold=threshold).toPandas()
    n_tiles = tiles.count()
    assert leaves.n_tiles.sum() == n_tiles  # completeness
    shallow = leaves[leaves.res < qt.RMAX]
    assert (shallow.n_tiles <= threshold).all()  # threshold
    # decode (res, ix, iy); check pairwise ancestor-freedom via set lookup
    res = leaves.res.to_numpy()
    ix = ((leaves.cell.to_numpy() - res * grid.RES_MUL) // grid.IX_MUL)
    iy = (leaves.cell.to_numpy() - res * grid.RES_MUL) % grid.IX_MUL
    leaf_set = set(zip(res.tolist(), ix.tolist(), iy.tolist()))
    parent_counts: dict = {}
    for r, x, y, n in zip(res, ix, iy, leaves.n_tiles):
        for pr in range(qt.RMIN, r):
            s = 1 << (r - pr)
            assert (pr, x // s, y // s) not in leaf_set, "nested leaves"
            parent_counts[(pr, x // s, y // s)] = parent_counts.get(
                (pr, x // s, y // s), 0
            ) + int(n)
    # every strict ancestor of any leaf must have split: count > T
    assert all(v > threshold for v in parent_counts.values())


def test_gyration_matches_numpy_and_repartition_invariant(spark):
    """rg² numerator recomputed in numpy from the raw pings (float mean
    formulation, then floored the same way) must equal the engine's
    integer closed form; and the profile must be invariant under input
    repartitioning (no order-dependent float summation anywhere)."""
    from tree_sitter_analyzer_spark.operators import trajectory as traj

    pings = traj.pings_df(spark, SF_TINY)
    prof = traj.gyration_profile(pings).toPandas().sort_values(
        "user_id"
    ).reset_index(drop=True)
    raw = pings.select("user_id", "ix", "iy", "sx", "sy").toPandas()
    for uid, g in raw.groupby("user_id"):
        rx = (g["ix"] - g["sx"]).to_numpy(np.int64)
        ry = (g["iy"] - g["sy"]).to_numpy(np.int64)
        n = len(g)
        num = n * int((rx * rx + ry * ry).sum()) - int(rx.sum()) ** 2 - int(
            ry.sum()
        ) ** 2
        want = (100 * num) // (n * n)
        got = int(prof.loc[prof.user_id == uid, "rg2_x100"].iloc[0])
        assert got == want, f"user {uid}: {got} != {want}"
    rep = (
        traj.gyration_profile(pings.repartition(13))
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert rep.equals(prof)


def test_line_of_sight_has_both_classes_at_gate_scale(spark):
    """sf0.001 cannot produce obstacle cells (max cell count < the
    obstacle threshold), so blocked is all-zero there by construction —
    the dedup_exact discipline says the signal must be pinned at a
    scale where it exists: at sf0.01 both clear AND blocked lines must
    be present, and blocked means a real interior obstacle hit."""
    from tree_sitter_analyzer_spark.operators import cost_distance as cd

    df = cd.line_of_sight(
        spark, synth.tiles_df(spark, "/root/testdata/sf0.01")
    ).toPandas()
    assert (df.blocked == 1).any() and (df.blocked == 0).any()
