"""Two-phase point-in-polygon join: cover-cell candidates → exact verify.

This is the engine's core join, re-expressing the reference's edge
semi-joins (``hyphae/evaluator.py:227-272``): there, a cheap indexed probe
(FTS/edge index) generates candidates and an exact (name, file) match
verifies them; here, a grid-cell hash join generates candidates and the
exact geometry predicate verifies them (SURVEY.md J2/O4).

One operator, :func:`cover_join`, runs every variant. What varies per
polygon layer is only its *cover* (a polygon-side frame with one row per
covering grid cell, column ``cell``) and its exact *predicate*:

- rectangles: :func:`zone_cover` + ``PIP_PREDICATE`` (:func:`pip_join`);
- convex hexagons and concave stars: :func:`poly_cover_scanline` + the
  half-plane or ray-cast predicate from ``synth``;
- the fringe ring (the ``~`` adjacency): :func:`zone_fringe_cells`, no
  predicate;
- the compacted mixed-res cover: :func:`compact_cover` + zone bounds,
  with :func:`cell_chain` as the tile-side key;
- footprint overlap (``zonal.zonal_weighted``): :func:`box_cells` over
  the footprints + ``zone_cover``, overlap and reference-point predicate.

The zone layer is resident: ``synth.zones_df`` serves one materialized
leaf per SparkContext, and :func:`zone_cover` keeps that leaf's cover
per resolution with it, so a PIP query over the layer plans a scan of
the cover and pays no per-query LCG analysis or explode (the
approximation stored with the layer, as in *Raster Intervals*, SIGMOD
2023). Any other zones frame gets the cover inlined.

Scale design (100 TB / 10^12 tiles):
- The polygon side is small (thousands of zones → ~10^5-10^6 cover cells)
  and is **broadcast**, so the tile table — the trillion-row side — is
  never shuffled: the join is map-side, one pass over the scan.
- Each tile carries exactly ONE res-R cell and covers are sets of cells
  per polygon, so a (tile, polygon) pair matches on at most one cell — no
  post-join dedup shuffle (duplicate matches are impossible by
  construction). Semi/anti joins carry the predicate in the join
  condition, so they need no dedup or join-back either.
- Hot cells (the synthetic hotspots) only skew *matches per task*, not a
  shuffle, because the build side is broadcast. If the polygon side ever
  grows beyond broadcast size, fall back to a shuffled join on ``cell``
  with AQE skew-join enabled (session.py) + salting (see skew.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import grid, synth

DEFAULT_RES = 9

# The exact geometry predicate — half-open [min, max) so boundary points
# belong to exactly one side; authored once, same text as the oracle SQL.
PIP_PREDICATE = (
    "lon >= xmin AND lon < xmax AND lat >= ymin AND lat < ymax"
)


def tile_cells(tiles: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """Attach the single res-R cell id of each tile centroid.

    Pure int64 arithmetic → whole-stage codegen, no UDF
    (the vectorized-extraction requirement of input_hint).
    """
    return tiles.withColumn("cell", grid.cell_col("lon", "lat", res))


def box_cells(
    df: DataFrame, ix_lo: Column, ix_hi: Column, iy_lo: Column, iy_hi: Column,
    res: int,
) -> DataFrame:
    """One row per (row, cell) of the inclusive ix × iy index box, with
    ``ix``, ``iy`` and ``cell`` attached. ``sequence() + explode`` keeps
    the fan-out JVM-side (SURVEY.md X5)."""
    return (
        df.withColumn("ix", F.explode(F.sequence(ix_lo, ix_hi)))
        .withColumn("iy", F.explode(F.sequence(iy_lo, iy_hi)))
        .withColumn("cell", F.expr(grid.cell_from_ixiy_sql("ix", "iy", res)))
    )


def _zone_cover(zones: DataFrame, res: int) -> DataFrame:
    return box_cells(
        zones, grid.ix_col("xmin", res), grid.ix_col("xmax", res),
        grid.iy_col("ymin", res), grid.iy_col("ymax", res), res,
    ).drop("ix", "iy")


def zone_cover(zones: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """Each rectangle zone's covering res-R cell set: the zone's columns
    plus ``cell``, one row per covering cell.

    For a rectangle the inclusive ix/iy index range is an exact cover:
    every point with lon∈[xmin,xmax) lands in one of these cells.

    Residency: when ``zones`` IS the ``synth.zones_df`` leaf, the cover
    is built once per ``res`` on first use (``synth.Snapshot.derived``)
    and kept with the leaf, so a query plans a scan of it instead of
    the explode. Any other frame (a filtered or caller-built zones
    frame) inlines the same explode lazily: residency is the only
    difference. Cover rows carry the zone columns, so filtering the
    resident cover selects the rows covering the filtered zones would.
    Memory: the 200-zone layer's res-9 cover is 78,645 rows, about a
    quarter of that per coarser res; package callers use res ≤ 9 on the leaf.
    """
    snap = synth.snapshot(zones)
    if snap is None:
        return _zone_cover(zones, res)
    return snap.derived(
        ("cover", res), lambda keep: keep(_zone_cover(snap.leaf, res)))


def cover_join(
    tiles: DataFrame,
    key: Column,
    cover: DataFrame,
    predicate: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """The PIP join: tiles keyed by ``key`` (their grid cell) equi-joined
    on ``cell`` against the broadcast ``cover``, verified by the exact
    ``predicate`` (SQL over tile and cover columns; None keeps every
    candidate — the fringe ring, an audit's candidate phase).

    how='inner' → (tile, cover row) pairs with ``cell`` attached (the
                  reference's edge rows); ``key`` may be a generator
                  (one row per cell of a tile's cell chain or footprint).
    how='semi'  → the tile rows inside ≥1 cover polygon (J2 semi-join).
    how='anti'  → the tile rows inside none (J3 anti-join, dead-code analog).

    Semi/anti are ONE broadcast left-semi/anti hash join with the
    predicate in the join condition: tile columns only, no dedup shuffle,
    no join back. Their ``key`` must be one cell per tile (a column
    expression, not a generator).
    """
    cover = F.broadcast(cover)
    if how == "inner":
        pairs = tiles.withColumn("cell", key).join(cover, "cell")
        return pairs if predicate is None else pairs.where(F.expr(predicate))
    if how not in ("semi", "anti"):
        raise ValueError(f"how must be inner|semi|anti, got {how!r}")
    cond = key == cover["cell"]
    if predicate is not None:
        cond = cond & F.expr(predicate)
    return tiles.join(cover, cond, f"left_{how}")


def pip_join(
    tiles: DataFrame,
    zones: DataFrame,
    res: int = DEFAULT_RES,
    how: str = "inner",
) -> DataFrame:
    """Point-in-rectangle join of tiles against zones (see cover_join for
    ``how``)."""
    return cover_join(
        tiles, grid.cell_col("lon", "lat", res), zone_cover(zones, res),
        PIP_PREDICATE, how,
    )


# ---------------------------------------------------------------------------
# DuckDB oracle fragments (the exact same predicate, no cell phase — the
# oracle is allowed to be naive; it only has to be correct at sf0.01).
# ---------------------------------------------------------------------------

def pip_oracle_join_sql() -> str:
    return (
        "tiles t JOIN zones z ON t.lon >= z.xmin AND t.lon < z.xmax "
        "AND t.lat >= z.ymin AND t.lat < z.ymax"
    )


# Fringe resolution: res 8 (not DEFAULT_RES=9) is a deliberate choice —
# ring cells at res 8 are zone-scale (the ring holds a meaningful tile
# population per zone); at res 9 the one-cell-thick ring thins relative
# to tile density. Named so callers see the difference from the PIP res.
FRINGE_RES = 8


def zone_fringe_cells(zones: DataFrame, res: int = FRINGE_RES) -> DataFrame:
    """Perimeter ring of each zone's cell cover: the cells ADJACENT to the
    zone's bbox cover box but not inside it — the spatial analog of the
    reference's sibling combinator (``~``, hyphae/parser.py: elements
    *next to* a match rather than within it).

    One row per (zone, ring cell). Ring size is 2(w+h)+4 cells per zone —
    bounded and tiny, so the fringe table broadcasts like any cover."""
    z = (
        zones.withColumn("_ixmin", grid.ix_col("xmin", res))
        .withColumn("_ixmax", grid.ix_col("xmax", res))
        .withColumn("_iymin", grid.iy_col("ymin", res))
        .withColumn("_iymax", grid.iy_col("ymax", res))
    )
    return (
        box_cells(
            z, F.col("_ixmin") - 1, F.col("_ixmax") + 1,
            F.col("_iymin") - 1, F.col("_iymax") + 1, res,
        )
        .where(
            ~(
                F.col("ix").between(F.col("_ixmin"), F.col("_ixmax"))
                & F.col("iy").between(F.col("_iymin"), F.col("_iymax"))
            )
        )
        .drop("ix", "iy", "_ixmin", "_ixmax", "_iymin", "_iymax")
    )


# ---------------------------------------------------------------------------
# Scanline (edge-walk) cover for polygons: instead of covering the whole
# bounding box, each res-R row band gets the x-range of polygon ∩ band,
# computed by folding over the edge array (clamped edge-line
# interpolation). A point inside any simple polygon — convex or not — has
# a boundary crossing on each side of it at its own height, and those
# crossings lie on edge pieces inside its band, so the band's min/max over
# edge pieces is a complete cover. Pure arithmetic via higher-order
# aggregate; still no UDF.
# ---------------------------------------------------------------------------

def _edge_x_at(y: str) -> str:
    """x of edge e at clamped scanline height ``y`` (horizontal edges
    contribute both endpoints via the 0-length clamp branch)."""
    return (
        f"CASE WHEN e.yb = e.ya THEN e.xa "
        f"ELSE e.xa + (e.xb - e.xa) * ({y} - e.ya) / (e.yb - e.ya) END"
    )


def poly_cover_scanline(poly_zones: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """Covering res-R cell set of each polygon (vertex columns x0.., y0..)."""
    k = len([c for c in poly_zones.columns if c.startswith("x")])
    size = grid.cell_size(res)
    edges = ", ".join(
        f"named_struct('xa', x{m}, 'ya', y{m}, "
        f"'xb', x{(m + 1) % k}, 'yb', y{(m + 1) % k})"
        for m in range(k)
    )
    ys = ", ".join(f"y{m}" for m in range(k))
    z = (
        poly_zones.withColumn("_ymin", F.expr(f"LEAST({ys})"))
        .withColumn("_ymax", F.expr(f"GREATEST({ys})"))
        .withColumn(
            "iy",
            F.explode(
                F.sequence(grid.iy_col("_ymin", res), grid.iy_col("_ymax", res))
            ),
        )
        # closed row band [c, d]: top edge included — slight over-cover,
        # never under-cover (completeness is the hard requirement).
        # {size!r}e0 keeps the literal in exponent form: bare decimals
        # parse as DECIMAL in Spark (the float-literal rule).
        .withColumn("_c", F.expr(f"iy * {size!r}e0 - 90e0"))
        .withColumn("_d", F.expr(f"(iy + 1) * {size!r}e0 - 90e0"))
    )
    x1 = _edge_x_at("GREATEST(LEAST(e.ya, e.yb), _c)")
    x2 = _edge_x_at("LEAST(GREATEST(e.ya, e.yb), _d)")
    fold = (
        f"aggregate(array({edges}), "
        f"named_struct('xlo', CAST(1e9 AS DOUBLE), 'xhi', CAST(-1e9 AS DOUBLE)), "
        f"(acc, e) -> CASE WHEN GREATEST(e.ya, e.yb) >= _c "
        f"AND LEAST(e.ya, e.yb) <= _d THEN named_struct("
        f"'xlo', LEAST(acc.xlo, {x1}, {x2}), "
        f"'xhi', GREATEST(acc.xhi, {x1}, {x2})) ELSE acc END)"
    )
    z = (
        z.withColumn("xr", F.expr(fold))
        .where("xr.xlo <= xr.xhi")
        .withColumn(
            "ix",
            F.explode(
                F.sequence(
                    F.expr(grid.ix_sql("xr.xlo", res)),
                    F.expr(grid.ix_sql("xr.xhi", res)),
                )
            ),
        )
        .withColumn("cell", F.expr(grid.cell_from_ixiy_sql("ix", "iy", res)))
    )
    return z.drop("ix", "iy", "_ymin", "_ymax", "_c", "_d", "xr")


# ---------------------------------------------------------------------------
# Mixed-resolution cover compaction (H3 ``compact_cells`` analog).
#
# The quadtree grid gives every res-r cell exactly 4 children at res r+1
# (grid.py parent scheme), so a cover set compacts bottom-up: any parent
# whose 4 children are all present replaces them. Interior runs of a large
# polygon shrink ~4x per level; at 10^12-tile scale this is what keeps the
# broadcast cover table small when polygons span thousands of res-9 cells
# (same candidate-narrowing philosophy as SURVEY.md O4 — make the cheap
# index phase cheaper without touching the exact verify).
# ---------------------------------------------------------------------------

MIN_COMPACT_RES = 7


def compact_cover(
    zones: DataFrame, res: int = DEFAULT_RES, min_res: int = MIN_COMPACT_RES
) -> DataFrame:
    """Compact each zone's res-``res`` cover into mixed-res cells.

    Output: (polygon_id, cell, res) — disjoint cells whose union is exactly
    the original cover. Pure DataFrame ops: one groupBy + anti-join per
    level, all on the small polygon side (never the tile table).
    """
    if min_res >= res:
        raise ValueError("min_res must be < res")
    cur = (
        zone_cover(zones, res)
        .select("polygon_id", "cell")
        .withColumn("res", F.lit(res).cast("bigint"))
    )
    frags: list[DataFrame] = []
    for r in range(res, min_res, -1):
        withp = cur.withColumn("p", F.expr(grid.parent_sql("cell", r, r - 1)))
        full = (
            withp.groupBy("polygon_id", "p")
            .agg(F.count("*").alias("nchild"))
            .where("nchild = 4")
            .select("polygon_id", "p")
        )
        frags.append(withp.join(full, ["polygon_id", "p"], "left_anti").drop("p"))
        cur = full.select(
            "polygon_id",
            F.col("p").alias("cell"),
            F.lit(r - 1).cast("bigint").alias("res"),
        )
    from .graph import union_all

    return union_all(frags + [cur])


def cell_chain(res: int = DEFAULT_RES, min_res: int = MIN_COMPACT_RES) -> Column:
    """Tile-side key for a compacted cover: one row per cell of the tile's
    res ``min_res``..``res`` chain (explode of a small array — one scan,
    rows ×(res-min_res+1), columns stay narrow). The compacted cover is
    disjoint, so a (tile, zone) pair still matches on exactly one cell."""
    return F.explode(
        F.array(*[grid.cell_col("lon", "lat", r) for r in range(min_res, res + 1)])
    )


def compact_cover_oracle_sql(
    res: int = DEFAULT_RES, min_res: int = MIN_COMPACT_RES
) -> str:
    """DuckDB CTE chain computing the identical compaction (appended to the
    synth CTEs; DuckDB's scalar generate_series returns a list → unnest)."""
    ctes = [
        f"""covx AS (
  SELECT polygon_id,
         unnest(generate_series({grid.ix_sql('xmin', res)}, {grid.ix_sql('xmax', res)})) AS ix,
         ymin, ymax
  FROM zones
)""",
        f"""covy AS (
  SELECT polygon_id, ix,
         unnest(generate_series({grid.iy_sql('ymin', res)}, {grid.iy_sql('ymax', res)})) AS iy
  FROM covx
)""",
        f"""lev{res} AS (
  SELECT polygon_id, {grid.cell_from_ixiy_sql('ix', 'iy', res)} AS cell FROM covy
)""",
    ]
    for r in range(res, min_res, -1):
        ctes.append(
            f"""q{r} AS (
  SELECT polygon_id, {grid.parent_sql('cell', r, r - 1)} AS p, count(*) AS n
  FROM lev{r} GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""lev{r - 1} AS (
  SELECT polygon_id, p AS cell FROM q{r} WHERE n = 4
)"""
        )
        ctes.append(
            f"""kept{r} AS (
  SELECT c.polygon_id, c.cell, CAST({r} AS BIGINT) AS res
  FROM lev{r} c
  LEFT JOIN lev{r - 1} w
    ON w.polygon_id = c.polygon_id AND w.cell = {grid.parent_sql('c.cell', r, r - 1)}
  WHERE w.cell IS NULL
)"""
        )
    selects = [
        f"SELECT polygon_id, cell, res FROM kept{r}" for r in range(res, min_res, -1)
    ]
    selects.append(
        f"SELECT polygon_id, cell, CAST({min_res} AS BIGINT) AS res FROM lev{min_res}"
    )
    return ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


# ---------------------------------------------------------------------------
# Geometry-violation audit (the reference's miswire audit, SURVEY.md §5.9):
# count candidate pairs, verified matches, and — the target-0 number —
# exact matches MISSED by the candidate phase (a cover bug would show here).
# ---------------------------------------------------------------------------

def pip_audit(tiles: DataFrame, zones: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """Per-zkind audit of the two-phase PIP join.

    n_candidates: cell-equality candidate pairs (phase-1 output size);
    n_matches:    candidates surviving the exact predicate;
    n_missed:     exact pairs absent from the candidate set (target 0 —
                  proves the cover is complete, not just precise).

    The exact side is a broadcast-nested-loop over the small zone table; at
    10^12-tile scale this audit runs on a sampled partition subset as a QA
    job (the candidate/verified counters remain exact at any scale)."""
    cand = cover_join(tiles, grid.cell_col("lon", "lat", res), zone_cover(zones, res))
    agg_c = cand.groupBy("zkind").agg(
        F.count("*").alias("n_candidates"),
        F.sum(F.when(F.expr(PIP_PREDICATE), 1).otherwise(0))
        .cast("bigint")
        .alias("n_matches"),
    )
    exact = tiles.join(
        F.broadcast(zones), F.expr(PIP_PREDICATE), "inner"
    ).select("zkind", "polygon_id", "image_id")
    missed = exact.join(
        cand.select("polygon_id", "image_id"), ["polygon_id", "image_id"], "left_anti"
    )
    agg_m = missed.groupBy("zkind").agg(F.count("*").alias("nm"))
    # Key the audit from the ZONE side: if a cover bug produces zero
    # candidates for a whole zkind, that zkind must still appear (with
    # n_candidates=0 and its missed count) — a candidate-side join would
    # silently drop the very row that proves the worst failure.
    all_kinds = zones.select("zkind").dropDuplicates(["zkind"])
    return (
        all_kinds.join(agg_c, "zkind", "left")
        .join(agg_m, "zkind", "left")
        .select(
            "zkind",
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("bigint")
            .alias("n_candidates"),
            F.coalesce(F.col("n_matches"), F.lit(0))
            .cast("bigint")
            .alias("n_matches"),
            F.coalesce(F.col("nm"), F.lit(0)).cast("bigint").alias("n_missed"),
        )
    )


def pip_audit_oracle_sql(res: int = DEFAULT_RES) -> str:
    """DuckDB equivalent: same candidate phase (portable cell SQL), same
    exact phase, same missed-pair anti-join."""
    return f"""tc AS (
  SELECT image_id, lon, lat, {grid.cell_sql('lon', 'lat', res)} AS cell FROM tiles
),
zcx AS (
  SELECT polygon_id, zkind, xmin, xmax, ymin, ymax,
         unnest(generate_series({grid.ix_sql('xmin', res)}, {grid.ix_sql('xmax', res)})) AS ix
  FROM zones
),
zcy AS (
  SELECT polygon_id, zkind, xmin, xmax, ymin, ymax, ix,
         unnest(generate_series({grid.iy_sql('ymin', res)}, {grid.iy_sql('ymax', res)})) AS iy
  FROM zcx
),
zc AS (
  SELECT polygon_id, zkind, xmin, xmax, ymin, ymax,
         {grid.cell_from_ixiy_sql('ix', 'iy', res)} AS cell
  FROM zcy
),
cand AS (
  SELECT zc.zkind, zc.polygon_id, tc.image_id,
         CASE WHEN tc.lon >= zc.xmin AND tc.lon < zc.xmax
               AND tc.lat >= zc.ymin AND tc.lat < zc.ymax THEN 1 ELSE 0 END AS ok
  FROM tc JOIN zc USING (cell)
),
exact AS (
  SELECT z.zkind, z.polygon_id, t.image_id
  FROM tiles t JOIN zones z
    ON t.lon >= z.xmin AND t.lon < z.xmax AND t.lat >= z.ymin AND t.lat < z.ymax
),
missed AS (
  SELECT e.zkind FROM exact e
  LEFT JOIN cand c ON c.polygon_id = e.polygon_id AND c.image_id = e.image_id
  WHERE c.image_id IS NULL
),
agg_c AS (
  SELECT zkind, count(*) AS n_candidates, CAST(sum(ok) AS BIGINT) AS n_matches
  FROM cand GROUP BY 1
),
agg_m AS (SELECT zkind, count(*) AS nm FROM missed GROUP BY 1),
all_kinds AS (SELECT DISTINCT zkind FROM zones)
SELECT k.zkind,
       CAST(coalesce(a.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(a.n_matches, 0) AS BIGINT) AS n_matches,
       CAST(coalesce(m.nm, 0) AS BIGINT) AS n_missed
FROM all_kinds k
LEFT JOIN agg_c a USING (zkind)
LEFT JOIN agg_m m USING (zkind)"""


# ---------------------------------------------------------------------------
# Spatial self-join: zone pairs whose rectangles intersect. Candidates =
# pairs sharing a cover cell; exact verify = rectangle-overlap predicate;
# dedup because large overlaps share many cells (the one PIP variant where
# a post-join distinct IS required — called out so the shuffle is a choice,
# not an accident).
# ---------------------------------------------------------------------------

ZONE_OVERLAP_PREDICATE = (
    "a_xmin < b_xmax AND b_xmin < a_xmax AND a_ymin < b_ymax AND b_ymin < a_ymax"
)


def zone_overlap_join(zones: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """All unordered zone pairs (a < b) with overlapping rectangles.

    Scale shape: cover self-join on cell — at millions of polygons both
    sides stay partitioned by cell (co-located, no broadcast needed) and
    the distinct keys the shuffle; here the whole thing is broadcast-small."""
    cov = zone_cover(zones, res).select("polygon_id", "cell")
    a = cov.toDF("pa", "cell")
    b = cov.toDF("pb", "cell")
    pairs = (
        a.join(b, "cell")
        .where(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .dropDuplicates(["pa", "pb"])
    )
    za = zones.select(
        F.col("polygon_id").alias("pa"),
        F.col("xmin").alias("a_xmin"),
        F.col("xmax").alias("a_xmax"),
        F.col("ymin").alias("a_ymin"),
        F.col("ymax").alias("a_ymax"),
    )
    zb = zones.select(
        F.col("polygon_id").alias("pb"),
        F.col("xmin").alias("b_xmin"),
        F.col("xmax").alias("b_xmax"),
        F.col("ymin").alias("b_ymin"),
        F.col("ymax").alias("b_ymax"),
    )
    return (
        pairs.join(F.broadcast(za), "pa")
        .join(F.broadcast(zb), "pb")
        .where(F.expr(ZONE_OVERLAP_PREDICATE))
        .select(
            F.col("pa").alias("polygon_a"),
            F.col("pb").alias("polygon_b"),
        )
    )


# ---------------------------------------------------------------------------
# R202: polygon-with-hole PIP (annulus membership) — the geometry
# feature rectangles-only PIP can't express: each zone carries a hole
# (its centered middle third per axis, area 1/9 — derived from the
# zone bounds by exact float arithmetic identical on both engines),
# and a tile is IN the zone iff inside the outer rectangle AND NOT
# inside the hole. Candidates still come from the broadcast OUTER
# cover (the hole only ever removes matches, so the cover stays a
# provable superset); the hole test is one extra codegen'd predicate
# on the verified pair stream — no second cover, no extra shuffle.
# ---------------------------------------------------------------------------

HOLE_PRED = (
    "lon >= (2e0 * xmin + xmax) / 3e0 AND lon < (xmin + 2e0 * xmax) / 3e0"
    " AND lat >= (2e0 * ymin + ymax) / 3e0"
    " AND lat < (ymin + 2e0 * ymax) / 3e0"
)


def pip_annulus(tiles: DataFrame, zones: DataFrame,
                res: int = DEFAULT_RES) -> DataFrame:
    """(polygon_id, n_outer, n_hole, n_annulus, hole_share_pm): per
    zone, membership against the holed polygon."""
    pairs = pip_join(tiles, zones, res, "inner")
    return (
        pairs.withColumn(
            "in_hole", F.expr(f"CAST({HOLE_PRED} AS BIGINT)")
        )
        .groupBy("polygon_id")
        .agg(
            F.count("*").cast("bigint").alias("n_outer"),
            F.expr("CAST(sum(in_hole) AS BIGINT)").alias("n_hole"),
        )
        .selectExpr(
            "polygon_id", "n_outer", "n_hole",
            "n_outer - n_hole AS n_annulus",
            "(1000 * n_hole) DIV n_outer AS hole_share_pm",
        )
    )


def pip_annulus_oracle() -> str:
    """Naive point-in-holed-polygon counts; requires spliced tiles +
    zones CTEs."""
    return f"""pa_pairs AS (
  SELECT z.polygon_id,
         CAST({HOLE_PRED} AS BIGINT) AS in_hole
  FROM tiles t JOIN zones z
    ON t.lon >= z.xmin AND t.lon < z.xmax
   AND t.lat >= z.ymin AND t.lat < z.ymax)
SELECT polygon_id, CAST(count(*) AS BIGINT) AS n_outer,
       CAST(sum(in_hole) AS BIGINT) AS n_hole,
       CAST(count(*) - sum(in_hole) AS BIGINT) AS n_annulus,
       CAST((1000 * sum(in_hole)) // count(*) AS BIGINT) AS hole_share_pm
FROM pa_pairs GROUP BY polygon_id"""
