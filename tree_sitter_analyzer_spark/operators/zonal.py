"""Zonal statistics and tile-manifest aggregations.

The reference's aggregation surface (SURVEY.md A1-A11) over the spatial
data model: per-zone roll-ups play the role of ``get_stats`` group-bys
(``_ast_cache_query.py:297-385``), phash duplicate groups re-express
fingerprint-based clone detection (``code_similarity.py:311-434``), and
per-cell manifests are the golden-corpus count files (tests/golden).

Everything here is built-in hash aggregation: partial (map-side) combine →
final merge, no UDF, no collect. Integer outputs are preferred in compared
results (cross-engine float-hash safety); money-style sums go through
DECIMAL so summation order can't perturb low bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import grid
from .pip_join import (
    box_cells, cover_join, pip_join, pip_oracle_join_sql, tile_cells, zone_cover,
)


def zonal_stats(tiles: DataFrame, zones: DataFrame, res: int = 9) -> DataFrame:
    """Per-zone tile statistics over the verified PIP join (SURVEY.md A1/A2).

    One shuffle total: the PIP join itself is map-side (broadcast cover),
    so the only exchange is the final groupBy(polygon_id) — which AQE
    coalesces, since there are only ~#zones groups.
    """
    matched = pip_join(tiles, zones, res=res)
    return (
        matched.groupBy("polygon_id", "zkind")
        .agg(
            F.count("*").alias("n_tiles"),
            F.countDistinct("phash").alias("n_distinct_phash"),
            F.sum(F.when(F.col("fmt") == "jpeg", 1).otherwise(0)).alias("n_jpeg"),
            F.sum("w").alias("sum_w"),
            F.max("h").alias("max_h"),
        )
    )


def cell_manifest(tiles: DataFrame, res: int = 9) -> DataFrame:
    """Per-cell tile counts — the golden tile-manifest query (FIXTURES.md §3).

    The flagship minimum-slice query from SURVEY.md §7 M1: "how many tiles
    land in cell X". min/max of the integer id pin deterministic content
    (id order == image_id lpad order) while keeping the aggregation
    buffers fixed-width → HashAggregate, not SortAggregate.
    """
    return (
        tile_cells(tiles, res)
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_tiles"),
            F.min("i").alias("first_i"),
            F.max("i").alias("last_i"),
        )
    )


def phash_dup_groups(tiles: DataFrame) -> DataFrame:
    """Near-duplicate image groups by perceptual hash (SURVEY.md A3).

    groupBy(phash) → groups with ≥2 members are clone groups; min/max ids
    and count characterize each group deterministically.
    """
    return (
        tiles.groupBy("phash")
        .agg(
            F.count("*").alias("group_size"),
            F.min("image_id").alias("min_image_id"),
            F.max("image_id").alias("max_image_id"),
        )
        .where(F.col("group_size") >= 2)
    )


def top_tiles_per_zone(
    tiles: DataFrame, zones: DataFrame, n: int = 5, res: int = 9
) -> DataFrame:
    """Top-N largest tiles per zone (SURVEY.md A6 hotspots pattern).

    row_number over (zone) ordered by (pixels desc, image_id) — per-group
    top-k via window, never a global sort.
    """
    from pyspark.sql.window import Window

    matched = pip_join(tiles, zones, res=res).withColumn(
        "pixels", (F.col("w").cast("bigint") * F.col("h")).cast("bigint")
    )
    win = Window.partitionBy("polygon_id").orderBy(
        F.desc("pixels"), F.col("image_id")
    )
    return (
        matched.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= n)
        .select("polygon_id", F.col("rn").cast("bigint").alias("rn"), "image_id", "pixels")
    )


def zone_assignment(tiles: DataFrame, zones: DataFrame, res: int = 9) -> DataFrame:
    """Raster→vector zonal assignment: each tile gets its (unique best)
    zone id written back as a column — the cross-file-resolution backfill
    analog (``_ast_cache_query.py:407-445``, SURVEY.md J9).

    Overlapping zones are resolved deterministically: smallest polygon_id
    wins (the reference resolves ambiguous callees by confidence then
    name). Tiles in no zone keep NULL — like unresolved references.
    """
    matched = pip_join(tiles, zones, res=res).select("image_id", "polygon_id")
    best = matched.groupBy("image_id").agg(F.min("polygon_id").alias("zone_id"))
    # `best` scales with the tile count — NOT broadcastable; this is the
    # one legitimate big-side shuffle (keyed MERGE-back), AQE-coalesced.
    return tiles.join(best, "image_id", "left")


def zonal_stats_approx(tiles: DataFrame, zones: DataFrame, res: int = 9,
                       rsd: float = 0.02) -> DataFrame:
    """zonal_stats with approx_count_distinct (SURVEY.md A10): at 10^12
    rows the exact per-zone distinct forces a full expand+shuffle of every
    matched row; HyperLogLog++ keeps it one pass with bounded sketch
    state. rsd=2% default."""
    matched = pip_join(tiles, zones, res=res)
    return (
        matched.groupBy("polygon_id", "zkind")
        .agg(
            F.count("*").alias("n_tiles"),
            F.approx_count_distinct("phash", rsd).alias("n_distinct_phash_approx"),
        )
    )


# ---------------------------------------------------------------------------
# Area-weighted raster<->vector zonal statistics (the north rule's
# "raster↔vector zonal assignment" beyond point-in-polygon): each tile is a
# footprint RECTANGLE (centroid ± pixel-extent), and a zone accumulates the
# FRACTION of each overlapping tile's area inside it. Weights are emitted
# as floor(1e6·frac) bigints so sums are integer-exact across engines.
# ---------------------------------------------------------------------------

FP_EPS = "2e-5"  # degrees per pixel of footprint half-extent

FP_EXPRS = {
    "fx_min": f"(lon - w * {FP_EPS})",
    "fx_max": f"(lon + w * {FP_EPS})",
    "fy_min": f"(lat - h * {FP_EPS})",
    "fy_max": f"(lat + h * {FP_EPS})",
}

# Strict overlap (touching edges excluded) and the fractional-area weight —
# one SQL text evaluated by both Spark and DuckDB.
FP_OVERLAP_PREDICATE = (
    "fx_max > xmin AND xmax > fx_min AND fy_max > ymin AND ymax > fy_min"
)
WEIGHT_MICRO_SQL = (
    "CAST(floor(1e6 * ((LEAST(xmax, fx_max) - GREATEST(xmin, fx_min)) * "
    "(LEAST(ymax, fy_max) - GREATEST(ymin, fy_min))) / "
    "((fx_max - fx_min) * (fy_max - fy_min))) AS BIGINT)"
)


def tile_footprints(tiles: DataFrame) -> DataFrame:
    out = tiles
    for name, expr in FP_EXPRS.items():
        out = out.withColumn(name, F.expr(expr))
    return out


def zonal_weighted(tiles: DataFrame, zones: DataFrame, res: int = 9) -> DataFrame:
    """Per-zone fractional-coverage stats over the footprint-rectangle join.

    Scale design: footprint cover cells fan out JVM-side (a footprint spans
    ~1-4 res-9 cells at these extents); the zone cover is broadcast, so the
    tile scan never shuffles. Duplicate (tile, zone) candidates from shared
    cells are eliminated WITHOUT a distinct: a pair is reported only in the
    cell containing the intersection's lower-left corner (the reference-
    point method — pure arithmetic, each pair survives in exactly one
    cell). The terminal groupBy is the job's only exchange.
    """
    t = box_cells(
        tile_footprints(tiles), grid.ix_col("fx_min", res), grid.ix_col("fx_max", res),
        grid.iy_col("fy_min", res), grid.iy_col("fy_max", res), res,
    )
    refpoint = grid.cell_sql("GREATEST(xmin, fx_min)", "GREATEST(ymin, fy_min)", res)
    j = cover_join(
        t, F.col("cell"), zone_cover(zones, res),
        f"{FP_OVERLAP_PREDICATE} AND cell = {refpoint}",
    ).withColumn("weight_micro", F.expr(WEIGHT_MICRO_SQL))
    return j.groupBy("polygon_id", "zkind").agg(
        F.count("*").alias("n_tiles"),
        F.sum("weight_micro").cast("bigint").alias("sum_weight_micro"),
        F.sum(F.when(F.col("weight_micro") == 1_000_000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_fully_inside"),
    )


def zonal_weighted_oracle_sql() -> str:
    fp_cols = ",\n         ".join(f"{e} AS {n}" for n, e in FP_EXPRS.items())
    return f"""tf AS (
  SELECT image_id, lon, lat, w, h,
         {fp_cols}
  FROM tiles
),
pairs AS (
  SELECT z.polygon_id, z.zkind, {WEIGHT_MICRO_SQL} AS weight_micro
  FROM tf JOIN zones z
    ON {FP_OVERLAP_PREDICATE}
)
SELECT polygon_id, zkind, count(*) AS n_tiles,
       CAST(sum(weight_micro) AS BIGINT) AS sum_weight_micro,
       CAST(sum(CASE WHEN weight_micro = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fully_inside
FROM pairs GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# Two-level assignment with fallback (the reference's exact/fallback match:
# edge semi-joins match on (name,file) with a name-only fallback for
# unresolved targets, hyphae/evaluator.py:227-272; J10 carries a confidence
# column). Here: exact PIP where possible, nearest-zone-centroid for tiles
# in no zone, with the distance as the confidence column.
# ---------------------------------------------------------------------------

_CENTROID_STRUCT = (
    "named_struct('cx', (xmin + xmax) / 2e0, 'cy', (ymin + ymax) / 2e0, "
    "'polygon_id', polygon_id)"
)
_D_NANO = (
    "CAST(floor(1e9 * ((lon - z.cx) * (lon - z.cx) + "
    "(lat - z.cy) * (lat - z.cy))) AS BIGINT)"
)


def zone_assignment_full(tiles: DataFrame, zones: DataFrame, res: int = 9) -> DataFrame:
    """Every tile assigned a zone: PIP winner (smallest polygon_id) with
    method='pip', else nearest zone centroid with method='nearest' and
    dist2_nano as confidence.

    Scale design: the fallback argmin is a higher-order ``aggregate`` fold
    over the broadcast zone array — evaluated entirely map-side inside the
    projection (no shuffle, no window over the trillion-row side; the fold
    is order-independent so collect_list's nondeterministic order is
    harmless). At millions of zones, swap the fold for cell-ring expansion
    (operators/knn.py); the two-level union shape is unchanged."""
    matched = pip_join(tiles, zones, res=res).select("image_id", "polygon_id")
    pipm = matched.groupBy("image_id").agg(F.min("polygon_id").alias("zone_id"))
    pip_part = pipm.select(
        "image_id",
        "zone_id",
        F.lit("pip").alias("method"),
        F.lit(0).cast("bigint").alias("dist2_nano"),
    )
    # Unmatched tiles come from the pipm aggregate already computed above —
    # re-running pip_join(how='anti') would execute the whole candidate+
    # verify join a second time over the trillion-row side.
    unmatched = tiles.join(pipm, "image_id", "left_anti").select(
        "image_id", "lon", "lat"
    )
    zarr = zones.select(F.collect_list(F.expr(_CENTROID_STRUCT)).alias("zs"))
    fold = (
        "aggregate(zs, named_struct('d', CAST(9000000000000000000 AS BIGINT), "
        f"'pid', CAST(NULL AS STRING)), (acc, z) -> CASE WHEN {_D_NANO} < acc.d "
        f"OR ({_D_NANO} = acc.d AND z.polygon_id < acc.pid) "
        f"THEN named_struct('d', {_D_NANO}, 'pid', z.polygon_id) ELSE acc END)"
    )
    near = (
        unmatched.crossJoin(F.broadcast(zarr))
        .withColumn("best", F.expr(fold))
        .select(
            "image_id",
            F.col("best.pid").alias("zone_id"),
            F.lit("nearest").alias("method"),
            F.col("best.d").alias("dist2_nano"),
        )
    )
    return pip_part.unionByName(near)


def zone_assignment_full_oracle_sql() -> str:
    return """cents AS (
  SELECT polygon_id, (xmin + xmax) / 2e0 AS cx, (ymin + ymax) / 2e0 AS cy
  FROM zones
),
pipm AS (
  SELECT t.image_id, min(z.polygon_id) AS zone_id
  FROM tiles t JOIN zones z
    ON t.lon >= z.xmin AND t.lon < z.xmax AND t.lat >= z.ymin AND t.lat < z.ymax
  GROUP BY 1
),
unm AS (
  SELECT image_id, lon, lat FROM tiles
  WHERE image_id NOT IN (SELECT image_id FROM pipm)
),
scored AS (
  SELECT u.image_id, c.polygon_id,
         CAST(floor(1e9 * ((u.lon - c.cx) * (u.lon - c.cx) +
              (u.lat - c.cy) * (u.lat - c.cy))) AS BIGINT) AS d
  FROM unm u CROSS JOIN cents c
),
nearest AS (
  SELECT image_id, polygon_id AS zone_id, d FROM (
    SELECT image_id, polygon_id, d,
           row_number() OVER (PARTITION BY image_id ORDER BY d, polygon_id) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT image_id, zone_id, 'pip' AS method, CAST(0 AS BIGINT) AS dist2_nano FROM pipm
UNION ALL
SELECT image_id, zone_id, 'nearest' AS method, d AS dist2_nano FROM nearest"""


def focal_mean(tiles: DataFrame, res: int = 8) -> DataFrame:
    """Focal (neighborhood) raster statistic — the classic geospatial
    moving-window aggregate (GDAL/PostGIS ``focal mean``; the reference's
    neighbor-scope rollups are the sibling/parent combinators,
    hyphae/parser.py): for every OCCUPIED res-``res`` cell, the tile
    count and mean pixel area (w*h) over its 3×3 cell window.

    Scale shape: aggregate FIRST (one shuffle, tiles → per-cell sums),
    then fan the tiny per-cell frame ×9 to its neighbors and re-aggregate
    — the window arithmetic never touches tile rows, so the fan-out is
    O(#cells), not O(#tiles). Integer sums end-to-end; the mean is a
    floor-milli bigint (cross-engine float-hash discipline).
    """
    from .pip_join import tile_cells

    per_cell = (
        tile_cells(tiles, res)
        .groupBy("cell")
        .agg(F.count("*").alias("n"), F.sum(F.expr("w * h")).alias("s"))
        .withColumn("ix", grid.cell_to_ix(F.col("cell"), res))
        .withColumn("iy", grid.cell_to_iy(F.col("cell")))
    )
    contrib = per_cell.withColumn(
        "off", F.explode(grid.disk_offsets_expr(1))
    ).select(
        F.expr(grid.cell_from_ixiy_sql("ix + off.dx", "iy + off.dy", res)).alias(
            "cell"
        ),
        "n",
        "s",
    )
    focal = contrib.groupBy("cell").agg(
        F.sum("n").alias("focal_n"), F.sum("s").alias("focal_s")
    )
    return (
        per_cell.select("cell", F.col("n").alias("n_tiles"))
        .join(focal, "cell")
        .select(
            "cell",
            "n_tiles",
            "focal_n",
            F.expr(
                "CAST(floor((1000e0 * focal_s) / focal_n) AS BIGINT)"
            ).alias("focal_mean_milli"),
        )
    )


def focal_mean_oracle_sql(res: int = 8) -> str:
    offs = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    return f"""
per_cell AS (
  SELECT {grid.ix_sql('lon', res)} AS ix, {grid.iy_sql('lat', res)} AS iy,
         count(*) AS n, sum(w * h) AS s
  FROM tiles GROUP BY 1, 2
),
offs(dx, dy) AS (VALUES {offs}),
contrib AS (
  SELECT p.ix + o.dx AS ix, p.iy + o.dy AS iy, p.n, p.s
  FROM per_cell p CROSS JOIN offs o
),
focal AS (
  SELECT ix, iy, sum(n) AS focal_n, sum(s) AS focal_s
  FROM contrib GROUP BY 1, 2
)
SELECT {grid.cell_from_ixiy_sql('p.ix', 'p.iy', res)} AS cell,
       p.n AS n_tiles, f.focal_n,
       CAST(floor((1000e0 * f.focal_s) / f.focal_n) AS BIGINT) AS focal_mean_milli
FROM per_cell p JOIN focal f ON f.ix = p.ix AND f.iy = p.iy"""


PYRAMID_LEVELS = (8, 6, 4)


def pyramid_rollup(tiles: DataFrame, levels: tuple = PYRAMID_LEVELS) -> DataFrame:
    """Multi-resolution tile pyramid in ONE scan — the image-pyramid /
    hypertable-rollup analog of the reference's hierarchical scope
    rollups: per (resolution, cell) tile count, pixel-area sum, and
    first tile id, for every level at once.

    One explode of a 3-struct array per tile row → one aggregation keyed
    (res, cell); map-side combine collapses to ~#cells rows per level
    before the single exchange. No per-level rescans — at 100 TB the
    scan is the cost, so all levels amortize it.
    """
    lv = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).cast("int").alias("res"),
                    F.expr(grid.cell_sql("lon", "lat", r)).alias("cell"),
                )
                for r in levels
            ]
        )
    )
    return (
        tiles.select(lv.alias("l"), "w", "h", "i")
        .groupBy(F.col("l.res").alias("res"), F.col("l.cell").alias("cell"))
        .agg(
            F.count("*").alias("n_tiles"),
            F.sum(F.expr("w * h")).alias("px_sum"),
            F.min("i").alias("first_i"),
        )
    )


def pyramid_rollup_oracle_sql(levels: tuple = PYRAMID_LEVELS) -> str:
    parts = [
        f"""SELECT CAST({r} AS INTEGER) AS res, {grid.cell_sql('lon', 'lat', r)} AS cell,
       count(*) AS n_tiles, sum(w * h) AS px_sum, min(i) AS first_i
FROM tiles GROUP BY 1, 2"""
        for r in levels
    ]
    return "\nUNION ALL\n".join(parts)


def local_moran(tiles: DataFrame, res: int = 8) -> DataFrame:
    """Local Moran's I spatial autocorrelation over the cell grid — the
    LISA hot/cold-spot statistic (Anselin 1995), on the per-cell tile
    counts with 8-neighbor rook+bishop weights.

    Exact INTEGER formulation (cross-engine hash safety): with T = total
    tiles over C occupied cells, the deviation is scaled by C —
    ``dev_i = C·n_i − T`` (∝ n_i − mean, exactly) — and the statistic is
    ``moran_num_i = dev_i · Σ_{j∈N(i)} dev_j`` over OCCUPIED neighbors.
    Positive = a cluster (hot-hot / cold-cold), negative = an outlier
    among unlike neighbors; magnitudes are comparable within one run.

    Scale shape: per-cell agg (one shuffle) → 1-row totals broadcast →
    ×8 fan of the CELL frame (never tiles) → neighbor-sum join. Same
    O(#cells) window discipline as ``focal_mean``.
    """
    from .pip_join import tile_cells

    per_cell = (
        tile_cells(tiles, res)
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .withColumn("ix", grid.cell_to_ix(F.col("cell"), res))
        .withColumn("iy", grid.cell_to_iy(F.col("cell")))
    )
    totals = per_cell.agg(
        F.sum("n").alias("t_sum"), F.count("*").alias("c_cells")
    )
    dev = per_cell.crossJoin(F.broadcast(totals)).withColumn(
        "dev", F.expr("c_cells * n - t_sum")
    )
    neigh = (
        dev.withColumn("off", F.explode(grid.disk_offsets_expr(1)))
        .where("NOT (off.dx = 0 AND off.dy = 0)")
        .select(
            F.expr(
                grid.cell_from_ixiy_sql("ix + off.dx", "iy + off.dy", res)
            ).alias("cell"),
            F.col("dev").alias("ndev"),
        )
        .groupBy("cell")
        .agg(F.sum("ndev").alias("neigh_dev"))
    )
    return (
        dev.join(neigh, "cell", "left")
        .select(
            "cell",
            F.col("n").alias("n_tiles"),
            F.col("dev").cast("bigint").alias("dev"),
            F.coalesce(F.col("neigh_dev"), F.lit(0)).cast("bigint").alias(
                "neigh_dev"
            ),
            F.expr(
                "CAST(dev * coalesce(neigh_dev, 0) AS BIGINT)"
            ).alias("moran_num"),
        )
    )


def local_moran_oracle_sql(res: int = 8) -> str:
    offs = ", ".join(
        f"({dx}, {dy})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if not (dx == 0 and dy == 0)
    )
    return f"""
per_cell AS (
  SELECT {grid.ix_sql('lon', res)} AS ix, {grid.iy_sql('lat', res)} AS iy,
         count(*) AS n
  FROM tiles GROUP BY 1, 2
),
totals AS (SELECT sum(n) AS t_sum, count(*) AS c_cells FROM per_cell),
dev AS (
  SELECT p.ix, p.iy, p.n, t.c_cells * p.n - t.t_sum AS dev
  FROM per_cell p CROSS JOIN totals t
),
offs(dx, dy) AS (VALUES {offs}),
neigh AS (
  SELECT d.ix + o.dx AS ix, d.iy + o.dy AS iy, sum(d.dev) AS neigh_dev
  FROM dev d CROSS JOIN offs o
  GROUP BY 1, 2
)
SELECT {grid.cell_from_ixiy_sql('d.ix', 'd.iy', res)} AS cell,
       d.n AS n_tiles,
       CAST(d.dev AS BIGINT) AS dev,
       CAST(coalesce(nb.neigh_dev, 0) AS BIGINT) AS neigh_dev,
       CAST(d.dev * coalesce(nb.neigh_dev, 0) AS BIGINT) AS moran_num
FROM dev d LEFT JOIN neigh nb ON nb.ix = d.ix AND nb.iy = d.iy"""


# ---------------------------------------------------------------------------
# R41: kernel density estimation heatmap (SURVEY §2.12)
# ---------------------------------------------------------------------------

def kde_heatmap(tiles: DataFrame, res: int = 9, k: int = 2,
                min_kde: int = 20) -> DataFrame:
    """Kernel density surface over the res-``res`` grid: each occupied
    cell's tile count contributes to its Chebyshev disk-``k`` neighborhood
    with an integer triangular kernel (weight ``k+1 - chebyshev``); cells
    with density >= ``min_kde`` are the heatmap (the smoothed upgrade of
    cell_density_heatmap's per-cell banding).

    Scale shape = focal_mean's: aggregate tiles → per-cell counts first
    (one shuffle), THEN fan the tiny cell frame ×(2k+1)² — kernel work is
    O(#cells), never O(#tiles). All-integer weights → parity-proof sums.
    """
    per_cell = (
        tile_cells(tiles, res)
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .withColumn("ix", grid.cell_to_ix(F.col("cell"), res))
        .withColumn("iy", grid.cell_to_iy(F.col("cell")))
    )
    contrib = per_cell.withColumn(
        "off", F.explode(grid.disk_offsets_expr(k))
    ).select(
        F.expr(grid.cell_from_ixiy_sql("ix + off.dx", "iy + off.dy", res)).alias(
            "cell"
        ),
        (
            F.col("n")
            * (F.lit(k + 1) - F.greatest(F.abs("off.dx"), F.abs("off.dy")))
        ).alias("w"),
    )
    return (
        contrib.groupBy("cell")
        .agg(F.sum("w").alias("kde"))
        .where(F.col("kde") >= min_kde)
    )


def kde_heatmap_oracle_sql(res: int = 9, k: int = 2, min_kde: int = 20) -> str:
    return f"""
per_cell AS (
  SELECT {grid.ix_sql('lon', res)} AS ix, {grid.iy_sql('lat', res)} AS iy,
         count(*) AS n
  FROM tiles GROUP BY 1, 2
),
offs AS (SELECT dx, dy FROM range({-k}, {k + 1}) t1(dx), range({-k}, {k + 1}) t2(dy)),
contrib AS (
  SELECT p.ix + o.dx AS ix, p.iy + o.dy AS iy,
         p.n * ({k + 1} - GREATEST(abs(o.dx), abs(o.dy))) AS w
  FROM per_cell p CROSS JOIN offs o
)
SELECT {grid.cell_from_ixiy_sql('ix', 'iy', res)} AS cell, sum(w) AS kde
FROM contrib GROUP BY ix, iy HAVING sum(w) >= {min_kde}"""


# ---------------------------------------------------------------------------
# R42: two-epoch raster change detection (map algebra)
# ---------------------------------------------------------------------------

def raster_change(tiles: DataFrame, res: int = 8, min_total: int = 6,
                  margin: int = 4) -> DataFrame:
    """Change detection between two acquisition epochs of the same grid.
    Epoch A = tiles with i % 3 = 0, epoch B = the rest — the epochs have
    genuinely different spatial distributions (the hotspot a tile joins is
    chosen by i % 3, synth._hs_case), so hotspot 0 systematically LOSES
    coverage and hotspots 1-2 GAIN, on top of background variance.

    Per dense cell (>= ``min_total`` tiles): epoch counts, the normalized
    delta (B − 2A: epoch B has 2× the background rows by construction),
    and a gain/stable/loss class at ±``margin``. One groupBy; map algebra
    is column arithmetic on the aggregated frame.
    """
    per_cell = (
        tile_cells(tiles, res)
        .groupBy("cell")
        .agg(
            F.sum(F.expr("CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END")).alias("cnt_a"),
            F.sum(F.expr("CASE WHEN i % 3 = 0 THEN 0 ELSE 1 END")).alias("cnt_b"),
        )
        .where(F.col("cnt_a") + F.col("cnt_b") >= min_total)
    )
    delta = (F.col("cnt_b") - 2 * F.col("cnt_a")).alias("delta")
    cls = (
        F.when(F.col("cnt_b") - 2 * F.col("cnt_a") >= margin, "gain")
        .when(2 * F.col("cnt_a") - F.col("cnt_b") >= margin, "loss")
        .otherwise("stable")
        .alias("change_class")
    )
    return per_cell.select("cell", "cnt_a", "cnt_b", delta, cls)


def raster_change_oracle_sql(res: int = 8, min_total: int = 6,
                             margin: int = 4) -> str:
    return f"""
per_cell AS (
  SELECT {grid.ix_sql('lon', res)} AS ix, {grid.iy_sql('lat', res)} AS iy,
         sum(CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END) AS cnt_a,
         sum(CASE WHEN i % 3 = 0 THEN 0 ELSE 1 END) AS cnt_b
  FROM tiles GROUP BY 1, 2
)
SELECT {grid.cell_from_ixiy_sql('ix', 'iy', res)} AS cell, cnt_a, cnt_b,
       cnt_b - 2 * cnt_a AS delta,
       CASE WHEN cnt_b - 2 * cnt_a >= {margin} THEN 'gain'
            WHEN 2 * cnt_a - cnt_b >= {margin} THEN 'loss'
            ELSE 'stable' END AS change_class
FROM per_cell WHERE cnt_a + cnt_b >= {min_total}"""


# ---------------------------------------------------------------------------
# R49: Getis-Ord Gi* hotspot statistic (SURVEY §2.12)
# ---------------------------------------------------------------------------

def getis_ord(tiles: DataFrame, res: int = 8) -> DataFrame:
    """Getis-Ord Gi* local hotspot statistic over the cell grid — the
    companion to ``local_moran``: where LISA flags *similarity* to
    neighbors, Gi* flags locally HIGH (or low) absolute intensity. The
    neighborhood INCLUDES the center cell (the * variant).

    Exact INTEGER formulation (cross-engine hash safety), mirroring
    local_moran's dev scaling: with T total tiles over C occupied cells,
    ``gi_num_i = C·Σ_{j∈N⁺(i)} n_j − T·m_i`` where N⁺ is the occupied
    8-neighborhood plus center and ``m_i = |N⁺(i)|``. gi_num > 0 ⇔ the
    neighborhood's mean count exceeds the global mean (hot spot); the
    magnitude is comparable within one run. The denominator (a global
    sqrt) is a constant per run — omitted so every value stays bigint.

    Scale shape: per-cell agg (one shuffle) → ×9 fan of the CELL frame
    (never tiles) → neighbor-sum agg → key join + 1-row broadcast. Work
    is O(#cells), identical to focal_mean/local_moran at 1000×.
    """
    per_cell = (
        tile_cells(tiles, res)
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .withColumn("ix", grid.cell_to_ix(F.col("cell"), res))
        .withColumn("iy", grid.cell_to_iy(F.col("cell")))
    )
    totals = per_cell.agg(
        F.sum("n").alias("t_sum"), F.count("*").alias("c_cells")
    )
    hood = (
        per_cell.withColumn("off", F.explode(grid.disk_offsets_expr(1)))
        .select(
            F.expr(
                grid.cell_from_ixiy_sql("ix + off.dx", "iy + off.dy", res)
            ).alias("cell"),
            F.col("n").alias("nn"),
        )
        .groupBy("cell")
        .agg(F.sum("nn").alias("local_sum"), F.count("*").alias("m_occ"))
    )
    return (
        per_cell.join(hood, "cell")
        .crossJoin(F.broadcast(totals))
        .select(
            "cell",
            F.col("n").alias("n_tiles"),
            F.col("m_occ").cast("bigint").alias("m_occ"),
            F.col("local_sum").cast("bigint").alias("local_sum"),
            F.expr(
                "CAST(c_cells * local_sum - t_sum * m_occ AS BIGINT)"
            ).alias("gi_num"),
        )
    )


def getis_ord_oracle_sql(res: int = 8) -> str:
    offs = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    return f"""
per_cell AS (
  SELECT {grid.ix_sql('lon', res)} AS ix, {grid.iy_sql('lat', res)} AS iy,
         count(*) AS n
  FROM tiles GROUP BY 1, 2
),
totals AS (SELECT sum(n) AS t_sum, count(*) AS c_cells FROM per_cell),
offs(dx, dy) AS (VALUES {offs}),
hood AS (
  SELECT p.ix + o.dx AS ix, p.iy + o.dy AS iy,
         sum(p.n) AS local_sum, count(*) AS m_occ
  FROM per_cell p CROSS JOIN offs o
  GROUP BY 1, 2
)
SELECT {grid.cell_from_ixiy_sql('p.ix', 'p.iy', res)} AS cell,
       p.n AS n_tiles,
       CAST(h.m_occ AS BIGINT) AS m_occ,
       CAST(h.local_sum AS BIGINT) AS local_sum,
       CAST(t.c_cells * h.local_sum - t.t_sum * h.m_occ AS BIGINT) AS gi_num
FROM per_cell p
JOIN hood h ON h.ix = p.ix AND h.iy = p.iy
CROSS JOIN totals t"""


# ---------------------------------------------------------------------------
# R50: join-count statistics (binary-mark spatial autocorrelation)
# ---------------------------------------------------------------------------

# each undirected 8-neighbor pair counted exactly once: the half-plane of
# lexicographically-positive offsets
_HALF_OFFS = [(1, -1), (1, 0), (1, 1), (0, 1)]


def join_counts(tiles: DataFrame, res: int = 8) -> DataFrame:
    """Join-count statistics (Cliff-Ord) for the binary hotspot mark over
    the occupied cell grid: a cell is BLACK if it contains any hotspot
    tile (i % 5 = 0 — the synthetic clustered population), WHITE
    otherwise; adjacency is the 8-neighborhood restricted to OCCUPIED
    cells. Returns ONE row: cell/mark totals, edge count, and the BB /
    WW / BW joins — BB far above expectation ⇔ the marks are spatially
    clustered (they are, by construction).

    Dedup without distinct: each undirected edge is generated once, from
    its lexicographically-smaller endpoint via the 4 half-plane offsets
    (the reference-point method of zonal_weighted). Work is O(#cells);
    the mark frame joins to itself on the computed neighbor cell id.
    """
    marks = (
        tile_cells(tiles, res)
        .groupBy("cell")
        .agg(
            F.max(F.expr("CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END")).alias(
                "hot"
            )
        )
        .withColumn("ix", grid.cell_to_ix(F.col("cell"), res))
        .withColumn("iy", grid.cell_to_iy(F.col("cell")))
    )
    half = F.expr(
        "explode(array("
        + ", ".join(
            f"struct({dx} as dx, {dy} as dy)" for dx, dy in _HALF_OFFS
        )
        + "))"
    )
    edges = (
        marks.withColumn("off", half)
        .select(
            F.expr(
                grid.cell_from_ixiy_sql("ix + off.dx", "iy + off.dy", res)
            ).alias("cell"),
            F.col("hot").alias("hot1"),
        )
        .join(marks.select("cell", F.col("hot").alias("hot2")), "cell")
        .agg(
            F.count("*").alias("n_edges"),
            F.sum(F.expr("hot1 * hot2")).alias("bb"),
            F.sum(F.expr("(1 - hot1) * (1 - hot2)")).alias("ww"),
            F.sum(F.expr("hot1 + hot2 - 2 * hot1 * hot2")).alias("bw"),
        )
    )
    cells = marks.agg(
        F.count("*").alias("n_cells"), F.sum("hot").cast("bigint").alias("n_black")
    )
    return cells.crossJoin(F.broadcast(edges)).select(
        "n_cells",
        "n_black",
        "n_edges",
        F.col("bb").cast("bigint").alias("bb"),
        F.col("ww").cast("bigint").alias("ww"),
        F.col("bw").cast("bigint").alias("bw"),
    )


def join_counts_oracle_sql(res: int = 8) -> str:
    offs = ", ".join(f"({dx}, {dy})" for dx, dy in _HALF_OFFS)
    return f"""
marks AS (
  SELECT {grid.ix_sql('lon', res)} AS ix, {grid.iy_sql('lat', res)} AS iy,
         max(CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END) AS hot
  FROM tiles GROUP BY 1, 2
),
offs(dx, dy) AS (VALUES {offs}),
edges AS (
  SELECT count(*) AS n_edges,
         sum(m1.hot * m2.hot) AS bb,
         sum((1 - m1.hot) * (1 - m2.hot)) AS ww,
         sum(m1.hot + m2.hot - 2 * m1.hot * m2.hot) AS bw
  FROM marks m1 CROSS JOIN offs o
  JOIN marks m2 ON m2.ix = m1.ix + o.dx AND m2.iy = m1.iy + o.dy
),
cells AS (
  SELECT count(*) AS n_cells, CAST(sum(hot) AS BIGINT) AS n_black FROM marks
)
SELECT c.n_cells, c.n_black, e.n_edges,
       CAST(e.bb AS BIGINT) AS bb, CAST(e.ww AS BIGINT) AS ww,
       CAST(e.bw AS BIGINT) AS bw
FROM cells c CROSS JOIN edges e"""


# ---------------------------------------------------------------------------
# R51: area-weighted overlay reaggregation (polygon → grid dasymetrics)
# ---------------------------------------------------------------------------

def area_overlay(
    tiles: DataFrame, zones: DataFrame, res: int = 9, target_res: int = 6
) -> DataFrame:
    """Area-weighted reaggregation of zone-level statistics onto a coarse
    raster grid — the polygon-overlay / dasymetric-mapping operator: each
    zone's verified tile count is split across the res-``target_res``
    cells it overlaps, proportionally to the overlap area (measured
    exactly in res-``res`` cover cells — zones are axis-aligned, so the
    cell count IS the area). Integer apportionment: ``est = n·cnt DIV
    tot`` per (zone, target cell), then summed per target cell.

    Scale shape: the cover is the broadcast-sized zone frame fanned by
    sequence+explode (never tiles); weights and totals are two tiny
    aggregations of it; the tile-side work is the one PIP count. At
    1000× the only big exchange is the per-zone count — same as
    zonal_stats.
    """
    zn = (
        pip_join(tiles, zones, res=res)
        .groupBy("polygon_id")
        .agg(F.count("*").alias("zn"))
    )
    cov = zone_cover(zones, res).select(
        "polygon_id",
        F.expr(grid.parent_sql("cell", res, target_res)).alias("tcell"),
    )
    w = cov.groupBy("polygon_id", "tcell").agg(F.count("*").alias("cnt"))
    tot = cov.groupBy("polygon_id").agg(F.count("*").alias("tot"))
    est = (
        w.join(tot, "polygon_id")
        .join(zn, "polygon_id")
        .select(
            F.col("tcell").alias("cell"),
            "polygon_id",
            F.expr("zn * cnt DIV tot").alias("est"),
        )
    )
    return est.groupBy("cell").agg(
        F.countDistinct("polygon_id").alias("n_zones"),
        F.sum("est").cast("bigint").alias("est_tiles"),
    )


def area_overlay_oracle_sql(res: int = 9, target_res: int = 6) -> str:
    d = 1 << (res - target_res)
    return f"""
ao_zn AS (
  SELECT z.polygon_id, count(*) AS zn
  FROM tiles t JOIN zones z
    ON t.lon >= z.xmin AND t.lon < z.xmax
   AND t.lat >= z.ymin AND t.lat < z.ymax
  GROUP BY 1
),
ao_covx AS (
  SELECT polygon_id,
         unnest(generate_series({grid.ix_sql('xmin', res)}, {grid.ix_sql('xmax', res)})) AS ix,
         ymin, ymax
  FROM zones
),
ao_cov AS (
  SELECT polygon_id, ix // {d} AS tx,
         unnest(generate_series({grid.iy_sql('ymin', res)}, {grid.iy_sql('ymax', res)})) // {d} AS ty
  FROM ao_covx
),
ao_w AS (
  SELECT polygon_id, tx, ty, count(*) AS cnt FROM ao_cov GROUP BY 1, 2, 3
),
ao_tot AS (
  SELECT polygon_id, count(*) AS tot FROM ao_cov GROUP BY 1
),
ao_est AS (
  SELECT {grid.cell_from_ixiy_sql('w.tx', 'w.ty', target_res)} AS cell,
         w.polygon_id, (z.zn * w.cnt) // t.tot AS est
  FROM ao_w w
  JOIN ao_tot t ON t.polygon_id = w.polygon_id
  JOIN ao_zn z ON z.polygon_id = w.polygon_id
)
SELECT cell, count(DISTINCT polygon_id) AS n_zones,
       CAST(sum(est) AS BIGINT) AS est_tiles
FROM ao_est GROUP BY 1"""


# ---------------------------------------------------------------------------
# R57: Mann-Kendall emerging-hotspot trend (space-time cube)
# ---------------------------------------------------------------------------

N_EPOCHS = 6


def mann_kendall(tiles: DataFrame, res: int = 7,
                 min_total: int = 12) -> DataFrame:
    """Emerging-hot-spot analysis (the space-time-cube trend tool): per
    res-``res`` cell, the Mann-Kendall S statistic over ``N_EPOCHS``
    acquisition-epoch tile counts (epoch = i % 6, extending the
    raster_change two-epoch split; epoch e's hotspot rows land in
    cluster e % 3, so hotspot cells see structured epoch swings while
    background cells stay flat).

    S = Σ_{a<b} sign(c_b − c_a) over the C(6,2)=15 epoch pairs, kept as
    exact CASE arithmetic (sign() returns DOUBLE in Spark — floats never
    enter a compared column). |S| ≥ ``_MK_CUT`` classifies the trend
    rising/falling (for n=6, S ≥ 9 is significant at ~p<0.05 under the
    null; we report the raw S so any cut can be re-derived).

    Scale shape: ONE groupBy(cell) with 6 conditional sums (map-side
    combined) — the epoch dimension is folded into the aggregate, never
    fanned into rows. Work after the shuffle is O(#cells); identical at
    1000x.
    """
    per_cell = (
        tile_cells(tiles, res)
        .groupBy("cell")
        .agg(
            F.count("*").alias("total"),
            *[
                F.sum(
                    F.expr(f"CASE WHEN i % {N_EPOCHS} = {e} THEN 1 ELSE 0 END")
                ).alias(f"c{e}")
                for e in range(N_EPOCHS)
            ],
        )
        .where(F.col("total") >= min_total)
    )
    s_terms = " + ".join(
        f"(CASE WHEN c{b} > c{a} THEN 1 WHEN c{b} < c{a} THEN -1 ELSE 0 END)"
        for a in range(N_EPOCHS)
        for b in range(a + 1, N_EPOCHS)
    )
    return per_cell.select(
        "cell",
        F.col("total").cast("bigint").alias("total"),
        F.expr(f"CAST({s_terms} AS BIGINT)").alias("s_stat"),
        F.expr(
            f"CASE WHEN ({s_terms}) >= 9 THEN 'rising' "
            f"WHEN ({s_terms}) <= -9 THEN 'falling' ELSE 'flat' END"
        ).alias("trend"),
    )


def mann_kendall_oracle_sql(res: int = 7, min_total: int = 12) -> str:
    csums = ",\n         ".join(
        f"sum(CASE WHEN i % {N_EPOCHS} = {e} THEN 1 ELSE 0 END) AS c{e}"
        for e in range(N_EPOCHS)
    )
    s_terms = " + ".join(
        f"(CASE WHEN c{b} > c{a} THEN 1 WHEN c{b} < c{a} THEN -1 ELSE 0 END)"
        for a in range(N_EPOCHS)
        for b in range(a + 1, N_EPOCHS)
    )
    return f"""
mk_cell AS (
  SELECT {grid.cell_sql('lon', 'lat', res)} AS cell, count(*) AS total,
         {csums}
  FROM tiles GROUP BY 1 HAVING count(*) >= {min_total}
)
SELECT cell, CAST(total AS BIGINT) AS total,
       CAST({s_terms} AS BIGINT) AS s_stat,
       CASE WHEN ({s_terms}) >= 9 THEN 'rising'
            WHEN ({s_terms}) <= -9 THEN 'falling' ELSE 'flat' END AS trend
FROM mk_cell"""


# ---------------------------------------------------------------------------
# R66: polygon dissolve (union-by-attribute)
# ---------------------------------------------------------------------------

def dissolve(
    spark, zones: DataFrame, res: int = 7, area_res: int = 9
) -> DataFrame:
    """GIS dissolve: merge same-``zkind`` zones whose rectangles touch or
    overlap into regions (connected components of the adjacency graph),
    and report each region's UNION area exactly — as its distinct
    res-``area_res`` cell count, so the overlap double-count problem the
    naive Σ area has simply cannot occur. Output one row per region:
    (zkind, region_id, n_zones, area_cells) with region_id = min zone j.

    Scale shape: candidate adjacency pairs come from a cell-bucketed
    self-join of the res-``res`` zone cover (never all-pairs) with the
    reference-point dedup (CLAUDE.md): a pair is emitted ONLY in the cell
    containing (greatest(xmin), greatest(ymin)) — the lower-left corner
    of the bbox intersection, which lies in both rectangles, so exactly
    one join cell fires per pair and no distinct() is needed. Components
    run on the zone-id quotient graph (|V| = #zones ≪ #cells) via the
    shared min-label propagation; the area rollup is one exchange keyed
    by (zkind, region).
    """
    from .graph import connected_components

    sides = {}
    for tag in ("a", "b"):
        sides[tag] = zone_cover(zones, res).select(
            F.col("j").alias(f"{tag}_j"),
            F.col("zkind").alias(f"{tag}_zkind"),
            F.col("xmin").alias(f"{tag}_xmin"),
            F.col("xmax").alias(f"{tag}_xmax"),
            F.col("ymin").alias(f"{tag}_ymin"),
            F.col("ymax").alias(f"{tag}_ymax"),
            "cell",
        )
    refcell = grid.cell_sql(
        "greatest(a_xmin, b_xmin)", "greatest(a_ymin, b_ymin)", res
    )
    pairs = (
        sides["a"]
        .join(sides["b"], "cell")
        .where(
            F.expr(
                "a_zkind = b_zkind AND a_j < b_j"
                " AND a_xmin <= b_xmax AND b_xmin <= a_xmax"
                " AND a_ymin <= b_ymax AND b_ymin <= a_ymax"
                f" AND cell = {refcell}"
            )
        )
        .select(F.col("a_j").alias("src"), F.col("b_j").alias("dst"))
    )
    comp = connected_components(spark, pairs)
    labeled = zones.join(
        comp.withColumnRenamed("v", "j"), "j", "left"
    ).withColumn("region_id", F.coalesce("component", "j"))
    return (
        zone_cover(labeled, area_res)
        .groupBy("zkind", "region_id")
        .agg(
            F.countDistinct("j").cast("bigint").alias("n_zones"),
            F.countDistinct("cell").cast("bigint").alias("area_cells"),
        )
        .select("zkind", "region_id", "n_zones", "area_cells")
    )


def dissolve_oracle_sql(res_unused: int = 7, area_res: int = 9) -> str:
    """Naive exact oracle: all-pairs adjacency (fine at 200 zones), an
    UNCAPPED recursive min-label closure (parity also proves the Spark
    loop converged), and the identical cell-count union area. Requires
    the spliced zones CTE with WITH RECURSIVE."""
    return f"""
dz_pairs AS (
  SELECT a.j AS src, b.j AS dst
  FROM zones a JOIN zones b
    ON a.zkind = b.zkind AND a.j < b.j
   AND a.xmin <= b.xmax AND b.xmin <= a.xmax
   AND a.ymin <= b.ymax AND b.ymin <= a.ymax
),
dz_edges AS (
  SELECT src, dst FROM dz_pairs
  UNION ALL SELECT dst, src FROM dz_pairs
),
dz_reach(v, label) AS (
  SELECT j, j FROM zones
  UNION
  SELECT e.dst, r.label FROM dz_reach r JOIN dz_edges e ON e.src = r.v
),
dz_comp AS (SELECT v AS j, min(label) AS region_id FROM dz_reach GROUP BY v),
dz_cells AS (
  SELECT z.zkind, c.region_id, z.j,
         ix * {grid.IX_MUL} + iy AS acell
  FROM zones z
  JOIN dz_comp c ON c.j = z.j,
       unnest(generate_series({grid.ix_sql('xmin', area_res)},
                              {grid.ix_sql('xmax', area_res)})) AS tx(ix),
       unnest(generate_series({grid.iy_sql('ymin', area_res)},
                              {grid.iy_sql('ymax', area_res)})) AS ty(iy)
)
SELECT zkind, region_id,
       CAST(count(DISTINCT j) AS BIGINT) AS n_zones,
       CAST(count(DISTINCT acell) AS BIGINT) AS area_cells
FROM dz_cells GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# R69: raster morphology (erosion / dilation / boundary) over the hot mask
# ---------------------------------------------------------------------------

MORPH_RES = 7
MORPH_HOT_MIN = 5  # cell is "hot" when it holds ≥ this many tiles

# von Neumann 4-neighborhood (no center) — morphology's structuring
# element; spelled once, spliced into both engines.
_VN4 = ((-1, 0), (1, 0), (0, -1), (0, 1))


def raster_morphology(
    tiles: DataFrame, res: int = MORPH_RES, hot_min: int = MORPH_HOT_MIN
) -> DataFrame:
    """Binary mathematical morphology over the density mask (hot = res-R
    cell with ≥ hot_min tiles): dilation (hot ∪ 4-neighbors), erosion
    (hot cells whose 4 neighbors are ALL hot), internal boundary
    (hot − eroded), and solidity = 1000·n_eroded/n_hot. One audit row,
    all bigint — the raster sibling of the zone fringe combinator.

    Scale shape: aggregate FIRST (tiles → per-cell counts, one shuffle),
    then every morphology operator is a ≤5× fan of the tiny hot-cell
    frame joined back to itself — O(#hot cells), the tile rows are never
    touched again (the focal_mean discipline).
    """
    from .pip_join import tile_cells

    hot = (
        tile_cells(tiles, res)
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= hot_min)
        .withColumn("ix", grid.cell_to_ix(F.col("cell"), res))
        .withColumn("iy", grid.cell_to_iy(F.col("cell")))
        .select("cell", "ix", "iy")
    )
    offs = ", ".join(f"struct({dx} AS dx, {dy} AS dy)" for dx, dy in _VN4)
    fan = hot.withColumn("off", F.explode(F.expr(f"array({offs})"))).select(
        F.expr(grid.cell_from_ixiy_sql("ix + off.dx", "iy + off.dy", res)).alias(
            "cell"
        )
    )
    n_hot = hot.agg(F.count("*").alias("n_hot"))
    n_dilated = (
        fan.select("cell")
        .unionByName(hot.select("cell"))
        .agg(F.countDistinct("cell").alias("n_dilated"))
    )
    n_eroded = (
        fan.groupBy("cell")
        .agg(F.count("*").alias("nn"))
        .where(F.col("nn") == 4)
        .join(hot.select("cell"), "cell", "left_semi")
        .agg(F.count("*").alias("n_eroded"))
    )
    return (
        n_hot.crossJoin(F.broadcast(n_dilated))
        .crossJoin(F.broadcast(n_eroded))
        .selectExpr(
            "n_hot",
            "n_dilated",
            "n_eroded",
            "n_hot - n_eroded AS n_boundary",
            "1000 * n_eroded DIV n_hot AS solidity_milli",
        )
    )


def raster_morphology_oracle_sql(
    res: int = MORPH_RES, hot_min: int = MORPH_HOT_MIN
) -> str:
    offs = ", ".join(f"({dx}, {dy})" for dx, dy in _VN4)
    return f"""
mh AS (
  SELECT {grid.ix_sql('lon', res)} AS ix, {grid.iy_sql('lat', res)} AS iy,
         count(*) AS n
  FROM tiles GROUP BY 1, 2
),
mhot AS (SELECT ix, iy FROM mh WHERE n >= {hot_min}),
moffs(dx, dy) AS (VALUES {offs}),
mfan AS (
  SELECT h.ix + o.dx AS ix, h.iy + o.dy AS iy
  FROM mhot h CROSS JOIN moffs o
),
mdil AS (
  SELECT count(DISTINCT ix * {grid.IX_MUL} + iy) AS n_dilated
  FROM (SELECT ix, iy FROM mfan UNION ALL SELECT ix, iy FROM mhot)
),
mero AS (
  SELECT count(*) AS n_eroded
  FROM (SELECT ix, iy FROM mfan GROUP BY 1, 2 HAVING count(*) = 4) f
  WHERE EXISTS (SELECT 1 FROM mhot h WHERE h.ix = f.ix AND h.iy = f.iy)
),
mtot AS (SELECT count(*) AS n_hot FROM mhot)
SELECT t.n_hot, d.n_dilated, e.n_eroded,
       t.n_hot - e.n_eroded AS n_boundary,
       1000 * e.n_eroded // t.n_hot AS solidity_milli
FROM mtot t CROSS JOIN mdil d CROSS JOIN mero e"""


# ---------------------------------------------------------------------------
# R88: density concentration (exact integer Gini per tile kind)
# ---------------------------------------------------------------------------

def density_gini(tiles: DataFrame, res: int = 8) -> DataFrame:
    """Per tile kind, the Gini coefficient of its per-cell tile counts —
    how concentrated is each class over space? — as the exact integer
    ``gini_milli = (1000·(2·Σi·x_i − (n+1)·Σx)) DIV (n·Σx)`` over
    ascending-sorted counts (rank ties broken by cell id; the statistic
    is tie-invariant, the break only pins determinism).

    Scale shape: one (kind, cell) aggregation, then a KIND-partitioned
    rank window over the cell frame (never a single global partition),
    then a kind rollup — three stages sharing the kind hash key. The
    GROUPED_AGG Gini UDAF (operators/custom_agg.py) is the Python
    sibling; this one is pure SQL and oracle-exact.
    """
    from .pip_join import tile_cells
    from pyspark.sql.window import Window as W

    per = (
        tile_cells(tiles.select("tile_kind", "lon", "lat"), res)
        .groupBy("tile_kind", "cell")
        .agg(F.count("*").alias("x"))
    )
    w = W.partitionBy("tile_kind").orderBy("x", "cell")
    ranked = per.withColumn("rk", F.row_number().over(w).cast("bigint"))
    return (
        ranked.groupBy("tile_kind")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("x").alias("total_tiles"),
            F.sum(F.expr("rk * x")).alias("s1"),
        )
        .select(
            "tile_kind",
            "n_cells",
            "total_tiles",
            F.expr(
                "(1000 * (2 * s1 - (n_cells + 1) * total_tiles))"
                " DIV (n_cells * total_tiles)"
            ).alias("gini_milli"),
        )
    )


def density_gini_oracle_sql(res: int = 8) -> str:
    from .. import grid

    cell = grid.cell_sql("lon", "lat", res)
    return f"""
dg_cells AS (
  SELECT tile_kind, {cell} AS cell, count(*) AS x
  FROM tiles GROUP BY 1, 2),
dg_ranked AS (
  SELECT tile_kind, x,
         row_number() OVER (PARTITION BY tile_kind ORDER BY x, cell) AS rk
  FROM dg_cells)
SELECT tile_kind, count(*) AS n_cells, SUM(x) AS total_tiles,
       (1000 * (2 * SUM(rk * x) - (count(*) + 1) * SUM(x)))
         // (count(*) * SUM(x)) AS gini_milli
FROM dg_ranked GROUP BY tile_kind"""


# ---------------------------------------------------------------------------
# R92: percolation profile (threshold-ladder cluster topology)
# ---------------------------------------------------------------------------

PERC_THRESHOLDS = (2, 5, 10)
PERC_RES = 7
_PERC_PACK = 268_435_456
PERC_ROUNDS = 20


def percolation_profile(
    spark, tiles: DataFrame, thresholds: tuple = PERC_THRESHOLDS,
    res: int = PERC_RES,
) -> DataFrame:
    """Percolation analysis of the density raster: for each density
    threshold, keep cells with >= thr tiles, connect 4-neighbors, and
    report (thr, n_cells, n_components, largest) — how the occupied
    field fragments as the threshold rises (the giant-component
    collapse is the percolation transition; geostatistics reads it as
    habitat/urban-fabric connectivity).

    Per threshold: the min-label CC loop from the graph suite over the
    occupied-cell quotient (|V| = #cells ≥ thr, orders of magnitude
    below tiles); adjacency edges via two one-sided shifted equi-joins
    + self-loops so isolated cells count as singleton components. Tiles
    aggregate ONCE; the threshold ladder reuses the same cell frame.
    """
    from .. import grid
    from .graph import connected_components

    cells = tiles.groupBy(
        F.expr(grid.ix_sql("lon", res)).alias("cx"),
        F.expr(grid.iy_sql("lat", res)).alias("cy"),
    ).agg(F.count("*").alias("n")).localCheckpoint(eager=False)
    out = None
    for thr in thresholds:
        sub = cells.where(F.col("n") >= thr).select(
            "cx", "cy", F.expr(f"cx * {_PERC_PACK} + cy").alias("v")
        )
        a = sub.select("cx", "cy", F.col("v").alias("src"))
        b = sub.select(
            F.col("cx").alias("bx"), F.col("cy").alias("by"),
            F.col("v").alias("dst"),
        )
        edges = None
        for dx, dy in ((1, 0), (0, 1)):
            e = a.join(
                b, (a.cx + F.lit(dx) == b.bx) & (a.cy + F.lit(dy) == b.by)
            ).select("src", "dst")
            edges = e if edges is None else edges.unionByName(e)
        edges = edges.unionByName(
            sub.select(F.col("v").alias("src"), F.col("v").alias("dst"))
        )
        comp = connected_components(spark, edges, max_rounds=PERC_ROUNDS)
        sizes = comp.groupBy("component").agg(F.count("*").alias("cnt"))
        row = sizes.agg(
            F.lit(thr).cast("int").alias("thr"),
            F.sum("cnt").alias("n_cells"),
            F.count("*").alias("n_components"),
            F.max("cnt").alias("largest"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def percolation_oracle_sql(
    thresholds: tuple = PERC_THRESHOLDS, res: int = PERC_RES
) -> str:
    """Per-threshold capped recursive closures (splice after a CTE list
    providing ``tiles``; needs WITH RECURSIVE). Same normalized step cap
    as the Spark loop — equal whether or not the closure converged."""
    from .. import grid
    from .graph import _even_steps

    steps = _even_steps(PERC_ROUNDS)
    parts = [f"""pp_cells AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         count(*) AS n
  FROM tiles GROUP BY 1, 2)"""]
    selects = []
    for thr in thresholds:
        t = f"t{thr}"
        parts.append(f"""sub{t} AS (
  SELECT cx, cy, cx * {_PERC_PACK} + cy AS v FROM pp_cells WHERE n >= {thr}),
e{t} AS (
  SELECT a.v AS src, b.v AS dst FROM sub{t} a JOIN sub{t} b
    ON (b.cx = a.cx + 1 AND b.cy = a.cy)
    OR (b.cx = a.cx AND b.cy = a.cy + 1)
  UNION ALL SELECT v, v FROM sub{t}),
ue{t} AS (SELECT src, dst FROM e{t} UNION SELECT dst, src FROM e{t}),
w{t}(start, cur, hops) AS (
  SELECT v, v, 0 FROM sub{t}
  UNION
  SELECT w.start, e.dst, w.hops + 1 FROM w{t} w JOIN ue{t} e ON e.src = w.cur
  WHERE w.hops < {steps}),
c{t} AS (SELECT start, min(cur) AS component FROM w{t} GROUP BY 1),
s{t} AS (SELECT component, count(*) AS cnt FROM c{t} GROUP BY 1)""")
        selects.append(
            f"SELECT CAST({thr} AS INTEGER) AS thr, SUM(cnt) AS n_cells,"
            f" count(*) AS n_components, MAX(cnt) AS largest FROM s{t}"
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


# ---------------------------------------------------------------------------
# R-new: mosaic seam QA — the map-tile compositing diagnostic. Pick ONE
# canonical tile per res-9 cell (max pixel area, min id tie-break: the
# mosaicking "best tile wins" rule), then measure perceptual continuity
# across every rook-adjacent cell boundary as hamming(phash_a, phash_b).
# Low-hamming seams = visually coherent mosaic; the banded histogram is
# the QA scorecard a tile-serving pipeline watches. Tile rows are touched
# exactly once (the canonical pick is one max-struct aggregation); the
# seam join runs on the per-cell quotient.
# ---------------------------------------------------------------------------

MOSAIC_RES = 9


def mosaic_seams(tiles: DataFrame, res: int = MOSAIC_RES) -> DataFrame:
    """(band, n_seams, min_hamming, max_hamming) — seam hamming histogram
    in 8-bit bands. The canonical pick is max(struct(px, -i, phash)):
    (px, -i) is unique per cell, so phash rides along deterministically —
    a two-phase hash aggregate, no window shuffle over tile rows.
    """
    per_cell = (
        tiles.select(
            F.expr(grid.ix_sql("lon", res)).alias("cx"),
            F.expr(grid.iy_sql("lat", res)).alias("cy"),
            F.expr("CAST(w AS BIGINT) * h").alias("px"),
            "i",
            "phash",
        )
        .groupBy("cx", "cy")
        .agg(
            F.max(
                F.struct(
                    F.col("px").alias("px"),
                    (-F.col("i")).alias("mi"),
                    F.col("phash").alias("ph"),
                )
            ).alias("b")
        )
        .select("cx", "cy", F.col("b.ph").alias("phash"))
    )
    rt = per_cell.select(
        F.col("cx").alias("bx"), F.col("cy").alias("by"),
        F.col("phash").alias("pb"),
    )
    seams = None
    for dx, dy in ((1, 0), (0, 1)):
        s = per_cell.join(
            rt,
            (per_cell.cx + F.lit(dx) == rt.bx) & (per_cell.cy + F.lit(dy) == rt.by),
        ).select(F.expr("CAST(bit_count(phash ^ pb) AS BIGINT)").alias("hamming"))
        seams = s if seams is None else seams.unionByName(s)
    return (
        seams.groupBy(F.expr("hamming DIV 8").alias("band"))
        .agg(
            F.count("*").alias("n_seams"),
            F.min("hamming").alias("min_hamming"),
            F.max("hamming").alias("max_hamming"),
        )
    )


def mosaic_seams_oracle(res: int = MOSAIC_RES) -> str:
    return f"""ms_cells AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         w * h AS px, i, phash
  FROM tiles),
ms_pick AS (
  SELECT cx, cy, phash,
         row_number() OVER (PARTITION BY cx, cy ORDER BY px DESC, i) AS rn
  FROM ms_cells),
ms_canon AS (SELECT cx, cy, phash FROM ms_pick WHERE rn = 1),
ms_seams AS (
  SELECT CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
  FROM ms_canon a JOIN ms_canon b ON b.cx = a.cx + 1 AND b.cy = a.cy
  UNION ALL
  SELECT CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT)
  FROM ms_canon a JOIN ms_canon b ON b.cx = a.cx AND b.cy = a.cy + 1)
SELECT hamming // 8 AS band, count(*) AS n_seams,
       min(hamming) AS min_hamming, max(hamming) AS max_hamming
FROM ms_seams GROUP BY 1"""


# ---------------------------------------------------------------------------
# R116: zone diameter — the farthest-pair (Euclidean, squared cell units)
# of each zone's occupied res-9 cell set, exactly, WITHOUT an all-pairs
# join: the diameter endpoints of a finite point set are scanline
# extremes (for any pair, replacing an endpoint by the min-x or max-x
# cell of its own row never shortens the distance — x moves further
# away or stays, y is unchanged), so per zone only the <= 2·height
# extreme points enter the pair join. The pair join is zone-keyed
# (bucketed), and the per-zone extreme set is bounded by the zone's
# height in cells — O(rows) not O(cells²) at any scale. The oracle is
# the naive all-pairs max over ALL distinct cells, independently
# proving the reduction lossless.
# ---------------------------------------------------------------------------


def zone_diameter(tiles: DataFrame, zones: DataFrame, res: int = 9) -> DataFrame:
    """(polygon_id, n_cells, n_extremes, diam2): exact squared cell-grid
    diameter of each zone's occupied-cell set via scanline extremes."""
    matched = pip_join(tiles, zones, res=res)
    cells = (
        matched.select(
            "polygon_id",
            F.expr(grid.ix_sql("lon", res)).alias("ix"),
            F.expr(grid.iy_sql("lat", res)).alias("iy"),
        )
        .dropDuplicates(["polygon_id", "ix", "iy"])
        .localCheckpoint(eager=False)
    )
    n_cells = cells.groupBy("polygon_id").agg(F.count("*").alias("n_cells"))
    ext = cells.groupBy("polygon_id", "iy").agg(
        F.min("ix").alias("xlo"), F.max("ix").alias("xhi")
    )
    pts = (
        ext.select("polygon_id", F.col("xlo").alias("ix"), "iy")
        .unionByName(ext.select("polygon_id", F.col("xhi").alias("ix"), "iy"))
        .dropDuplicates(["polygon_id", "ix", "iy"])
        .localCheckpoint(eager=False)
    )
    n_ext = pts.groupBy("polygon_id").agg(F.count("*").alias("n_extremes"))
    a = pts.select("polygon_id", F.col("ix").alias("ax"), F.col("iy").alias("ay"))
    b = pts.select("polygon_id", F.col("ix").alias("bx"), F.col("iy").alias("by"))
    diam = (
        a.join(b, "polygon_id")
        .groupBy("polygon_id")
        .agg(
            F.max(
                F.expr("(ax - bx) * (ax - bx) + (ay - by) * (ay - by)")
            ).alias("diam2")
        )
    )
    return n_cells.join(n_ext, "polygon_id").join(diam, "polygon_id")


def zone_diameter_oracle_sql(res: int = 9) -> str:
    """Naive oracle: all-pairs (self included) over ALL distinct occupied
    cells per zone — no extreme-point shortcut."""
    ix = grid.ix_sql("t.lon", res)
    iy = grid.iy_sql("t.lat", res)
    return f"""zd_cells AS (
  SELECT DISTINCT z.polygon_id, {ix} AS ix, {iy} AS iy
  FROM tiles t JOIN zones z
    ON t.lon >= z.xmin AND t.lon < z.xmax
   AND t.lat >= z.ymin AND t.lat < z.ymax),
zd_n AS (SELECT polygon_id, count(*) AS n_cells FROM zd_cells GROUP BY 1),
zd_ext0 AS (
  SELECT polygon_id, iy, min(ix) AS xlo, max(ix) AS xhi
  FROM zd_cells GROUP BY 1, 2),
zd_ext AS (
  SELECT DISTINCT polygon_id, ix, iy FROM (
    SELECT polygon_id, xlo AS ix, iy FROM zd_ext0
    UNION ALL SELECT polygon_id, xhi AS ix, iy FROM zd_ext0)),
zd_ne AS (SELECT polygon_id, count(*) AS n_extremes FROM zd_ext GROUP BY 1),
zd_d AS (
  SELECT a.polygon_id,
         max((a.ix - b.ix) * (a.ix - b.ix)
           + (a.iy - b.iy) * (a.iy - b.iy)) AS diam2
  FROM zd_cells a JOIN zd_cells b USING (polygon_id)
  GROUP BY 1)
SELECT n.polygon_id, n.n_cells, e.n_extremes, d.diam2
FROM zd_n n JOIN zd_ne e USING (polygon_id) JOIN zd_d d USING (polygon_id)"""


# ---------------------------------------------------------------------------
# R121: areal interpolation (dasymetric reweighting) — the classic
# change-of-support GIS operation: a zone-level attribute (population)
# redistributed to res-8 grid cells proportional to an ancillary density
# (the tile count observed in each cell). Exact integer shares:
# alloc_micro(z, c) = 10^6 · pop(z) · n_tiles(z, c) DIV n_tiles(z); a
# cell's interpolated value sums its zones' shares. pop(z) is the
# deterministic synthetic 1000 + 7919·j % 9000 (both engines build it
# from the same integer SQL). Scale: one PIP join (tiles never shuffle —
# broadcast cover), one (zone, cell) aggregate, one broadcast zone-total
# join back; truncation loss per zone is < n_cells(z) micro-units and is
# surfaced by the conservation audit test.
# ---------------------------------------------------------------------------


def areal_interpolation(
    tiles: DataFrame, zones: DataFrame, res: int = 8
) -> DataFrame:
    """(cell, n_zones, pop_micro): zone populations dasymetrically
    pushed down to occupied res-`res` cells by tile-count weights."""
    matched = pip_join(tiles, zones, res=9)
    cells = matched.select(
        "polygon_id",
        F.expr(grid.cell_sql("lon", "lat", res)).alias("cell"),
    )
    zc = cells.groupBy("polygon_id", "cell").agg(F.count("*").alias("cnt"))
    zt = zc.groupBy("polygon_id").agg(F.sum("cnt").alias("tot"))
    pops = zones.selectExpr(
        "polygon_id", "1000 + (j * 7919) % 9000 AS pop"
    )
    return (
        zc.join(F.broadcast(zt), "polygon_id")
        .join(F.broadcast(pops), "polygon_id")
        .withColumn(
            "alloc_micro", F.expr("(1000000 * pop * cnt) DIV tot")
        )
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_zones"),
            F.sum("alloc_micro").alias("pop_micro"),
        )
    )


def areal_interpolation_oracle_sql(res: int = 8) -> str:
    cell = grid.cell_sql("t.lon", "t.lat", res)
    return f"""ai_zc AS (
  SELECT z.polygon_id, {cell} AS cell, count(*) AS cnt
  FROM {pip_oracle_join_sql()}
  GROUP BY 1, 2),
ai_zt AS (SELECT polygon_id, sum(cnt) AS tot FROM ai_zc GROUP BY 1),
ai_pop AS (SELECT polygon_id, 1000 + (j * 7919) % 9000 AS pop FROM zones)
SELECT c.cell, count(*) AS n_zones,
       sum((1000000 * p.pop * c.cnt) // z.tot) AS pop_micro
FROM ai_zc c
JOIN ai_zt z USING (polygon_id)
JOIN ai_pop p USING (polygon_id)
GROUP BY 1"""


# ---------------------------------------------------------------------------
# R125: zone shape statistics — discrete area/perimeter/compactness of
# each zone's occupied res-9 cell set. Perimeter counts exposed 4-edges:
# P = 4·n − 2·adj, where adj = rook-adjacent pairs found by TWO one-sided
# shifted equi-joins (+x and +y; one-sided ⇒ each undirected pair exactly
# once — the reference-point discipline), never an all-pairs test.
# Compactness is the Polsby-Popper score 4π·A/P² in exact cross-
# multiplied integer milli (π enters ×10^9 as an integer literal, so no
# float ever exists: milli = 4·3141592653·n DIV (10^6 · P²)).
# ---------------------------------------------------------------------------

_PI_E9 = 3_141_592_653  # floor(π·1e9): fixed integer literal on both engines


def zone_shape(tiles: DataFrame, zones: DataFrame, res: int = 9) -> DataFrame:
    """(polygon_id, n_cells, n_adj, perimeter, compact_milli)."""
    matched = pip_join(tiles, zones, res=res)
    cells = (
        matched.select(
            "polygon_id",
            F.expr(grid.ix_sql("lon", res)).alias("ix"),
            F.expr(grid.iy_sql("lat", res)).alias("iy"),
        )
        .dropDuplicates(["polygon_id", "ix", "iy"])
        .localCheckpoint(eager=False)
    )
    n = cells.groupBy("polygon_id").agg(F.count("*").alias("n_cells"))
    b = cells.select(
        F.col("polygon_id").alias("b_pid"),
        F.col("ix").alias("bx"),
        F.col("iy").alias("by"),
    )
    adj = None
    for dx, dy in ((1, 0), (0, 1)):  # one-sided: each pair once
        e = cells.join(
            b,
            (F.col("polygon_id") == F.col("b_pid"))
            & (F.col("ix") + F.lit(dx) == F.col("bx"))
            & (F.col("iy") + F.lit(dy) == F.col("by")),
        ).select("polygon_id")
        adj = e if adj is None else adj.unionByName(e)
    na = adj.groupBy("polygon_id").agg(F.count("*").alias("n_adj"))
    return (
        n.join(na, "polygon_id", "left")
        .withColumn("n_adj", F.expr("coalesce(n_adj, CAST(0 AS BIGINT))"))
        .withColumn("perimeter", F.expr("4 * n_cells - 2 * n_adj"))
        .withColumn(
            "compact_milli",
            F.expr(
                f"(4 * {_PI_E9} * n_cells)"
                " DIV (1000000 * perimeter * perimeter)"
            ),
        )
    )


def zone_shape_oracle_sql(res: int = 9) -> str:
    ix = grid.ix_sql("t.lon", res)
    iy = grid.iy_sql("t.lat", res)
    return f"""zs_cells AS (
  SELECT DISTINCT z.polygon_id, {ix} AS ix, {iy} AS iy
  FROM {pip_oracle_join_sql()}),
zs_n AS (SELECT polygon_id, count(*) AS n_cells FROM zs_cells GROUP BY 1),
zs_adj AS (
  SELECT a.polygon_id, count(*) AS n_adj FROM (
    SELECT a.polygon_id, a.ix, a.iy FROM zs_cells a JOIN zs_cells b
      ON a.polygon_id = b.polygon_id AND b.ix = a.ix + 1 AND b.iy = a.iy
    UNION ALL
    SELECT a.polygon_id, a.ix, a.iy FROM zs_cells a JOIN zs_cells b
      ON a.polygon_id = b.polygon_id AND b.ix = a.ix AND b.iy = a.iy + 1
  ) a GROUP BY 1)
SELECT n.polygon_id, n.n_cells,
       coalesce(j.n_adj, 0) AS n_adj,
       4 * n.n_cells - 2 * coalesce(j.n_adj, 0) AS perimeter,
       (4 * {_PI_E9} * n.n_cells)
         // (1000000 * (4 * n.n_cells - 2 * coalesce(j.n_adj, 0))
             * (4 * n.n_cells - 2 * coalesce(j.n_adj, 0))) AS compact_milli
FROM zs_n n LEFT JOIN zs_adj j USING (polygon_id)"""


# ---------------------------------------------------------------------------
# R131: two-step floating catchment area (2SFCA, Luo & Wang 2003 — the
# standard spatial-accessibility measure; public literature). Step 1:
# every SUPPLY cell j (occupied res-FCA_RES cell with >= FCA_SUP_THR
# tiles, capacity = its count) gets a supply-demand ratio
#   R_j = 10^6 · S_j DIV (Σ pop of demand cells within its catchment).
# Step 2: every DEMAND cell i sums the R_j of supply cells whose
# catchment reaches it: A_i = Σ R_j. Catchment = Chebyshev <= FCA_RADIUS.
#
# Scale shape: the DEMAND frame (the big side) NEVER fans — both steps
# fan the supply-derived frame by the fixed (2r+1)² offset grid and
# equi-join on the packed cell key (the semivariogram discipline). All
# integer; conservation Σ_i pop_i·A_i ∈ (10^6·ΣS − Σdpop, 10^6·ΣS] is
# pinned in tests (each floor loses < 1 per unit of catchment pop).
# ---------------------------------------------------------------------------

FCA_RES = 7
FCA_SUP_THR = 4
FCA_RADIUS = 2
_FCA_PACK = 268_435_456


def _fca_offsets(r: int = FCA_RADIUS) -> str:
    return ", ".join(
        f"struct({dx} AS dx, {dy} AS dy)"
        for dx in range(-r, r + 1)
        for dy in range(-r, r + 1)
    )


def accessibility_2sfca(
    tiles: DataFrame,
    res: int = FCA_RES,
    sup_thr: int = FCA_SUP_THR,
    radius: int = FCA_RADIUS,
) -> DataFrame:
    """(cx, cy, pop, n_supply, a_micro) per occupied res-``res`` cell —
    integer 2SFCA accessibility of every demand cell."""
    occ = (
        tiles.groupBy(
            F.expr(grid.ix_sql("lon", res)).alias("cx"),
            F.expr(grid.iy_sql("lat", res)).alias("cy"),
        )
        .agg(F.count("*").alias("pop"))
        .localCheckpoint(eager=False)
    )
    home = occ.select(
        F.expr(f"cx * {_FCA_PACK} + cy").alias("key"), F.col("pop")
    )
    offs = _fca_offsets(radius)
    fan_s = (
        occ.where(F.col("pop") >= sup_thr)
        .withColumn("o", F.explode(F.expr(f"array({offs})")))
        .select(
            F.col("cx").alias("sx"), F.col("cy").alias("sy"),
            F.col("pop").alias("s_n"),
            F.expr(f"(cx + o.dx) * {_FCA_PACK} + (cy + o.dy)").alias("key"),
        )
    )
    rj = (
        fan_s.join(home, "key")
        .groupBy("sx", "sy", "s_n")
        .agg(F.sum("pop").alias("dpop"))
        .selectExpr("sx", "sy", "(1000000 * s_n) DIV dpop AS r")
    )
    fan_r = rj.withColumn("o", F.explode(F.expr(f"array({offs})"))).select(
        F.expr(f"(sx + o.dx) * {_FCA_PACK} + (sy + o.dy)").alias("key"),
        "r",
    )
    return (
        occ.select(
            "cx", "cy", "pop", F.expr(f"cx * {_FCA_PACK} + cy").alias("key")
        )
        .join(fan_r, "key", "left")
        .groupBy("cx", "cy", "pop")
        .agg(
            F.count("r").alias("n_supply"),
            F.coalesce(F.sum("r"), F.lit(0)).alias("a_micro"),
        )
    )


def accessibility_2sfca_oracle(
    res: int = FCA_RES, sup_thr: int = FCA_SUP_THR, radius: int = FCA_RADIUS
) -> str:
    """Naive band-join mirror (splice after a CTE list providing tiles)."""
    return f"""
fca_occ AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         count(*) AS pop
  FROM tiles GROUP BY 1, 2),
fca_rj AS (
  SELECT s.cx, s.cy,
         (1000000 * s.pop) // sum(d.pop) AS r
  FROM fca_occ s JOIN fca_occ d
    ON abs(d.cx - s.cx) <= {radius} AND abs(d.cy - s.cy) <= {radius}
  WHERE s.pop >= {sup_thr}
  GROUP BY s.cx, s.cy, s.pop)
SELECT o.cx, o.cy, o.pop,
       count(r.r) AS n_supply,
       CAST(coalesce(sum(r.r), 0) AS BIGINT) AS a_micro
FROM fca_occ o LEFT JOIN fca_rj r
  ON abs(r.cx - o.cx) <= {radius} AND abs(r.cy - o.cy) <= {radius}
GROUP BY 1, 2, 3"""


# ---------------------------------------------------------------------------
# R136: slope/aspect raster (the D8 terrain-analysis pair, Horn 1981
# lineage simplified to the discrete max-descent form): over the
# res-SLOPE_RES tile-count surface, each occupied cell reports its
# steepest-descent drop (value − min 8-neighbor value, empties = 0) and
# the DIRECTION of that descent (aspect 0-7, row-major offset order,
# smallest index on ties; pits — all neighbors higher — get aspect -1
# and a negative drop). Arg-min rides ONE packed bigint (nbr·8 + dir)
# so both engines break ties identically; the fan is the fixed 8-offset
# equi-join of the occupied frame against itself (empty neighbors via
# LEFT join + coalesce 0 — the full grid is never generated).
# ---------------------------------------------------------------------------

SLOPE_RES = 7
_SLOPE_DIRS = [
    (-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1),
]
_SL_PACK = 268_435_456


def slope_aspect(tiles: DataFrame, res: int = SLOPE_RES) -> DataFrame:
    """(cx, cy, n, min_nbr, drop, aspect, grade) per occupied cell."""
    occ = (
        tiles.groupBy(
            F.expr(grid.ix_sql("lon", res)).alias("cx"),
            F.expr(grid.iy_sql("lat", res)).alias("cy"),
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    home = occ.select(
        F.expr(f"cx * {_SL_PACK} + cy").alias("key"),
        F.col("n").alias("nbrv"),
    )
    offs = ", ".join(
        f"struct({i} AS d, {dx} AS dx, {dy} AS dy)"
        for i, (dx, dy) in enumerate(_SLOPE_DIRS)
    )
    fan = occ.withColumn("o", F.explode(F.expr(f"array({offs})"))).select(
        "cx", "cy", "n", F.col("o.d").alias("d"),
        F.expr(f"(cx + o.dx) * {_SL_PACK} + (cy + o.dy)").alias("key"),
    )
    return (
        fan.join(home, "key", "left")
        .selectExpr("cx", "cy", "n", "coalesce(nbrv, 0) * 8 + d AS packed")
        .groupBy("cx", "cy", "n")
        .agg(F.min("packed").alias("p"))
        .selectExpr(
            "cx", "cy", "n",
            "p DIV 8 AS min_nbr",
            "n - p DIV 8 AS drop",
            "CASE WHEN n - p DIV 8 < 0 THEN -1 ELSE p % 8 END AS aspect",
            "CASE WHEN n - p DIV 8 < 0 THEN 'pit' "
            "WHEN n - p DIV 8 <= 1 THEN 'flat' "
            "WHEN n - p DIV 8 <= 3 THEN 'gentle' ELSE 'steep' END AS grade",
        )
    )


def slope_aspect_oracle(res: int = SLOPE_RES) -> str:
    dirs = ", ".join(f"({i}, {dx}, {dy})" for i, (dx, dy) in
                     enumerate(_SLOPE_DIRS))
    return f"""
sl_occ AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         count(*) AS n
  FROM tiles GROUP BY 1, 2),
sl_dirs(d, dx, dy) AS (VALUES {dirs}),
sl_fan AS (
  SELECT o.cx, o.cy, o.n,
         coalesce(b.n, 0) * 8 + r.d AS packed
  FROM sl_occ o CROSS JOIN sl_dirs r
  LEFT JOIN sl_occ b ON b.cx = o.cx + r.dx AND b.cy = o.cy + r.dy),
sl_min AS (
  SELECT cx, cy, n, min(packed) AS p FROM sl_fan GROUP BY 1, 2, 3)
SELECT cx, cy, n,
       p // 8 AS min_nbr,
       n - p // 8 AS drop,
       CASE WHEN n - p // 8 < 0 THEN -1 ELSE p % 8 END AS aspect,
       CASE WHEN n - p // 8 < 0 THEN 'pit'
            WHEN n - p // 8 <= 1 THEN 'flat'
            WHEN n - p // 8 <= 3 THEN 'gentle' ELSE 'steep' END AS grade
FROM sl_min"""


# ---------------------------------------------------------------------------
# R168: isoband boundary extraction — the contour-length table of the
# density raster (marching-squares' tabular core): band each occupied
# res-7 cell by tile count (0: 1-4, 1: ≥5, 2: ≥10, 3: ≥20), then count
# 4-adjacency edges between DIFFERENT bands, plus each band's open
# boundary against empty space (band −1). Each unordered occupied pair
# is counted once (only the +x/+y shifts), each open edge once (it has
# exactly one occupied endpoint, seen from its 4-direction fan).
# Scale shape: aggregate first (tiles → per-cell counts, one shuffle),
# then a ≤4× fan of the occupied-cell frame equi-joined to itself —
# the raster_morphology discipline, generalized to multi-class.
# ---------------------------------------------------------------------------

ISO_RES = 7
ISO_T = (5, 10, 20)
_ISO_PACK = 1 << 32


def _iso_band_case(n: str) -> str:
    t1, t2, t3 = ISO_T
    return (
        f"(CASE WHEN {n} >= {t3} THEN 3 WHEN {n} >= {t2} THEN 2"
        f" WHEN {n} >= {t1} THEN 1 ELSE 0 END)"
    )


def isoband_boundaries(tiles: DataFrame, res: int = ISO_RES) -> DataFrame:
    """(band_hi, band_lo, n_edges): 4-adjacency contour lengths between
    density bands; band_lo = −1 rows are open boundary against empty."""
    cells = (
        tiles.groupBy(
            F.expr(grid.ix_sql("lon", res)).alias("ix"),
            F.expr(grid.iy_sql("lat", res)).alias("iy"),
        )
        .agg(F.count("*").alias("n"))
        .selectExpr(
            f"ix * {_ISO_PACK} + iy AS key",
            "ix", "iy",
            f"CAST({_iso_band_case('n')} AS BIGINT) AS band",
        )
        .localCheckpoint(eager=False)
    )
    offs = (
        "array(struct(1 AS dx, 0 AS dy, 1 AS pos),"
        " struct(0 AS dx, 1 AS dy, 1 AS pos),"
        " struct(-1 AS dx, 0 AS dy, 0 AS pos),"
        " struct(0 AS dx, -1 AS dy, 0 AS pos))"
    )
    fan = cells.withColumn("o", F.explode(F.expr(offs))).selectExpr(
        "band", "o.pos AS pos",
        f"(ix + o.dx) * {_ISO_PACK} + (iy + o.dy) AS nkey",
    )
    j = fan.join(
        cells.selectExpr("key AS nkey", "band AS nband"), "nkey", "left"
    )
    occ = (
        j.where("nband IS NOT NULL AND pos = 1 AND band <> nband")
        .groupBy(
            F.expr("greatest(band, nband)").alias("band_hi"),
            F.expr("least(band, nband)").alias("band_lo"),
        )
        .agg(F.count("*").cast("bigint").alias("n_edges"))
    )
    opn = (
        j.where("nband IS NULL")
        .groupBy(F.col("band").alias("band_hi"))
        .agg(F.count("*").cast("bigint").alias("n_edges"))
        .selectExpr("band_hi", "CAST(-1 AS BIGINT) AS band_lo", "n_edges")
    )
    return occ.unionByName(opn)


def isoband_oracle_sql(res: int = ISO_RES) -> str:
    """Requires the spliced tiles CTE."""
    band = _iso_band_case("n")
    return f"""iso_cells AS (
  SELECT ix * {_ISO_PACK} + iy AS key, ix, iy,
         CAST({band} AS BIGINT) AS band
  FROM (SELECT {grid.ix_sql('lon', res)} AS ix,
               {grid.iy_sql('lat', res)} AS iy, count(*) AS n
        FROM tiles GROUP BY 1, 2)),
iso_fan AS (
  SELECT c.band, o.pos,
         (c.ix + o.dx) * {_ISO_PACK} + (c.iy + o.dy) AS nkey
  FROM iso_cells c
  CROSS JOIN (VALUES (1, 0, 1), (0, 1, 1), (-1, 0, 0), (0, -1, 0))
    AS o(dx, dy, pos)),
iso_j AS (
  SELECT f.band, f.pos, n.band AS nband
  FROM iso_fan f LEFT JOIN iso_cells n ON n.key = f.nkey),
iso_occ AS (
  SELECT greatest(band, nband) AS band_hi, least(band, nband) AS band_lo,
         CAST(count(*) AS BIGINT) AS n_edges
  FROM iso_j WHERE nband IS NOT NULL AND pos = 1 AND band <> nband
  GROUP BY 1, 2),
iso_open AS (
  SELECT band AS band_hi, CAST(-1 AS BIGINT) AS band_lo,
         CAST(count(*) AS BIGINT) AS n_edges
  FROM iso_j WHERE nband IS NULL GROUP BY 1)
SELECT * FROM iso_occ UNION ALL SELECT * FROM iso_open"""


# --- R263: density peaks (strict local maxima) -------------------------------
#
# Topological peak detection on the res-8 density raster: an occupied
# cell is a PEAK iff its tile count strictly exceeds every 8-neighbor
# count (absent neighbors count 0 — strictness makes the answer
# tie-free and deterministic). kde_heatmap/getis_ord rank hotness;
# this extracts the mode CELLS themselves (the local-maxima step of
# every peak-finding pipeline). Aggregate-first: the 8-offset fan runs
# over per-cell rows, never tiles.


def density_peaks(tiles: DataFrame, res: int = 8) -> DataFrame:
    from .pip_join import tile_cells

    per_cell = (
        tile_cells(tiles, res)
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .withColumn("ix", grid.cell_to_ix(F.col("cell"), res))
        .withColumn("iy", grid.cell_to_iy(F.col("cell")))
        .localCheckpoint(eager=False)
    )
    nbr = (
        per_cell.withColumn("off", F.explode(grid.disk_offsets_expr(1)))
        .where("off.dx <> 0 OR off.dy <> 0")
        .select(
            F.expr(
                grid.cell_from_ixiy_sql("ix + off.dx", "iy + off.dy", res)
            ).alias("cell"),
            "n",
        )
        .groupBy("cell")
        .agg(F.max("n").alias("nbr_max"))
    )
    return (
        per_cell.select("cell", F.col("n").alias("n_tiles"))
        .join(nbr, "cell", "left")
        .selectExpr(
            "cell", "n_tiles",
            "CAST(coalesce(nbr_max, 0) AS BIGINT) AS nbr_max",
        )
        .where("n_tiles > nbr_max")
        .selectExpr(
            "cell", "n_tiles", "nbr_max",
            "n_tiles - nbr_max AS prominence",
        )
    )


def density_peaks_oracle_sql(res: int = 8) -> str:
    offs = ", ".join(
        f"({dx}, {dy})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0)
    )
    return f"""
dp_cell AS (
  SELECT {grid.ix_sql('lon', res)} AS ix, {grid.iy_sql('lat', res)} AS iy,
         CAST(count(*) AS BIGINT) AS n
  FROM tiles GROUP BY 1, 2),
dp_offs(dx, dy) AS (VALUES {offs}),
dp_nbr AS (
  SELECT p.ix + o.dx AS ix, p.iy + o.dy AS iy, max(p.n) AS nbr_max
  FROM dp_cell p CROSS JOIN dp_offs o GROUP BY 1, 2)
SELECT {grid.cell_from_ixiy_sql('p.ix', 'p.iy', res)} AS cell,
       p.n AS n_tiles,
       CAST(coalesce(b.nbr_max, 0) AS BIGINT) AS nbr_max,
       CAST(p.n - coalesce(b.nbr_max, 0) AS BIGINT) AS prominence
FROM dp_cell p LEFT JOIN dp_nbr b ON b.ix = p.ix AND b.iy = p.iy
WHERE p.n > coalesce(b.nbr_max, 0)"""


# --- R264: directional (anisotropic) semivariogram ---------------------------
#
# The geostatistics anisotropy probe (Matheron variogram by direction):
# gamma(dir, h) = sum (v(c) - v(c + h*dir))^2 / (2 * n_pairs) over
# occupied-cell pairs, for E/NE/N/NW directions and lags 1..3 cells.
# The isotropic semivariogram operator fits one curve; this one
# detects direction-dependent structure (the hot band's NE-SW axis,
# cf. std_ellipse R233). 12 (dir, lag) fans over the per-cell frame,
# equi-joined on the shifted (ix, iy) — aggregate-first, never tiles².


_VG_DIRS = [("E", 1, 0), ("NE", 1, 1), ("N", 0, 1), ("NW", -1, 1)]


def directional_variogram(tiles: DataFrame, res: int = 8) -> DataFrame:
    from .pip_join import tile_cells

    per_cell = (
        tile_cells(tiles, res)
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .withColumn("ix", grid.cell_to_ix(F.col("cell"), res))
        .withColumn("iy", grid.cell_to_iy(F.col("cell")))
        .select("ix", "iy", "n")
        .localCheckpoint(eager=False)
    )
    dirs = ", ".join(
        f"named_struct('dir', '{d}', 'dx', {dx}, 'dy', {dy}, 'h', {h})"
        for d, dx, dy in _VG_DIRS
        for h in (1, 2, 3)
    )
    a = per_cell.selectExpr("ix AS ax", "iy AS ay", "n AS av")
    b = per_cell.selectExpr("ix AS bx", "iy AS by", "n AS bv")
    fan = a.selectExpr("ax", "ay", "av", f"explode(array({dirs})) AS f")
    return (
        fan.join(
            b,
            F.expr("bx = ax + f.dx * f.h AND by = ay + f.dy * f.h"),
        )
        .groupBy(F.expr("f.dir").alias("dir"), F.expr("f.h").alias("h"))
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_pairs"),
            F.expr(
                "CAST(sum((av - bv) * (av - bv)) AS BIGINT)"
            ).alias("gamma_sum"),
        )
        .selectExpr(
            "dir", "CAST(h AS BIGINT) AS h", "n_pairs", "gamma_sum",
            "(1000 * gamma_sum) DIV (2 * n_pairs) AS gamma_milli",
        )
    )


def directional_variogram_oracle_sql(res: int = 8) -> str:
    rows = ", ".join(
        f"('{d}', {dx}, {dy}, {h})"
        for d, dx, dy in _VG_DIRS
        for h in (1, 2, 3)
    )
    return f"""
dv_cell AS (
  SELECT {grid.ix_sql('lon', res)} AS ix, {grid.iy_sql('lat', res)} AS iy,
         CAST(count(*) AS BIGINT) AS n
  FROM tiles GROUP BY 1, 2),
dv_dirs(dir, dx, dy, h) AS (VALUES {rows})
SELECT d.dir, CAST(d.h AS BIGINT) AS h,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum((a.n - b.n) * (a.n - b.n)) AS BIGINT) AS gamma_sum,
       CAST((1000 * sum((a.n - b.n) * (a.n - b.n)))
         // (2 * count(*)) AS BIGINT) AS gamma_milli
FROM dv_cell a CROSS JOIN dv_dirs d
JOIN dv_cell b ON b.ix = a.ix + d.dx * d.h AND b.iy = a.iy + d.dy * d.h
GROUP BY d.dir, d.h"""


# --- R265: per-cell kind diversity (Hill numbers) -----------------------------
#
# Ecology's diversity indices on the composition raster: per occupied
# res-7 cell, species richness (distinct tile kinds), exact Simpson
# concentration sum n_i(n_i - 1) / (N(N - 1)) in milli, and the Hill
# q=2 effective-kind count 1000*N^2 DIV sum n_i^2. density_gini ranks
# the INEQUALITY of density across cells; this measures the MIX within
# each cell. Two keyed aggs, both map-side-partial friendly.


def kind_diversity(tiles: DataFrame, res: int = 7) -> DataFrame:
    from .pip_join import tile_cells

    ck = (
        tile_cells(tiles, res)
        .groupBy("cell", "tile_kind")
        .agg(F.count("*").alias("n"))
    )
    return (
        ck.groupBy("cell")
        .agg(
            F.expr("CAST(sum(n) AS BIGINT)").alias("n_tiles"),
            F.expr("CAST(count(*) AS BIGINT)").alias("richness"),
            F.expr("CAST(sum(n * (n - 1)) AS BIGINT)").alias("pairs2"),
            F.expr("CAST(sum(n * n) AS BIGINT)").alias("sq"),
        )
        .where("n_tiles > 1")
        .selectExpr(
            "cell", "n_tiles", "richness",
            "(1000 * pairs2) DIV (n_tiles * (n_tiles - 1))"
            " AS simpson_milli",
            "(1000 * n_tiles * n_tiles) DIV sq AS hill2_milli",
        )
    )


def kind_diversity_oracle_sql(res: int = 7) -> str:
    return f"""
kd_ck AS (
  SELECT {grid.cell_sql('lon', 'lat', res)} AS cell, tile_kind,
         CAST(count(*) AS BIGINT) AS n
  FROM tiles GROUP BY 1, 2),
kd_c AS (
  SELECT cell, CAST(sum(n) AS BIGINT) AS n_tiles,
         CAST(count(*) AS BIGINT) AS richness,
         CAST(sum(n * (n - 1)) AS BIGINT) AS pairs2,
         CAST(sum(n * n) AS BIGINT) AS sq
  FROM kd_ck GROUP BY 1)
SELECT cell, n_tiles, richness,
       CAST((1000 * pairs2) // (n_tiles * (n_tiles - 1)) AS BIGINT)
         AS simpson_milli,
       CAST((1000 * n_tiles * n_tiles) // sq AS BIGINT) AS hill2_milli
FROM kd_c WHERE n_tiles > 1"""


# ---------------------------------------------------------------------------
# R306: hillshade raster (Horn 1981 illumination, the cartography
# classic) — per occupied res-HS_RES cell the integer cosine (milli)
# between the surface normal and a fixed light vector (azimuth 315°,
# altitude 45°). Kept exact cross-engine with ZERO trig at runtime:
# the light vector is the integer literal (−500, 500, 707) (×1000,
# |L|² = 999849 → isqrt 999 folded in as a literal) and the surface is
# the PER-MILLE-OF-MAX density (the GWR normalization — z ≤ 1000 at ANY
# SF, so every magnitude below is SF-invariant). Horn's 3×3 weighted
# gradient (gx = (ne+2e+se) − (nw+2w+sw), gy likewise) comes from the
# slope_aspect 8-offset fan with per-direction weights; the normal is
# (−gx, −gy, HS_NZ) and
#   shade_milli = (1000 · (500·gx − 500·gy + HS_NZ·707))
#                 DIV (isqrt(gx² + gy² + HS_NZ²) · 999),   clamped ≥ 0
# — numerator clamped BEFORE the DIV (negative DIV diverges between
# engines). isqrt rides the R242 floor(sqrt) discipline. Flat cells
# read exactly 707 (cos 45°). Aggregate-first + fixed 8-offset LEFT
# equi-join: one exchange, never a full grid.
# ---------------------------------------------------------------------------

HS_RES = 7
HS_NZ = 2000          # Horn's 8·cellsize with one z-unit per per-mille step
_HS_L = (-500, 500, 707)   # light: azimuth 315°, altitude 45°, ×1000
_HS_LNORM = 999            # isqrt(500² + 500² + 707²)
# (dx, dy, wx, wy): Horn weights — wx contributes to gx, wy to gy.
_HS_DIRS = [
    (-1, 1, -1, 1), (0, 1, 0, 2), (1, 1, 1, 1),
    (-1, 0, -2, 0), (1, 0, 2, 0),
    (-1, -1, -1, -1), (0, -1, 0, -2), (1, -1, 1, -1),
]


def _hs_shade_exprs(gx: str, gy: str) -> tuple[str, str]:
    lx, ly, lz = _HS_L
    # -lx/-ly because the normal is (-gx, -gy, nz)
    num = f"({-lx} * {gx} + {-ly} * {gy} + {HS_NZ * lz})"
    den = (
        f"(CAST(floor(sqrt(CAST({gx} * {gx} + {gy} * {gy}"
        f" + {HS_NZ * HS_NZ} AS DOUBLE))) AS BIGINT) * {_HS_LNORM})"
    )
    shade = (
        f"(CASE WHEN {num} <= 0 THEN 0"
        f" ELSE (1000 * {num}) DIV {den} END)"
    )
    cls = (
        f"(CASE WHEN {shade} < 500 THEN 'shadow'"
        f" WHEN {shade} < 690 THEN 'dim'"
        f" WHEN {shade} <= 725 THEN 'flat'"
        f" WHEN {shade} <= 900 THEN 'lit' ELSE 'bright' END)"
    )
    return shade, cls


def hillshade(tiles: DataFrame, res: int = HS_RES) -> DataFrame:
    """(cx, cy, z, gx, gy, shade_milli, shade_class) per occupied cell."""
    occ = (
        tiles.groupBy(
            F.expr(grid.ix_sql("lon", res)).alias("cx"),
            F.expr(grid.iy_sql("lat", res)).alias("cy"),
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    zmax = occ.agg(F.max("n").alias("zmax"))
    zs = occ.crossJoin(F.broadcast(zmax)).selectExpr(
        "cx", "cy", "CAST((1000 * n) DIV zmax AS BIGINT) AS z"
    ).localCheckpoint(eager=False)
    home = zs.selectExpr(f"cx * {_SL_PACK} + cy AS key", "z AS nz_")
    offs = ", ".join(
        f"struct({dx} AS dx, {dy} AS dy, {wx} AS wx, {wy} AS wy)"
        for dx, dy, wx, wy in _HS_DIRS
    )
    fan = zs.withColumn("o", F.explode(F.expr(f"array({offs})"))).select(
        "cx", "cy", "z",
        F.col("o.wx").alias("wx"), F.col("o.wy").alias("wy"),
        F.expr(f"(cx + o.dx) * {_SL_PACK} + (cy + o.dy)").alias("key"),
    )
    g = (
        fan.join(home, "key", "left")
        .groupBy("cx", "cy", "z")
        .agg(
            F.expr("CAST(sum(wx * coalesce(nz_, 0)) AS BIGINT)").alias("gx"),
            F.expr("CAST(sum(wy * coalesce(nz_, 0)) AS BIGINT)").alias("gy"),
        )
    )
    shade, cls = _hs_shade_exprs("gx", "gy")
    return g.selectExpr(
        "cx", "cy", "z", "gx", "gy",
        f"CAST({shade} AS BIGINT) AS shade_milli",
        f"{cls} AS shade_class",
    )


def hillshade_oracle(res: int = HS_RES) -> str:
    dirs = ", ".join(
        f"({dx}, {dy}, {wx}, {wy})" for dx, dy, wx, wy in _HS_DIRS
    )
    shade, cls = _hs_shade_exprs("gx", "gy")
    shade = shade.replace(" DIV ", " // ")
    cls = cls.replace(" DIV ", " // ")
    return f"""
hs_occ AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         count(*) AS n
  FROM tiles GROUP BY 1, 2),
hs_z AS (
  SELECT cx, cy, CAST((1000 * n) // (SELECT max(n) FROM hs_occ) AS BIGINT) AS z
  FROM hs_occ),
hs_dirs(dx, dy, wx, wy) AS (VALUES {dirs}),
hs_g AS (
  SELECT o.cx, o.cy, o.z,
         CAST(sum(r.wx * coalesce(b.z, 0)) AS BIGINT) AS gx,
         CAST(sum(r.wy * coalesce(b.z, 0)) AS BIGINT) AS gy
  FROM hs_z o CROSS JOIN hs_dirs r
  LEFT JOIN hs_z b ON b.cx = o.cx + r.dx AND b.cy = o.cy + r.dy
  GROUP BY 1, 2, 3)
SELECT cx, cy, z, gx, gy,
       CAST({shade} AS BIGINT) AS shade_milli,
       {cls} AS shade_class
FROM hs_g"""


# ---------------------------------------------------------------------------
# R311: Hough line transform (Hough 1962 / Duda-Hart 1972, the classic
# parametric line detector) over the thresholded res-HOUGH_RES density
# raster — the image-axis voting op: every foreground cell (per-mille
# density ≥ HOUGH_FG_MILLI, the hillshade normalization so the
# threshold is SF-invariant) votes for every (theta, rho) line through
# it. ZERO runtime trig: cos/sin are milli integer literals baked at
# codegen time (identical SQL text both engines); rho_milli =
# cx·cos + cy·sin is offset by 2^28 (provably positive: |rho| ≤ 6·10^7)
# before the width-HOUGH_RHO_W DIV so floor/trunc agree. The
# accumulator is BOUNDED (thetas × rho bins over a fixed extent), so
# the groupBy is map-side partial and the final rank window is on the
# bounded accumulator dimension only — never a per-row global sort.
# Reference analog: candidate generation before exact verification
# (_ast_cache_schema.py FTS index role).
# ---------------------------------------------------------------------------

HOUGH_RES = 7
HOUGH_FG_MILLI = 250
HOUGH_RHO_W = 3000          # bin width: 3 cells × milli
HOUGH_RHO_OFF = 1 << 28
HOUGH_TOPN = 10


def _hough_trig() -> list[tuple[int, int, int]]:
    import math

    out = []
    for k in range(12):                      # 0°..165° step 15°
        a = k * math.pi / 12
        out.append((k * 15, round(1000 * math.cos(a)),
                    round(1000 * math.sin(a))))
    return out


def hough_lines(tiles: DataFrame, res: int = HOUGH_RES) -> DataFrame:
    """Top-HOUGH_TOPN (rank, theta_deg, rho_bin, votes, cx_min, cx_max)
    line peaks in the thresholded density raster."""
    occ = (
        tiles.groupBy(
            F.expr(grid.ix_sql("lon", res)).alias("cx"),
            F.expr(grid.iy_sql("lat", res)).alias("cy"),
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    zmax = occ.agg(F.max("n").alias("zmax"))
    fg = occ.crossJoin(F.broadcast(zmax)).where(
        f"(1000 * n) DIV zmax >= {HOUGH_FG_MILLI}"
    )
    trig = ", ".join(
        f"struct({t} AS t, {c} AS c, {s} AS s)" for t, c, s in _hough_trig()
    )
    votes = (
        fg.withColumn("o", F.explode(F.expr(f"array({trig})")))
        .selectExpr(
            "o.t AS theta_deg",
            f"(cx * o.c + cy * o.s + {HOUGH_RHO_OFF})"
            f" DIV {HOUGH_RHO_W} AS rho_bin",
            "cx",
        )
        .groupBy("theta_deg", "rho_bin")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("votes"),
            F.expr("CAST(min(cx) AS BIGINT)").alias("cx_min"),
            F.expr("CAST(max(cx) AS BIGINT)").alias("cx_max"),
        )
    )
    return votes.selectExpr(
        "CAST(row_number() OVER (ORDER BY votes DESC, theta_deg, rho_bin)"
        " AS BIGINT) AS rank",
        "CAST(theta_deg AS BIGINT) AS theta_deg",
        "rho_bin", "votes", "cx_min", "cx_max",
    ).where(f"rank <= {HOUGH_TOPN}")


def hough_oracle(res: int = HOUGH_RES) -> str:
    trig = ", ".join(f"({t}, {c}, {s})" for t, c, s in _hough_trig())
    return f"""
hg_occ AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         count(*) AS n
  FROM tiles GROUP BY 1, 2),
hg_fg AS (
  SELECT cx, cy FROM hg_occ
  WHERE (1000 * n) // (SELECT max(n) FROM hg_occ) >= {HOUGH_FG_MILLI}),
hg_trig(t, c, s) AS (VALUES {trig}),
hg_votes AS (
  SELECT t AS theta_deg,
         (cx * c + cy * s + {HOUGH_RHO_OFF}) // {HOUGH_RHO_W} AS rho_bin,
         CAST(count(*) AS BIGINT) AS votes,
         CAST(min(cx) AS BIGINT) AS cx_min,
         CAST(max(cx) AS BIGINT) AS cx_max
  FROM hg_fg CROSS JOIN hg_trig GROUP BY 1, 2)
SELECT CAST(row_number() OVER (ORDER BY votes DESC, theta_deg, rho_bin)
         AS BIGINT) AS rank,
       CAST(theta_deg AS BIGINT) AS theta_deg,
       rho_bin, votes, cx_min, cx_max
FROM hg_votes
QUALIFY rank <= {HOUGH_TOPN}"""


# ---------------------------------------------------------------------------
# R312: integral image (summed-area table, Crow 1984 / the Viola-Jones
# feature basis) over the res-SAT_RES count raster, with an IN-ROW
# audit: the bounded extent is DENSIFIED (sequence cross-product —
# ~77×65 cells, SF-invariant because the synthetic lon/lat box is
# fixed), the SAT is two chained cumulative windows (column prefix
# within x ordered by y, then row prefix within y ordered by x), and
# SAT_BOXES md5-seeded rectangles are answered BOTH ways: the O(1)
# 4-corner lookup c11−c01−c10+c00 and the direct bounded range-join
# sum — emitted side by side so any divergence is visible in the rows
# themselves (the audit-op discipline). Out-of-extent corners
# coalesce to 0 (everything left/below the extent min has no mass).
# ---------------------------------------------------------------------------

SAT_RES = 7
SAT_BOXES = 20


def integral_image(tiles: DataFrame, res: int = SAT_RES) -> DataFrame:
    """(box_id, x0, y0, x1, y1, sat_sum, direct_sum, exact_match) for
    SAT_BOXES deterministic rectangles over the count raster."""
    from ..functions import md5int_spark

    occ = (
        tiles.groupBy(
            F.expr(grid.ix_sql("lon", res)).alias("cx"),
            F.expr(grid.iy_sql("lat", res)).alias("cy"),
        )
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n"))
        .localCheckpoint(eager=False)
    )
    ext = occ.agg(
        F.expr("CAST(min(cx) AS BIGINT)").alias("xmin"),
        F.expr("CAST(max(cx) AS BIGINT)").alias("xmax"),
        F.expr("CAST(min(cy) AS BIGINT)").alias("ymin"),
        F.expr("CAST(max(cy) AS BIGINT)").alias("ymax"),
    ).localCheckpoint(eager=True)
    dense = (
        ext.selectExpr(
            "explode(sequence(xmin, xmax)) AS x", "ymin", "ymax"
        )
        .selectExpr("x", "explode(sequence(ymin, ymax)) AS y")
        .join(
            occ.selectExpr("cx AS x", "cy AS y", "n"), ["x", "y"], "left"
        )
        .selectExpr("x", "y", "coalesce(n, CAST(0 AS BIGINT)) AS v")
    )
    sat = dense.selectExpr(
        "x", "y",
        "CAST(sum(v) OVER (PARTITION BY x ORDER BY y) AS BIGINT) AS colcum",
    ).selectExpr(
        "x", "y",
        "CAST(sum(colcum) OVER (PARTITION BY y ORDER BY x) AS BIGINT) AS s",
    ).localCheckpoint(eager=False)

    def seed(tag: str) -> str:
        return md5int_spark(f"concat('{tag}', CAST(b AS STRING))")

    boxes = (
        ext.selectExpr(
            f"explode(sequence(0, {SAT_BOXES - 1})) AS b",
            "xmin", "xmax", "ymin", "ymax",
        )
        .selectExpr(
            "CAST(b AS BIGINT) AS box_id",
            f"xmin + pmod({seed('sbx0_')}, xmax - xmin + 1) AS xa",
            f"xmin + pmod({seed('sbx1_')}, xmax - xmin + 1) AS xb",
            f"ymin + pmod({seed('sby0_')}, ymax - ymin + 1) AS ya",
            f"ymin + pmod({seed('sby1_')}, ymax - ymin + 1) AS yb",
        )
        .selectExpr(
            "box_id",
            "least(xa, xb) AS x0", "least(ya, yb) AS y0",
            "greatest(xa, xb) AS x1", "greatest(ya, yb) AS y1",
        )
        .localCheckpoint(eager=True)
    )
    b = boxes
    for cn, xe, ye in [
        ("c11", "x1", "y1"), ("c01", "x0 - 1", "y1"),
        ("c10", "x1", "y0 - 1"), ("c00", "x0 - 1", "y0 - 1"),
    ]:
        side = sat.selectExpr(f"x AS {cn}x", f"y AS {cn}y", f"s AS {cn}")
        b = b.join(
            F.broadcast(side),
            F.expr(f"{cn}x = {xe} AND {cn}y = {ye}"),
            "left",
        ).drop(f"{cn}x", f"{cn}y")
    direct = (
        boxes.join(
            occ,
            F.expr("cx BETWEEN x0 AND x1 AND cy BETWEEN y0 AND y1"),
            "left",
        )
        .groupBy("box_id")
        .agg(F.expr("CAST(coalesce(sum(n), 0) AS BIGINT)").alias("direct_sum"))
    )
    return (
        b.selectExpr(
            "box_id", "x0", "y0", "x1", "y1",
            "coalesce(c11, 0) - coalesce(c01, 0) - coalesce(c10, 0)"
            " + coalesce(c00, 0) AS sat_sum",
        )
        .join(direct, "box_id")
        .selectExpr(
            "box_id", "x0", "y0", "x1", "y1", "sat_sum", "direct_sum",
            "sat_sum = direct_sum AS exact_match",
        )
    )


def integral_oracle(res: int = SAT_RES) -> str:
    from ..functions import md5int_duck

    def seed(tag: str) -> str:
        return md5int_duck(f"'{tag}' || CAST(b AS VARCHAR)")

    return f"""
sa_occ AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         CAST(count(*) AS BIGINT) AS n
  FROM tiles GROUP BY 1, 2),
sa_ext AS (
  SELECT CAST(min(cx) AS BIGINT) AS xmin, CAST(max(cx) AS BIGINT) AS xmax,
         CAST(min(cy) AS BIGINT) AS ymin, CAST(max(cy) AS BIGINT) AS ymax
  FROM sa_occ),
sa_xs AS (SELECT unnest(generate_series(xmin, xmax)) AS x FROM sa_ext),
sa_ys AS (SELECT unnest(generate_series(ymin, ymax)) AS y FROM sa_ext),
sa_dense AS (
  SELECT x, y, coalesce(n, CAST(0 AS BIGINT)) AS v
  FROM sa_xs CROSS JOIN sa_ys
  LEFT JOIN sa_occ ON cx = x AND cy = y),
sa_col AS (
  SELECT x, y,
         CAST(sum(v) OVER (PARTITION BY x ORDER BY y) AS BIGINT) AS colcum
  FROM sa_dense),
sa_sat AS (
  SELECT x, y,
         CAST(sum(colcum) OVER (PARTITION BY y ORDER BY x) AS BIGINT) AS s
  FROM sa_col),
sa_seed AS (
  SELECT CAST(b AS BIGINT) AS box_id,
         xmin + ({seed('sbx0_')}) % (xmax - xmin + 1) AS xa,
         xmin + ({seed('sbx1_')}) % (xmax - xmin + 1) AS xb,
         ymin + ({seed('sby0_')}) % (ymax - ymin + 1) AS ya,
         ymin + ({seed('sby1_')}) % (ymax - ymin + 1) AS yb
  FROM sa_ext, (SELECT unnest(generate_series(0, {SAT_BOXES - 1})) AS b)),
sa_boxes AS (
  SELECT box_id, least(xa, xb) AS x0, least(ya, yb) AS y0,
         greatest(xa, xb) AS x1, greatest(ya, yb) AS y1
  FROM sa_seed),
sa_corners AS (
  SELECT bo.*,
         coalesce(s11.s, 0) - coalesce(s01.s, 0) - coalesce(s10.s, 0)
           + coalesce(s00.s, 0) AS sat_sum
  FROM sa_boxes bo
  LEFT JOIN sa_sat s11 ON s11.x = bo.x1 AND s11.y = bo.y1
  LEFT JOIN sa_sat s01 ON s01.x = bo.x0 - 1 AND s01.y = bo.y1
  LEFT JOIN sa_sat s10 ON s10.x = bo.x1 AND s10.y = bo.y0 - 1
  LEFT JOIN sa_sat s00 ON s00.x = bo.x0 - 1 AND s00.y = bo.y0 - 1),
sa_direct AS (
  SELECT bo.box_id,
         CAST(coalesce(sum(o.n), 0) AS BIGINT) AS direct_sum
  FROM sa_boxes bo LEFT JOIN sa_occ o
    ON o.cx BETWEEN bo.x0 AND bo.x1 AND o.cy BETWEEN bo.y0 AND bo.y1
  GROUP BY 1)
SELECT c.box_id, c.x0, c.y0, c.x1, c.y1, c.sat_sum, d.direct_sum,
       c.sat_sum = d.direct_sum AS exact_match
FROM sa_corners c JOIN sa_direct d ON c.box_id = d.box_id"""


# ---------------------------------------------------------------------------
# R313: histogram equalization (the classic contrast-enhancement
# remap, Gonzalez-Woods §3.3 / OpenCV equalizeHist) of the per-mille
# density raster quantized to 64 gray levels (g = z DIV 16): per level
# the cumulative count, then the standard remap
#   eq255 = ((cdf(g) − cdf_min) · 255) DIV (N − cdf_min)
# — integer-exact, provably non-negative (cdf ≥ cdf_min), monotone,
# and endpoint-pinned (the top occupied level maps to exactly 255).
# Bounded value dimension (≤ 64 levels): the per-level groupBy is
# map-side partial and the cdf window runs on ≤ 64 rows at ANY SF.
# ---------------------------------------------------------------------------

EQ_RES = 7


def hist_equalization(tiles: DataFrame, res: int = EQ_RES) -> DataFrame:
    """(level, n_cells, cdf, eq255) per occupied 64-level gray bin."""
    occ = (
        tiles.groupBy(
            F.expr(grid.ix_sql("lon", res)).alias("cx"),
            F.expr(grid.iy_sql("lat", res)).alias("cy"),
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    zmax = occ.agg(F.max("n").alias("zmax"))
    lev = (
        occ.crossJoin(F.broadcast(zmax))
        .selectExpr("((1000 * n) DIV zmax) DIV 16 AS level")
        .groupBy("level")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n_cells"))
    )
    cdf = lev.selectExpr(
        "level", "n_cells",
        "CAST(sum(n_cells) OVER (ORDER BY level) AS BIGINT) AS cdf",
    )
    tot = cdf.agg(
        F.expr("CAST(min(cdf) AS BIGINT)").alias("cmin"),
        F.expr("CAST(max(cdf) AS BIGINT)").alias("ntot"),
    )
    return cdf.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(level AS BIGINT) AS level", "n_cells", "cdf",
        "CAST(CASE WHEN ntot = cmin THEN 255"
        " ELSE ((cdf - cmin) * 255) DIV (ntot - cmin) END AS BIGINT)"
        " AS eq255",
    )


def hist_eq_oracle(res: int = EQ_RES) -> str:
    return f"""
he_occ AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         count(*) AS n
  FROM tiles GROUP BY 1, 2),
he_lev AS (
  SELECT ((1000 * n) // (SELECT max(n) FROM he_occ)) // 16 AS level,
         CAST(count(*) AS BIGINT) AS n_cells
  FROM he_occ GROUP BY 1),
he_cdf AS (
  SELECT level, n_cells,
         CAST(sum(n_cells) OVER (ORDER BY level) AS BIGINT) AS cdf
  FROM he_lev),
he_tot AS (
  SELECT CAST(min(cdf) AS BIGINT) AS cmin, CAST(max(cdf) AS BIGINT) AS ntot
  FROM he_cdf)
SELECT CAST(level AS BIGINT) AS level, n_cells, cdf,
       CAST(CASE WHEN ntot = cmin THEN 255
            ELSE ((cdf - cmin) * 255) // (ntot - cmin) END AS BIGINT)
         AS eq255
FROM he_cdf CROSS JOIN he_tot"""


# ---------------------------------------------------------------------------
# R319: run-length encoding profile of the thresholded raster — the
# compression-side texture statistic (RLE is the classic bilevel
# codec primitive, ITU G3 fax / Golomb 1966), swept over a THRESHOLD
# LADDER so the profile carries multi-scale structure (high cuts
# leave only hotspot cores in 2-3-cell runs; low cuts produce runs up
# to the full extent width): foreground = per-mille density >= thr,
# runs of consecutive foreground cells within each raster row found
# by gaps-and-islands (island = cx - row_number ordered by cx, the
# sessionization trick on the spatial axis), then the run-length
# histogram per threshold. Windows partition by (thr, raster row) —
# bounded width at ANY SF; the histogram groupBy is map-side partial.
# ---------------------------------------------------------------------------

RLE_THRS = (5, 10, 25, 250)


def rle_runs(tiles: DataFrame, res: int = HOUGH_RES) -> DataFrame:
    """(thr_milli, run_len, n_runs) horizontal-run histogram ladder."""
    occ = (
        tiles.groupBy(
            F.expr(grid.ix_sql("lon", res)).alias("cx"),
            F.expr(grid.iy_sql("lat", res)).alias("cy"),
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    zmax = occ.agg(F.max("n").alias("zmax"))
    thrs = ", ".join(str(t) for t in RLE_THRS)
    fg = (
        occ.crossJoin(F.broadcast(zmax))
        .withColumn("thr", F.explode(F.expr(f"array({thrs})")))
        .where("(1000 * n) DIV zmax >= thr")
    )
    runs = (
        fg.selectExpr(
            "thr", "cy", "cx",
            "cx - row_number() OVER (PARTITION BY thr, cy ORDER BY cx)"
            " AS island",
        )
        .groupBy("thr", "cy", "island")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("run_len"))
    )
    return runs.groupBy("thr", "run_len").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_runs")
    ).selectExpr("CAST(thr AS BIGINT) AS thr_milli", "run_len", "n_runs")


def rle_oracle(res: int = HOUGH_RES) -> str:
    thrs = ", ".join(f"({t})" for t in RLE_THRS)
    return f"""
rl_occ AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         count(*) AS n
  FROM tiles GROUP BY 1, 2),
rl_thr(thr) AS (VALUES {thrs}),
rl_fg AS (
  SELECT t.thr, o.cx, o.cy FROM rl_occ o CROSS JOIN rl_thr t
  WHERE (1000 * o.n) // (SELECT max(n) FROM rl_occ) >= t.thr),
rl_runs AS (
  SELECT thr, cy,
         cx - row_number() OVER (PARTITION BY thr, cy ORDER BY cx)
           AS island
  FROM rl_fg),
rl_len AS (
  SELECT thr, cy, island, CAST(count(*) AS BIGINT) AS run_len
  FROM rl_runs GROUP BY 1, 2, 3)
SELECT CAST(thr AS BIGINT) AS thr_milli, run_len,
       CAST(count(*) AS BIGINT) AS n_runs
FROM rl_len GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# R327: Gonzalez k-center seeding (Gonzalez 1985) — the farthest-point
# traversal that 2-approximates the k-center clustering objective, run
# on the occupied res-KC_RES cell raster (a BOUNDED dimension: the
# fixed extent keeps the cell count SF-invariant, so per-round global
# argmax windows are scale-safe). Round 1 picks the densest cell
# (ties -> smallest cx, cy); each later round picks the cell FARTHEST
# from the chosen set (exact integer squared cell distance). The
# five chosen seeds are driver-side scalars (the engine's scalar-probe
# discipline: one 1-row collect per round, never a row fan-in), and
# the final assignment packs (min-dist, seed round) into ONE bigint
# (d*8 + r: equal d -> earlier seed wins) so the per-seed rollup and
# the coverage radius certificate radius2 = max(min-dist^2) are exact.
# ---------------------------------------------------------------------------

KC_RES = 7
KC_K = 5


def _kc_d2(sx: int, sy: int) -> str:
    return (
        f"((cx - ({sx})) * (cx - ({sx}))"
        f" + (cy - ({sy})) * (cy - ({sy})))"
    )


def kcenter_seeds(
    tiles: DataFrame, res: int = KC_RES, k: int = KC_K
) -> DataFrame:
    """(seed_round, sx, sy, n_cells, mass, radius2) for the k Gonzalez
    farthest-point seeds over the occupied cell raster."""
    occ = (
        tiles.groupBy(
            F.expr(grid.ix_sql("lon", res)).alias("cx"),
            F.expr(grid.iy_sql("lat", res)).alias("cy"),
        )
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n"))
        .localCheckpoint(eager=False)
    )
    first = (
        occ.orderBy(F.desc("n"), "cx", "cy").limit(1).collect()[0]
    )
    seeds = [(int(first.cx), int(first.cy))]
    while len(seeds) < k:
        dexpr = "LEAST(" + ", ".join(
            _kc_d2(sx, sy) for sx, sy in seeds
        ) + ")" if len(seeds) > 1 else _kc_d2(*seeds[0])
        nxt = (
            occ.selectExpr("cx", "cy", f"{dexpr} AS d")
            .orderBy(F.desc("d"), "cx", "cy")
            .limit(1)
            .collect()[0]
        )
        seeds.append((int(nxt.cx), int(nxt.cy)))
    packed = "LEAST(" + ", ".join(
        f"({_kc_d2(sx, sy)} * 8 + {i + 1})"
        for i, (sx, sy) in enumerate(seeds)
    ) + ")"
    asg = occ.selectExpr("cx", "cy", "n", f"{packed} AS p")
    agg = asg.groupBy(F.expr("p % 8").alias("seed_round")).agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_cells"),
        F.expr("CAST(sum(n) AS BIGINT)").alias("mass"),
        F.expr("CAST(max(p DIV 8) AS BIGINT)").alias("radius2"),
    )
    sstructs = ", ".join(
        f"struct(CAST({i + 1} AS BIGINT) AS seed_round,"
        f" CAST({sx} AS BIGINT) AS sx, CAST({sy} AS BIGINT) AS sy)"
        for i, (sx, sy) in enumerate(seeds)
    )
    sdf = tiles.sparkSession.range(1).selectExpr(
        f"inline(array({sstructs}))"
    )
    return agg.join(F.broadcast(sdf), "seed_round").select(
        "seed_round", "sx", "sy", "n_cells", "mass", "radius2"
    )


def kcenter_oracle(res: int = KC_RES, k: int = KC_K) -> str:
    """Chained-CTE Gonzalez traversal — computes the seeds itself (no
    Spark-derived values) and the same packed assignment."""
    parts = [
        f"""kc_occ AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         CAST(count(*) AS BIGINT) AS n
  FROM tiles GROUP BY 1, 2),
kc_s1 AS (SELECT cx, cy FROM kc_occ ORDER BY n DESC, cx, cy LIMIT 1),
kc_p1 AS (
  SELECT o.cx, o.cy, o.n,
         ((o.cx - s.cx) * (o.cx - s.cx)
          + (o.cy - s.cy) * (o.cy - s.cy)) * 8 + 1 AS p
  FROM kc_occ o, kc_s1 s)"""
    ]
    for r in range(2, k + 1):
        parts.append(f"""kc_s{r} AS (
  SELECT cx, cy FROM kc_p{r - 1} ORDER BY p // 8 DESC, cx, cy LIMIT 1),
kc_p{r} AS (
  SELECT o.cx, o.cy, o.n,
         LEAST(o.p, ((o.cx - s.cx) * (o.cx - s.cx)
                     + (o.cy - s.cy) * (o.cy - s.cy)) * 8 + {r}) AS p
  FROM kc_p{r - 1} o, kc_s{r} s)""")
    seed_union = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS seed_round, CAST(cx AS BIGINT)"
        f" AS sx, CAST(cy AS BIGINT) AS sy FROM kc_s{r}"
        for r in range(1, k + 1)
    )
    parts.append(f"kc_seeds AS ({seed_union})")
    body = ",\n".join(parts)
    return f"""{body}
SELECT a.seed_round, s.sx, s.sy, a.n_cells, a.mass, a.radius2
FROM (
  SELECT p % 8 AS seed_round, CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(n) AS BIGINT) AS mass,
         CAST(max(p // 8) AS BIGINT) AS radius2
  FROM kc_p{k} GROUP BY 1) a
JOIN kc_seeds s ON s.seed_round = a.seed_round"""


# ---------------------------------------------------------------------------
# R341: Moran's I correlogram — global spatial autocorrelation of the
# per-mille density raster at Chebyshev neighbor rings r = 1, 2, 3
# (the LADDER shape applied to spatial dependence: local_moran /
# getis_ord are per-cell at ring 1, the directional_variogram is the
# continuous analog; the correlogram shows HOW dependence decays with
# distance). Deviations use the floored mean over occupied cells;
# I is emitted CROSS-MULTIPLIED and sign-safe:
#   i_abs_milli = (1000 * n * |sum_ring d_i d_j|) DIV (w_r * sum d^2)
# with every factor bounded by the SF-invariant raster extent. The
# ring fan is a generated offset equi-join (8r offsets per ring) —
# never a distance cross join.
# ---------------------------------------------------------------------------

MC_RES = 7
MC_RINGS = (1, 2, 3)


def _mc_offsets(r: int) -> list:
    return [
        (dx, dy)
        for dx in range(-r, r + 1)
        for dy in range(-r, r + 1)
        if max(abs(dx), abs(dy)) == r
    ]


def moran_correlogram(tiles: DataFrame, res: int = MC_RES) -> DataFrame:
    """(ring, n_cells, w_pairs, num, den, i_sign, i_abs_milli)."""
    occ = (
        tiles.groupBy(
            F.expr(grid.ix_sql("lon", res)).alias("cx"),
            F.expr(grid.iy_sql("lat", res)).alias("cy"),
        )
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n"))
        .localCheckpoint(eager=False)
    )
    zmax = occ.agg(
        F.expr("GREATEST(max(n), CAST(1 AS BIGINT))").alias("zmax")
    )
    z = occ.crossJoin(F.broadcast(zmax)).selectExpr(
        "cx", "cy", "CAST((1000 * n) DIV zmax AS BIGINT) AS z"
    ).localCheckpoint(eager=False)
    mean = z.agg(
        F.expr(
            "CAST(sum(z) AS BIGINT) DIV CAST(count(*) AS BIGINT)"
        ).alias("zbar"),
        F.expr("CAST(count(*) AS BIGINT)").alias("nc"),
    )
    d = z.crossJoin(F.broadcast(mean)).selectExpr(
        "cx", "cy", "z - zbar AS d", "nc"
    ).localCheckpoint(eager=False)
    den = d.agg(
        F.expr("CAST(sum(d * d) AS BIGINT)").alias("den"),
        F.expr("max(nc)").alias("nc"),
    )
    home = d.selectExpr(f"cx * {_SL_PACK} + cy AS key", "d AS nd")
    out = None
    for r in MC_RINGS:
        offs = ", ".join(
            f"struct({dx} AS dx, {dy} AS dy)" for dx, dy in _mc_offsets(r)
        )
        fan = d.withColumn(
            "o", F.explode(F.expr(f"array({offs})"))
        ).selectExpr(
            "d",
            f"(cx + o.dx) * {_SL_PACK} + (cy + o.dy) AS key",
        )
        ring = (
            fan.join(home, "key")
            .agg(
                F.expr("CAST(sum(d * nd) AS BIGINT)").alias("num"),
                F.expr("CAST(count(*) AS BIGINT)").alias("w_pairs"),
            )
            .selectExpr(f"CAST({r} AS BIGINT) AS ring", "num", "w_pairs")
        )
        out = ring if out is None else out.unionByName(ring)
    return out.crossJoin(F.broadcast(den)).selectExpr(
        "ring", "nc AS n_cells", "w_pairs", "num", "den",
        "CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END"
        " AS BIGINT) AS i_sign",
        "CAST(CASE WHEN w_pairs = 0 OR den = 0 THEN 0"
        " ELSE (1000 * nc * abs(num)) DIV (w_pairs * den) END"
        " AS BIGINT) AS i_abs_milli",
    )


def moran_correlogram_oracle(res: int = MC_RES) -> str:
    rings = []
    for r in MC_RINGS:
        offs = ", ".join(f"({dx}, {dy})" for dx, dy in _mc_offsets(r))
        rings.append(f"""
  SELECT CAST({r} AS BIGINT) AS ring,
         CAST(sum(a.d * b.d) AS BIGINT) AS num,
         CAST(count(*) AS BIGINT) AS w_pairs
  FROM mc_d a
  CROSS JOIN (VALUES {offs}) o(dx, dy)
  JOIN mc_d b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy""")
    ring_union = "\n  UNION ALL".join(rings)
    return f"""mc_occ AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         CAST(count(*) AS BIGINT) AS n
  FROM tiles GROUP BY 1, 2),
mc_z AS (
  SELECT cx, cy,
         CAST((1000 * n) // (SELECT GREATEST(max(n), 1) FROM mc_occ)
           AS BIGINT) AS z
  FROM mc_occ),
mc_m AS (
  SELECT CAST(sum(z) AS BIGINT) // CAST(count(*) AS BIGINT) AS zbar,
         CAST(count(*) AS BIGINT) AS nc
  FROM mc_z),
mc_d AS (SELECT cx, cy, z - zbar AS d FROM mc_z, mc_m),
mc_den AS (
  SELECT CAST(sum(d * d) AS BIGINT) AS den FROM mc_d),
mc_rings AS ({ring_union})
SELECT r.ring, m.nc AS n_cells, r.w_pairs, r.num, e.den,
       CAST(CASE WHEN r.num > 0 THEN 1 WHEN r.num < 0 THEN -1
            ELSE 0 END AS BIGINT) AS i_sign,
       CAST(CASE WHEN r.w_pairs = 0 OR e.den = 0 THEN 0
            ELSE (1000 * m.nc * abs(r.num)) // (r.w_pairs * e.den) END
            AS BIGINT) AS i_abs_milli
FROM mc_rings r, mc_den e, mc_m m"""


# ---------------------------------------------------------------------------
# R350: James-Stein shrinkage of cell densities (Stein 1956, Efron-
# Morris 1975 — the baseball-averages estimator): every occupied
# res-7 cell's raw count is shrunk toward the grand mean by the
# integer factor B_milli = max(0, 1000 - (1000*(k-3)*vbar) DIV S)
# with vbar = the grand mean itself (the Poisson count-data variance
# proxy: var ~ mean) and S = the floored-mean sum of squares. The
# estimator dominates the raw MLE for k >= 4 under squared loss —
# here the op emits the shrink factor, the shrunken extremes, and
# the exact mass drift introduced by integer flooring (an honest
# audit of what shrinkage moved). Everything on the bounded cell
# frame; one aggregation pass + one broadcast.
# ---------------------------------------------------------------------------

JS_RES = 7


def js_shrinkage(tiles: DataFrame, res: int = JS_RES) -> DataFrame:
    """One row: (k_cells, grand_mean, ss, b_milli, raw_min, raw_max,
    shrunk_min, shrunk_max, mass_drift)."""
    occ = (
        tiles.groupBy(
            F.expr(grid.ix_sql("lon", res)).alias("cx"),
            F.expr(grid.iy_sql("lat", res)).alias("cy"),
        )
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("x"))
        .localCheckpoint(eager=False)
    )
    m = occ.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("k"),
        F.expr(
            "CAST(sum(x) AS BIGINT) DIV CAST(count(*) AS BIGINT)"
        ).alias("m"),
        F.expr("CAST(sum(x) AS BIGINT)").alias("tot"),
    )
    d = occ.crossJoin(F.broadcast(m))
    s = d.groupBy("k", "m", "tot").agg(
        F.expr("CAST(sum((x - m) * (x - m)) AS BIGINT)").alias("ss"),
    )
    b = s.selectExpr(
        "k", "m", "tot", "ss",
        "GREATEST(CAST(0 AS BIGINT), 1000 -"
        " (1000 * (k - 3) * m) DIV GREATEST(ss, 1)) AS b_milli",
    )
    sh = d.join(
        F.broadcast(b.selectExpr("k AS bk", "b_milli")),
        F.expr("k = bk"),
    ).selectExpr(
        "x", "m + ((b_milli * (x - m))"
        " + CASE WHEN x >= m THEN 500 ELSE -500 END) DIV 1000 AS xs",
    )
    agg = sh.agg(
        F.expr("CAST(min(x) AS BIGINT)").alias("raw_min"),
        F.expr("CAST(max(x) AS BIGINT)").alias("raw_max"),
        F.expr("CAST(min(xs) AS BIGINT)").alias("shrunk_min"),
        F.expr("CAST(max(xs) AS BIGINT)").alias("shrunk_max"),
        F.expr("CAST(sum(xs) AS BIGINT)").alias("sh_tot"),
    )
    return b.crossJoin(F.broadcast(agg)).selectExpr(
        "k AS k_cells", "m AS grand_mean", "ss", "b_milli",
        "raw_min", "raw_max", "shrunk_min", "shrunk_max",
        "sh_tot - tot AS mass_drift",
    )


def js_shrinkage_oracle(res: int = JS_RES) -> str:
    return f"""js_occ AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         CAST(count(*) AS BIGINT) AS x
  FROM tiles GROUP BY 1, 2),
js_m AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS m,
         CAST(sum(x) AS BIGINT) AS tot
  FROM js_occ),
js_s AS (
  SELECT m.k, m.m, m.tot,
         CAST(sum((o.x - m.m) * (o.x - m.m)) AS BIGINT) AS ss
  FROM js_occ o, js_m m GROUP BY 1, 2, 3),
js_b AS (
  SELECT k, m, tot, ss,
         GREATEST(CAST(0 AS BIGINT), 1000 -
           (1000 * (k - 3) * m) // GREATEST(ss, 1)) AS b_milli
  FROM js_s),
js_sh AS (
  SELECT o.x, b.m + ((b.b_milli * (o.x - b.m))
         + CASE WHEN o.x >= b.m THEN 500 ELSE -500 END) // 1000 AS xs
  FROM js_occ o, js_b b),
js_agg AS (
  SELECT CAST(min(x) AS BIGINT) AS raw_min,
         CAST(max(x) AS BIGINT) AS raw_max,
         CAST(min(xs) AS BIGINT) AS shrunk_min,
         CAST(max(xs) AS BIGINT) AS shrunk_max,
         CAST(sum(xs) AS BIGINT) AS sh_tot
  FROM js_sh)
SELECT b.k AS k_cells, b.m AS grand_mean, b.ss, b.b_milli,
       a.raw_min, a.raw_max, a.shrunk_min, a.shrunk_max,
       a.sh_tot - b.tot AS mass_drift
FROM js_b b, js_agg a"""


# --- R396: greedy set cover (facility coverage optimization) ------------------
#
# The third facility-location objective beside kcenter_seeds (minimize
# max distance) and p1_median_site (minimize total distance): MAXIMIZE
# COVERAGE — the classic greedy set-cover/max-coverage algorithm
# (Chvatal 1979; (1-1/e) guarantee), over the res-7 occupied-cell
# universe with candidate facilities = the 40 densest cells and
# coverage radius 2 (Chebyshev).  Each round picks the candidate
# covering the most still-uncovered cells (ties: rank id), marks its
# disk covered, repeats for 5 rounds.  Scale shape: candidates expand
# by the FIXED 5x5 offset fan (40x25 = 1000 broadcast rows) and
# equi-join the uncovered frame — never a band join against the
# universe; per-round driver state is one argmax row (the kcenter
# one-row-pick pattern).

SC_RES = 7
SC_RADIUS = 2
SC_ROUNDS = 5
SC_CANDS = 40


def set_cover_greedy(
    tiles: DataFrame,
    res: int = SC_RES,
    radius: int = SC_RADIUS,
    rounds: int = SC_ROUNDS,
    n_cands: int = SC_CANDS,
) -> DataFrame:
    spark = tiles.sparkSession
    occ = (
        tiles.groupBy(
            F.expr(grid.ix_sql("lon", res)).alias("cx"),
            F.expr(grid.iy_sql("lat", res)).alias("cy"),
        )
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n"))
        .localCheckpoint(eager=False)
    )
    universe_n = occ.count()
    # Distributed top-k (TakeOrderedAndProject), NOT a global-order
    # window — a single-partition row_number over every occupied cell
    # would serialize the candidate pick at 100x scale.  The k winners
    # are bounded (n_cands) and get their rank ids driver-side, the
    # kcenter_seeds pattern.
    top = occ.orderBy(F.desc("n"), "cx", "cy").limit(n_cands).collect()
    cstructs = ", ".join(
        f"struct(CAST({i + 1} AS BIGINT) AS fid,"
        f" CAST({int(r.cx)} AS BIGINT) AS fcx,"
        f" CAST({int(r.cy)} AS BIGINT) AS fcy)"
        for i, r in enumerate(top)
    )
    cand = spark.range(1).selectExpr(f"inline(array({cstructs}))")
    offs = ", ".join(
        f"struct({dx} AS dx, {dy} AS dy)"
        for dx in range(-radius, radius + 1)
        for dy in range(-radius, radius + 1)
    )
    cover = cand.selectExpr(
        "fid", "fcx", "fcy", f"inline(array({offs}))"
    ).selectExpr("fid", "fcx", "fcy", "fcx + dx AS cx", "fcy + dy AS cy")
    uncovered = occ.select("cx", "cy")
    picks: list[tuple] = []
    covered_total = 0
    for r in range(1, rounds + 1):
        gains = (
            cover.where(
                ~F.col("fid").isin([p[1] for p in picks])
                if picks else F.lit(True)
            )
            .join(uncovered, ["cx", "cy"])
            .groupBy("fid", "fcx", "fcy")
            .agg(F.expr("CAST(count(*) AS BIGINT)").alias("gain"))
        )
        top = gains.orderBy(F.desc("gain"), "fid").limit(1).collect()
        if not top:  # every remaining candidate has zero gain
            break
        b = top[0]
        covered_total += int(b.gain)
        picks.append((r, int(b.fid), int(b.fcx), int(b.fcy), int(b.gain),
                      covered_total, universe_n - covered_total))
        uncovered = uncovered.where(
            f"NOT (abs(cx - {int(b.fcx)}) <= {radius}"
            f" AND abs(cy - {int(b.fcy)}) <= {radius})"
        ).localCheckpoint(eager=False)
    structs = ", ".join(
        "struct("
        f"CAST({r} AS BIGINT) AS round, CAST({fid} AS BIGINT) AS fid,"
        f" CAST({fx} AS BIGINT) AS fcx, CAST({fy} AS BIGINT) AS fcy,"
        f" CAST({g} AS BIGINT) AS gain,"
        f" CAST({ct} AS BIGINT) AS covered_total,"
        f" CAST({ul} AS BIGINT) AS uncovered_left)"
        for r, fid, fx, fy, g, ct, ul in picks
    )
    return spark.range(1).selectExpr(f"inline(array({structs}))")


def set_cover_oracle(
    res: int = SC_RES,
    radius: int = SC_RADIUS,
    rounds: int = SC_ROUNDS,
    n_cands: int = SC_CANDS,
) -> str:
    """Chained-CTE greedy recomputed from scratch (no Spark-derived
    values): per round a MATERIALIZED uncovered frame, a per-candidate
    gain aggregate, and a one-row deterministic pick."""
    ctes = [
        f"""sc_occ AS MATERIALIZED (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         CAST(count(*) AS BIGINT) AS n
  FROM tiles GROUP BY 1, 2)""",
        "sc_tot AS (SELECT CAST(count(*) AS BIGINT) AS un FROM sc_occ)",
        f"""sc_cand AS MATERIALIZED (
  SELECT fid, cx AS fcx, cy AS fcy FROM (
    SELECT cx, cy,
           CAST(row_number() OVER (ORDER BY n DESC, cx, cy) AS BIGINT)
             AS fid
    FROM sc_occ) t WHERE fid <= {n_cands})""",
        f"""sc_cover AS MATERIALIZED (
  SELECT c.fid, c.fcx, c.fcy, c.fcx + dx.x AS cx, c.fcy + dy.y AS cy
  FROM sc_cand c
  CROSS JOIN (SELECT unnest(range(-{radius}, {radius + 1})) AS x) dx
  CROSS JOIN (SELECT unnest(range(-{radius}, {radius + 1})) AS y) dy)""",
        "sc_u0 AS MATERIALIZED (SELECT cx, cy FROM sc_occ)",
    ]
    for r in range(1, rounds + 1):
        prev_picks = ", ".join(f"(SELECT fid FROM sc_p{i})"
                               for i in range(1, r))
        notin = f"WHERE v.fid NOT IN ({prev_picks})" if prev_picks else ""
        ctes.append(f"""sc_g{r} AS (
  SELECT v.fid, v.fcx, v.fcy, CAST(count(u.cx) AS BIGINT) AS gain
  FROM sc_cover v JOIN sc_u{r - 1} u
    ON u.cx = v.cx AND u.cy = v.cy
  {notin}
  GROUP BY 1, 2, 3)""")
        ctes.append(f"""sc_p{r} AS MATERIALIZED (
  SELECT fid, fcx, fcy, gain FROM sc_g{r}
  ORDER BY gain DESC, fid LIMIT 1)""")
        ctes.append(f"""sc_u{r} AS MATERIALIZED (
  SELECT u.cx, u.cy FROM sc_u{r - 1} u, sc_p{r} p
  WHERE NOT (abs(u.cx - p.fcx) <= {radius}
             AND abs(u.cy - p.fcy) <= {radius}))""")
    rows = []
    for r in range(1, rounds + 1):
        cum = " + ".join(f"p{i}.gain" for i in range(1, r + 1))
        froms = ", ".join(f"sc_p{i} p{i}" for i in range(1, r + 1))
        rows.append(
            f"SELECT CAST({r} AS BIGINT) AS round, p{r}.fid,"
            f" p{r}.fcx, p{r}.fcy, p{r}.gain,"
            f" CAST({cum} AS BIGINT) AS covered_total,"
            f" CAST(t.un - ({cum}) AS BIGINT) AS uncovered_left"
            f" FROM {froms}, sc_tot t"
        )
    body = "\nUNION ALL\n".join(rows)
    return ",\n".join(ctes) + "\n" + body
