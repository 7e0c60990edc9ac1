"""Spatial query suite: tiling, PIP, kNN, zonal — each with a DuckDB oracle.

These are the headline capabilities of the north rule. Spark side runs the
scale-designed operators (two-phase cell join, two-phase kNN); the
oracle runs a naive-but-exact equivalent (range-predicate join, cross-join
kNN) — correctness is "the clever plan equals the naive plan", the same
old-path/new-path parity discipline as the reference's
``test_b1_reader_edge_parity.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import grid, synth
from .operators import knn, pip_join, zonal
from .functions import sql_over
from .registry import register

_CTES = synth.oracle_ctes()


def _tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synth.tiles_df(spark, sf_dir)


# --- M1: tile manifest (flagship minimum slice) ----------------------------

@register(
    "tile_manifest",
    f"""{_CTES}
SELECT {grid.cell_sql('lon', 'lat', 9)} AS cell,
       count(*) AS n_tiles,
       min(i) AS first_i,
       max(i) AS last_i
FROM tiles
GROUP BY 1
""",
    doc="Per res-9 cell tile counts (golden manifest, SURVEY.md §7 M1 / A1).",
)
def q_tile_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.cell_manifest(_tiles(spark, sf_dir), res=9)


# --- M2: point-in-polygon join ----------------------------------------------

@register(
    "pip_join",
    f"""{_CTES}
SELECT z.polygon_id, t.image_id, z.zkind, t.tile_kind, t.caption
FROM {pip_join.pip_oracle_join_sql()}
""",
    doc="Two-phase cell-join + exact verify PIP (SURVEY.md J2/O4). Caption "
    "carried through to pin caption-equality preservation.",
)
def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    z = synth.zones_df(spark)
    return pip_join.pip_join(t, z, res=9).select(
        "polygon_id", "image_id", "zkind", "tile_kind", "caption"
    )


@register(
    "pip_semi",
    f"""{_CTES}
SELECT image_id, caption, phash FROM tiles t
WHERE EXISTS (SELECT 1 FROM zones z WHERE t.lon >= z.xmin AND t.lon < z.xmax
              AND t.lat >= z.ymin AND t.lat < z.ymax)
""",
    doc="Tiles inside ≥1 zone — left_semi (SURVEY.md J2/U4).",
)
def q_pip_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    z = synth.zones_df(spark)
    return pip_join.pip_join(t, z, res=9, how="semi").select(
        "image_id", "caption", "phash"
    )


@register(
    "pip_anti",
    f"""{_CTES}
SELECT image_id, caption, phash FROM tiles t
WHERE NOT EXISTS (SELECT 1 FROM zones z WHERE t.lon >= z.xmin AND t.lon < z.xmax
                  AND t.lat >= z.ymin AND t.lat < z.ymax)
""",
    doc="Tiles inside no zone — left_anti (SURVEY.md J3/U3, dead-code analog).",
)
def q_pip_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    z = synth.zones_df(spark)
    return pip_join.pip_join(t, z, res=9, how="anti").select(
        "image_id", "caption", "phash"
    )


# --- M3: kNN ----------------------------------------------------------------

@register(
    "knn",
    _CTES + "\n" + knn.knn_oracle_sql(k=5),
    doc="Exact k=5 nearest tiles per query point via the snapshot's "
    "cell-count index and one exact fetch (SURVEY.md J6/T1/T2) — oracle is the naive "
    "cross join.",
)
def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    q = synth.qpoints_df(spark)
    return knn.knn_join(t, q, k=5)


# --- M4: zonal aggregations ---------------------------------------------------

@register(
    "zonal_stats",
    f"""{_CTES}
SELECT z.polygon_id, z.zkind,
       count(*) AS n_tiles,
       count(DISTINCT t.phash) AS n_distinct_phash,
       CAST(sum(CASE WHEN t.fmt = 'jpeg' THEN 1 ELSE 0 END) AS BIGINT) AS n_jpeg,
       CAST(sum(t.w) AS BIGINT) AS sum_w,
       max(t.h) AS max_h
FROM {pip_join.pip_oracle_join_sql()}
GROUP BY 1, 2
""",
    doc="Per-zone roll-up over the verified PIP join (SURVEY.md A1/A2/A7).",
)
def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.zonal_stats(_tiles(spark, sf_dir), synth.zones_df(spark), res=9)


@register(
    "phash_dups",
    f"""{_CTES}
SELECT phash, count(*) AS group_size,
       min(image_id) AS min_image_id, max(image_id) AS max_image_id
FROM tiles GROUP BY phash HAVING count(*) >= 2
""",
    doc="Perceptual-hash duplicate groups — clone detection (SURVEY.md A3).",
)
def q_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.phash_dup_groups(_tiles(spark, sf_dir))


@register(
    "top_tiles_per_zone",
    f"""{_CTES}
SELECT polygon_id, rn, image_id, pixels FROM (
  SELECT z.polygon_id,
         row_number() OVER (PARTITION BY z.polygon_id
                            ORDER BY CAST(t.w AS BIGINT) * t.h DESC, t.image_id) AS rn,
         t.image_id,
         CAST(t.w AS BIGINT) * t.h AS pixels
  FROM {pip_join.pip_oracle_join_sql()}
) WHERE rn <= 5
""",
    doc="Top-5 largest tiles per zone — per-group top-k window (SURVEY.md A6/W1).",
)
def q_top_tiles_per_zone(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.top_tiles_per_zone(
        _tiles(spark, sf_dir), synth.zones_df(spark), n=5, res=9
    )


@register(
    "zone_assignment",
    f"""{_CTES}
SELECT t.image_id, t.caption,
       (SELECT min(z.polygon_id) FROM zones z
        WHERE t.lon >= z.xmin AND t.lon < z.xmax
          AND t.lat >= z.ymin AND t.lat < z.ymax) AS zone_id
FROM tiles t
""",
    doc="Raster→vector zonal assignment MERGE-back (SURVEY.md J9): every "
    "tile, with its deterministic best zone or NULL.",
)
def q_zone_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.zone_assignment(
        _tiles(spark, sf_dir), synth.zones_df(spark), res=9
    ).select("image_id", "caption", "zone_id")


# --- W1: positional pseudo-classes -------------------------------------------

@register(
    "first_tile_per_cell",
    f"""{_CTES}
SELECT cell, image_id FROM (
  SELECT {grid.cell_sql('lon', 'lat', 8)} AS cell, image_id,
         row_number() OVER (PARTITION BY {grid.cell_sql('lon', 'lat', 8)}
                            ORDER BY i) AS rn
  FROM tiles
) WHERE rn = 1
""",
    doc=":first-child positional window (hyphae/evaluator.py:316-344, "
    "SURVEY.md W1): the first tile per res-8 cell in id order.",
)
def q_first_tile_per_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = pip_join.tile_cells(_tiles(spark, sf_dir), res=8)
    win = Window.partitionBy("cell").orderBy("i")
    return (
        t.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .select("cell", "image_id")
    )


# --- J5: containment via the cell hierarchy ------------------------------------

@register(
    "parent_cell_rollup",
    f"""{_CTES}
SELECT {grid.parent_sql(grid.cell_sql('lon', 'lat', 9), 9, 7)} AS parent_cell,
       count(*) AS n_tiles,
       count(DISTINCT {grid.cell_sql('lon', 'lat', 9)}) AS n_child_cells
FROM tiles
GROUP BY 1
""",
    doc="Containment combinator via cell hierarchy (SURVEY.md J5): res-9 "
    "tiles rolled up to their res-7 parent — exercises parent_sql on both "
    "engines (hierarchy consistency in SQL, not just numpy).",
)
def q_parent_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = pip_join.tile_cells(_tiles(spark, sf_dir), res=9)
    return (
        t.withColumn("parent_cell", F.expr(grid.parent_sql("cell", 9, 7)))
        .groupBy("parent_cell")
        .agg(
            F.count("*").alias("n_tiles"),
            F.countDistinct("cell").alias("n_child_cells"),
        )
    )


# --- U1/U2: selector-list union with dedup -------------------------------------

@register(
    "union_hot_or_large",
    f"""{_CTES}
SELECT image_id, tile_kind, w, h FROM tiles WHERE i % 5 = 0
UNION
SELECT image_id, tile_kind, w, h FROM tiles WHERE w = 128 AND h = 128
""",
    doc="Selector-list union with dedup (hyphae/evaluator.py:100-136, "
    "SURVEY.md U1/U2): hotspot tiles ∪ 128×128 tiles, UNION DISTINCT.",
)
def q_union_hot_or_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    a = t.where(F.expr("i % 5 = 0")).select("image_id", "tile_kind", "w", "h")
    b = t.where((F.col("w") == 128) & (F.col("h") == 128)).select(
        "image_id", "tile_kind", "w", "h"
    )
    return a.unionByName(b).dropDuplicates(["image_id"])


# --- A4: density heatmap with risk bands ---------------------------------------

@register(
    "cell_density_heatmap",
    f"""{_CTES},
per_cell AS (
  SELECT {grid.cell_sql('lon', 'lat', 8)} AS cell, count(*) AS n
  FROM tiles GROUP BY 1
)
SELECT CASE WHEN n >= 20 THEN 'critical' WHEN n >= 10 THEN 'high'
            WHEN n >= 4 THEN 'medium' ELSE 'low' END AS band,
       count(*) AS n_cells,
       CAST(sum(n) AS BIGINT) AS n_tiles,
       max(n) AS max_tiles
FROM per_cell GROUP BY 1
""",
    doc="Density heatmap with banding (complexity_heatmap.py:193-199 "
    "risk bands, SURVEY.md A4): per-cell counts → low/med/high/critical "
    "bands → band histogram.",
)
def q_cell_density_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = pip_join.tile_cells(_tiles(spark, sf_dir), res=8)
    per_cell = t.groupBy("cell").agg(F.count("*").alias("n"))
    band = F.expr(
        "CASE WHEN n >= 20 THEN 'critical' WHEN n >= 10 THEN 'high' "
        "WHEN n >= 4 THEN 'medium' ELSE 'low' END"
    )
    return (
        per_cell.withColumn("band", band)
        .groupBy("band")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("n").alias("n_tiles"),
            F.max("n").alias("max_tiles"),
        )
    )


# --- T2: cascade search with early exit ------------------------------------------

CASCADE_TERM = "tile 12"


@register(
    "cascade_search",
    f"""{_CTES},
tiered AS (
  SELECT i, image_id, caption,
         CASE WHEN caption = '{CASCADE_TERM}' THEN 0
              WHEN caption LIKE '{CASCADE_TERM}%' THEN 1
              WHEN caption LIKE '%{CASCADE_TERM}%' THEN 2
              ELSE 3 END AS tier
  FROM tiles
)
SELECT tier, i, image_id FROM (
  SELECT tier, i, image_id,
         row_number() OVER (ORDER BY tier, i) AS rn
  FROM tiered WHERE tier < 3
) WHERE rn <= 20
""",
    doc="Cascade search with early exit (_ast_cache_search.py:23-98, "
    "SURVEY.md T2): exact → prefix → contains tiers fill a budget of 20; "
    "Spark evaluates tiers lazily and stops generating once filled.",
)
def q_cascade_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir).select("i", "image_id", "caption")
    budget = 20
    collected: list[DataFrame] = []
    remaining = budget
    tiers = [
        (0, F.col("caption") == CASCADE_TERM),
        (1, F.col("caption").startswith(CASCADE_TERM)),
        (2, F.col("caption").contains(CASCADE_TERM)),
    ]
    excluded = None
    for tier_id, pred in tiers:
        if remaining <= 0:
            break  # early exit: later tiers never evaluated (T2)
        cand = t.where(pred)
        if excluded is not None:
            cand = cand.join(excluded, "i", "left_anti")
        hits = (
            cand.orderBy("i")
            .limit(remaining)
            .select(F.lit(tier_id).alias("tier"), "i", "image_id")
        )
        hits = hits.localCheckpoint(eager=True)
        n = hits.count()
        collected.append(hits)
        remaining -= n
        excluded = (
            hits.select("i")
            if excluded is None
            else excluded.unionByName(hits.select("i"))
        )
    from .operators.graph import union_all

    return union_all(collected)


# --- A8: gap analysis (zones lacking a tile kind) ----------------------------
#
# Was "zones with zero tiles" — which is 0 rows at EVERY sf (zones are
# dense enough that each holds >=1 tile), so the driver gate passed
# vacuously (the interval_join lesson, CLAUDE.md). Restricting to one tile
# kind makes it the true test-gap analog ("prod symbols with no matching
# test", SURVEY.md A8): 90 rows @ sf0.001, 10 @ sf0.01.

GAP_KIND = "marine"


@register(
    "uncovered_zones",
    f"""{_CTES}
SELECT z.polygon_id, z.zkind FROM zones z
WHERE NOT EXISTS (
  SELECT 1 FROM tiles t WHERE t.tile_kind = '{GAP_KIND}'
    AND t.lon >= z.xmin AND t.lon < z.xmax
    AND t.lat >= z.ymin AND t.lat < z.ymax)
""",
    doc="Coverage-gap analysis (test_gap_analyzer analog, SURVEY.md A8): "
    "zones containing no marine-kind tile — left_anti from the zone side.",
)
def q_uncovered_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir).where(F.col("tile_kind") == GAP_KIND)
    z = synth.zones_df(spark)
    covered = pip_join.pip_join(t, z, res=9).select("polygon_id").dropDuplicates()
    return z.join(covered, "polygon_id", "left_anti").select("polygon_id", "zkind")


@register(
    "sparse_zones",
    f"""{_CTES}
SELECT z.polygon_id, z.zkind, coalesce(c.n_tiles, 0) AS n_tiles
FROM zones z LEFT JOIN (
  SELECT z.polygon_id AS polygon_id, count(*) AS n_tiles
  FROM {pip_join.pip_oracle_join_sql()}
  GROUP BY 1
) c ON z.polygon_id = c.polygon_id
WHERE coalesce(c.n_tiles, 0) < 10
""",
    doc="Coverage-gap analysis, graded tier (SURVEY.md A8): zones with "
    "fewer than 10 tiles (including zero) — zones ⟕ PIP counts with "
    "coalesce. Complements uncovered_zones (the kind-restricted gap "
    "query) with a count-threshold tier that returns rows at every sf.",
)
def q_sparse_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    z = synth.zones_df(spark)
    counts = (
        pip_join.pip_join(t, z, res=9)
        .groupBy("polygon_id")
        .agg(F.count("*").alias("n_tiles"))
    )
    return (
        z.join(counts, "polygon_id", "left")
        .select(
            "polygon_id",
            "zkind",
            F.coalesce(F.col("n_tiles"), F.lit(0)).cast("bigint").alias("n_tiles"),
        )
        .where(F.col("n_tiles") < 10)
    )


# --- M2b: TRUE convex-polygon PIP ------------------------------------------------

@register(
    "pip_convex",
    f"""{_CTES},
pz AS ({synth.poly_zones_sql()})
SELECT z.polygon_id, t.image_id, t.tile_kind
FROM tiles t JOIN pz z ON {synth.convex_pip_predicate('t.lon', 't.lat')}
""",
    doc="Point-in-CONVEX-POLYGON join (hexagon zones): scanline-cover "
    "candidate phase + exact half-plane verify — the north rule's polygon layer "
    "beyond rectangles, still UDF-free and oracle-checkable.",
)
def q_pip_convex(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    pz = synth.poly_zones_df(spark)
    return pip_join.cover_join(
        t, grid.cell_col("lon", "lat", 9), pip_join.poly_cover_scanline(pz, 9),
        synth.convex_pip_predicate("lon", "lat"),
    ).select("polygon_id", "image_id", "tile_kind")


def _fringe_oracle(res: int = 8) -> str:
    tix, tiy = grid.ix_sql("t.lon", res), grid.iy_sql("t.lat", res)
    zxmin, zxmax = grid.ix_sql("z.xmin", res), grid.ix_sql("z.xmax", res)
    zymin, zymax = grid.iy_sql("z.ymin", res), grid.iy_sql("z.ymax", res)
    return f"""{_CTES}
SELECT z.polygon_id, z.zkind,
       count(*) AS n_fringe_tiles,
       count(DISTINCT {tix} * 4194304 + {tiy}) AS n_fringe_cells
FROM tiles t JOIN zones z
  ON  {tix} BETWEEN {zxmin} - 1 AND {zxmax} + 1
  AND {tiy} BETWEEN {zymin} - 1 AND {zymax} + 1
  AND NOT ({tix} BETWEEN {zxmin} AND {zxmax}
           AND {tiy} BETWEEN {zymin} AND {zymax})
GROUP BY z.polygon_id, z.zkind
"""


@register(
    "zone_fringe",
    _fringe_oracle(8),
    doc="Tiles ADJACENT to each zone (the reference's sibling combinator "
    "`~`, hyphae/parser.py): the perimeter ring of the zone's res-8 cell "
    "cover, counted per zone. Ring cells broadcast like a cover — tile "
    "side never shuffles; the naive oracle re-derives ring membership "
    "from the same integer cell arithmetic.",
)
def q_zone_fringe(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    z = synth.zones_df(spark)
    joined = pip_join.cover_join(
        t, grid.cell_col("lon", "lat", 8), pip_join.zone_fringe_cells(z, 8)
    )
    return joined.groupBy("polygon_id", "zkind").agg(
        F.count("*").alias("n_fringe_tiles"),
        F.countDistinct("cell").alias("n_fringe_cells"),
    )


@register(
    "pip_concave",
    f"""{_CTES},
sz AS ({synth.star_zones_sql()})
SELECT z.polygon_id, t.image_id, t.tile_kind
FROM tiles t JOIN sz z ON {synth.raycast_pip_predicate('t.lon', 't.lat')}
""",
    doc="Point-in-ARBITRARY-POLYGON join (concave 8-point star zones): "
    "scanline-cover candidate phase + exact even-odd RAY-CAST verify "
    "(division-free multiply/compare — bit-identical across engines). "
    "The star's reflex notches make the convex half-plane test wrong by "
    "construction, so this query specifically exercises the general "
    "predicate a real polygon layer needs.",
)
def q_pip_concave(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    sz = synth.star_zones_df(spark)
    return pip_join.cover_join(
        t, grid.cell_col("lon", "lat", 9), pip_join.poly_cover_scanline(sz, 9),
        synth.raycast_pip_predicate("lon", "lat"),
    ).select("polygon_id", "image_id", "tile_kind")


# --- S7: budgeted batch read (byte cap via running-sum window) ---------------------

@register(
    "byte_budget_batch",
    f"""{_CTES}
SELECT i, image_id, caption_bytes, running_bytes FROM (
  SELECT i, image_id,
         strlen(caption) AS caption_bytes,
         CAST(sum(strlen(caption)) OVER (ORDER BY i
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_bytes
  FROM tiles
) WHERE running_bytes <= 4096
""",
    doc="Budgeted batch read (batch_executor.py:13-20 hard byte caps, "
    "SURVEY.md S7): rows admitted in id order until the cumulative payload "
    "hits the byte budget — running-sum window, exact cutoff.",
)
def q_byte_budget_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = _tiles(spark, sf_dir).withColumn(
        "caption_bytes", F.expr("octet_length(caption)")
    )
    run = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        t.withColumn("caption_bytes", F.col("caption_bytes").cast("bigint"))
        .withColumn("running_bytes", F.sum("caption_bytes").over(run))
        .where(F.col("running_bytes") <= 4096)
        .select("i", "image_id", "caption_bytes", "running_bytes")
    )


# --- Cover compaction + mixed-res PIP + audit + overlap self-join -----------

@register(
    "compact_cover",
    f"""{_CTES},
{pip_join.compact_cover_oracle_sql(res=9, min_res=7)}
""",
    doc="Mixed-resolution cover compaction (H3 compact_cells analog): "
    "complete 2x2 quadtree blocks merged bottom-up res 9→7. Shrinks the "
    "broadcast cover table ~4x per level over polygon interiors — the "
    "knob that keeps phase-1 candidates cheap at 10^12 tiles.",
)
def q_compact_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    z = synth.zones_df(spark)
    return pip_join.compact_cover(z, res=9, min_res=7)


@register(
    "pip_compact",
    f"""{_CTES}
SELECT z.polygon_id, t.image_id, z.zkind, t.tile_kind, t.caption
FROM {pip_join.pip_oracle_join_sql()}
""",
    doc="PIP join against the COMPACTED mixed-res cover: tile explodes its "
    "res 7-9 cell chain (one scan), cover is disjoint so each (tile,zone) "
    "pair matches exactly one cell — same rows as pip_join, smaller "
    "broadcast side (SURVEY.md J2/O4 with the compaction trade).",
)
def q_pip_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    z = synth.zones_df(spark)
    cover = pip_join.compact_cover(z, res=9, min_res=7).join(
        z.select("polygon_id", "zkind", "xmin", "xmax", "ymin", "ymax"),
        "polygon_id",
    )
    return pip_join.cover_join(
        t, pip_join.cell_chain(9, 7), cover, pip_join.PIP_PREDICATE
    ).select("polygon_id", "image_id", "zkind", "tile_kind", "caption")


@register(
    "pip_audit",
    f"""{_CTES},
{pip_join.pip_audit_oracle_sql(res=9)}
""",
    doc="Geometry-violation audit (the miswire audit, SURVEY.md §5.9): "
    "per-zkind candidate count, verified matches, and exact matches MISSED "
    "by the candidate phase (target 0 — cover completeness, both engines).",
)
def q_pip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    z = synth.zones_df(spark)
    return pip_join.pip_audit(t, z, res=9)


@register(
    "zone_overlap",
    f"""{_CTES}
SELECT a.polygon_id AS polygon_a, b.polygon_id AS polygon_b
FROM zones a JOIN zones b
  ON a.polygon_id < b.polygon_id
 AND a.xmin < b.xmax AND b.xmin < a.xmax
 AND a.ymin < b.ymax AND b.ymin < a.ymax
""",
    doc="Spatial self-join: zone pairs with intersecting rectangles — "
    "shared-cover-cell candidates, exact overlap verify, explicit distinct "
    "(the one PIP variant needing a post-join dedup shuffle).",
)
def q_zone_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    z = synth.zones_df(spark)
    return pip_join.zone_overlap_join(z, res=9)


@register(
    "zonal_weighted",
    f"""{_CTES},
{zonal.zonal_weighted_oracle_sql()}
""",
    doc="Area-weighted raster↔vector zonal stats: tiles as footprint "
    "rectangles, per-zone sum of fractional overlap (micro-int weights). "
    "Dedup-free candidate join via the reference-point method — a pair is "
    "counted only in the intersection's lower-left cell.",
)
def q_zonal_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    z = synth.zones_df(spark)
    return zonal.zonal_weighted(t, z, res=9)


@register(
    "zone_assignment_full",
    f"""{_CTES},
{zonal.zone_assignment_full_oracle_sql()}
""",
    doc="Two-level assignment (the reference's exact/fallback match, J2 "
    "J10): PIP winner where a tile is inside >=1 zone, nearest-centroid "
    "fallback otherwise, distance carried as confidence. Fallback argmin "
    "is a map-side higher-order fold over the broadcast zone array.",
)
def q_zone_assignment_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    z = synth.zones_df(spark)
    return zonal.zone_assignment_full(t, z, res=9)


@register(
    "tiles_indexed",
    f"""{_CTES}
{' UNION ALL '.join(
    f"SELECT image_id, CAST({r} AS BIGINT) AS res, "
    f"{grid.cell_sql('lon', 'lat', r)} AS cell FROM tiles"
    for r in range(7, 13)
)}
""",
    doc="The flattened, join-ready index projection (ast_symbol_rows "
    "analog, SURVEY.md §1.2): every tile exploded to its res 7-12 cell "
    "chain — one narrow pass, JVM-side array+explode fan-out (X5).",
)
def q_tiles_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    chain = F.array(
        *[
            F.expr(
                f"named_struct('res', CAST({r} AS BIGINT), "
                f"'cell', {grid.cell_sql('lon', 'lat', r)})"
            )
            for r in range(7, 13)
        ]
    )
    return (
        t.withColumn("rc", F.explode(chain))
        .select("image_id", F.col("rc.res").alias("res"), F.col("rc.cell").alias("cell"))
    )


@register(
    "hot_cell_counts_salted",
    f"""{_CTES}
SELECT {grid.cell_sql('lon', 'lat', 7)} AS cell, count(*) AS n
FROM tiles GROUP BY 1 HAVING count(*) >= 8
""",
    doc="Hot-cell counts via salted two-phase aggregation (SURVEY.md O10, "
    "the north rule's salted-key skew handling): partial counts on (cell, "
    "salt) bound any reducer's share of a hotspot cell to 1/16; the plain "
    "GROUP BY oracle proves result-identity. Res 7 + threshold 8 so the "
    "hotspot cells surface at every gate sf (22 @ sf0.001, 33 @ sf0.01).",
)
def q_hot_cell_counts_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import skew

    t = pip_join.tile_cells(_tiles(spark, sf_dir), res=7)
    return (
        skew.salted_count(t, "cell", n_salts=16)
        .withColumnRenamed("count", "n")
        .where(F.col("n") >= 8)
    )


# Per-tile offsets are quantized to nano-int BEFORE aggregation: a raw
# avg(lon) is an order-dependent float reduction whose low bits differ
# between Spark's partial sums and DuckDB's sequential sum — floor could
# flip on a boundary (the never-compare-raw-float-aggs rule, CLAUDE.md).
_CELL9 = grid.cell_sql('lon', 'lat', 9)
_OFF_LON = f"CAST(floor(1e9 * (lon - {grid.cell_center_lon_sql(_CELL9, 9)})) AS BIGINT)"
_OFF_LAT = f"CAST(floor(1e9 * (lat - {grid.cell_center_lat_sql(_CELL9, 9)})) AS BIGINT)"


@register(
    "cell_centroid_drift",
    f"""{_CTES}
SELECT {_CELL9} AS cell,
       count(*) AS n_tiles,
       CAST(floor(sum({_OFF_LON}) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS drift_lon_nano,
       CAST(floor(sum({_OFF_LAT}) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS drift_lat_nano
FROM tiles GROUP BY 1 HAVING count(*) >= 2
""",
    doc="Per-cell centroid drift: mean tile offset from the cell center "
    "(cell_to_latlng analog, F7) — how off-center the content of each "
    "populated cell sits, in nanodegrees (cells with >=2 tiles — "
    "non-vacuous at every sf). Per-tile offsets quantized to ints before "
    "summation so the aggregate is order-independent.",
)
def q_cell_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = pip_join.tile_cells(_tiles(spark, sf_dir), res=9)
    off_lon = f"CAST(floor(1e9 * (lon - {grid.cell_center_lon_sql('cell', 9)})) AS BIGINT)"
    off_lat = f"CAST(floor(1e9 * (lat - {grid.cell_center_lat_sql('cell', 9)})) AS BIGINT)"
    return (
        t.select("cell", F.expr(off_lon).alias("_ol"), F.expr(off_lat).alias("_oa"))
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_tiles"),
            F.sum("_ol").alias("_sl"),
            F.sum("_oa").alias("_sa"),
        )
        .where(F.col("n_tiles") >= 2)
        .select(
            "cell",
            "n_tiles",
            F.expr("CAST(floor(_sl / CAST(n_tiles AS DOUBLE)) AS BIGINT)").alias("drift_lon_nano"),
            F.expr("CAST(floor(_sa / CAST(n_tiles AS DOUBLE)) AS BIGINT)").alias("drift_lat_nano"),
        )
    )


_SELF_D2 = "((t.lon - q.lon) * (t.lon - q.lon) + (t.lat - q.lat) * (t.lat - q.lat))"


@register(
    "knn_self",
    f"""{_CTES}
SELECT query_id, rank, image_id, dist2_nano FROM (
  SELECT q.i AS query_id,
         -- raw-double ordering, like the main knn oracle: the raw
         -- expression text is identical on both engines (bit-equal
         -- doubles), and Spark's kNN join selects its candidate
         -- set by the same raw order — ranking by the quantized value
         -- here would disagree at nano-tie boundaries.
         row_number() OVER (PARTITION BY q.i
                            ORDER BY {_SELF_D2}, t.image_id) AS rank,
         t.image_id,
         CAST(floor({_SELF_D2} * 1e12) AS BIGINT) AS dist2_nano
  FROM (SELECT * FROM tiles WHERE i <= 400) q
  JOIN tiles t ON t.image_id <> q.image_id
) WHERE rank <= 3
""",
    doc="Spatial kNN SELF-join (J12 similarity-join shape): each sampled "
    "tile's 3 nearest OTHER tiles via the same two-phase kNN machinery "
    "(over-fetch k+1, drop self, re-rank) — the 'find tiles like this "
    "one, nearby' query.",
)
def q_knn_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = _tiles(spark, sf_dir)
    qt = t.where("i <= 400").select(
        F.col("i").alias("query_id"),
        F.col("image_id").alias("q_img"),
        F.col("lon").alias("qlon"),
        F.col("lat").alias("qlat"),
    )
    res = knn.knn_join(t, qt, k=4).join(
        F.broadcast(qt.select("query_id", "q_img")), "query_id"
    )
    # Renumber by knn's OWN rank (raw-distance order): dropping the self
    # row preserves relative order, so this equals ranking the others by
    # true distance — re-sorting by the quantized dist2_nano instead
    # would flip nano-tied pairs against the candidate selection.
    win = Window.partitionBy("query_id").orderBy("rank")
    return (
        res.where(F.col("image_id") != F.col("q_img"))
        .withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= 3)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "image_id",
            "dist2_nano",
        )
    )


# --- round 3: distance-band join + raster neighborhood + pyramid ------------

@register(
    "radius_join",
    f"{_CTES}\n{knn.radius_join_oracle_sql(0.02)}",
    doc="Fixed-radius spatial join (ST_DWithin analog): all (query, tile) "
    "pairs within 0.02° — static cell-disk candidates + exact verify "
    "(SURVEY.md J12 distance-band family); oracle is the naive cross join.",
)
def q_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    q = synth.qpoints_df(spark)
    return knn.radius_join(t, q, radius=0.02)


@register(
    "focal_mean",
    f"{_CTES},\n{zonal.focal_mean_oracle_sql(8)}",
    doc="Focal 3×3 neighborhood mean pixel area per occupied res-8 cell — "
    "raster moving-window statistic; aggregate-then-fan keeps the window "
    "arithmetic O(#cells).",
)
def q_focal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.focal_mean(_tiles(spark, sf_dir), res=8)


@register(
    "pyramid_rollup",
    f"{_CTES}\n{zonal.pyramid_rollup_oracle_sql()}",
    doc="Multi-resolution tile pyramid (res 8/6/4) in one scan — "
    "hypertable/image-pyramid rollup; single (res, cell)-keyed exchange.",
)
def q_pyramid_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.pyramid_rollup(_tiles(spark, sf_dir))


@register(
    "local_moran",
    f"{_CTES},\n{zonal.local_moran_oracle_sql(8)}",
    doc="Local Moran's I (LISA) spatial autocorrelation of per-cell tile "
    "counts, 8-neighbor weights — exact integer formulation (dev scaled "
    "by cell count); positive = hot/cold cluster, negative = outlier.",
)
def q_local_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.local_moran(_tiles(spark, sf_dir), res=8)


# --- round 3: density clustering (DBSCAN) -----------------------------------

from .operators import dbscan as dbscan_ops  # noqa: E402


@register(
    "dbscan_clusters",
    _CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + ",\n"
    + dbscan_ops.dbscan_oracle_sql(),
    doc="Exact grid-accelerated DBSCAN (eps=0.005°, minPts=8): per-tile "
    "role (core/border/noise) + deterministic cluster id (min core tile "
    "key; border -> min neighbor component). Spark generates eps-pairs "
    "via a shuffled cell-disk equi-join; the oracle re-derives them "
    "all-pairs and closes components with an UNCAPPED recursive walk — "
    "parity proves both the pair set and loop convergence.",
)
def q_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dbscan_ops.dbscan_labels(spark, _tiles(spark, sf_dir))


# --- round 3: Z-order layout audit ------------------------------------------

from .operators import layout as layout_ops  # noqa: E402


@register(
    "zorder_layout",
    f"{_CTES},\n{layout_ops.zorder_audit_oracle_sql(32)}",
    doc="Z-order (Morton) layout audit: tiles range-bucketed by the "
    "interleaved-bit key vs by insertion id, per-bucket locality (tile "
    "count, distinct res-9 cells, integer bbox area). The recorded "
    "bbox-area gap IS the file-pruning win of Z-order clustering at "
    "10^12 rows; the production path is operators/layout.py::"
    "write_zordered (repartitionByRange + sortWithinPartitions).",
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    return layout_ops.zorder_layout_audit(_tiles(spark, sf_dir), n_buckets=32)


# --- round 3: IDW interpolation ---------------------------------------------

@register(
    "idw_surface",
    f"{_CTES},\n{knn.idw_oracle_sql(0.01)}",
    doc="Inverse-distance-weighted (power-2) pixel-area surface at each "
    "query point over neighbors within 0.01° — interpolation/regridding "
    "family, composed from radius_join; weights and sums are all-bigint "
    "(SCALE div nano-distance) so aggregation order is parity-proof. "
    "Spark DIV and DuckDB // agree (positive operands).",
)
def q_idw_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    q = synth.qpoints_df(spark)
    return knn.idw_surface(t, q, radius=0.01)


# --- round 3: hexagonal (H3-geometry) binning --------------------------------

HEX_SIZE = 0.005  # hex edge length in degrees (~H3 res 8 cell scale)


@register(
    "hex_density",
    (lambda hq, hr: f"""{_CTES}
SELECT {hq} AS hq, {hr} AS hr, count(*) AS n_tiles,
       sum(CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END) AS n_hot
FROM tiles GROUP BY 1, 2""")(*grid.hex_qr_sql("lon", "lat", HEX_SIZE)),
    doc="Hexagonal-grid density (the H3-geometry analog): pointy-top "
    "axial hex binning with cube rounding in pure portable SQL (floor/"
    "abs/CASE + Python-literal constants — no trig, no UDF, codegen-"
    "friendly); per-hex tile and hotspot counts. Property-tested to be "
    "the exact nearest-hex-center assignment.",
)
def q_hex_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    hq, hr = grid.hex_qr_sql("lon", "lat", HEX_SIZE)
    return t.groupBy(
        F.expr(hq).alias("hq"), F.expr(hr).alias("hr")
    ).agg(
        F.count("*").alias("n_tiles"),
        F.sum(F.expr("CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END")).alias("n_hot"),
    )


# the 6 axial hex neighbors — the uniform adjacency square grids lack
# (no corner-vs-edge asymmetry; the focal kernel is isotropic by shape)
HEX_NEIGHBORS = [(0, 0), (1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)]


@register(
    "hex_smooth",
    (lambda hq, hr: f"""{_CTES},
per_hex AS (
  SELECT {hq} AS hq, {hr} AS hr, count(*) AS n FROM tiles GROUP BY 1, 2),
offs(dq, dr) AS (VALUES {", ".join(f"({dq}, {dr})" for dq, dr in HEX_NEIGHBORS)}),
contrib AS (
  SELECT p.hq + o.dq AS hq, p.hr + o.dr AS hr, p.n
  FROM per_hex p CROSS JOIN offs o),
sm AS (SELECT hq, hr, sum(n) AS hood_n FROM contrib GROUP BY 1, 2)
SELECT p.hq, p.hr, p.n AS n_tiles, s.hood_n,
       (p.n * 7000) // s.hood_n AS center_share_milli
FROM per_hex p JOIN sm s ON s.hq = p.hq AND s.hr = p.hr""")(
        *grid.hex_qr_sql("lon", "lat", HEX_SIZE)
    ),
    doc="Hex focal smoothing: per-hex counts fanned over the 6 uniform "
    "axial neighbors (+center) and re-aggregated — the isotropic "
    "neighborhood statistic hexagons exist for; aggregate-then-fan "
    "keeps kernel work O(#hexes). center_share_milli = n·7000 DIV "
    "hood_n (1000 = cell exactly at neighborhood average).",
)
def q_hex_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    hq, hr = grid.hex_qr_sql("lon", "lat", HEX_SIZE)
    per_hex = t.groupBy(F.expr(hq).alias("hq"), F.expr(hr).alias("hr")).agg(
        F.count("*").alias("n")
    )
    offs = F.expr(
        "explode(array("
        + ", ".join(f"struct({dq} as dq, {dr} as dr)" for dq, dr in HEX_NEIGHBORS)
        + "))"
    )
    contrib = per_hex.withColumn("off", offs).select(
        (F.col("hq") + F.col("off.dq")).alias("hq"),
        (F.col("hr") + F.col("off.dr")).alias("hr"),
        "n",
    )
    sm = contrib.groupBy("hq", "hr").agg(F.sum("n").alias("hood_n"))
    return (
        per_hex.join(sm, ["hq", "hr"])
        .select(
            "hq",
            "hr",
            F.col("n").alias("n_tiles"),
            "hood_n",
            F.expr("(n * 7000) DIV hood_n").alias("center_share_milli"),
        )
    )


# --- round 3: cost-distance surface ------------------------------------------

from .operators import cost_distance as cost_ops  # noqa: E402


@register(
    "cost_distance",
    _CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + ",\n"
    + cost_ops.cost_distance_oracle_sql(),
    doc="GIS cost-distance surface: min cumulative traversal cost from "
    "the nearest hotspot seed over 4-connected occupied res-7 cells "
    "(density→integer cost bands). Raster→graph via a 4-way shifted "
    "equi-join; multi-source = one Bellman-Ford run from a virtual "
    "super-source; oracle mirrors the augmented graph with the same "
    "even step cap.",
)
def q_cost_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cost_ops.cost_distance(spark, _tiles(spark, sf_dir))


# --- round 3: KDE heatmap + raster change + metric distance bands ------------

@register(
    "kde_heatmap",
    f"{_CTES},\n{zonal.kde_heatmap_oracle_sql(9)}",
    doc="Kernel density heatmap: per-cell counts smoothed over a "
    "Chebyshev disk-2 with an integer triangular kernel — aggregate "
    "tiles once, fan the cell frame x25 (O(#cells), never O(#tiles)).",
)
def q_kde_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.kde_heatmap(_tiles(spark, sf_dir), res=9)


@register(
    "raster_change",
    f"{_CTES},\n{zonal.raster_change_oracle_sql(8)}",
    doc="Two-epoch raster change detection (map algebra): epoch split by "
    "i%3 gives genuinely different spatial distributions (hotspot "
    "membership is i%3-keyed), so loss at hotspot 0 / gain at 1-2 — "
    "per dense res-8 cell: counts, normalized delta, gain/stable/loss.",
)
def q_raster_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.raster_change(_tiles(spark, sf_dir), res=8)


# Equirectangular meters-per-degree at the geography's mid-latitude —
# PYTHON-computed literal doubles (synth's no-SQL-trig discipline: cos/
# radians in SQL could differ by ulps across engines; literals parse
# bit-identically). 1° lat = 110574 m; 1° lon = 111320·cos(35.65°) m.
import math as _m  # noqa: E402

_MX = synth.dlit(111320.0 * _m.cos(_m.radians(35.65)))
_MY = synth.dlit(110574.0)


def _nearest_hotspot_m_sql() -> str:
    """Integer meters to the nearest hotspot (equirectangular): identical
    expression text on both engines; sqrt is IEEE-754 correctly rounded,
    so floor(sqrt(...)) is deterministic cross-engine."""
    d2s = [
        f"((lon - {synth.dlit(hlon)}) * {_MX} * ((lon - {synth.dlit(hlon)}) * {_MX})"
        f" + (lat - {synth.dlit(hlat)}) * {_MY} * ((lat - {synth.dlit(hlat)}) * {_MY}))"
        for hlon, hlat in synth.HOTSPOTS
    ]
    return f"CAST(floor(sqrt(LEAST({', '.join(d2s)}))) AS BIGINT)"


@register(
    "hotspot_distance_bands",
    # Spark spells integer division DIV, DuckDB spells it // (CLAUDE.md);
    # identical floor semantics on the non-negative operands here.
    f"{_CTES}\nSELECT {_nearest_hotspot_m_sql()} // 2000 AS band_2km, "
    "count(*) AS n_tiles, "
    "sum(CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END) AS n_hot "
    "FROM tiles GROUP BY 1",
    doc="Metric distance-decay profile: tiles bucketed by integer-meter "
    "distance (equirectangular, literal-constant meters/degree) to the "
    "nearest hotspot in 2 km bands — scan + single small-key groupBy; "
    "the geodesic-metric surface every spatial engine needs without a "
    "geo library.",
)
def q_hotspot_distance_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    return (
        t.groupBy(F.expr(f"{_nearest_hotspot_m_sql()} DIV 2000").alias("band_2km"))
        .agg(
            F.count("*").alias("n_tiles"),
            F.sum(F.expr("CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END")).alias("n_hot"),
        )
    )


# --- round 3: vector measures (shoelace area / perimeter / density) ----------

def _hex_area_u_sql() -> str:
    """Shoelace area of the hexagon (columns x0..x5 / y0..y5), scaled to
    integer nano-deg² — one fixed-order expression evaluated on identical
    literal-derived doubles in both engines."""
    k = 6
    terms = " + ".join(
        f"(x{m} * y{(m + 1) % k} - x{(m + 1) % k} * y{m})" for m in range(k)
    )
    return f"CAST(floor(abs({terms}) * 0.5e9) AS BIGINT)"


def _hex_perim_n_sql() -> str:
    """Perimeter in integer nano-deg: Σ of 6 edge lengths; sqrt is IEEE
    correctly rounded, the sum order is fixed by the expression text."""
    k = 6
    terms = " + ".join(
        f"sqrt((x{(m + 1) % k} - x{m}) * (x{(m + 1) % k} - x{m})"
        f" + (y{(m + 1) % k} - y{m}) * (y{(m + 1) % k} - y{m}))"
        for m in range(k)
    )
    return f"CAST(floor(({terms}) * 1.0e9) AS BIGINT)"


@register(
    "zone_geometry",
    f"""{_CTES},
pz AS ({synth.poly_zones_sql()}),
cnt AS (
  SELECT z.polygon_id, count(*) AS n_tiles
  FROM tiles t JOIN pz z ON {synth.convex_pip_predicate('t.lon', 't.lat')}
  GROUP BY z.polygon_id)
SELECT p.polygon_id,
       {_hex_area_u_sql()} AS area_u,
       {_hex_perim_n_sql()} AS perim_n,
       COALESCE(c.n_tiles, 0) AS n_tiles,
       (COALESCE(c.n_tiles, 0) * 1000000000) // {_hex_area_u_sql()} AS density_u
FROM pz p LEFT JOIN cnt c ON c.polygon_id = p.polygon_id""",
    doc="Vector measures: shoelace area + perimeter per hexagon polygon "
    "(integer nano-scaled, fixed-order float expression → cross-engine "
    "exact) joined with the PIP tile count into a per-area density — "
    "polygons with zero tiles kept via left join (gap analysis).",
)
def q_zone_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    pz = synth.poly_zones_df(spark)
    cnt = (
        pip_join.cover_join(
            t, grid.cell_col("lon", "lat", 9), pip_join.poly_cover_scanline(pz, 9),
            synth.convex_pip_predicate("lon", "lat"),
        )
        .groupBy("polygon_id")
        .agg(F.count("*").alias("n_tiles"))
    )
    geo = pz.select(
        "polygon_id",
        F.expr(_hex_area_u_sql()).alias("area_u"),
        F.expr(_hex_perim_n_sql()).alias("perim_n"),
    )
    return (
        geo.join(cnt, "polygon_id", "left")
        .na.fill({"n_tiles": 0})
        .select(
            "polygon_id",
            "area_u",
            "perim_n",
            "n_tiles",
            F.expr("(n_tiles * 1000000000) DIV area_u").alias("density_u"),
        )
    )


# --- round 3 (cont.): spatial statistics + overlay + point pattern -----------

from .operators import pointpattern as pp_ops  # noqa: E402
from .functions import md5int_duck, md5int_spark  # noqa: E402


@register(
    "getis_ord",
    f"{_CTES},\n{zonal.getis_ord_oracle_sql(8)}",
    doc="Getis-Ord Gi* hotspot statistic per res-8 cell (8-neighborhood "
    "+ center) — exact integer formulation: gi_num = C·Σneighborhood − "
    "T·m; positive = locally high intensity. Companion to local_moran "
    "(similarity) in the spatial-autocorrelation family.",
)
def q_getis_ord(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.getis_ord(_tiles(spark, sf_dir), res=8)


@register(
    "join_counts_marks",
    f"{_CTES},\n{zonal.join_counts_oracle_sql(8)}",
    doc="Join-count statistics (Cliff-Ord) for the binary hotspot MARK "
    "(i %% 5 = 0 tiles) over occupied res-8 cells: BB/WW/BW "
    "adjacent-pair counts on the 8-neighborhood, each undirected edge "
    "generated once from its lexicographically-smaller endpoint (no "
    "distinct). Distinct from `join_counts` (density-threshold color, "
    "full bbox grid, rook adjacency + CSR expectation) — the two "
    "initially collided on one registry name, silently shadowing this "
    "one; register() now rejects duplicates.",
)
def q_join_counts_marks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.join_counts(_tiles(spark, sf_dir), res=8)


@register(
    "area_overlay",
    f"{_CTES},\n{zonal.area_overlay_oracle_sql(9, 6)}",
    doc="Area-weighted overlay reaggregation (dasymetric mapping): "
    "per-zone PIP tile counts apportioned onto res-6 raster cells by "
    "exact res-9 cover-cell overlap shares (integer DIV apportionment).",
)
def q_area_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    z = synth.zones_df(spark)
    return zonal.area_overlay(t, z, res=9, target_res=6)


@register(
    "ripley_k",
    f"{_CTES},\n{pp_ops.ripley_k_oracle_sql()}",
    doc="Ripley's K pair-count ladder (radii 0.001°-0.008°) over tile "
    "centroids: cell-bucketed pair join at res 7 (disk ceil(rmax/size)), "
    "integer pico-deg² distance filter, one pass for all radii; the "
    "clustered synthetic corpus shows counts far above CSR at small r. "
    "Oracle = naive band self-join (IEJoin) with a wider float-safety "
    "band.",
)
def q_ripley_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pp_ops.ripley_k(_tiles(spark, sf_dir), res=7)


# --- round 3 (cont.): spatial ML block split ---------------------------------

_SPLIT_BLOCK = grid.cell_sql("lon", "lat", 7)
_SPLIT_CASE = (
    "CASE WHEN {h} % 10 <= 7 THEN 'train' "
    "WHEN {h} % 10 = 8 THEN 'val' ELSE 'test' END"
)


@register(
    "spatial_split",
    f"""{_CTES},
sp AS (
  SELECT {_SPLIT_CASE.format(h=md5int_duck(f"CAST({_SPLIT_BLOCK} AS STRING)"))} AS split,
         {_SPLIT_BLOCK} AS block, i
  FROM tiles
),
agg AS (
  SELECT split, count(*) AS n_tiles, count(DISTINCT block) AS n_blocks,
         sum(CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END) AS n_hot
  FROM sp GROUP BY 1
),
tot AS (SELECT sum(n_tiles) AS t FROM agg)
SELECT a.split, a.n_tiles, a.n_blocks, CAST(a.n_hot AS BIGINT) AS n_hot,
       (a.n_tiles * 1000) // t.t AS share_milli
FROM agg a CROSS JOIN tot t""",
    doc="Spatially-blocked train/val/test split for ML hygiene: the res-7 "
    "cell is the leakage block; split = md5(block) % 10 (8/1/1). Blocked "
    "assignment guarantees no res-7 neighborhood spans splits — the "
    "spatial-autocorrelation leakage guard a naive random split lacks. "
    "Deterministic, engine-reproducible scan filter (same discipline as "
    "stratified_sample).",
)
def q_spatial_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    h = md5int_spark(f"CAST({_SPLIT_BLOCK} AS STRING)")
    sp = t.select(
        F.expr(_SPLIT_CASE.format(h=h)).alias("split"),
        F.expr(_SPLIT_BLOCK).alias("block"),
        "i",
    )
    agg = sp.groupBy("split").agg(
        F.count("*").alias("n_tiles"),
        F.countDistinct("block").alias("n_blocks"),
        F.sum(F.expr("CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_hot"),
    )
    tot = agg.agg(F.sum("n_tiles").alias("t"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "split",
        "n_tiles",
        "n_blocks",
        "n_hot",
        F.expr("n_tiles * 1000 DIV t").alias("share_milli"),
    )


# --- round 3 (cont.): skyline (Pareto front) ---------------------------------

@register(
    "skyline_tiles",
    f"""{_CTES},
sk AS (
  SELECT image_id, CAST(w AS BIGINT) * h AS pixels,
         {_nearest_hotspot_m_sql()} AS hs_m
  FROM tiles
)
SELECT t.image_id, t.pixels, t.hs_m
FROM sk t
WHERE NOT EXISTS (
  SELECT 1 FROM sk u
  WHERE u.pixels >= t.pixels AND u.hs_m <= t.hs_m
    AND (u.pixels > t.pixels OR u.hs_m < t.hs_m)
)""",
    doc="Skyline (Pareto-front) query: tiles not dominated on (pixels "
    "max, hotspot distance min) — 'the largest images closest to a "
    "hotspot'. Spark plan: per-pixel-class min-distance agg (map-side "
    "combined), prefix-min window over the tiny CLASS frame (7 rows — "
    "never tiles), broadcast back as a scan filter. Oracle = brute "
    "NOT-EXISTS domination anti-join. Ties at a class minimum all "
    "survive (classic non-strict skyline).",
)
def q_skyline_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = _tiles(spark, sf_dir).select(
        "image_id",
        F.expr("CAST(w AS BIGINT) * h").alias("pixels"),
        F.expr(_nearest_hotspot_m_sql()).alias("hs_m"),
    )
    classes = t.groupBy("pixels").agg(F.min("hs_m").alias("class_min"))
    # global-order window is safe here: it runs on the aggregated CLASS
    # frame (#distinct pixel counts = 7), never on the tile scan
    w = (
        Window.orderBy(F.desc("pixels"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    classes = classes.withColumn("higher_min", F.min("class_min").over(w))
    return (
        t.join(F.broadcast(classes), "pixels")
        .where(
            "hs_m = class_min AND (higher_min IS NULL OR hs_m < higher_min)"
        )
        .select("image_id", "pixels", "hs_m")
    )


# --- round 3 (cont.): space-time trend + spatial interaction ------------------

from .operators import interaction  # noqa: E402


@register(
    "emerging_hotspots",
    f"{_CTES},\n{zonal.mann_kendall_oracle_sql(7, 12)}",
    doc="Emerging-hot-spot analysis (space-time cube): Mann-Kendall S "
    "statistic per res-7 cell over 6 acquisition-epoch counts (epoch = "
    "i % 6) — S = Σ sign(c_b − c_a) over the 15 epoch pairs, exact CASE "
    "arithmetic, |S| ≥ 9 classifies rising/falling. One map-side-combined "
    "groupBy; the epoch dimension folds into conditional sums, never rows.",
)
def q_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.mann_kendall(_tiles(spark, sf_dir), res=7, min_total=12)


@register(
    "huff_shares",
    f"{_CTES},\n{interaction.huff_shares_oracle_sql()}",
    doc="Huff gravity allocation: each tile splits 1000 milli-visits "
    "across zones within a 0.15° Chebyshev radius, weighted by "
    "area_nano·1000 DIV (1+dist²_nano) — power-2 decay, all-bigint "
    "shares. The whole per-tile model (candidate filter, weights, "
    "denominator, shares) runs inside ONE projection over a broadcast "
    "zone array via higher-order functions: the tile side never "
    "shuffles; the only exchange carries ~#zones rows.",
)
def q_huff_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    return interaction.huff_shares(_tiles(spark, sf_dir), synth.zones_df(spark))


# --- round 3 (cont.): runtime-filter membership sketch ------------------------

from .operators import bloom  # noqa: E402
from .operators import sketch as sketch_ops  # noqa: E402


@register(
    "bloom_filter_audit",
    f"{_CTES},\n{bloom.bloom_audit_oracle_sql()}",
    doc="Deterministic Bloom-filter runtime filter with a false-positive "
    "audit: a 512-bit / 3-hash md5-seeded filter over the hot res-8 "
    "cells, probed by every occupied cell. One audit row pins the "
    "one-sided-error contract (every hot cell passes) and the visible "
    "fp rate. The bit-set frame broadcasts (≤ 3·|keys| rows); the probe "
    "side tests membership map-side — the big side never shuffles "
    "before the filter, the runtime-filter shape at 100 TB.",
)
def q_bloom_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bloom.bloom_audit(_tiles(spark, sf_dir), res=8)


@register(
    "nn_distance_stats",
    f"{_CTES},\n{pp_ops.nn_distance_oracle_sql()}",
    doc="Nearest-neighbor distance profile per tile kind (Clark-Evans "
    "point-pattern statistic, the aggregate sibling of the Ripley-K "
    "ladder): a deterministic 1/23 tile sample queries the full set for "
    "its nearest OTHER tile via the two-phase kNN join (k=2, self "
    "excluded by image_id — exact in every co-location case because "
    "floor is monotone and the true NN is always in the candidate set). "
    "No cross join: the big side is probed map-side by broadcast query "
    "disks; the naive oracle scans all non-self pairs and must agree "
    "bigint-exactly.",
)
def q_nn_distance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pp_ops.nn_distance_stats(_tiles(spark, sf_dir))


@register(
    "zone_dissolve",
    _CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + ",\n"
    + zonal.dissolve_oracle_sql(),
    doc="GIS dissolve (union-by-attribute): same-kind zones whose "
    "rectangles touch/overlap merge into regions via min-label connected "
    "components on the zone-id quotient graph; each region's UNION area "
    "is its exact distinct res-9 cell count (overlap double-count "
    "impossible by construction). Candidate adjacency comes from a "
    "cell-bucketed cover self-join with the reference-point pair dedup "
    "— never all-pairs, no distinct(). The oracle re-derives adjacency "
    "naively and closes components with an UNCAPPED recursive walk, so "
    "parity also proves the Spark loop converged.",
)
def q_zone_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.dissolve(spark, synth.zones_df(spark))


@register(
    "hll_cardinality",
    f"{_CTES},\n{sketch_ops.hll_oracle_sql()}",
    doc="HyperLogLog distinct-cell cardinality per tile kind, next to the "
    "exact count: 64 md5-seeded registers, rho = trailing zeros "
    "(geometric), harmonic sum as exact dyadic bigints (Σ 2^(48−M_j)), "
    "estimate = α·m²·2^48 DIV S — no float in any compared column, so "
    "DuckDB rebuilds the estimator bit-for-bit. Completes the sketch "
    "trio (CMS=frequency, Bloom=membership, HLL=cardinality). One "
    "map-side-combined groupBy onto ≤64 registers per group; registers "
    "merge by MAX — the HLL monoid is exactly Spark's partial/final agg.",
)
def q_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketch_ops.hll_cardinality(_tiles(spark, sf_dir))


@register(
    "raster_morphology",
    f"{_CTES},\n{zonal.raster_morphology_oracle_sql()}",
    doc="Binary mathematical morphology over the res-7 density mask "
    "(hot = cell with ≥5 tiles): dilation (hot ∪ 4-neighbors), erosion "
    "(hot cells with all 4 neighbors hot), internal boundary, and "
    "solidity — one all-bigint audit row, the raster sibling of the "
    "zone fringe combinator. Aggregate-first discipline: every operator "
    "is a ≤5× fan of the tiny hot-cell frame joined to itself; tile "
    "rows are touched exactly once.",
)
def q_raster_morphology(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.raster_morphology(_tiles(spark, sf_dir))


# --- round 3 (cont. 2): empirical semivariogram -------------------------------


@register(
    "semivariogram",
    f"{_CTES},\n{pp_ops.semivariogram_oracle_sql()}",
    doc="Empirical semivariogram of the per-cell tile-count surface: "
    "gamma(h) for Chebyshev lags 1..4 at res 7 — the geostatistics "
    "structure function behind the IDW/kriging family (rising gamma = "
    "interpolable surface). Integer counts, gamma_milli = 500·Σsq DIV "
    "N(h). Tiles collapse to the occupied-cell frame before a one-sided "
    "40-offset lag fan + packed-key equi-join (each unordered pair "
    "exactly once, no distinct); the oracle re-derives pairs all-pairs.",
)
def q_semivariogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pp_ops.semivariogram(_tiles(spark, sf_dir))


# --- round 3 (cont. 2): adaptive quadtree tiling ------------------------------

from .operators import quadtree as qt_ops  # noqa: E402


@register(
    "quadtree_leaves",
    f"{_CTES},\n{qt_ops.quadtree_oracle_sql()}",
    doc="Adaptive quadtree tiling: a disjoint complete cover of the tile "
    "set by variable-resolution cells (res 5-9) — split while a cell "
    "holds >32 tiles. Closed form, no loop: counts are nested, so each "
    "res-9 cell's leaf is its coarsest ancestor meeting the threshold. "
    "Tiles aggregate once at res 9; coarser counts roll up the CELL "
    "frame and join back via broadcast. Parity doubles as a partition "
    "proof (a wrong leaf breaks the per-cell checksum).",
)
def q_quadtree_leaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    return qt_ops.quadtree_leaves(_tiles(spark, sf_dir))


# --- round 3 (cont. 2): isochrone bands over the cost surface -----------------

_ISO_BAND = 4


@register(
    "isochrone_bands",
    _CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + ",\n"
    + cost_ops.surface_ctes_sql()
    + f"""
SELECT dist DIV {_ISO_BAND} AS band, count(*) AS n_cells,
       min(dist) AS min_dist, max(dist) AS max_dist
FROM dists GROUP BY 1""".replace(" DIV ", " // "),
    doc="Isochrone bands: the cost-distance surface classed into "
    "equal-cost rings (band = dist DIV 4) with reachable-cell counts — "
    "the service-area / drive-time-polygon analog over the same "
    "multi-source Bellman-Ford surface as cost_distance (one SSSP run, "
    "one extra ~#cells aggregation).",
)
def q_isochrone_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    dist = cost_ops.cost_distance(spark, _tiles(spark, sf_dir))
    return dist.groupBy(
        F.expr(f"dist DIV {_ISO_BAND}").alias("band")
    ).agg(
        F.count("*").alias("n_cells"),
        F.min("dist").alias("min_dist"),
        F.max("dist").alias("max_dist"),
    )


# --- round 3 (cont. 2): bivariate cross-K -------------------------------------


@register(
    "cross_k_pairs",
    f"{_CTES},\n{pp_ops.cross_k_oracle_sql()}",
    doc="Bivariate Ripley cross-K: for every unordered tile-kind pair "
    "and radius 0.001°-0.008°, cross pairs within the radius + pair "
    "density in ppm of the possible pairs — kind-kind attraction/"
    "repulsion. Same cell-bucketed candidate fan as ripley_k (one pass "
    "for the whole ladder and every kind pair); kind counts broadcast "
    "onto the ~|kinds|² result. Oracle = naive band self-join.",
)
def q_cross_k_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pp_ops.cross_k(_tiles(spark, sf_dir))


# --- round 3 (cont. 2): Hilbert layout audit ----------------------------------


@register(
    "hilbert_layout",
    f"{_CTES},\n{layout_ops.hilbert_audit_oracle_sql(32)}",
    doc="Hilbert-curve vs Z-order layout audit: same bucket-locality "
    "contract as zorder_layout, but the Hilbert key (no diagonal jumps "
    "— every key step is a unit grid move) is computed by the 18-step "
    "rotate/flip state machine over the DISTINCT CELL frame only "
    "(lineage barriers bound Catalyst expression depth), then broadcast "
    "back onto tiles. The recorded per-bucket bbox areas show Hilbert's "
    "tighter patches — the curve Iceberg/BigQuery cluster by when "
    "range-scan pruning matters most.",
)
def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    return layout_ops.hilbert_layout_audit(_tiles(spark, sf_dir), n_buckets=32)


# --- round 3 (cont. 2): cost allocation + density Gini ------------------------


@register(
    "cost_allocation",
    _CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + ",\n"
    + cost_ops.cost_allocation_oracle_sql(),
    doc="GIS cost allocation (weighted Voronoi): which hotspot seed "
    "reaches each occupied cell cheapest, min-seed tie-break — ONE "
    "packed-key Bellman-Ford run (edge weights ×16, super-source edge "
    "weight = seed index, so min(16·cost + seed) IS the lexicographic "
    "minimum); same even step cap as cost_distance, one integer unpack.",
)
def q_cost_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cost_ops.cost_allocation(spark, _tiles(spark, sf_dir))


@register(
    "density_gini",
    f"{_CTES},\n{zonal.density_gini_oracle_sql()}",
    doc="Spatial concentration per tile kind: exact integer Gini of the "
    "per-cell counts (ascending rank window partitioned BY KIND — never "
    "one global partition — rank ties broken by cell id, statistic "
    "tie-invariant). The pure-SQL oracle-exact sibling of the GROUPED_"
    "AGG Gini UDAF.",
)
def q_density_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.density_gini(_tiles(spark, sf_dir))


# --- round 3 (cont. 2): fractal box-counting ladder ---------------------------

_BOX_LEVELS = (5, 6, 7, 8, 9, 10)


@register(
    "box_counting",
    f"{_CTES},\n"
    + """
bc AS (
"""
    + "\n  UNION ALL\n".join(
        f"  SELECT {r} AS res, count(*) AS n_boxes FROM ("
        f"SELECT DISTINCT {grid.ix_sql('lon', r)}, {grid.iy_sql('lat', r)}"
        f" FROM tiles)"
        for r in _BOX_LEVELS
    )
    + """
)
SELECT a.res, a.n_boxes,
       COALESCE((1000 * b.n_boxes) // a.n_boxes, 0) AS ratio_milli
FROM bc a LEFT JOIN bc b ON b.res = a.res + 1
""",
    doc="Fractal box-counting ladder: occupied cells at res 5-10 plus "
    "the consecutive-resolution ratio ×1000 (4000 = area-filling d=2, "
    "2000 = curve-like d=1, ~1000 = isolated points) — the "
    "log-free integer spelling of the box-counting dimension, the "
    "roughness diagnostic that sizes how cell counts scale with "
    "resolution (exactly what a tiling engine must predict before "
    "choosing a storage res). One distinct-cell aggregation per level "
    "over the same scan; the join is the tiny 6-row ladder.",
)
def q_box_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    parts = None
    for r in _BOX_LEVELS:
        p = (
            t.select(
                F.expr(grid.ix_sql("lon", r)).alias("bx"),
                F.expr(grid.iy_sql("lat", r)).alias("by"),
            )
            .distinct()
            .agg(
                F.lit(r).cast("int").alias("res"),
                F.count("*").alias("n_boxes"),
            )
        )
        parts = p if parts is None else parts.unionByName(p)
    nxt = parts.select(
        (F.col("res") - 1).alias("res"), F.col("n_boxes").alias("nb_next")
    )
    return parts.join(nxt, "res", "left").select(
        "res",
        "n_boxes",
        F.coalesce(
            F.expr("(1000 * nb_next) DIV n_boxes"), F.lit(0)
        ).cast("bigint").alias("ratio_milli"),
    )


# --- round 3 (cont. 2): percolation profile ------------------------------------


@register(
    "percolation_profile",
    _CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + ",\n"
    + zonal.percolation_oracle_sql(),
    doc="Percolation analysis of the density raster: at thresholds "
    "2/5/10, occupied cells, connected components (4-neighbor, "
    "singletons counted via self-loops), and the largest cluster — the "
    "giant-component collapse is the percolation transition "
    "(habitat/urban-fabric connectivity). Per threshold: the graph "
    "suite's capped min-label CC over the cell quotient; oracle = "
    "same-capped recursive closures, equal whether or not converged.",
)
def q_percolation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.percolation_profile(spark, _tiles(spark, sf_dir))


# --- round 3 (cont. 2): line of sight ------------------------------------------


@register(
    "line_of_sight",
    f"{_CTES},\n{cost_ops.line_of_sight_oracle_sql()}",
    doc="Viewshed-lite: for each hotspot seed and dense target cell, is "
    "the straight grid line clear of obstacle cells (density >= 20)? "
    "Line sampled at Chebyshev resolution with the all-positive affine "
    "form (sx·(n−k) + tx·k) DIV n — positive bigints only, so Spark "
    "DIV and DuckDB // agree with no negative-division hazard. The fan "
    "multiplies seeds × targets × line length over CELL frames; the "
    "obstacle probe is a broadcast equi-join; tiles aggregate once.",
)
def q_line_of_sight(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cost_ops.line_of_sight(spark, _tiles(spark, sf_dir))


# --- round 3 (cont. 2): seed catchment rollup ----------------------------------


@register(
    "seed_catchment",
    _CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + ",\n"
    + cost_ops.cost_allocation_oracle_sql().replace(
        "SELECT v AS cell,", "SELECT v AS cell,"
    ).replace(
        f"\nSELECT v AS cell", ", alloc AS (\nSELECT v AS cell"
    )
    + """),
pc2 AS (
  SELECT cx * 268435456 + cy AS cell, count(*) AS n_tiles
  FROM (SELECT """
    + cost_ops._cx("lon")
    + """ AS cx, """
    + cost_ops._cy("lat")
    + """ AS cy FROM tiles)
  GROUP BY 1)
SELECT a.seed, count(*) AS n_cells, SUM(p.n_tiles) AS n_tiles,
       MAX(a.dist) AS max_dist
FROM alloc a JOIN pc2 p ON p.cell = a.cell
GROUP BY a.seed""",
    doc="Service-area catchment per hotspot seed: the cost_allocation "
    "partition rolled up to (seed, reachable cells, tiles served, max "
    "traversal cost) — the demand-sizing rollup over the same single "
    "packed-key Bellman-Ford run; one extra ~#cells join + aggregation.",
)
def q_seed_catchment(spark: SparkSession, sf_dir: str) -> DataFrame:
    tiles = _tiles(spark, sf_dir)
    alloc = cost_ops.cost_allocation(spark, tiles)
    pc = tiles.groupBy(
        F.expr(cost_ops._cx("lon")).alias("cx"),
        F.expr(cost_ops._cy("lat")).alias("cy"),
    ).agg(F.count("*").alias("n_tiles")).select(
        F.expr("cx * 268435456 + cy").alias("cell"), "n_tiles"
    )
    return (
        alloc.join(pc, "cell")
        .groupBy("seed")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("n_tiles").alias("n_tiles"),
            F.max("dist").alias("max_dist"),
        )
    )


# --- round 3 (cont. 2): HLL mergeability audit ---------------------------------


@register(
    "hll_union_audit",
    f"{_CTES},\n{sketch_ops.hll_union_oracle_sql()}",
    doc="The HLL monoid, proved not claimed: jpeg cells and png cells "
    "sketched separately, merged by register-wise MAX — the union "
    "estimate must equal the direct union sketch BIT-FOR-BIT "
    "(merge_exact = 1), which is exactly why per-partition partial "
    "sketches + Spark's partial/final agg give the global sketch at "
    "any parallelism; err_milli pins the union estimate's accuracy "
    "against the exact distinct union.",
)
def q_hll_union_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketch_ops.hll_union_audit(_tiles(spark, sf_dir))


# --- round 3 (cont. 3): raster hydrology — D8 flow routing ---------------------

from .operators import hydrology as hydro_ops  # noqa: E402


@register(
    "flow_accumulation",
    _CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + ",\n"
    + hydro_ops.flow_accumulation_oracle(),
    doc="D8-style flow accumulation over the density raster: every "
    "occupied res-7 cell routes to its densest strict-ascent 8-neighbor "
    "(min-key tie-break; peaks self-loop) and acc(c) counts the distinct "
    "cells whose capped 8-hop ascent path visits c — upstream drainage "
    "area re-read as hotspot ridge importance. One tile exchange to the "
    "cell quotient, then functional-graph equi-joins only; oracle = "
    "same-capped recursive walk (equal whether or not converged).",
)
def q_flow_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hydro_ops.flow_accumulation(_tiles(spark, sf_dir))


@register(
    "watershed_basins",
    _CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + ",\n"
    + hydro_ops.watershed_oracle(),
    doc="Watershed (attraction-basin) partition of the density raster: "
    "basin = the density peak reached by chasing the D8 steepest-ascent "
    "parent map, computed by POINTER DOUBLING (5 self-joins = a 32-step "
    "chase, peaks saturate on self-loops) — the O(log diameter) plan a "
    "trillion-row functional-graph chase needs; per basin: member cells, "
    "tiles drained, and peak density. Oracle chases the same 32 steps "
    "linearly via recursive CTE (equal whether or not converged).",
)
def q_watershed_basins(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hydro_ops.watershed_basins(_tiles(spark, sf_dir))


# --- round 3 (cont. 3): join counts, quadrat dispersion, mosaic seams ----------


@register(
    "join_counts",
    f"{_CTES},\n{pp_ops.join_counts_oracle()}",
    doc="Cliff-Ord join-count statistics: the full res-7 bbox grid "
    "(empties included) colored hot/cold by tile count >= 2; observed "
    "rook-adjacent BB/WW/BW pair counts beside the exact-integer "
    "free-sampling CSR expectation (1000·J·f(nB,nW) DIV N(N−1)) — "
    "observed BB >> expected is the hotspot autocorrelation, quantified. "
    "Exactly 3 rows; grid size is bounded by domain/res, tiles touched "
    "once.",
)
def q_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pp_ops.join_counts(_tiles(spark, sf_dir))


@register(
    "quadrat_dispersion",
    f"{_CTES},\n{pp_ops.quadrat_dispersion_oracle()}",
    doc="Quadrat variance-mean ratio over the full res-7 bbox grid, "
    "empty quadrats included via the closed form (they add 0 to T and "
    "Σn², so only the bbox area enters) — VMR = 1 under CSR; the "
    "hotspot corpus is far overdispersed. Pure cross-multiplied integer "
    "arithmetic: (N·Σn² − T²) DIV (N·T).",
)
def q_quadrat_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pp_ops.quadrat_dispersion(_tiles(spark, sf_dir))


@register(
    "mosaic_seams",
    f"{_CTES},\n{zonal.mosaic_seams_oracle()}",
    doc="Mosaic seam QA: one canonical tile per res-9 cell (max pixel "
    "area, min id — the compositing best-tile rule, picked by a "
    "max-struct aggregate so tile rows are touched once), then "
    "hamming(phash, phash) across every rook-adjacent boundary, "
    "histogrammed in 8-bit bands — the visual-continuity scorecard of "
    "a tile-serving pipeline.",
)
def q_mosaic_seams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.mosaic_seams(_tiles(spark, sf_dir))


@register(
    "gearys_c",
    f"{_CTES},\n{pp_ops.gearys_c_oracle()}",
    doc="Global Geary's C ×1000 over the res-7 count raster (empties "
    "included): C < 1 ⟺ rook neighbors are more alike than chance — "
    "the global autocorrelation coefficient beside the local Moran "
    "LISA suite. Aggregate-first: empty-empty pairs contribute 0, so "
    "the full grid is never generated — occupied-occupied pairs come "
    "from a shifted equi-self-join and occupied-empty pairs from "
    "per-direction null probes; N and J are bbox closed forms. The "
    "oracle generates the full grid naively. All-integer "
    "cross-multiplied C (non-negative throughout, DIV == //).",
)
def q_gearys_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pp_ops.gearys_c(_tiles(spark, sf_dir))


@register(
    "zone_diameter",
    f"{_CTES},\n{zonal.zone_diameter_oracle_sql(9)}",
    doc="Exact per-zone farthest-pair (squared res-9 cell units) WITHOUT "
    "an all-pairs join: diameter endpoints are scanline extremes "
    "(swapping an endpoint for its row's min/max-x cell never shortens "
    "the pair), so only <= 2·height extreme points per zone enter the "
    "zone-keyed pair join. The oracle is the naive all-pairs max over "
    "ALL distinct cells — independently proving the reduction lossless.",
)
def q_zone_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.zone_diameter(_tiles(spark, sf_dir), synth.zones_df(spark), res=9)


@register(
    "areal_interpolation",
    f"{_CTES},\n{zonal.areal_interpolation_oracle_sql(8)}",
    doc="Areal interpolation (dasymetric reweighting): zone populations "
    "(deterministic synthetic) pushed down to occupied res-8 cells "
    "proportional to observed tile density — exact integer micro "
    "shares, 10^6·pop·cnt DIV tot. The change-of-support operation: "
    "one PIP join, one (zone, cell) aggregate, broadcast zone totals "
    "back; per-zone truncation loss is bounded by its cell count and "
    "audited in tests.",
)
def q_areal_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.areal_interpolation(
        _tiles(spark, sf_dir), synth.zones_df(spark), res=8
    )


@register(
    "least_cost_path",
    _CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + ",\n"
    + cost_ops.least_cost_path_oracle_sql(),
    doc="Least-cost path reconstruction: each non-seed cell gets ONE "
    "backlink (min-id predecessor with dist(u)+w == dist(t); weights "
    ">= 1 make dist strictly decrease, so chains can't cycle), then "
    "the corridor from the farthest cell is a bounded pointer-chase. "
    "The backlink raster is a single dist-edges-dist equi-join (no "
    "iteration, valid for any corridor); the oracle follows the same "
    "pointers with a one-row-per-step recursive CTE.",
)
def q_least_cost_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cost_ops.least_cost_path(spark, _tiles(spark, sf_dir))


@register(
    "zone_shape",
    f"{_CTES},\n{zonal.zone_shape_oracle_sql(9)}",
    doc="Zone shape statistics: discrete area (occupied res-9 cells), "
    "perimeter (exposed 4-edges, P = 4n - 2*adj with adjacency from two "
    "one-sided shifted equi-joins — each rook pair counted once), and "
    "Polsby-Popper compactness 4*pi*A/P^2 in exact cross-multiplied "
    "integer milli (pi enters as the integer literal floor(pi*1e9); no "
    "float exists on either engine).",
)
def q_zone_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.zone_shape(_tiles(spark, sf_dir), synth.zones_df(spark), res=9)


@register(
    "gabriel_graph",
    f"{_CTES},{pp_ops.gabriel_oracle_sql(8)}",
    doc="Distance-banded Gabriel graph (Gabriel-Sokal 1969) over occupied "
    "res-8 cells: edge (u,v) iff no occupied cell lies strictly inside "
    "the circle with diameter uv (doubled-coordinate integer witness "
    "test, d2 <= 9 band). Pair candidates via the one-sided packed-key "
    "offset fan; witness candidates pruned in Python to the <=6 offsets "
    "per pair shape that can geometrically kill the edge, then one "
    "equi-join + anti-join — the naive all-pairs NOT-EXISTS oracle "
    "proves both prunings lossless.",
)
def q_gabriel_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pp_ops.gabriel_graph(_tiles(spark, sf_dir), res=8)


@register(
    "accessibility_2sfca",
    f"{_CTES},{zonal.accessibility_2sfca_oracle()}",
    doc="Two-step floating catchment accessibility (2SFCA, Luo-Wang "
    "2003): supply cells (res-7 count >= 4, capacity = count) compute "
    "integer supply/demand ratios over their Chebyshev-2 catchment; "
    "every occupied cell then sums the ratios of supply reaching it. "
    "The demand frame never fans — both steps fan the supply side by "
    "the fixed 25-offset grid and equi-join on packed cell keys; "
    "conservation (sum pop*A vs 10^6*sum S) is bounded in tests.",
)
def q_accessibility_2sfca(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.accessibility_2sfca(_tiles(spark, sf_dir))


@register(
    "slope_aspect",
    f"{_CTES},{zonal.slope_aspect_oracle()}",
    doc="Slope/aspect terrain pair over the res-7 count raster (discrete "
    "D8 max-descent form): per occupied cell the steepest-descent drop "
    "(empty neighbors = 0; pits flagged) and its direction 0-7, "
    "arg-min packed into ONE bigint (nbr*8 + dir) so tie-breaks are "
    "engine-identical; fixed 8-offset fan + LEFT equi-join, the full "
    "grid never generated.",
)
def q_slope_aspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.slope_aspect(_tiles(spark, sf_dir))


@register(
    "idw_loo_error",
    f"{_CTES},{knn.idw_loo_oracle_sql()}",
    doc="Leave-one-out IDW cross-validation (the geostatistics LOOCV "
    "screen): each tile of a deterministic 1/23 sample re-estimated "
    "from its in-radius neighbors EXCLUDING itself, exact integer "
    "weights; neighbor values ride the tile side through the candidate "
    "join so pair rows aggregate in-stream and never shuffle twice.",
)
def q_idw_loo_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn.idw_loo_error(_tiles(spark, sf_dir))


@register(
    "dissimilarity_index",
    f"{_CTES},\n{pp_ops.dissimilarity_oracle_sql()}",
    doc="Duncan dissimilarity segregation index between every tile-kind "
    "pair over the res-7 cell partition — exact integer via the "
    "common-denominator form (500*sum|a_i*B-b_i*A|) DIV (A*B); per-cell "
    "counts densified against the bounded cells-x-kinds dimension frame "
    "so absent-kind cells still contribute.",
)
def q_dissimilarity_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pp_ops.dissimilarity(_tiles(spark, sf_dir), res=7)


@register(
    "participation_ratios",
    f"{_CTES},\n{pp_ops.participation_oracle_sql()}",
    doc="Colocation participation ratios (Shekhar & Huang): per ORDERED "
    "tile-kind pair, the per-mille fraction of A tiles sharing a res-8 "
    "cell with at least one B tile — association mining's spatial "
    "analog; the pair fan runs on the bounded cells-x-kinds frame.",
)
def q_participation_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pp_ops.participation_ratios(_tiles(spark, sf_dir))


@register(
    "kmv_cardinality",
    f"{_CTES},\n{sketch_ops.kmv_oracle_sql()}",
    doc="KMV (bottom-k) distinct-cell cardinality per tile kind beside "
    "the exact count: h uniform in [1,2^30], est = (k-1)*2^30 DIV "
    "h_(k), k=64 — the fifth sketch, whose merge IS two-phase "
    "aggregation (bottom-k of bottom-k's): the Spark side sketches per "
    "partition then merges <= k hashes per group, and because min-k is "
    "partition-independent the DuckDB oracle rebuilds it with a flat "
    "global bottom-k. Raw regime (n < k) holds the whole hash set.",
)
def q_kmv_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketch_ops.kmv_cardinality(_tiles(spark, sf_dir))


@register(
    "range_fragmentation",
    layout_ops.range_fragmentation_oracle(),
    doc="Curve range-fragmentation audit (the Moon et al. clustering "
    "metric that picks the layout curve): per deterministic bbox query, "
    "how many CONTIGUOUS key ranges Z-order vs Hilbert needs — each "
    "extra range is an extra row-group seek at 100 TB. Bounded cell "
    "fan (sequence+explode, <= 64 cells/query), one lag window per "
    "curve; frag_ratio_pm < 1000 on average records Hilbert's win.",
)
def q_range_fragmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return layout_ops.range_fragmentation(spark)


@register(
    "isoband_boundaries",
    f"{_CTES},\n{zonal.isoband_oracle_sql()}",
    doc="Isoband boundary extraction (the contour-length table of the "
    "density raster): 4-adjacency edge counts between different density "
    "bands (1-4 / >=5 / >=10 / >=20 tiles) plus each band's open "
    "boundary against empty space (band_lo = -1). Aggregate-first, "
    "then a <=4x fan of the occupied-cell frame equi-joined to itself "
    "— multi-class raster_morphology.",
)
def q_isoband_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.isoband_boundaries(_tiles(spark, sf_dir))


@register(
    "region_similarity",
    f"{_CTES},\n{pp_ops.region_similarity_oracle()}",
    doc="Region composition similarity ('neighborhoods that look "
    "alike'): per res-4 block the tile-kind mix, between block pairs "
    "the exact-integer TV distance (500*sum|a_k*Tb - b_k*Ta| DIV "
    "(Ta*Tb)), top-20 most similar pairs. One tile groupBy; the pair "
    "fan runs on the ~90-block dimension frame densified against 7 "
    "kinds — regions are coarse by construction, so the dimension-side "
    "all-pairs stays bounded at any scale. The transpose of Duncan's D.",
)
def q_region_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pp_ops.region_similarity(_tiles(spark, sf_dir))


@register(
    "kmv_set_ops",
    f"{_CTES},\n{sketch_ops.kmv_set_ops_oracle()}",
    doc="KMV set-operation estimates (Beyer 2007): per tile-kind pair, "
    "|A-intersect-B| and Jaccard of the distinct res-9 cell sets from "
    "the two bottom-k sketches alone — the membership test against the "
    "k-arrays is provably exact (bottom-k(A-union-B) hashes <= "
    "tau_union sit inside each owner's own bottom-k). Sketches build "
    "via two-phase partial agg; the pair fan runs on the ~7-row kind "
    "dimension; exact columns from one cell-keyed in-stream self-join.",
)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketch_ops.kmv_set_ops(_tiles(spark, sf_dir))


@register(
    "pip_annulus",
    f"{_CTES},\n{pip_join.pip_annulus_oracle()}",
    doc="Polygon-with-hole PIP: each zone carries a centered middle-"
    "third hole (area 1/9, derived from the zone bounds by exact float "
    "arithmetic identical cross-engine); membership = inside the outer "
    "rectangle AND NOT inside the hole. Candidates still come from the "
    "broadcast OUTER cover (a provable superset — holes only remove "
    "matches); the hole test is one extra codegen'd predicate on the "
    "verified pair stream. Per zone: outer/hole/annulus counts + hole "
    "share.",
)
def q_pip_annulus(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tree_sitter_analyzer_spark.synth as _syn

    return pip_join.pip_annulus(
        _tiles(spark, sf_dir), _syn.zones_df(spark)
    )


# --- R210: zone-map pruning audit ---------------------------------------------

@register(
    "zonemap_prune",
    f"{_CTES},\n{layout_ops.zonemap_prune_oracle_sql()}".replace(
        "WITH ", "WITH ", 1
    ),
    doc="File-skipping audit: per-file (min,max) zone maps for an "
    "equal-frequency 64-file split of the tiles table under Z-order vs "
    "insertion-order layout, run against a fixed 6-query bbox workload "
    "(hotspot boxes, wide/tall bands, a quadrant, an empty box): files "
    "and rows each layout forces the scan to touch vs the true match "
    "count. The recorded gap is the I/O win OPTIMIZE ZORDER buys at "
    "10^12 rows; the production path is layout.write_zordered.",
)
def q_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    return layout_ops.zonemap_prune_audit(_tiles(spark, sf_dir))


# --- R211: space-filling-curve range decomposition ------------------------------

@register(
    "curve_range_plan",
    layout_ops.curve_range_plan_oracle(),
    doc="S2-style bbox covering: the 40x40-cell query box decomposed "
    "into minimal contiguous key ranges on BOTH curves — Hilbert (18-"
    "step state machine) and Z-order (bit interleave) — via gaps-and-"
    "islands merge over the keyed cell frame. Hilbert's unit-step "
    "continuity yields materially fewer ranges than Z-order's diagonal "
    "jumps; the emitted ranges become key-range predicates against the "
    "curve-sorted layout's parquet min/max stats. The frame is bbox-"
    "area-sized — never data-sized.",
)
def q_curve_range_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return layout_ops.curve_range_plan(spark)


# --- R217: G-test of independence (block x tile kind) ----------------------------
#
# The log-likelihood-ratio independence test (Sokal & Rohlf; the
# chi-square's better-behaved sibling, also = 2N x mutual information
# in nats): does tile KIND depend on WHERE the tile is (res-4 block)?
# G = 2 SUM_ij n_ij ln(n_ij N / (r_i c_j)); each cell's term is
# floored to micro-nats independently (bigint) then summed — no
# distributed float sum; ln/sqrt enter only per bounded-dimension cell
# (the rrf/cos_micro discipline). Effect size as Cramer's V from G.
# Scale: one scan to the (block, kind) contingency matrix with
# map-side partial agg; margins/terms live on the bounded block x kind
# dimension frame.


@register(
    "gtest_independence",
    f"""{_CTES},
gt_cell AS (
  SELECT {grid.ix_sql('lon', 4)} * 100000 + {grid.iy_sql('lat', 4)}
           AS block,
         tile_kind AS kind, CAST(count(*) AS BIGINT) AS n
  FROM tiles GROUP BY 1, 2),
gt_r AS (SELECT block, CAST(sum(n) AS BIGINT) AS rm FROM gt_cell
         GROUP BY 1),
gt_c AS (SELECT kind, CAST(sum(n) AS BIGINT) AS cm FROM gt_cell
         GROUP BY 1),
gt_n AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM gt_cell),
gt_t AS (
  SELECT CAST(sum(CAST(floor(2e6 * x.n *
           ln((CAST(x.n AS DOUBLE) * t.nn) / (CAST(r.rm AS DOUBLE) * c.cm)))
           AS BIGINT)) AS BIGINT) AS g_micro
  FROM gt_cell x JOIN gt_r r ON r.block = x.block
  JOIN gt_c c ON c.kind = x.kind CROSS JOIN gt_n t),
gt_d AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM gt_r) AS r_blocks,
         (SELECT CAST(count(*) AS BIGINT) FROM gt_c) AS c_kinds)
SELECT t.nn AS n, d.r_blocks, d.c_kinds,
       (d.r_blocks - 1) * (d.c_kinds - 1) AS df,
       g.g_micro,
       greatest(g.g_micro, 0) // (2 * t.nn) AS mi_micro,
       CAST(floor(1000e0 * sqrt(greatest(g.g_micro, 0)
            / (1e6 * t.nn * least(d.r_blocks - 1, d.c_kinds - 1))))
         AS BIGINT) AS cramers_v_milli
FROM gt_t g CROSS JOIN gt_n t CROSS JOIN gt_d d
""",
    doc="G-test of independence between res-4 block and tile kind "
    "(= 2N x mutual information in nats): per-cell micro-nat terms "
    "floored to bigints then summed (no distributed float sum), with "
    "degrees of freedom and Cramer's V effect size from G. One scan "
    "to the contingency matrix with map-side partial agg; everything "
    "after lives on the bounded block x kind dimension frame.",
)
def q_gtest_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    tiles = _tiles(spark, sf_dir)
    cell = (
        tiles.selectExpr(
            f"{grid.ix_sql('lon', 4)} * 100000 + {grid.iy_sql('lat', 4)}"
            " AS block",
            "tile_kind AS kind",
        )
        .groupBy("block", "kind")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n"))
        .localCheckpoint(eager=False)
    )
    rm = cell.groupBy("block").agg(
        F.expr("CAST(sum(n) AS BIGINT)").alias("rm")
    )
    cm = cell.groupBy("kind").agg(
        F.expr("CAST(sum(n) AS BIGINT)").alias("cm")
    )
    nn = cell.agg(F.expr("CAST(sum(n) AS BIGINT) AS nn"))
    dims = rm.agg(F.expr("CAST(count(*) AS BIGINT) AS r_blocks")).crossJoin(
        cm.agg(F.expr("CAST(count(*) AS BIGINT) AS c_kinds"))
    )
    g = (
        cell.join(rm, "block")
        .join(F.broadcast(cm), "kind")
        .crossJoin(F.broadcast(nn))
        .selectExpr(
            "CAST(floor(2e6 * n * ln((CAST(n AS DOUBLE) * nn)"
            " / (CAST(rm AS DOUBLE) * cm))) AS BIGINT) AS term_micro"
        )
        .agg(F.expr("CAST(sum(term_micro) AS BIGINT) AS g_micro"))
    )
    return (
        g.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(dims))
        .selectExpr(
            "nn AS n", "r_blocks", "c_kinds",
            "(r_blocks - 1) * (c_kinds - 1) AS df",
            "g_micro",
            "greatest(g_micro, 0) DIV (2 * nn) AS mi_micro",
            "CAST(floor(1000e0 * sqrt(greatest(g_micro, 0)"
            " / (1e6 * nn * least(r_blocks - 1, c_kinds - 1))))"
            " AS BIGINT) AS cramers_v_milli",
        )
    )


# --- R228: column-encoding (RLE/dictionary) layout audit ---------------------------

@register(
    "encoding_audit",
    f"{_CTES},\n{layout_ops.encoding_audit_oracle()}",
    doc="Column-encoding effectiveness per layout: exact run counts "
    "(RLE proxy) and per-file distinct counts (dictionary proxy) of "
    "the res-9 cell id and tile kind under Z-order vs insertion-order "
    "64-file splits. The cell column's runs collapse under the "
    "spatial sort (the storage win beside zonemap_prune's scan win); "
    "tile kind is the honest counter-example a spatial sort cannot "
    "compress. runs = 1 + SUM(value != lag) within file, all bigint.",
)
def q_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return layout_ops.encoding_audit(_tiles(spark, sf_dir))


# --- R232: Jenks natural-breaks classification of cell densities ------------------
#
# The cartographic classifier every GIS ships as its choropleth default
# (Jenks 1967 / Fisher optimal partition), done EXACTLY for k=3 on the
# bounded value dimension: per-res-8-cell tile counts collapse to a
# (count value, n_cells) histogram; candidate break pairs (t1 < t2) fan
# over that bounded dimension's self-join (values^2, never cells^2);
# minimizing within-class squared deviation == maximizing
# sum_c s_c^2/n_c, scored as the deterministic integer
# sum_c 1000*s_c^2 DIV n_c (the cluster_validity per-term-floor
# discipline — every engine computes identical bigints), argmax with
# (t1, t2) tie-break. Class stats come off cumulative sums, so the fan
# carries 8 integers per candidate, nothing rescans cells.


@register(
    "jenks_breaks",
    f"""{_CTES},
jk_cell AS (
  SELECT {grid.cell_sql('lon', 'lat', 8)} AS cell,
         CAST(count(*) AS BIGINT) AS n
  FROM tiles GROUP BY 1),
jk_vh AS (
  SELECT n AS v, CAST(count(*) AS BIGINT) AS w FROM jk_cell GROUP BY 1),
jk_cum AS (
  SELECT v,
         sum(w) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         sum(w * v) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
         sum(w) OVER () AS tn,
         sum(w * v) OVER () AS ts,
         max(v) OVER () AS vmax
  FROM jk_vh),
jk_cand AS (
  SELECT a.v AS t1, b.v AS t2,
         (1000 * a.cs * a.cs) // a.cn
       + (1000 * (b.cs - a.cs) * (b.cs - a.cs)) // (b.cn - a.cn)
       + (1000 * (a.ts - b.cs) * (a.ts - b.cs)) // (a.tn - b.cn)
           AS score_milli
  FROM jk_cum a JOIN jk_cum b ON b.v > a.v AND b.v < a.vmax),
jk_best AS (
  SELECT t1, t2, score_milli FROM jk_cand
  ORDER BY score_milli DESC, t1, t2 LIMIT 1)
SELECT CAST(CASE WHEN h.v <= b.t1 THEN 1 WHEN h.v <= b.t2 THEN 2
            ELSE 3 END AS BIGINT) AS class_id,
       CAST(min(h.v) AS BIGINT) AS lo,
       CAST(max(h.v) AS BIGINT) AS hi,
       CAST(sum(h.w) AS BIGINT) AS n_cells,
       CAST(sum(h.w * h.v) AS BIGINT) AS n_tiles,
       CAST((1000 * sum(h.w * h.v)) // sum(h.w) AS BIGINT) AS mean_milli,
       CAST(min(b.t1) AS BIGINT) AS break1,
       CAST(min(b.t2) AS BIGINT) AS break2,
       CAST(min(b.score_milli) AS BIGINT) AS score_milli
FROM jk_vh h CROSS JOIN jk_best b
GROUP BY 1
""",
    doc="Jenks/Fisher natural-breaks (k=3) classification of per-res-8-"
    "cell tile densities — the GIS choropleth default classifier, exact "
    "on the bounded count-value histogram: break-pair candidates fan "
    "over the value dimension's self-join (values^2, never cells^2), "
    "scored by the deterministic integer sum of per-class "
    "1000*s^2 DIV n terms (maximizing between-class separation), "
    "argmax tie-broken by (t1, t2). Emits the 3 classes with ranges, "
    "cell/tile counts, milli means and the chosen breaks.",
)
def q_jenks_breaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = pip_join.tile_cells(_tiles(spark, sf_dir), res=8)
    vh = (
        t.groupBy("cell")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS n"))
        .groupBy(F.col("n").alias("v"))
        .agg(F.expr("CAST(count(*) AS BIGINT) AS w"))
    )
    cum = vh.selectExpr(
        "v",
        "sum(w) OVER (ORDER BY v"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn",
        "sum(w * v) OVER (ORDER BY v"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs",
        "sum(w) OVER () AS tn",
        "sum(w * v) OVER () AS ts",
        "max(v) OVER () AS vmax",
    ).localCheckpoint(eager=False)
    a = cum.selectExpr(
        "v AS t1", "cn AS n1", "cs AS s1", "tn", "ts", "vmax"
    )
    b = cum.selectExpr("v AS t2", "cn AS n2", "cs AS s2")
    cand = (
        a.join(F.broadcast(b), F.expr("t2 > t1 AND t2 < vmax"))
        .selectExpr(
            "t1", "t2",
            "(1000 * s1 * s1) DIV n1"
            " + (1000 * (s2 - s1) * (s2 - s1)) DIV (n2 - n1)"
            " + (1000 * (ts - s2) * (ts - s2)) DIV (tn - n2)"
            " AS score_milli",
        )
    )
    best = cand.orderBy(
        F.desc("score_milli"), F.asc("t1"), F.asc("t2")
    ).limit(1)
    return (
        vh.crossJoin(F.broadcast(best))
        .groupBy(
            F.expr(
                "CAST(CASE WHEN v <= t1 THEN 1 WHEN v <= t2 THEN 2"
                " ELSE 3 END AS BIGINT)"
            ).alias("class_id")
        )
        .agg(
            F.expr("CAST(min(v) AS BIGINT) AS lo"),
            F.expr("CAST(max(v) AS BIGINT) AS hi"),
            F.expr("CAST(sum(w) AS BIGINT) AS n_cells"),
            F.expr("CAST(sum(w * v) AS BIGINT) AS n_tiles"),
            F.expr(
                "CAST((1000 * sum(w * v)) DIV sum(w) AS BIGINT)"
                " AS mean_milli"
            ),
            F.expr("CAST(min(t1) AS BIGINT) AS break1"),
            F.expr("CAST(min(t2) AS BIGINT) AS break2"),
            F.expr("CAST(min(score_milli) AS BIGINT) AS score_milli"),
        )
    )


# --- R233: standard deviational ellipse (directional distribution) -----------------
#
# ArcGIS's Directional Distribution tool (Lefever 1926 SDE), exact in
# integers: tile coordinates floor to milli-degree offsets from the
# region origin (identical doubles on both engines, so identical
# floors), each band's SSCP matrix comes from SUMS alone — the central
# second moments are n*Sxx - Sx^2 etc., exact bigints with NO division
# or mean subtraction anywhere. The major-axis orientation is emitted
# as the exact rational tan(2*theta) = theta2_num/theta2_den
# (= 2*Cxy / (Cxx - Cyy)) plus a division-free diagonal/axis class from
# the covariance sign. Bands = hot (within the 0.011-degree Chebyshev
# box of a synthetic hotspot) vs cold — the three hotspot centers lie
# on a NE-SW diagonal, so the hot band reads a strongly correlated
# NE-SW ellipse (r ~ 0.99) against the cold band's isotropic r ~ 0:
# anisotropy is measured, not assumed. One scan, map-side partial agg to 6 integers
# per band.

_SDE_XM = "CAST(floor((lon - 139.5e0) * 1000e0) AS BIGINT)"
_SDE_YM = "CAST(floor((lat - 35.4e0) * 1000e0) AS BIGINT)"
_SDE_BAND = (
    "(CASE WHEN "
    + " OR ".join(
        f"(abs(lon - {hx!r}e0) <= 0.011e0 AND abs(lat - {hy!r}e0)"
        f" <= 0.011e0)"
        for hx, hy in synth.HOTSPOTS
    )
    + " THEN 'hot' ELSE 'cold' END)"
)
_SDE_ORIENT = (
    "CASE WHEN cxy > 0 THEN 'NE-SW' WHEN cxy < 0 THEN 'NW-SE'"
    " WHEN cxx >= cyy THEN 'E-W' ELSE 'N-S' END"
)


@register(
    "std_ellipse",
    f"""{_CTES},
sde_pt AS (
  SELECT {_SDE_BAND} AS band, {_SDE_XM} AS x, {_SDE_YM} AS y FROM tiles),
sde_m AS (
  SELECT band, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM sde_pt GROUP BY 1),
sde_c AS (
  SELECT band, n,
         (1000 * sx) // n AS mean_dx_micro,
         (1000 * sy) // n AS mean_dy_micro,
         n * sxx - sx * sx AS cxx,
         n * syy - sy * sy AS cyy,
         n * sxy - sx * sy AS cxy
  FROM sde_m)
SELECT band, n, mean_dx_micro, mean_dy_micro, cxx, cyy, cxy,
       2 * cxy AS theta2_num, cxx - cyy AS theta2_den,
       {_SDE_ORIENT} AS orient
FROM sde_c
""",
    doc="Standard deviational ellipse (ArcGIS Directional Distribution) "
    "per hotspot band: milli-degree integer offsets, central SSCP "
    "moments from sums alone (n*Sxx - Sx^2 — no division, no mean "
    "subtraction), exact rational tan(2*theta) = 2*Cxy/(Cxx - Cyy) "
    "for the major-axis orientation plus a division-free NE-SW / "
    "NW-SE / E-W / N-S class from the covariance sign. The hot band's "
    "near-perfectly-correlated NE-SW ellipse (the hotspot centers lie "
    "on that diagonal) against the cold band's isotropic one is the "
    "recorded discrimination. One scan to 6 integers per band.",
)
def q_std_ellipse(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    m = (
        t.selectExpr(
            f"{_SDE_BAND} AS band", f"{_SDE_XM} AS x", f"{_SDE_YM} AS y"
        )
        .groupBy("band")
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n"),
            F.expr("CAST(sum(x) AS BIGINT) AS sx"),
            F.expr("CAST(sum(y) AS BIGINT) AS sy"),
            F.expr("CAST(sum(x * x) AS BIGINT) AS sxx"),
            F.expr("CAST(sum(y * y) AS BIGINT) AS syy"),
            F.expr("CAST(sum(x * y) AS BIGINT) AS sxy"),
        )
    )
    return m.selectExpr(
        "band", "n",
        "(1000 * sx) DIV n AS mean_dx_micro",
        "(1000 * sy) DIV n AS mean_dy_micro",
        "n * sxx - sx * sx AS cxx",
        "n * syy - sy * sy AS cyy",
        "n * sxy - sx * sy AS cxy",
    ).selectExpr(
        "band", "n", "mean_dx_micro", "mean_dy_micro", "cxx", "cyy",
        "cxy", "2 * cxy AS theta2_num", "cxx - cyy AS theta2_den",
        f"{_SDE_ORIENT} AS orient",
    )


# --- R242: Kendall tau-b between per-cell density and hot-tile mass -----------------
#
# The rank-correlation complement to the engine's Spearman step
# (spearman_acf) and RBO list drift: exact Kendall tau-b (Kendall 1938;
# tau-b tie correction per Agresti) between x = tiles-per-cell and
# y = hot-tiles-per-cell, keyed by tile kind. The pair counting runs on
# the distinct (x, y) VALUE-PAIR histogram — bounded by the fixed res-8
# grid, never cells^2 over raw rows: concordant/discordant masses are
# one theta self-join of that bounded histogram (a.x < b.x, split by
# the y comparison), tie masses come from the marginal histograms, and
# tau itself is emitted via the portable exact-integer sqrt of
# (n0-n1)(n0-n2) (double sqrt, then a one-step integer correction —
# exact for arguments < 2^53) as sign + floored abs milli. Mirrors the
# reference's ranked similarity scoring (code_similarity.py) as a
# distributed rank statistic.

_KT_ISQRT = (
    "CASE WHEN (s0 + 1) * (s0 + 1) <= den2 THEN s0 + 1 "
    "WHEN s0 * s0 > den2 THEN s0 - 1 ELSE s0 END"
)


@register(
    "kendall_cells",
    f"""{_CTES},
kt_cell AS (
  SELECT tile_kind, {grid.cell_sql('lon', 'lat', 8)} AS cell,
         CAST(count(*) AS BIGINT) AS x,
         CAST(sum(CAST(i % 5 = 0 AS BIGINT)) AS BIGINT) AS y
  FROM tiles GROUP BY 1, 2),
kt_h AS (
  SELECT tile_kind, x, y, CAST(count(*) AS BIGINT) AS w
  FROM kt_cell GROUP BY 1, 2, 3),
kt_pairs AS (
  SELECT a.tile_kind,
         CAST(sum(CASE WHEN a.y < b.y THEN a.w * b.w ELSE 0 END)
              AS BIGINT) AS nc,
         CAST(sum(CASE WHEN a.y > b.y THEN a.w * b.w ELSE 0 END)
              AS BIGINT) AS nd
  FROM kt_h a JOIN kt_h b
    ON b.tile_kind = a.tile_kind AND a.x < b.x
  GROUP BY 1),
kt_tx AS (
  SELECT tile_kind, CAST(sum(tw * (tw - 1) // 2) AS BIGINT) AS ties_x
  FROM (SELECT tile_kind, x, sum(w) AS tw FROM kt_h GROUP BY 1, 2)
  GROUP BY 1),
kt_ty AS (
  SELECT tile_kind, CAST(sum(tw * (tw - 1) // 2) AS BIGINT) AS ties_y
  FROM (SELECT tile_kind, y, sum(w) AS tw FROM kt_h GROUP BY 1, 2)
  GROUP BY 1),
kt_n AS (
  SELECT tile_kind, CAST(sum(w) AS BIGINT) AS n_cells FROM kt_h
  GROUP BY 1),
kt_all AS (
  SELECT n.tile_kind, n.n_cells,
         coalesce(p.nc, 0) AS nc, coalesce(p.nd, 0) AS nd,
         tx.ties_x, ty.ties_y,
         (n.n_cells * (n.n_cells - 1) // 2 - tx.ties_x)
       * (n.n_cells * (n.n_cells - 1) // 2 - ty.ties_y) AS den2
  FROM kt_n n
  LEFT JOIN kt_pairs p ON p.tile_kind = n.tile_kind
  JOIN kt_tx tx ON tx.tile_kind = n.tile_kind
  JOIN kt_ty ty ON ty.tile_kind = n.tile_kind),
kt_s AS (
  SELECT *, CAST(floor(sqrt(CAST(den2 AS DOUBLE))) AS BIGINT) AS s0
  FROM kt_all)
SELECT tile_kind, n_cells, nc, nd, ties_x, ties_y,
       CAST(CASE WHEN nc >= nd THEN 1 ELSE -1 END AS BIGINT) AS tau_sign,
       CAST((1000 * abs(nc - nd)) // ({_KT_ISQRT}) AS BIGINT)
         AS tau_abs_milli
FROM kt_s
""",
    doc="Exact Kendall tau-b (tie-corrected) between tiles-per-cell and "
    "hot-tiles-per-cell, per tile kind: concordant/discordant masses "
    "via one theta self-join of the bounded distinct-(x,y) pair "
    "histogram (never cells^2 over raw rows), marginal tie masses, "
    "and tau as sign + floored abs milli over the exact integer sqrt "
    "of (n0-n1)(n0-n2) (double sqrt + one-step correction, exact "
    "below 2^53).",
)
def q_kendall_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = pip_join.tile_cells(_tiles(spark, sf_dir), res=8)
    h = (
        t.groupBy("tile_kind", "cell")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("x"),
            F.expr("CAST(sum(CAST(i % 5 = 0 AS BIGINT)) AS BIGINT)")
            .alias("y"),
        )
        .groupBy("tile_kind", "x", "y")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("w"))
        .localCheckpoint(eager=False)
    )
    a = h.selectExpr("tile_kind AS ka", "x AS xa", "y AS ya", "w AS wa")
    b = h.selectExpr("tile_kind AS kb", "x AS xb", "y AS yb", "w AS wb")
    pairs = (
        a.join(F.broadcast(b), F.expr("kb = ka AND xa < xb"))
        .groupBy(F.col("ka").alias("tile_kind"))
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN ya < yb THEN wa * wb ELSE 0 END)"
                " AS BIGINT)"
            ).alias("nc"),
            F.expr(
                "CAST(sum(CASE WHEN ya > yb THEN wa * wb ELSE 0 END)"
                " AS BIGINT)"
            ).alias("nd"),
        )
    )
    tx = (
        h.groupBy("tile_kind", "x")
        .agg(F.expr("sum(w) AS tw"))
        .groupBy("tile_kind")
        .agg(F.expr("CAST(sum(tw * (tw - 1) DIV 2) AS BIGINT)")
             .alias("ties_x"))
    )
    ty = (
        h.groupBy("tile_kind", "y")
        .agg(F.expr("sum(w) AS tw"))
        .groupBy("tile_kind")
        .agg(F.expr("CAST(sum(tw * (tw - 1) DIV 2) AS BIGINT)")
             .alias("ties_y"))
    )
    n = h.groupBy("tile_kind").agg(
        F.expr("CAST(sum(w) AS BIGINT)").alias("n_cells")
    )
    allk = (
        n.join(pairs, "tile_kind", "left")
        .join(F.broadcast(tx), "tile_kind")
        .join(F.broadcast(ty), "tile_kind")
        .selectExpr(
            "tile_kind", "n_cells",
            "coalesce(nc, CAST(0 AS BIGINT)) AS nc",
            "coalesce(nd, CAST(0 AS BIGINT)) AS nd",
            "ties_x", "ties_y",
            "(n_cells * (n_cells - 1) DIV 2 - ties_x)"
            " * (n_cells * (n_cells - 1) DIV 2 - ties_y) AS den2",
        )
        .selectExpr(
            "*",
            "CAST(floor(sqrt(CAST(den2 AS DOUBLE))) AS BIGINT) AS s0",
        )
    )
    return allk.selectExpr(
        "tile_kind", "n_cells", "nc", "nd", "ties_x", "ties_y",
        "CAST(CASE WHEN nc >= nd THEN 1 ELSE -1 END AS BIGINT) AS tau_sign",
        f"CAST((1000 * abs(nc - nd)) DIV ({_KT_ISQRT}) AS BIGINT)"
        " AS tau_abs_milli",
    )


# --- R263-R265: density peaks, directional variogram, kind diversity -----------------


@register(
    "density_peaks",
    f"{_CTES},\n{zonal.density_peaks_oracle_sql(8)}",
    doc="Strict local maxima of the res-8 density raster: occupied "
    "cells whose tile count beats every 8-neighbor count (absent "
    "neighbors = 0; strictness makes peaks tie-free). Emits cell, "
    "count, neighbor max, prominence. Aggregate-first 8-offset fan — "
    "the mode-extraction step beside kde_heatmap's smoothing and "
    "getis_ord's inference.",
)
def q_density_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.density_peaks(_tiles(spark, sf_dir), res=8)


@register(
    "directional_variogram",
    f"{_CTES},\n{zonal.directional_variogram_oracle_sql(8)}",
    doc="Anisotropic semivariogram: gamma(dir, h) over E/NE/N/NW "
    "directions at lags 1-3 cells on per-cell tile counts — "
    "direction-dependent spatial structure (the hot band's NE-SW "
    "axis shows as a lower NE gamma), exact integers, occupied-pair "
    "equi-joins on shifted (ix, iy), never tiles².",
)
def q_directional_variogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.directional_variogram(_tiles(spark, sf_dir), res=8)


@register(
    "kind_diversity",
    f"{_CTES},\n{zonal.kind_diversity_oracle_sql(7)}",
    doc="Per-cell composition diversity (res 7): tile-kind richness, "
    "exact Simpson concentration milli (sum n_i(n_i-1)/(N(N-1))), and "
    "Hill q=2 effective kinds (1000*N^2 DIV sum n_i^2) — the "
    "within-cell MIX measure beside density_gini's across-cell "
    "inequality. Two keyed aggs, map-side partials.",
)
def q_kind_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.kind_diversity(_tiles(spark, sf_dir), res=7)


# --- R272: MAUP resolution-loss ladder ------------------------------------------------
#
# The Modifiable Areal Unit Problem, quantified: representing the
# res-9 density raster by its res-{8,7,6} parents loses within-parent
# variance — exactly SSE(r) = sum over res-9 cells of (n - parent
# floored mean)^2. Emits the ladder (parent res, parents, cells,
# sse, retained_milli = 1000*(1 - sse/sse_null) vs the global-mean
# null). Tells you which rollup resolution still carries the signal —
# the aggregation-design question every tiling pipeline faces.
# Shapes: one res-9 agg, then three parent aggs on the bounded cell
# dimension (the pyramid_rollup discipline).


@register(
    "resolution_loss",
    f"""{_CTES},
rl_c9 AS (
  SELECT {grid.ix_sql('lon', 9)} AS ix, {grid.iy_sql('lat', 9)} AS iy,
         CAST(count(*) AS BIGINT) AS n
  FROM tiles GROUP BY 1, 2),
rl_mu AS (
  SELECT CAST(sum(n) AS BIGINT) // count(*) AS mu,
         CAST(count(*) AS BIGINT) AS n_cells
  FROM rl_c9),
rl_null AS (
  SELECT CAST(sum((c.n - m.mu) * (c.n - m.mu)) AS BIGINT) AS sse0
  FROM rl_c9 c CROSS JOIN rl_mu m),
rl_lad AS (
  SELECT r.res, c.ix // (1 << (9 - r.res)) AS px,
         c.iy // (1 << (9 - r.res)) AS py, c.n
  FROM rl_c9 c CROSS JOIN (SELECT unnest([8, 7, 6]) AS res) r),
rl_pm AS (
  SELECT res, px, py, CAST(sum(n) AS BIGINT) // count(*) AS pmu,
         CAST(count(*) AS BIGINT) AS kids
  FROM rl_lad GROUP BY 1, 2, 3),
rl_sse AS (
  SELECT l.res, CAST(count(DISTINCT (l.px, l.py)) AS BIGINT)
           AS n_parents,
         CAST(sum((l.n - p.pmu) * (l.n - p.pmu)) AS BIGINT) AS sse
  FROM rl_lad l JOIN rl_pm p
    ON p.res = l.res AND p.px = l.px AND p.py = l.py
  GROUP BY 1)
SELECT CAST(s.res AS BIGINT) AS res, s.n_parents, m.n_cells, s.sse,
       CAST(1000 - (1000 * s.sse) // z.sse0 AS BIGINT)
         AS retained_milli
FROM rl_sse s CROSS JOIN rl_mu m CROSS JOIN rl_null z
""",
    doc="MAUP quantified: SSE of representing res-9 per-cell counts by "
    "their res-8/7/6 parent floored means, as a ladder with the "
    "variance share retained vs the global-mean null (milli). One "
    "res-9 agg + bounded parent aggs — which rollup resolution still "
    "carries the density signal.",
)
def q_resolution_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from . import grid

    tiles = _tiles(spark, sf_dir)
    c9 = (
        tiles.selectExpr(
            f"{grid.ix_sql('lon', 9)} AS ix",
            f"{grid.iy_sql('lat', 9)} AS iy",
        )
        .groupBy("ix", "iy")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n"))
        .localCheckpoint(eager=False)
    )
    mu = c9.agg(
        F.expr("CAST(sum(n) AS BIGINT) DIV count(*)").alias("mu"),
        F.expr("CAST(count(*) AS BIGINT)").alias("n_cells"),
    )
    null = c9.crossJoin(F.broadcast(mu)).agg(
        F.expr("CAST(sum((n - mu) * (n - mu)) AS BIGINT)").alias("sse0")
    )
    lad = c9.selectExpr(
        "ix", "iy", "n", "explode(array(8, 7, 6)) AS res"
    ).selectExpr(
        "res", "ix DIV (1 << (9 - res)) AS px",
        "iy DIV (1 << (9 - res)) AS py", "n",
    )
    pm = lad.groupBy("res", "px", "py").agg(
        F.expr("CAST(sum(n) AS BIGINT) DIV count(*)").alias("pmu"),
    )
    sse = (
        lad.join(pm, ["res", "px", "py"])
        .groupBy("res")
        .agg(
            F.expr(
                "CAST(count(DISTINCT px, py) AS BIGINT)"
            ).alias("n_parents"),
            F.expr(
                "CAST(sum((n - pmu) * (n - pmu)) AS BIGINT)"
            ).alias("sse"),
        )
    )
    return (
        sse.crossJoin(F.broadcast(mu.selectExpr("n_cells")))
        .crossJoin(F.broadcast(null))
        .selectExpr(
            "CAST(res AS BIGINT) AS res", "n_parents", "n_cells", "sse",
            "CAST(1000 - (1000 * sse) DIV sse0 AS BIGINT)"
            " AS retained_milli",
        )
    )


# --- round 3 (cont. 9): geographically weighted regression --------------------


@register(
    "gwr_local",
    f"{_CTES},\n{pp_ops.gwr_oracle_sql()}",
    doc="Geographically weighted regression (Fotheringham GWR): per res-7 "
    "focal cell, a kernel-weighted local OLS of the density surface "
    "(per-mille of max count, bounded <=1000 at any SF) on squared grid "
    "distance to the nearest hotspot; triangular-squared kernel on the "
    "Chebyshev ring, exact integer slope = sign + milli. The spatially-"
    "varying-coefficient sibling of ols_trend: slopes differ near "
    "hotspots vs the flat background. Cells collapse first; the 81-"
    "offset fan + packed-key equi-join aggregates in-stream.",
)
def q_gwr_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pp_ops.gwr_local(_tiles(spark, sf_dir))


# --- round 3 (cont. 9): Strahler order + lacunarity ladder ---------------------


@register(
    "strahler_order",
    f"{_CTES},\n" + hydro_ops.strahler_oracle(),
    doc="Strahler stream order over the D8 ascent drainage forest: "
    "leaves = 1, a junction where >= 2 children attain the max child "
    "order increments it (Strahler 1957); 8 synchronized monotone "
    "rounds on the cell quotient (fixed unroll, convergence pinned), "
    "per-order cell/tile histogram + Horton bifurcation ratio x1000. "
    "Oracle = chained MATERIALIZED per-round CTEs, 1:1 with the loop.",
)
def q_strahler_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hydro_ops.strahler_orders(_tiles(spark, sf_dir))


_LAC_SUB_RES = 11
_LAC_LEVELS = (5, 6, 7, 8, 9, 10)


def _lac_oracle() -> str:
    arms = "\n  UNION ALL\n".join(
        f"""  SELECT {r} AS res, bx, by, count(*) AS s FROM (
    SELECT sx // {1 << (_LAC_SUB_RES - r)} AS bx,
           sy // {1 << (_LAC_SUB_RES - r)} AS by
    FROM lac_sub) GROUP BY 1, 2, 3"""
        for r in _LAC_LEVELS
    )
    return f"""{_CTES},
lac_sub AS (
  SELECT DISTINCT {grid.ix_sql('lon', _LAC_SUB_RES)} AS sx,
         {grid.iy_sql('lat', _LAC_SUB_RES)} AS sy
  FROM tiles),
lac_box AS (
{arms}),
lac_a AS (
  SELECT res,
         CAST((max(bx) - min(bx) + 1) * (max(by) - min(by) + 1)
           AS BIGINT) AS n_boxes_bbox,
         CAST(count(*) AS BIGINT) AS n_occ,
         CAST(sum(s) AS BIGINT) AS s1,
         CAST(sum(s * s) AS BIGINT) AS s2
  FROM lac_box GROUP BY 1)
SELECT CAST(res AS BIGINT) AS res, n_boxes_bbox, n_occ, s1, s2,
       CAST((1000 * n_boxes_bbox * s2) // (s1 * s1) AS BIGINT)
         AS lac_milli
FROM lac_a"""


@register(
    "lacunarity",
    _lac_oracle(),
    doc="Fixed-grid lacunarity ladder (Allain & Cloitre) of the occupied "
    "res-11 subcell set: per box resolution 5-10, Lambda = N*E[s^2]/"
    "E[s]^2 over ALL bbox boxes (empties included via the N factor) "
    "where s = occupied subcells per box — gappiness/texture, the "
    "second-moment complement of box_counting's dimension. Every "
    "magnitude is GEOMETRY-bounded (s <= 4^(11-r), subcell count "
    "domain-capped), so the integers hold at any SF; exact "
    "(1000*N*S2) DIV S1^2, one distinct-subcell pass + a 6-level fan.",
)
def q_lacunarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tiles(spark, sf_dir)
    sub = (
        t.select(
            F.expr(grid.ix_sql("lon", _LAC_SUB_RES)).alias("sx"),
            F.expr(grid.iy_sql("lat", _LAC_SUB_RES)).alias("sy"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    lv = ", ".join(str(r) for r in _LAC_LEVELS)
    box = (
        sub.selectExpr(f"explode(array({lv})) AS res", "sx", "sy")
        .selectExpr(
            "res",
            f"sx DIV (1 << ({_LAC_SUB_RES} - res)) AS bx",
            f"sy DIV (1 << ({_LAC_SUB_RES} - res)) AS by",
        )
        .groupBy("res", "bx", "by")
        .agg(F.count("*").alias("s"))
    )
    a = box.groupBy("res").agg(
        F.expr(
            "CAST((max(bx) - min(bx) + 1) * (max(by) - min(by) + 1)"
            " AS BIGINT)"
        ).alias("n_boxes_bbox"),
        F.expr("CAST(count(*) AS BIGINT)").alias("n_occ"),
        F.expr("CAST(sum(s) AS BIGINT)").alias("s1"),
        F.expr("CAST(sum(s * s) AS BIGINT)").alias("s2"),
    )
    return a.selectExpr(
        "CAST(res AS BIGINT) AS res", "n_boxes_bbox", "n_occ", "s1",
        "s2",
        "CAST((1000 * n_boxes_bbox * s2) DIV (s1 * s1) AS BIGINT)"
        " AS lac_milli",
    )


@register(
    "kriging_loo",
    f"{_CTES},\n" + pp_ops.kriging_oracle_sql(),
    doc="Ordinary-kriging LOOCV (2-neighbor, linear variogram gamma=h "
    "Chebyshev): exact rational OK weights w = (g12 -+ (d1 - d2)) / "
    "(2*g12) — the triangle inequality keeps both non-negative, so "
    "every compared integer is non-negative; per-cell prediction vs "
    "the held-out density (per-mille of max), with 1-NN and "
    "global-mean baselines in the same row. Candidates from the "
    "48-offset Chebyshev<=3 fan + packed-key equi-join (never "
    "all-pairs); per-focal top-2 windows the bounded cell frame. "
    "The geostatistics capstone beside idw_loo_error / semivariogram.",
)
def q_kriging_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pp_ops.kriging_loo(_tiles(spark, sf_dir))


@register(
    "adjusted_rand",
    _CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + ",\n"
    + hydro_ops.ari_oracle(),
    doc="Adjusted Rand index (Hubert & Arabie 1985) between the "
    "watershed basin partition and the naive res-5 block partition of "
    "the same occupied res-7 cells — how much drainage structure a "
    "fixed coarse grid already captures (the zonation/MAUP audit "
    "beside resolution_loss). Exact pair-counting on the bounded cell "
    "quotient, cross-multiplied through C(n,2) and doubled so every "
    "compared value is an integer; sign/abs DIV discipline.",
)
def q_adjusted_rand(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hydro_ops.basin_block_ari(_tiles(spark, sf_dir))


@register(
    "hillshade",
    f"{_CTES},{zonal.hillshade_oracle()}",
    doc="Horn hillshade over the per-mille-normalized res-7 density DEM: "
    "integer cosine (milli) between the 3x3 weighted-gradient surface "
    "normal and the literal light vector (azimuth 315, altitude 45), "
    "zero runtime trig (light components and |L| are integer literals; "
    "normal norm via the R242 isqrt discipline); numerator clamped "
    "before DIV (negative-DIV divergence), flat cells read exactly 707. "
    "Aggregate-first + 8-offset weighted LEFT equi-join fan.",
)
def q_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.hillshade(_tiles(spark, sf_dir))


@register(
    "hough_lines",
    f"{_CTES},{zonal.hough_oracle()}",
    doc="Hough line transform (Duda-Hart 1972) over the thresholded "
    "per-mille density raster: every foreground cell votes for 12 "
    "(theta, rho) lines with milli cos/sin integer literals (zero "
    "runtime trig), rho offset positive before the width-3 bin DIV; "
    "bounded accumulator -> map-side agg + rank window on the "
    "accumulator only; top-10 peaks with deterministic tie-breaks.",
)
def q_hough_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.hough_lines(_tiles(spark, sf_dir))


@register(
    "integral_image",
    f"{_CTES},{zonal.integral_oracle()}",
    doc="Summed-area table (Crow 1984, the Viola-Jones basis) over the "
    "densified bounded res-7 count raster (two chained cumulative "
    "windows), answering 20 md5-seeded rectangles BOTH ways in the "
    "same row: O(1) 4-corner lookup vs direct range-join sum, with an "
    "exact_match audit column (out-of-extent corners coalesce to 0).",
)
def q_integral_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.integral_image(_tiles(spark, sf_dir))


@register(
    "hist_equalization",
    f"{_CTES},{zonal.hist_eq_oracle()}",
    doc="Histogram equalization (Gonzalez-Woods 3.3) of the per-mille "
    "density raster quantized to 64 gray levels: per-level cdf window "
    "on the bounded value dimension, remap eq255 = ((cdf-cdfmin)*255) "
    "DIV (N-cdfmin) — integer-exact, monotone, top level pinned 255.",
)
def q_hist_equalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.hist_equalization(_tiles(spark, sf_dir))


@register(
    "rle_profile",
    f"{_CTES},{zonal.rle_oracle()}",
    doc="Run-length encoding LADDER of the thresholded density raster "
    "(bilevel-codec primitive, ITU G3 / Golomb 1966) at 4 per-mille "
    "cuts (5,10,25,250) for multi-scale texture: horizontal "
    "foreground runs via gaps-and-islands per raster row (island = cx "
    "- row_number), then the run-length histogram; windows bounded by "
    "raster width, histogram map-side partial.",
)
def q_rle_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.rle_runs(_tiles(spark, sf_dir))


@register(
    "kcenter_seeds",
    f"{_CTES},{zonal.kcenter_oracle()}",
    doc="Gonzalez k-center seeding (farthest-point traversal, the "
    "2-approximation to the k-center objective) over the occupied "
    "res-7 cell raster: round 1 takes the densest cell, each later "
    "round the cell farthest from the chosen set (exact integer "
    "squared cell distance, ties -> smallest cx, cy); assignment "
    "packs (min-dist, seed round) into one bigint so per-seed "
    "rollups and the coverage-radius certificate are exact. Seeds "
    "are 1-row scalar probes (bounded cell dimension).",
)
def q_kcenter_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.kcenter_seeds(_tiles(spark, sf_dir))


@register(
    "moran_correlogram",
    f"{_CTES},{zonal.moran_correlogram_oracle()}",
    doc="Moran's I correlogram: global spatial autocorrelation of the "
    "per-mille density raster at Chebyshev rings 1-3 (8r-offset "
    "generated equi-join fans, never a distance cross join), floored-"
    "mean deviations, I cross-multiplied sign-safely — shows how "
    "spatial dependence decays with distance; the global ladder "
    "beside local_moran / getis_ord (per-cell, ring 1) and the "
    "directional_variogram (continuous).",
)
def q_moran_correlogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.moran_correlogram(_tiles(spark, sf_dir))


@register(
    "js_shrinkage",
    f"{_CTES},{zonal.js_shrinkage_oracle()}",
    doc="James-Stein shrinkage of res-7 cell densities toward the "
    "grand mean (the Efron-Morris estimator; Poisson variance proxy "
    "vbar = mean): integer shrink factor, shrunken extremes, and the "
    "exact mass drift introduced by flooring as an honest audit — "
    "hierarchical/shrinkage estimation for noisy per-cell rates, the "
    "statistical counterpart of kde_heatmap's kernel smoothing.",
)
def q_js_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.js_shrinkage(_tiles(spark, sf_dir))


# --- R359-R361: geodesy / projection family -----------------------------------------------
#
# The grid (grid.py) is degree-planar — the equirectangular projection
# every integer tiling scheme lives in. At latitude ~35.6 a degree of
# longitude is ~19% SHORTER on the ground than a degree of latitude, so
# planar-degree analytics silently distort areas, densities, and
# nearest-neighbor decisions. These three operators make the distortion
# first-class: all trig is PYTHON-computed integer literals baked into
# the query text (the hillshade/Hough discipline — no SQL cos/sin, both
# engines parse identical digits), everything else is bigint arithmetic.

import math as _math

_GD_LAT0, _GD_BW, _GD_NB = 35.4, 0.05, 10
_GD_COS = [
    int(_math.floor(_math.cos(_math.radians(_GD_LAT0 + _GD_BW * (b + 0.5))) * 1e6))
    for b in range(_GD_NB)
]
# meters per degree of longitude at each band center (WGS84 equatorial
# circumference / 360 = 111319.49 m scaled by cos(lat)); latitude uses
# the mid-latitude constant.
_GD_MLON = [int(_math.floor(111319.49 * c / 1e6)) for c in _GD_COS]
_GD_MLAT = 111132
# band ground area in m^2: 0.6 deg of lon x 0.05 deg of lat.
_GD_AREA_M2 = [(3 * m * _GD_MLAT) // 100 for m in _GD_MLON]

_GD_BAND = (
    "LEAST(9, GREATEST(0, CAST(floor((lat - 35.4e0) * 20.0e0) AS BIGINT)))"
)


def _gd_case(vals: list[int], col: str = "band") -> str:
    whens = " ".join(f"WHEN {b} THEN {v}" for b, v in enumerate(vals))
    return f"(CASE {col} {whens} ELSE {vals[-1]} END)"


def _projection_sql(div: str) -> str:
    return f"""
gd_n AS (
  SELECT band, CAST(count(*) AS BIGINT) AS n_tiles
  FROM (SELECT {_GD_BAND} AS band FROM tiles) b GROUP BY 1),
gd_t AS (SELECT CAST(sum(n_tiles) AS BIGINT) AS n_total FROM gd_n),
gd_d AS (
  SELECT n.band, n.n_tiles,
         CAST((1000 * n.n_tiles){div}t.n_total AS BIGINT) AS share_milli,
         CAST({_gd_case(_GD_MLON)} AS BIGINT) AS m_per_deg_lon,
         CAST({_gd_case(_GD_AREA_M2)} AS BIGINT) AS band_area_m2,
         CAST((1000000 * n.n_tiles)
              {div}({_gd_case(_GD_AREA_M2)}{div}1000) AS BIGINT)
           AS dens_scaled,
         CAST((1000000 * ({_GD_MLON[0]} - {_gd_case(_GD_MLON)}))
              {div}{_GD_MLON[0]} AS BIGINT) AS shrink_ppm
  FROM gd_n n CROSS JOIN gd_t t)
SELECT band, n_tiles, share_milli, m_per_deg_lon, band_area_m2,
       dens_scaled, shrink_ppm,
       CAST(row_number() OVER (ORDER BY n_tiles DESC, band) AS BIGINT)
         AS rank_planar,
       CAST(row_number() OVER (ORDER BY dens_scaled DESC, band)
            AS BIGINT) AS rank_metric,
       CAST(CASE WHEN row_number() OVER (ORDER BY n_tiles DESC, band)
                   <> row_number() OVER (ORDER BY dens_scaled DESC, band)
            THEN 1 ELSE 0 END AS BIGINT) AS rank_flip
FROM gd_d
"""


@register(
    "projection_distortion",
    f"{_CTES},\n{_projection_sql(' // ')}",
    doc="Equirectangular-projection distortion ladder: tiles bucketed "
    "into 0.05-degree latitude bands, ground meters-per-degree and "
    "true band areas as python-computed integer literals (no SQL "
    "trig), per-band tile share vs TRUE ground density, longitude "
    "shrink in ppm vs the southmost band, and the planar-vs-metric "
    "density rank audit on the bounded band frame — the projection "
    "bias check every degree-planar tiling analytics stack owes its "
    "users.",
)
def q_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(
        spark, f"WITH {_projection_sql(' DIV ')}",
        tiles=_tiles(spark, sf_dir),
    )


def _metric_cells_sql(div: str) -> str:
    parts = []
    for res in (7, 9, 11):
        parts.append(
            f"SELECT {res} AS res, {_GD_BAND} AS band,"
            f" {grid.cell_sql('lon', 'lat', res)} AS cell FROM tiles"
        )
    union = "\n  UNION ALL\n  ".join(parts)
    p2 = "(CASE res WHEN 7 THEN 128 WHEN 9 THEN 512 ELSE 2048 END)"
    return f"""
gm_u AS (
  {union}),
gm_g AS (
  SELECT res, band, CAST(count(*) AS BIGINT) AS n_tiles,
         CAST(count(DISTINCT cell) AS BIGINT) AS n_cells
  FROM gm_u GROUP BY 1, 2),
gm_m AS (
  SELECT res, band, n_tiles, n_cells,
         CAST(({_gd_case(_GD_MLON)} * 1000){div}{p2} AS BIGINT)
           AS width_mm,
         CAST({_GD_MLAT * 1000}{div}{p2} AS BIGINT) AS height_mm
  FROM gm_g)
SELECT res, band, n_tiles, n_cells,
       width_mm, height_mm,
       CAST((1000 * width_mm){div}height_mm AS BIGINT) AS aspect_milli,
       CAST((width_mm * height_mm){div}1000 AS BIGINT) AS area_m2_milli,
       CAST((1000 * n_tiles){div}n_cells AS BIGINT)
         AS tiles_per_cell_milli
FROM gm_m
"""


@register(
    "metric_cell_geometry",
    f"{_CTES},\n{_metric_cells_sql(' // ')}",
    doc="Ground-truth geometry of the tiling scheme: for res 7/9/11 "
    "and each latitude band, the physical cell width/height in mm "
    "(integer-literal meters-per-degree over the power-of-two edge), "
    "aspect ratio in milli (cells are ~19% narrower than tall here — "
    "the anisotropy a Chebyshev kNN ring inherits), true cell area, "
    "and observed occupancy (tiles per occupied cell) — the H3-style "
    "resolution table computed for THIS domain instead of quoted from "
    "a constant sheet.",
)
def q_metric_cell_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(
        spark, f"WITH {_metric_cells_sql(' DIV ')}",
        tiles=_tiles(spark, sf_dir),
    )


_GF_RES = 8


def _geodesic_flip_sql(div: str) -> str:
    ml = _gd_case(_GD_MLON, col="c.band")
    return f"""
gf_c AS (
  SELECT {grid.ix_sql('lon', _GF_RES)} AS ix,
         {grid.iy_sql('lat', _GF_RES)} AS iy,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(lon * 1000000e0) AS BIGINT)) AS BIGINT)
           AS slon,
         CAST(sum(CAST(floor(lat * 1000000e0) AS BIGINT)) AS BIGINT)
           AS slat
  FROM tiles GROUP BY 1, 2),
gf_p AS (
  SELECT ix, iy, slon{div}n AS clon, slat{div}n AS clat,
         LEAST(9, GREATEST(0,
           ((slat{div}n) - 35400000){div}50000)) AS band
  FROM gf_c),
gf_t AS (
  SELECT c.band,
         e.clon - c.clon AS dle, e.clat - c.clat AS dae,
         n2.clon - c.clon AS dln, n2.clat - c.clat AS dan,
         {ml} AS ml
  FROM gf_p c
  JOIN gf_p e ON e.ix = c.ix + 1 AND e.iy = c.iy
  JOIN gf_p n2 ON n2.ix = c.ix AND n2.iy = c.iy + 1),
gf_v AS (
  SELECT band,
         CASE WHEN dle * dle + dae * dae < dln * dln + dan * dan
              THEN 1 ELSE 0 END AS p_east,
         CASE WHEN ((dle * ml){div}1000) * ((dle * ml){div}1000)
                   + ((dae * {_GD_MLAT}){div}1000)
                     * ((dae * {_GD_MLAT}){div}1000)
                 < ((dln * ml){div}1000) * ((dln * ml){div}1000)
                   + ((dan * {_GD_MLAT}){div}1000)
                     * ((dan * {_GD_MLAT}){div}1000)
              THEN 1 ELSE 0 END AS m_east
  FROM gf_t)
SELECT band, CAST(count(*) AS BIGINT) AS n_triples,
       CAST(sum(CASE WHEN p_east <> m_east THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flips,
       CAST((1000 * sum(CASE WHEN p_east <> m_east THEN 1 ELSE 0 END))
            {div}count(*) AS BIGINT) AS flip_milli,
       CAST(sum(p_east) AS BIGINT) AS planar_east_wins,
       CAST(sum(m_east) AS BIGINT) AS metric_east_wins
FROM gf_v GROUP BY band
"""


@register(
    "geodesic_nn_flip",
    f"{_CTES},\n{_geodesic_flip_sql(' // ')}",
    doc="Planar-vs-metric nearest-neighbor flip audit: res-8 occupied "
    "cells carry integer micro-degree centroids; for every cell with "
    "both an east and a north occupied neighbor, the nearer of the "
    "two is decided twice — in planar degrees and in ground mm "
    "(longitude scaled by the band's literal meters-per-degree). "
    "Because a degree of longitude is ~19% shorter on the ground, "
    "the decisions disagree in a measurable band of anisotropy — the "
    "per-band flip rate quantifies exactly how wrong a degree-planar "
    "kNN is HERE, the empirical justification for metric-aware "
    "ring expansion.",
)
def q_geodesic_nn_flip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(
        spark, f"WITH {_geodesic_flip_sql(' DIV ')}",
        tiles=_tiles(spark, sf_dir),
    )


# --- R368: PIP-join selectivity audit ------------------------------------------------------
#
# The spatial analog of selectivity_qerror / join_size_estimate, keyed
# to the flagship operator: the optimizer-style CARDINALITY ESTIMATE of
# the tile-in-zone join from res-7 cell summaries (tiles-per-cell
# histogram x fractional cell/zone bbox overlap, uniformity assumption,
# all integer nano-degree arithmetic with milli-per-axis fractions) is
# compared against the EXACT join count per zone, with the classic
# q-error = max(est/exact, exact/est) verdict. Candidate (cell, zone)
# pairs come from a broadcast of the bounded zone frame against the
# occupied-cell histogram — the estimate never touches raw tiles a
# second time, which is the point: this is what a planner could afford
# at 10^12 tiles before committing to a join strategy.

_PSA_RES = 7
_PSA_NANO = 10**9 // (1 << _PSA_RES)  # res-7 cell edge in nano-degrees


def _psa_sql(div: str) -> str:
    nano = _PSA_NANO
    return f"""
psa_h AS (
  SELECT {grid.ix_sql('lon', _PSA_RES)} AS ix,
         {grid.iy_sql('lat', _PSA_RES)} AS iy,
         CAST(count(*) AS BIGINT) AS n
  FROM tiles GROUP BY 1, 2),
psa_z AS (
  SELECT j AS zone,
         CAST(floor(xmin * 1e9) AS BIGINT) AS zx0,
         CAST(floor(xmax * 1e9) AS BIGINT) AS zx1,
         CAST(floor(ymin * 1e9) AS BIGINT) AS zy0,
         CAST(floor(ymax * 1e9) AS BIGINT) AS zy1
  FROM zones),
psa_c AS (
  SELECT z.zone, h.n,
         GREATEST(CAST(0 AS BIGINT),
           LEAST((h.ix + 1) * {nano} - 180000000000, z.zx1)
           - GREATEST(h.ix * {nano} - 180000000000, z.zx0)) AS ox,
         GREATEST(CAST(0 AS BIGINT),
           LEAST((h.iy + 1) * {nano} - 90000000000, z.zy1)
           - GREATEST(h.iy * {nano} - 90000000000, z.zy0)) AS oy
  FROM psa_h h JOIN psa_z z
    ON h.ix * {nano} - 180000000000 < z.zx1
   AND (h.ix + 1) * {nano} - 180000000000 > z.zx0
   AND h.iy * {nano} - 90000000000 < z.zy1
   AND (h.iy + 1) * {nano} - 90000000000 > z.zy0),
psa_e AS (
  SELECT zone,
         CAST(sum(n * (((1000 * ox){div}{nano})
                       * ((1000 * oy){div}{nano}))){div}1000000
              AS BIGINT) AS est_n
  FROM psa_c GROUP BY zone),
psa_x AS (
  SELECT z.zone, CAST(count(t.i) AS BIGINT) AS exact_n
  FROM psa_z z LEFT JOIN (
    SELECT i, CAST(floor(lon * 1e9) AS BIGINT) AS lx,
           CAST(floor(lat * 1e9) AS BIGINT) AS ly FROM tiles) t
    ON t.lx >= z.zx0 AND t.lx < z.zx1
   AND t.ly >= z.zy0 AND t.ly < z.zy1
  GROUP BY z.zone)
SELECT x.zone, x.exact_n,
       coalesce(e.est_n, CAST(0 AS BIGINT)) AS est_n,
       CAST(CASE WHEN x.exact_n >= coalesce(e.est_n, 0)
            THEN (1000 * x.exact_n)
                 {div}GREATEST(coalesce(e.est_n, CAST(0 AS BIGINT)),
                               CAST(1 AS BIGINT))
            ELSE (1000 * coalesce(e.est_n, CAST(0 AS BIGINT)))
                 {div}GREATEST(x.exact_n, CAST(1 AS BIGINT)) END
            AS BIGINT) AS qerr_milli
FROM psa_x x LEFT JOIN psa_e e ON e.zone = x.zone
"""


@register(
    "pip_selectivity_audit",
    f"{_CTES},\n{_psa_sql(' // ')}",
    doc="Cardinality-estimate audit for the flagship tile-in-zone "
    "join: the planner-affordable estimate (res-7 occupied-cell "
    "histogram x fractional bbox overlap, integer nano-degree "
    "bounds, milli-per-axis fractions, uniformity assumption) vs the "
    "exact per-zone count, with the classic q-error verdict — the "
    "spatial rung of the optimizer-audit family beside "
    "selectivity_qerror (predicates) and join_size_estimate "
    "(equi-joins); the estimate touches only the bounded histogram "
    "and zone frames.",
)
def q_pip_selectivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(
        spark, f"WITH {_psa_sql(' DIV ')}",
        tiles=_tiles(spark, sf_dir),
        zones=synth.zones_df(spark),
    )


# --- R371: 1-median facility placement -----------------------------------------------------
#
# Facility-location OPTIMIZATION beside kcenter_seeds (coverage
# seeding): place ONE depot on the res-7 grid minimizing total
# demand-weighted L1 travel (cell units). The separability theorem
# makes the true optimum exact and cheap: under L1 the cost splits
# into independent x and y sums, each minimized at the demand-weighted
# MEDIAN — computed from the bounded histogram, no search. The query
# evaluates the 15 densest cells PLUS the median cell against the
# bounded-histogram fan (occupied cells x 16 candidates), emits the
# exact cost ladder, and pins the theorem in-result: the median cell's
# cost must be the minimum (optimal_ok). The densest-cell heuristic's
# regret in milli is the managerial takeaway.

_P1M_RES = 7


def _p1m_sql(div: str) -> str:
    r = _P1M_RES
    return f"""
p1_h AS (
  SELECT {grid.ix_sql('lon', r)} AS ix, {grid.iy_sql('lat', r)} AS iy,
         CAST(count(*) AS BIGINT) AS n
  FROM tiles GROUP BY 1, 2),
p1_t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM p1_h),
p1_mx AS (
  SELECT min(ix) AS mx FROM (
    SELECT ix, sum(n) OVER (ORDER BY ix
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
    FROM (SELECT ix, CAST(sum(n) AS BIGINT) AS n FROM p1_h GROUP BY ix)
      x CROSS JOIN p1_t t) s CROSS JOIN p1_t t2
  WHERE s.c * 2 >= t2.total),
p1_my AS (
  SELECT min(iy) AS my FROM (
    SELECT iy, sum(n) OVER (ORDER BY iy
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
    FROM (SELECT iy, CAST(sum(n) AS BIGINT) AS n FROM p1_h GROUP BY iy)
      y CROSS JOIN p1_t t) s CROSS JOIN p1_t t2
  WHERE s.c * 2 >= t2.total),
p1_cand AS (
  SELECT ix, iy, n, CAST(0 AS BIGINT) AS is_median FROM (
    SELECT ix, iy, n, row_number() OVER (ORDER BY n DESC, ix, iy) AS rk
    FROM p1_h) d WHERE rk <= 15
  UNION
  SELECT x.mx, y.my, coalesce(h.n, CAST(0 AS BIGINT)),
         CAST(1 AS BIGINT)
  FROM p1_mx x CROSS JOIN p1_my y
  LEFT JOIN p1_h h ON h.ix = x.mx AND h.iy = y.my),
p1_cost AS (
  SELECT c.ix, c.iy, max(c.n) AS n_self, max(c.is_median) AS is_median,
         CAST(sum(h.n * (abs(h.ix - c.ix) + abs(h.iy - c.iy)))
              AS BIGINT) AS cost
  FROM p1_cand c CROSS JOIN p1_h h
  GROUP BY c.ix, c.iy),
p1_w AS (
  SELECT ix, iy, n_self, is_median, cost,
         max(n_self) OVER () AS maxn,
         min(cost) OVER () AS mincost,
         max(CASE WHEN is_median = 1 THEN cost END) OVER () AS medcost
  FROM p1_cost)
SELECT ix, iy, n_self, is_median, cost,
       CAST(row_number() OVER (ORDER BY cost, ix, iy) AS BIGINT)
         AS cost_rank,
       CAST(CASE WHEN medcost = mincost THEN 1 ELSE 0 END AS BIGINT)
         AS optimal_ok,
       CAST((1000 * max(CASE WHEN n_self = maxn THEN cost END)
                    OVER ()){div}GREATEST(mincost, CAST(1 AS BIGINT))
            - 1000 AS BIGINT)
         AS densest_regret_milli
FROM p1_w
"""


@register(
    "p1_median_site",
    f"{_CTES},\n{_p1m_sql(' // ')}",
    doc="1-median depot placement on the res-7 grid under L1 travel: "
    "the separability theorem gives the TRUE optimum from two "
    "weighted medians on the bounded histogram (no search); the "
    "query ranks it against the 15 densest cells on the exact "
    "demand-weighted cost fan, pins median-optimality in-result "
    "(optimal_ok) and prices the densest-cell heuristic's regret — "
    "facility-location optimization beside kcenter_seeds (coverage) "
    "and accessibility_2sfca (catchment measurement).",
)
def q_p1_median_site(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(
        spark, f"WITH {_p1m_sql(' DIV ')}",
        tiles=_tiles(spark, sf_dir),
    )


# --- R378: metric kNN re-rank audit --------------------------------------------------------
#
# The query-level companion of geodesic_nn_flip (R361): for each of
# the 50 kNN probes, the nearest tile is decided twice — in planar
# micro-degrees and in ground mm (longitude scaled by the probe's
# latitude-band literal meters-per-degree) — with exact integer
# distances and deterministic id tie-breaks (min-id among argmin
# rows, the two-pass exact pattern). Per-probe verdicts plus the
# disagreement envelope quantify how often a degree-planar kNN hands
# back the wrong neighbor HERE; the bounded probe set broadcasts, so
# the scan shape is the ANN-brute pattern.


def _mkr_sql(div: str) -> str:
    ml = _gd_case(_GD_MLON, col="band")
    return f"""
mk_t AS (
  SELECT i, CAST(floor(lon * 1000000e0) AS BIGINT) AS tx,
         CAST(floor(lat * 1000000e0) AS BIGINT) AS ty
  FROM tiles),
mk_q AS (
  SELECT query_id,
         CAST(floor(qlon * 1000000e0) AS BIGINT) AS qx,
         CAST(floor(qlat * 1000000e0) AS BIGINT) AS qy,
         LEAST(9, GREATEST(0,
           CAST(floor((qlat - 35.4e0) * 20.0e0) AS BIGINT))) AS band
  FROM qpoints),
mk_d AS (
  SELECT q.query_id, q.band, t.i,
         (t.tx - q.qx) * (t.tx - q.qx)
           + (t.ty - q.qy) * (t.ty - q.qy) AS d2p,
         (((t.tx - q.qx) * {ml}){div}1000)
           * (((t.tx - q.qx) * {ml}){div}1000)
           + (((t.ty - q.qy) * {_GD_MLAT}){div}1000)
           * (((t.ty - q.qy) * {_GD_MLAT}){div}1000) AS d2m
  FROM mk_q q CROSS JOIN mk_t t),
mk_min AS (
  SELECT query_id, CAST(min(d2p) AS BIGINT) AS mp,
         CAST(min(d2m) AS BIGINT) AS mm
  FROM mk_d GROUP BY 1),
mk_nn AS (
  SELECT d.query_id,
         CAST(min(CASE WHEN d.d2p = x.mp THEN d.i END) AS BIGINT)
           AS planar_nn,
         CAST(min(CASE WHEN d.d2m = x.mm THEN d.i END) AS BIGINT)
           AS metric_nn,
         CAST(min(x.mp) AS BIGINT) AS d2p_min,
         CAST(min(x.mm) AS BIGINT) AS d2m_min,
         CAST(min(d.band) AS BIGINT) AS band
  FROM mk_d d JOIN mk_min x ON x.query_id = d.query_id
  GROUP BY d.query_id),
mk_g AS (
  SELECT CAST(sum(CASE WHEN planar_nn <> metric_nn THEN 1 ELSE 0 END)
              AS BIGINT) AS n_disagree,
         CAST(count(*) AS BIGINT) AS n_queries
  FROM mk_nn)
SELECT n.query_id, n.band, n.planar_nn, n.metric_nn,
       CAST(CASE WHEN n.planar_nn <> n.metric_nn THEN 1 ELSE 0 END
            AS BIGINT) AS flipped,
       n.d2p_min, n.d2m_min,
       g.n_disagree,
       CAST((1000 * g.n_disagree){div}g.n_queries AS BIGINT)
         AS disagree_milli
FROM mk_nn n CROSS JOIN mk_g g
"""


@register(
    "metric_knn_rerank",
    f"{_CTES},\n{_mkr_sql(' // ')}",
    doc="Query-level geodesic audit: each of the 50 kNN probes decides "
    "its nearest tile twice — planar micro-degrees vs ground mm with "
    "the probe-band literal meters-per-degree — exact integer "
    "distances, min-id tie-breaks via the two-pass argmin pattern; "
    "per-probe verdicts + the disagreement envelope say how often "
    "degree-planar kNN returns the wrong neighbor, the retrieval "
    "companion of geodesic_nn_flip's cell-level rate.",
)
def q_metric_knn_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(
        spark, f"WITH {_mkr_sql(' DIV ')}",
        tiles=_tiles(spark, sf_dir),
        qpoints=synth.qpoints_df(spark),
    )


# --- R393: spatial autoregressive lag ladder (round 4) ------------------------

SAR_RES = 8


def _sar_sql(engine: str, res: int = SAR_RES) -> str:
    """Spatial econometrics' SAR lag model, truncated Neumann series
    (public: Anselin 1988; LeSage & Pace 2009): over the res-``res``
    tile-count surface x, the row-normalized rook-adjacency lag Wx and
    its square W^2x, and the rho=1/2 SAR response x + rho*Wx +
    rho^2*W^2x — all exact integer milli (rho powers are DIV 2 / DIV 4,
    row-normalization is one integer division per cell with a
    zero-degree guard).  Scale shape: aggregate FIRST (tiles -> bounded
    occupied-cell frame), then two fixed 4-offset equi-join fans over
    the cell dimension — the focal_mean discipline; tile rows are never
    touched by the lag arithmetic."""
    div = " DIV " if engine == "spark" else " // "
    offs = (
        "SELECT * FROM VALUES (1, 0), (-1, 0), (0, 1), (0, -1)"
        " AS t(dx, dy)"
        if engine == "spark"
        else "SELECT * FROM (VALUES (1, 0), (-1, 0), (0, 1), (0, -1))"
        " t(dx, dy)"
    )
    return f"""
sar_occ AS (
  SELECT {grid.ix_sql('lon', res)} AS ix, {grid.iy_sql('lat', res)} AS iy,
         CAST(count(*) AS BIGINT) AS x
  FROM tiles GROUP BY 1, 2),
sar_off AS ({offs}),
sar_n AS (
  SELECT o.ix, o.iy, o.x,
         CAST(count(n.x) AS BIGINT) AS deg,
         CAST(coalesce(sum(n.x), 0) AS BIGINT) AS sx
  FROM sar_occ o CROSS JOIN sar_off f
  LEFT JOIN sar_occ n ON n.ix = o.ix + f.dx AND n.iy = o.iy + f.dy
  GROUP BY 1, 2, 3),
sar_w1 AS (
  SELECT ix, iy, x, deg,
         CAST((1000 * sx){div}GREATEST(deg, CAST(1 AS BIGINT))
              AS BIGINT) AS wx_milli
  FROM sar_n),
sar_n2 AS (
  SELECT o.ix, o.iy,
         CAST(coalesce(sum(n.wx_milli), 0) AS BIGINT) AS swx
  FROM sar_w1 o CROSS JOIN sar_off f
  LEFT JOIN sar_w1 n ON n.ix = o.ix + f.dx AND n.iy = o.iy + f.dy
  GROUP BY 1, 2)
SELECT w.ix, w.iy, w.x AS n_tiles, w.deg, w.wx_milli,
       CAST(n2.swx{div}GREATEST(w.deg, CAST(1 AS BIGINT))
            AS BIGINT) AS w2x_milli,
       CAST(1000 * w.x + w.wx_milli{div}2
            + (n2.swx{div}GREATEST(w.deg, CAST(1 AS BIGINT))){div}4
            AS BIGINT) AS sar_milli
FROM sar_w1 w JOIN sar_n2 n2 ON n2.ix = w.ix AND n2.iy = w.iy"""


@register(
    "sar_lag",
    f"{_CTES},\n{_sar_sql('duck')}",
    doc="Spatial autoregressive (SAR) lag ladder per occupied res-8 "
    "cell: row-normalized rook lag Wx, second power W^2x, and the "
    "rho=1/2 truncated SAR response in exact integer milli — spatial "
    "econometrics beside local_moran/getis_ord (which test correlation; "
    "SAR models it). Two bounded 4-offset cell fans after a single "
    "tiles aggregation.",
)
def q_sar_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(
        spark, f"WITH {_sar_sql('spark')}",
        tiles=_tiles(spark, sf_dir),
    )


@register(
    "set_cover_greedy",
    f"{_CTES},\n{zonal.set_cover_oracle()}",
    doc="Greedy maximum-coverage facility placement (Chvatal set cover, "
    "the (1-1/e) classic): 5 rounds over the res-7 occupied-cell "
    "universe, candidates = 40 densest cells, radius-2 Chebyshev disks; "
    "per round the candidate covering the most uncovered cells wins "
    "(gain DESC, fid ties). Third facility-location objective beside "
    "kcenter_seeds (minimax) and p1_median_site (minisum). Candidate "
    "disks are a fixed 25-offset broadcast fan equi-joined to the "
    "uncovered frame; per-round driver state is one argmax row.",
)
def q_set_cover_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.set_cover_greedy(_tiles(spark, sf_dir))
