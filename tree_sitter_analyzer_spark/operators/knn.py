"""Exact grid-bucketed kNN join: one lookup join and one fetch join per
query against a per-snapshot index — no cross join on the normal path,
no driver loop.

Filter with an approximation, then refine exactly (the count-sketch
filter of *Raster Intervals*, SIGMOD 2023, which stores the
approximation with the data; the reference's warm-index over-fetch +
exact re-rank + truncate contract, ``_ast_cache_query.py:155-267``,
SURVEY.md T1/O5).

**The index** (query-independent, keyed by ``(res, levels)``; levels
j = 0..J, J = min(log2 ``max_radius``, ``res``), over the res-``res``
grid cell (ix, iy) of each tile):

- ``tl``: every tile once per level -1..J as ``(image_id, lon, lat, j,
  cx, cy)``, (cx, cy) = (ix >> j, iy >> j); level -1 is the sentinel
  cell (0, 0).
- ``c0``: one row per res-``res`` cell (cx, cy) of the tiles' bounding
  box, ``n3s[j]`` = the tile count of the 3×3 block of level-j cells
  around (cx >> j, cy >> j). Built from ``tl``'s level rows: each tile
  counts toward the 3×3 neighbours of its level-j cell (one partial
  aggregate), the per-level block counts are gathered into lookup maps
  (one global aggregate), and the bounding box's cells read their
  ``n3s`` from them.

**The query.** Each query point looks up its own cell in ``c0`` and
takes j*, the smallest level with ``n3s[j] >= k``. The block count is
monotone in j (the level-(j+1) block contains the level-j block), so j*
is one static CASE. Candidates are the ``tl`` rows of the 7×7 level-j*
block with ``dist2 <= 9·s²``, s = the level-j* cell size; the exact
``(dist2, image_id)`` ``row_number`` keeps the top k.

Exactness: the query lies in its cell [cx, cx+1)·s, so every tile of
the 3×3 block is less than 2s away on each axis, i.e. within 2√2·s.
The block holds ≥ k tiles, so the k-th nearest distance d_k < 2√2·s
< 3s. A tile within d_k of the query is then less than 3s away on each
axis and lies in cells cx-3..cx+3: the 7×7 block holds every tile at
distance ≤ d_k, and so do the survivors of ``dist2 <= 9·s²`` (d_k² <
8s²). Ties at the k-th distance are all fetched, so the
``(dist2, image_id)`` ranking equals the naive oracle's. The grid
arithmetic rounds by ~1e-14 degrees, far inside the 2√2 → 3 margin; the
ranking itself uses the oracle's distance text (``DIST2_SQL``).

Degenerate queries get j* = -1, the sentinel level, and the same
equi-join hands them every tile (``tl``'s level -1 puts every tile in
cell (0, 0)) — exact, with no driver-side emptiness probe. They are the
queries no level reaches k for (k above the tile count, or farther than
the level-J block from k tiles) and the queries outside the bounding
box, which have no ``c0`` row.

Index lifetime: when ``tiles`` IS a ``synth.tiles_df`` leaf, the index
is built once per snapshot on first use (``synth.Snapshot.derived``,
under the snapshot's lock), kept as locally checkpointed frames and
released when the snapshot is evicted. Any other frame (a filtered
chain, a folded ``take``, a test frame) gets the same index SQL inlined
as a lazy subplan: residency is the only difference.

Scale design (10^12 tiles, modest query set):
- ``tl`` is (J+2) narrow rows per tile and stays partitioned as the
  tiles are; the fetch block is broadcast and ``tl`` probed map-side.
- ``c0`` is broadcast into the lookup join; it grows with the bounding
  box's area at ``res``, not with the tile count.
- The only per-query shuffle is the candidate top-k, which Spark's
  window group limit prunes to ≤ k rows per query per partition before
  the exchange.
- One SQL statement per step: a chain of DataFrame calls would pay
  ~10 ms of analysis per call on the serving path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import grid, synth
from .pip_join import tile_cells

DEFAULT_KNN_RES = 7

# Authored once; the oracle splices the same text (operand order matters
# for bit-identical doubles).
DIST2_SQL = "((lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat))"
DIST2_ORACLE_SQL = (
    "((t.lon - q.qlon) * (t.lon - q.qlon) + (t.lat - q.qlat) * (t.lat - q.qlat))"
)


def _tl_sql(res: int, levels: int) -> str:
    """The index's tile-level rows over view ``{tiles}``."""
    return f"""
SELECT image_id, lon, lat, j,
       IF(j < 0, 0L, shiftright(ix, j)) AS cx, IF(j < 0, 0L, shiftright(iy, j)) AS cy
FROM (SELECT image_id, lon, lat,
             {grid.ix_sql("lon", res)} AS ix, {grid.iy_sql("lat", res)} AS iy
      FROM {{tiles}})
  LATERAL VIEW explode(sequence(-1, {levels - 1})) AS j
"""


def _c0_sql(levels: int) -> str:
    """The index's per-cell block counts over view ``{tl}``."""

    def key(x: str, y: str) -> str:
        return f"shiftleft({x}, 32) + {y}"  # unique for y in [-1, 2^31)

    maps = ",\n         ".join(
        f"map_from_entries(collect_list(IF(j = {j}, struct({key('bx', 'by_')}, n), NULL)))"
        f" AS m{j}"
        for j in range(levels)
    )
    n3s = ", ".join(
        f"coalesce(m{j}[{key(f'shiftright(cx, {j})', f'shiftright(cy, {j})')}], 0L)"
        for j in range(levels)
    )
    return f"""
WITH block AS (
  SELECT j, cx + dx AS bx, cy + dy AS by_, count(*) AS n
  FROM {{tl}} LATERAL VIEW explode(sequence(-1, 1)) AS dx
             LATERAL VIEW explode(sequence(-1, 1)) AS dy
  WHERE j >= 0
  GROUP BY 1, 2, 3
),
lut AS (
  -- level-0 blocks reach one cell past the tiles on every side
  SELECT min(IF(j = 0, bx, NULL)) + 1 AS x0, max(IF(j = 0, bx, NULL)) - 1 AS x1,
         min(IF(j = 0, by_, NULL)) + 1 AS y0, max(IF(j = 0, by_, NULL)) - 1 AS y1,
         {maps}
  FROM block
)
SELECT cx, cy, array({n3s}) AS n3s
FROM lut LATERAL VIEW explode(sequence(x0, x1)) AS cx
         LATERAL VIEW explode(sequence(y0, y1)) AS cy
"""


def _index(tiles: DataFrame, res: int, levels: int,
           keep=lambda df: df) -> tuple[DataFrame, DataFrame]:
    """(tl, c0) over ``tiles``; ``keep`` materializes each frame or,
    by default, leaves it a lazy subplan."""
    spark = tiles.sparkSession
    tl = keep(spark.sql(_tl_sql(res, levels), tiles=tiles))
    return tl, keep(spark.sql(_c0_sql(levels), tl=tl))


def knn_index(tiles: DataFrame, res: int, levels: int) -> tuple[DataFrame, DataFrame]:
    """The (tl, c0) index of ``tiles``: resident in its snapshot when
    ``tiles`` is a ``synth.tiles_df`` leaf, else inlined lazily."""
    snap = synth.snapshot(tiles)
    if snap is None:
        return _index(tiles, res, levels)
    return snap.derived(
        ("knn", res, levels), lambda keep: _index(snap.leaf, res, levels, keep))


def _knn_sql(k: int, res: int, levels: int) -> str:
    """The query over views ``{qpoints}``, ``{tl}`` and ``{c0}``
    (placeholders filled by ``spark.sql``'s DataFrame arguments)."""
    jstar = " ".join(f"WHEN c.n3s[{j}] >= {k} THEN {j}" for j in range(levels))
    # level-j* cell edge in degrees: 2^j* / 2^res, exact in doubles
    cell = f"(CAST(shiftleft(1L, jstar) AS DOUBLE) / {1 << res}.0D)"
    return f"""
WITH q AS (
  SELECT query_id, qlon, qlat,
         {grid.ix_sql("qlon", res)} AS qix, {grid.iy_sql("qlat", res)} AS qiy
  FROM {{qpoints}}
),
qstar AS (
  SELECT /*+ BROADCAST(c) */ q.query_id, q.qlon, q.qlat, q.qix, q.qiy,
         CASE {jstar} ELSE -1 END AS jstar
  FROM q LEFT JOIN {{c0}} c ON c.cx = q.qix AND c.cy = q.qiy
),
qfetch AS (
  SELECT query_id, qlon, qlat, jstar,
         CASE WHEN jstar < 0 THEN 0 ELSE shiftright(qix, jstar) + dx END AS cx,
         CASE WHEN jstar < 0 THEN 0 ELSE shiftright(qiy, jstar) + dy END AS cy,
         9.0D * {cell} * {cell} AS bound2
  FROM qstar
    LATERAL VIEW explode(IF(jstar < 0, array(0), sequence(-3, 3))) AS dx
    LATERAL VIEW explode(IF(jstar < 0, array(0), sequence(-3, 3))) AS dy
),
cand AS (
  SELECT /*+ BROADCAST(f) */ f.query_id, tl.image_id, f.jstar, f.bound2,
         {DIST2_SQL} AS dist2
  FROM {{tl}} tl JOIN qfetch f ON tl.j = f.jstar AND tl.cx = f.cx AND tl.cy = f.cy
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, image_id,
       CAST(floor(dist2 * 1e12) AS BIGINT) AS dist2_nano
FROM (
  SELECT query_id, image_id, dist2,
         row_number() OVER (PARTITION BY query_id ORDER BY dist2, image_id) AS rank
  FROM cand WHERE jstar < 0 OR dist2 <= bound2
)
WHERE rank <= {k}
"""


def knn_join(
    tiles: DataFrame,
    qpoints: DataFrame,
    k: int = 5,
    res: int = DEFAULT_KNN_RES,
    max_radius: int = 64,
) -> DataFrame:
    """Exact k nearest tiles per query point, as a lazy plan.

    Returns (query_id, rank, image_id, dist2_nano) with deterministic
    (dist2, image_id) tie-breaking; ``dist2_nano = floor(dist2 * 1e12)``
    keeps the compared output integer-typed (cross-engine hash safety).
    ``max_radius`` (in res-``res`` cells) sizes the index: levels
    0..min(log2 max_radius, res); queries beyond its top block fall back
    to every tile. The first call on a ``synth.tiles_df`` leaf builds
    its resident index (Spark jobs); the query itself runs when the
    result is.
    """
    if max_radius < 1:
        raise ValueError(f"max_radius must be >= 1, got {max_radius}")
    levels = min(max_radius.bit_length() - 1, res) + 1
    tl, c0 = knn_index(tiles, res, levels)
    return qpoints.sparkSession.sql(
        _knn_sql(k, res, levels), qpoints=qpoints, tl=tl, c0=c0)


def radius_join(
    tiles: DataFrame,
    qpoints: DataFrame,
    radius: float,
    res: int = DEFAULT_KNN_RES,
) -> DataFrame:
    """Fixed-radius spatial join (the ST_DWithin analog, SURVEY.md J12's
    distance-band family): every (query, tile) pair with euclidean
    distance ≤ ``radius``, exact.

    Same two-phase discipline as ``knn_join``'s fetch, with a disk fixed
    by the radius: candidates are the tiles in the Chebyshev cell disk of
    ``rc = ceil(radius / cell_size)`` around each query's cell (any point
    within euclidean ``radius`` is ≤ rc cells away on each axis, so the
    disk provably covers the ball); one exact ``dist2 ≤ radius²`` verify
    keeps true pairs only. The tiny query×disk side broadcasts; the tile
    table is probed map-side on the cell equi-join — the big side never
    shuffles, and with a massive query set the same plan degrades to a
    shuffled cell equi-join. Returns (query_id, image_id, dist2_nano),
    integer-typed distance for cross-engine hash safety.
    """
    s = grid.cell_size(res)
    rc = int(-(-radius // s))  # ceil
    t = tile_cells(tiles, res).select("image_id", "lon", "lat", "cell")
    q = qpoints.select(
        "query_id",
        "qlon",
        "qlat",
        grid.ix_col("qlon", res).alias("qix"),
        grid.iy_col("qlat", res).alias("qiy"),
    )
    qcells = (
        q.withColumn("off", F.explode(grid.disk_offsets_expr(rc)))
        .withColumn(
            "cell",
            F.expr(grid.cell_from_ixiy_sql("qix + off.dx", "qiy + off.dy", res)),
        )
        .drop("off", "qix", "qiy")
    )
    bound2 = f"{radius * radius:.10e}"  # exponent literal → DOUBLE both engines
    return (
        t.join(F.broadcast(qcells), "cell")
        .withColumn("dist2", F.expr(DIST2_SQL))
        .where(F.expr(f"dist2 <= {bound2}"))
        .select(
            "query_id",
            "image_id",
            F.expr("CAST(floor(dist2 * 1e12) AS BIGINT)").alias("dist2_nano"),
        )
    )


def radius_join_oracle_sql(radius: float) -> str:
    """Naive exact oracle: cross join + the identical distance text and
    the identical exponent-notation bound literal."""
    bound2 = f"{radius * radius:.10e}"
    return f"""
SELECT q.query_id, t.image_id,
       CAST(floor({DIST2_ORACLE_SQL} * 1e12) AS BIGINT) AS dist2_nano
FROM qpoints q CROSS JOIN tiles t
WHERE {DIST2_ORACLE_SQL} <= {bound2}
"""


def knn_oracle_sql(k: int = 5) -> str:
    """Naive exact oracle (cross join + window) — fine at sf0.01."""
    return f"""
SELECT query_id, rank, image_id, dist2_nano FROM (
  SELECT q.query_id,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY {DIST2_ORACLE_SQL}, t.image_id
         ) AS rank,
         t.image_id,
         CAST(floor({DIST2_ORACLE_SQL} * 1e12) AS BIGINT) AS dist2_nano
  FROM qpoints q CROSS JOIN tiles t
) WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# IDW interpolation — the raster-surface estimation op built on radius_join.
# ---------------------------------------------------------------------------

IDW_W_SCALE = 10_000_000_000  # 1e10: wt = SCALE div d2_nano, bigint-exact
IDW_D2_FLOOR = 100  # clamp near-exact hits so weights stay bounded


def idw_surface(
    tiles: DataFrame,
    qpoints: DataFrame,
    radius: float = 0.01,
    res: int = DEFAULT_KNN_RES,
) -> DataFrame:
    """Inverse-distance-weighted surface estimate of tile pixel area
    (z = w·h) at each query point: ẑ(q) = Σ wᵢzᵢ / Σ wᵢ over neighbors
    within ``radius``, wᵢ = SCALE div max(d²ᵢ_nano, FLOOR) — the classic
    power-2 IDW, carried ENTIRELY in bigints (weights via integer
    division of the already-integer nano-distance from ``radius_join``)
    so partial aggregation order can't perturb a bit and the DuckDB
    oracle matches exactly. Query points with no neighbor in range emit
    no row (their estimate is undefined, not zero).

    Scale shape: inherits radius_join's one broadcast-cell candidate
    join + exact verify; the agg is ~#queries keys. The z lookup join is
    keyed on the tile id.
    """
    pairs = radius_join(tiles, qpoints, radius, res)
    z = tiles.select(
        "image_id", (F.col("w") * F.col("h")).cast("bigint").alias("z")
    )
    return (
        pairs.join(z, "image_id")
        .withColumn(
            "wt",
            F.expr(
                f"{IDW_W_SCALE} DIV GREATEST(dist2_nano, {IDW_D2_FLOOR})"
            ),
        )
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_nbrs"),
            F.sum(F.col("wt") * F.col("z")).alias("num"),
            F.sum("wt").alias("den"),
        )
        .select(
            "query_id",
            "n_nbrs",
            F.expr("num DIV den").alias("z_est"),
        )
    )


def idw_oracle_sql(radius: float = 0.01) -> str:
    """Same integer formulation over the naive cross-join pair set
    (DuckDB spells integer division ``//``)."""
    bound2 = f"{radius * radius:.10e}"
    return f"""
idw_pairs AS (
  SELECT q.query_id, t.w * t.h AS z,
         CAST(floor({DIST2_ORACLE_SQL} * 1e12) AS BIGINT) AS d2n
  FROM qpoints q CROSS JOIN tiles t
  WHERE {DIST2_ORACLE_SQL} <= {bound2}
),
idw_w AS (
  SELECT query_id, z,
         {IDW_W_SCALE} // GREATEST(d2n, {IDW_D2_FLOOR}) AS wt
  FROM idw_pairs
)
SELECT query_id, count(*) AS n_nbrs,
       CAST(sum(wt * z) // sum(wt) AS BIGINT) AS z_est
FROM idw_w GROUP BY query_id
"""


# ---------------------------------------------------------------------------
# R139: leave-one-out IDW cross-validation — the standard geostatistical
# model check (LOOCV, e.g. Isaaks & Srivastava 1989): re-estimate each
# observation from its neighbors EXCLUDING itself and report the error.
# Queries are a deterministic 1/``sample_mod`` tile sample (the
# nn_distance_stats discipline — engine-reproducible, and exactly how a
# validation pass runs at 10^12 rows). The neighbor value z rides the
# tile side THROUGH the candidate join, so the quadratic-in-density pair
# rows are aggregated in-stream (map-side partial agg on query_id) and
# never shuffle to a second join — the dense-neighborhood rule.
# ---------------------------------------------------------------------------


def idw_loo_error(
    tiles: DataFrame,
    radius: float = 0.01,
    res: int = DEFAULT_KNN_RES,
    sample_mod: int = 23,
) -> DataFrame:
    """(query_id, z_act, n_nbrs, z_est, abs_err) for each sampled tile
    with >= 1 in-radius neighbor (self excluded)."""
    s = grid.cell_size(res)
    rc = int(-(-radius // s))
    t = tile_cells(tiles, res).select(
        "image_id", "lon", "lat", "cell",
        (F.col("w") * F.col("h")).cast("bigint").alias("z"),
    )
    q = tiles.where(F.col("i") % sample_mod == 0).select(
        F.col("image_id").alias("query_id"),
        F.col("lon").alias("qlon"),
        F.col("lat").alias("qlat"),
        (F.col("w") * F.col("h")).cast("bigint").alias("z_act"),
    )
    qcells = (
        q.withColumn("qix", grid.ix_col("qlon", res))
        .withColumn("qiy", grid.iy_col("qlat", res))
        .withColumn("off", F.explode(grid.disk_offsets_expr(rc)))
        .withColumn(
            "cell",
            F.expr(grid.cell_from_ixiy_sql("qix + off.dx", "qiy + off.dy", res)),
        )
        .drop("off", "qix", "qiy")
    )
    bound2 = f"{radius * radius:.10e}"
    return (
        t.join(F.broadcast(qcells), "cell")
        .where(F.col("image_id") != F.col("query_id"))
        .withColumn("dist2", F.expr(DIST2_SQL))
        .where(F.expr(f"dist2 <= {bound2}"))
        .withColumn(
            "wt",
            F.expr(
                f"{IDW_W_SCALE} DIV GREATEST("
                f"CAST(floor(dist2 * 1e12) AS BIGINT), {IDW_D2_FLOOR})"
            ),
        )
        .groupBy("query_id", "z_act")
        .agg(
            F.count("*").alias("n_nbrs"),
            F.sum(F.col("wt") * F.col("z")).alias("num"),
            F.sum("wt").alias("den"),
        )
        .selectExpr(
            "query_id", "z_act", "n_nbrs",
            "num DIV den AS z_est",
            "abs(num DIV den - z_act) AS abs_err",
        )
    )


def idw_loo_oracle_sql(radius: float = 0.01, sample_mod: int = 23) -> str:
    bound2 = f"{radius * radius:.10e}"
    return f"""
loo_q AS (
  SELECT image_id AS query_id, lon AS qlon, lat AS qlat,
         CAST(w * h AS BIGINT) AS z_act
  FROM tiles WHERE i % {sample_mod} = 0),
loo_p AS (
  SELECT q.query_id, q.z_act, CAST(t.w * t.h AS BIGINT) AS z,
         {IDW_W_SCALE} // GREATEST(
           CAST(floor({DIST2_ORACLE_SQL} * 1e12) AS BIGINT),
           {IDW_D2_FLOOR}) AS wt
  FROM loo_q q CROSS JOIN tiles t
  WHERE t.image_id <> q.query_id AND {DIST2_ORACLE_SQL} <= {bound2})
SELECT query_id, z_act, count(*) AS n_nbrs,
       CAST(sum(wt * z) // sum(wt) AS BIGINT) AS z_est,
       abs(CAST(sum(wt * z) // sum(wt) AS BIGINT) - z_act) AS abs_err
FROM loo_p GROUP BY 1, 2"""
