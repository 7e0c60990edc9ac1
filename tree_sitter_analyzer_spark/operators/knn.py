"""Exact grid-bucketed kNN join in one static two-phase plan — no cross
join on the normal path, no driver loop.

Filter with an approximation, then refine exactly (the count-sketch
filter of *Raster Intervals*, SIGMOD 2023; the reference's over-fetch +
exact re-rank + truncate contract, ``_ast_cache_query.py:155-267``,
SURVEY.md T1/O5):

- **Count phase.** A cell-count pyramid of the tiles: counts per
  ``(j, ix >> j, iy >> j)`` for levels j = 0..J, J = min(log2
  ``max_radius``, ``res``), where (ix, iy) is the res-``res`` grid cell.
  Each query sums the 3×3 level-j block around its own level-j cell and
  takes j*, the smallest level whose block holds at least k tiles. The
  block count is monotone in j (the level-(j+1) block contains the
  level-j block), so j* is one static CASE over the per-level sums.
- **Fetch phase.** Candidates are the tiles of the 7×7 level-j* block
  with ``dist2 <= 9·s²``, s = the level-j* cell size; the exact
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

Degenerate queries (no level reaches k: k above the tile count, or a
query farther than the level-J block from k tiles) get j* = -1, a
sentinel level: every tile also carries one row at level -1 in cell
(0, 0), so the same equi-join hands those queries every tile, exactly —
no driver-side emptiness probe.

Scale design (10^12 tiles, modest query set):
- The query side (3×3 blocks of every level, then the 7×7 fetch block)
  is broadcast; the tile side is probed map-side. Nothing per query is
  collected to the driver.
- The only shuffles are partial aggregates — the pyramid is O(non-empty
  cells), the per-query level sums O(#queries) — and the candidate
  top-k, which Spark's window group limit prunes to ≤ k rows per query
  per partition before the exchange.
- The pyramid is query-independent but rebuilt per call; it could be
  materialized once per tiles snapshot.
- One SQL statement: a chain of DataFrame calls would pay ~10 ms of
  analysis per call on the serving path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import grid
from .pip_join import tile_cells

DEFAULT_KNN_RES = 7

# Authored once; the oracle splices the same text (operand order matters
# for bit-identical doubles).
DIST2_SQL = "((lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat))"
DIST2_ORACLE_SQL = (
    "((t.lon - q.qlon) * (t.lon - q.qlon) + (t.lat - q.qlat) * (t.lat - q.qlat))"
)


def _knn_sql(k: int, res: int, levels: int) -> str:
    """The two-phase plan over views ``{tiles}`` and ``{qpoints}``
    (placeholders filled by ``spark.sql``'s DataFrame arguments)."""
    top = levels - 1
    sums = ",\n         ".join(
        f"sum(CASE WHEN b.j = {j} THEN p.n END) AS n{j}" for j in range(levels)
    )
    jstar = " ".join(f"WHEN l.n{j} >= {k} THEN {j}" for j in range(levels))
    # level-j* cell edge in degrees: 2^j* / 2^res, exact in doubles
    cell = f"(CAST(shiftleft(1L, jstar) AS DOUBLE) / {1 << res}.0D)"
    return f"""
WITH t AS (
  SELECT image_id, lon, lat,
         {grid.ix_sql("lon", res)} AS ix, {grid.iy_sql("lat", res)} AS iy
  FROM {{tiles}}
),
q AS (
  SELECT query_id, qlon, qlat,
         {grid.ix_sql("qlon", res)} AS qix, {grid.iy_sql("qlat", res)} AS qiy
  FROM {{qpoints}}
),
pyramid AS (
  SELECT j, shiftright(ix, j) AS cx, shiftright(iy, j) AS cy, count(*) AS n
  FROM t LATERAL VIEW explode(sequence(0, {top})) AS j
  GROUP BY 1, 2, 3
),
qblock AS (
  SELECT query_id, j, shiftright(qix, j) + dx AS cx, shiftright(qiy, j) + dy AS cy
  FROM q LATERAL VIEW explode(sequence(0, {top})) AS j
         LATERAL VIEW explode(sequence(-1, 1)) AS dx
         LATERAL VIEW explode(sequence(-1, 1)) AS dy
),
level AS (
  SELECT /*+ BROADCAST(b) */ b.query_id,
         {sums}
  FROM pyramid p JOIN qblock b ON p.j = b.j AND p.cx = b.cx AND p.cy = b.cy
  GROUP BY b.query_id
),
qstar AS (
  SELECT /*+ BROADCAST(l) */ q.query_id, q.qlon, q.qlat, q.qix, q.qiy,
         CASE {jstar} ELSE -1 END AS jstar
  FROM q LEFT JOIN level l ON q.query_id = l.query_id
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
tl AS (
  SELECT image_id, lon, lat, j,
         IF(j < 0, 0L, shiftright(ix, j)) AS cx, IF(j < 0, 0L, shiftright(iy, j)) AS cy
  FROM t LATERAL VIEW explode(sequence(-1, {top})) AS j
),
cand AS (
  SELECT /*+ BROADCAST(f) */ f.query_id, tl.image_id, f.jstar, f.bound2,
         {DIST2_SQL} AS dist2
  FROM tl JOIN qfetch f ON tl.j = f.jstar AND tl.cx = f.cx AND tl.cy = f.cy
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


def knn_plan(
    tiles: DataFrame,
    qpoints: DataFrame,
    k: int = 5,
    res: int = DEFAULT_KNN_RES,
    max_radius: int = 64,
) -> DataFrame:
    """The lazy plan ``knn_join`` materializes (same arguments)."""
    if max_radius < 1:
        raise ValueError(f"max_radius must be >= 1, got {max_radius}")
    levels = min(max_radius.bit_length() - 1, res) + 1
    return qpoints.sparkSession.sql(
        _knn_sql(k, res, levels), tiles=tiles, qpoints=qpoints
    )


def knn_join(
    tiles: DataFrame,
    qpoints: DataFrame,
    k: int = 5,
    res: int = DEFAULT_KNN_RES,
    max_radius: int = 64,
) -> DataFrame:
    """Exact k nearest tiles per query point.

    Returns (query_id, rank, image_id, dist2_nano) with deterministic
    (dist2, image_id) tie-breaking; ``dist2_nano = floor(dist2 * 1e12)``
    keeps the compared output integer-typed (cross-engine hash safety).
    ``max_radius`` (in res-``res`` cells) sizes the pyramid: levels
    0..min(log2 max_radius, res); queries beyond its top block fall back
    to every tile.
    """
    # One materialization keeps downstream consumers (joins back to tile
    # rows, self-join renumbering) from re-running the plan.
    return knn_plan(tiles, qpoints, k, res, max_radius).localCheckpoint(eager=True)


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
