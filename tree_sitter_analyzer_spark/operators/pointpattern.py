"""Point-pattern analysis: Ripley's K pair-count statistics.

The clustering-vs-randomness diagnostic over the tile centroid point set
(Ripley 1977): for a ladder of radii, count the pairs of points within
each radius. A clustered process (the synthetic corpus plants 3 hotspot
clusters, synth._hs_case) shows pair counts far above the
complete-spatial-randomness expectation at small radii.

Scale design (the SURVEY.md J12 distance-band discipline): pairs are
generated by a cell-bucketed equi-join at a resolution where the maximum
radius spans ``ceil(rmax/size)`` cells — one side fans over that Chebyshev
disk JVM-side, the join key is cell equality, and the exact integer
distance filter verifies candidates. No cross join at any scale; the
oracle re-derives the pair set with a naive band self-join (DuckDB IEJoin).

Cross-engine parity: distances are compared as ``CAST(floor(d2·1e12) AS
BIGINT)`` pico-deg² (the kNN quantization), thresholds are exact integer
literals (r_micro², since (r_micro·1e-6)²·1e12 = r_micro²), and the
oracle's pre-filter band is deliberately WIDER than rmax (0.0081 > 0.008)
so the floor-boundary pair that quantizes down onto the threshold can
never be band-excluded on one engine only.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import grid
from .pip_join import tile_cells

RADII_MICRO = (1000, 2000, 4000, 8000)  # 0.001° .. 0.008°
DEFAULT_RES = 7  # cell edge 1/128° = 0.0078125


def _d2p_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    return (
        f"CAST(floor((({lon1} - {lon2}) * ({lon1} - {lon2}) + "
        f"({lat1} - {lat2}) * ({lat1} - {lat2})) * 1e12) AS BIGINT)"
    )


def ripley_k(tiles: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """Pair counts within each radius of ``RADII_MICRO`` (micro-degrees),
    one output row per radius: (r_micro, n_pairs, avg_neighbors_milli)
    where avg_neighbors_milli = 1000 · (2·n_pairs / n_points) — the
    unnormalized K ladder. All bigint.

    One bucketed pair join at rmax feeds every radius via conditional
    aggregation — the radius ladder costs one pass, not four.
    """
    rmax_micro = max(RADII_MICRO)
    rmax = rmax_micro * 1e-6
    k = math.ceil(rmax * (1 << res))  # Chebyshev cell reach of rmax
    pts = (
        tile_cells(tiles.select("i", "lon", "lat"), res)
        .withColumn("ix", grid.cell_to_ix(F.col("cell"), res))
        .withColumn("iy", grid.cell_to_iy(F.col("cell")))
    )
    left = pts.withColumn("off", F.explode(grid.disk_offsets_expr(k))).select(
        F.col("i").alias("qi"),
        F.col("lon").alias("qlon"),
        F.col("lat").alias("qlat"),
        F.expr(
            grid.cell_from_ixiy_sql("ix + off.dx", "iy + off.dy", res)
        ).alias("cell"),
    )
    pairs = (
        left.join(pts.select("cell", "i", "lon", "lat"), "cell")
        .where(F.col("i") > F.col("qi"))
        .select(
            F.expr(_d2p_sql("qlon", "qlat", "lon", "lat")).alias("d2p")
        )
        .where(F.col("d2p") <= F.lit(rmax_micro * rmax_micro))
    )
    aggs = pairs.agg(
        *[
            F.coalesce(
                F.sum(F.expr(f"CASE WHEN d2p <= {r * r} THEN 1 ELSE 0 END")),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"c{r}")
            for r in RADII_MICRO
        ]
    )
    n = tiles.agg(F.count("*").alias("n_points"))
    stacked = ", ".join(
        f"{r}L, c{r}" for r in RADII_MICRO
    )
    return (
        aggs.crossJoin(F.broadcast(n))
        .select(
            F.expr(
                f"stack({len(RADII_MICRO)}, {stacked}) AS (r_micro, n_pairs)"
            ),
            "n_points",
        )
        .select(
            "r_micro",
            "n_pairs",
            "n_points",
            F.expr("2000 * n_pairs DIV n_points").alias(
                "avg_neighbors_milli"
            ),
        )
    )


def ripley_k_oracle_sql() -> str:
    rmax_micro = max(RADII_MICRO)
    band = "0.0081e0"  # wider than rmax: floor-boundary safety margin
    radii = ", ".join(f"({r}, {r * r})" for r in RADII_MICRO)
    return f"""
rk_pairs AS (
  SELECT {_d2p_sql('t1.lon', 't1.lat', 't2.lon', 't2.lat')} AS d2p
  FROM tiles t1 JOIN tiles t2
    ON t2.i > t1.i
   AND t2.lon >= t1.lon - {band} AND t2.lon <= t1.lon + {band}
   AND t2.lat >= t1.lat - {band} AND t2.lat <= t1.lat + {band}
),
rk_in AS (SELECT d2p FROM rk_pairs WHERE d2p <= {rmax_micro * rmax_micro}),
rk_n AS (SELECT count(*) AS n_points FROM tiles),
rk_radii(r_micro, r2p) AS (VALUES {radii})
SELECT r.r_micro,
       CAST(coalesce(sum(CASE WHEN p.d2p <= r.r2p THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_pairs,
       n.n_points,
       (2000 * CAST(coalesce(sum(CASE WHEN p.d2p <= r.r2p THEN 1 ELSE 0 END),
                             0) AS BIGINT)) // n.n_points
         AS avg_neighbors_milli
FROM rk_radii r
CROSS JOIN rk_n n
LEFT JOIN rk_in p ON TRUE
GROUP BY r.r_micro, n.n_points"""


# ---------------------------------------------------------------------------
# R63: nearest-neighbor distance profile (Clark-Evans style)
# ---------------------------------------------------------------------------

SAMPLE_MOD = 23  # deterministic 1/23 query sample (engine-reproducible)


def nn_distance_stats(tiles: DataFrame, sample_mod: int = SAMPLE_MOD) -> DataFrame:
    """Nearest-neighbor distance profile per tile kind — the Clark-Evans
    aggregation of point-pattern analysis (clustered patterns show a
    mean NN distance far below the CSR expectation; the Ripley-K ladder
    above is the cumulative sibling).

    A deterministic 1/``sample_mod`` tile sample (i % mod = 0) queries
    the full tile set for its nearest OTHER tile via the two-phase
    kNN join (k=2 — rank 1 is the query itself at distance 0 unless
    co-located tiles shadow it; excluding the self row by image_id and
    taking the min is exact in every co-location case because floor is
    monotone and the true NN is always in the k=2 candidate set).
    Output: one row per tile_kind — (tile_kind, n_q, mean_nn_d2_nano,
    min_nn_d2_nano, max_nn_d2_nano), all bigint.

    Scale shape: inherits knn_join's contract — the big tile side is
    probed map-side by broadcast query disks, no cross join ever; both
    rollups key on the sampled-query side (tiny).
    """
    from .knn import knn_join

    q = tiles.where(f"i % {sample_mod} = 0").select(
        F.col("i").alias("query_id"),
        F.col("lon").alias("qlon"),
        F.col("lat").alias("qlat"),
        F.col("image_id").alias("q_image_id"),
        F.col("tile_kind").alias("q_kind"),
    )
    kn = knn_join(tiles, q.select("query_id", "qlon", "qlat"), k=2)
    nn = (
        kn.join(q.select("query_id", "q_image_id", "q_kind"), "query_id")
        .where(F.col("image_id") != F.col("q_image_id"))
        .groupBy("query_id", "q_kind")
        .agg(F.min("dist2_nano").alias("nn_d2_nano"))
    )
    return (
        nn.groupBy(F.col("q_kind").alias("tile_kind"))
        .agg(
            F.count("*").cast("bigint").alias("n_q"),
            F.expr("sum(nn_d2_nano) DIV count(*)").alias("mean_nn_d2_nano"),
            F.min("nn_d2_nano").alias("min_nn_d2_nano"),
            F.max("nn_d2_nano").alias("max_nn_d2_nano"),
        )
    )


def nn_distance_oracle_sql(sample_mod: int = SAMPLE_MOD) -> str:
    """Naive exact oracle: every sampled query scans all non-self tiles."""
    d2 = (
        "((t.lon - q.qlon) * (t.lon - q.qlon) + "
        "(t.lat - q.qlat) * (t.lat - q.qlat))"
    )
    return f"""
nnq AS (
  SELECT i AS query_id, lon AS qlon, lat AS qlat,
         image_id AS q_image_id, tile_kind AS q_kind
  FROM tiles WHERE i % {sample_mod} = 0
),
nnd AS (
  SELECT q.query_id, q.q_kind,
         min(CAST(floor({d2} * 1e12) AS BIGINT)) AS nn_d2_nano
  FROM nnq q JOIN tiles t ON t.image_id <> q.q_image_id
  GROUP BY 1, 2
)
SELECT q_kind AS tile_kind, CAST(count(*) AS BIGINT) AS n_q,
       sum(nn_d2_nano) // count(*) AS mean_nn_d2_nano,
       min(nn_d2_nano) AS min_nn_d2_nano,
       max(nn_d2_nano) AS max_nn_d2_nano
FROM nnd GROUP BY 1"""


# ---------------------------------------------------------------------------
# R71: empirical semivariogram over the cell-count surface
# ---------------------------------------------------------------------------

SV_RES = 7
SV_HMAX = 4
_SV_PACK = 268_435_456


def _sv_offsets(hmax: int = SV_HMAX) -> list[tuple[int, int]]:
    """One-sided Chebyshev offsets 1..hmax: exactly one of (A→B, B→A)
    passes the lexicographic sign test, so every unordered cell pair is
    emitted once — the Knox/zonal_weighted reference-point discipline."""
    return [
        (dx, dy)
        for dx in range(0, hmax + 1)
        for dy in range(-hmax, hmax + 1)
        if (dx, dy) != (0, 0)
        and max(abs(dx), abs(dy)) <= hmax
        and (dx > 0 or (dx == 0 and dy > 0))
    ]


def semivariogram(tiles: DataFrame, res: int = SV_RES, hmax: int = SV_HMAX) -> DataFrame:
    """Empirical semivariogram of the per-cell tile-count surface: for
    Chebyshev lag bands h = 1..hmax at resolution ``res``,
    ``gamma(h) = Σ(v_i − v_j)² / (2·N(h))`` over occupied-cell pairs —
    the geostatistics structure function that justifies the IDW/kriging
    interpolation family (idw_surface): a surface is interpolable when
    gamma rises with h.

    All integer: values are counts, ``gamma_milli = (500·Σsq) DIV N``.
    Scale shape: tiles collapse to the occupied-cell frame FIRST (one
    exchange); the lag fan multiplies #cells by the one-sided offset
    count (40 at hmax=4), never #tiles, and pairs form via a packed-key
    equi-join — the oracle re-derives them all-pairs.
    """
    cells = tiles.groupBy(
        F.expr(grid.ix_sql("lon", res)).alias("cx"),
        F.expr(grid.iy_sql("lat", res)).alias("cy"),
    ).agg(F.count("*").alias("v"))
    offs = ", ".join(f"struct({dx} AS dx, {dy} AS dy)" for dx, dy in _sv_offsets(hmax))
    fan = (
        cells.withColumn("o", F.explode(F.expr(f"array({offs})")))
        .select(
            F.col("v").alias("v1"),
            F.expr("greatest(abs(o.dx), abs(o.dy))").alias("h"),
            F.expr(f"(cx + o.dx) * {_SV_PACK} + (cy + o.dy)").alias("key"),
        )
    )
    home = cells.select(
        F.expr(f"cx * {_SV_PACK} + cy").alias("key"), F.col("v").alias("v2")
    )
    return (
        fan.join(home, "key")
        .groupBy("h")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.expr("(v1 - v2) * (v1 - v2)")).alias("sum_sq"),
        )
        .select(
            "h",
            "n_pairs",
            "sum_sq",
            F.expr("(500 * sum_sq) DIV n_pairs").alias("gamma_milli"),
        )
    )


def semivariogram_oracle_sql(res: int = SV_RES, hmax: int = SV_HMAX) -> str:
    """All-pairs naive mirror (splice after a CTE list providing tiles)."""
    return f"""
sv_cells AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         count(*) AS v
  FROM tiles GROUP BY 1, 2),
sv_pairs AS (
  SELECT GREATEST(abs(a.cx - b.cx), abs(a.cy - b.cy)) AS h,
         (a.v - b.v) * (a.v - b.v) AS sq
  FROM sv_cells a JOIN sv_cells b
    ON (a.cx * {_SV_PACK} + a.cy) < (b.cx * {_SV_PACK} + b.cy)
   AND abs(a.cx - b.cx) <= {hmax} AND abs(a.cy - b.cy) <= {hmax})
SELECT h, count(*) AS n_pairs, SUM(sq) AS sum_sq,
       (500 * SUM(sq)) // count(*) AS gamma_milli
FROM sv_pairs GROUP BY h"""


# ---------------------------------------------------------------------------
# R79: bivariate cross-K (kind × kind interaction ladder)
# ---------------------------------------------------------------------------

def cross_k(tiles: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """Bivariate Ripley cross-K ladder: for every unordered tile-kind
    pair (ka ≤ kb) and each radius of ``RADII_MICRO``, the number of
    cross pairs within the radius plus the pair density in ppm of the
    possible pairs (n_a·n_b cross, C(n_a,2) same-kind) — do two kinds
    attract, repel, or ignore each other?

    Same candidate machinery as ``ripley_k`` (cell-bucketed fan at the
    rmax reach, integer pico-deg² verify, i-order pair dedup); one pass
    feeds the whole radius ladder and every kind pair via conditional
    aggregation. Kind counts broadcast back onto the ~|kinds|² frame.
    """
    rmax_micro = max(RADII_MICRO)
    rmax = rmax_micro * 1e-6
    k = math.ceil(rmax * (1 << res))
    pts = (
        tile_cells(tiles.select("i", "lon", "lat", "tile_kind"), res)
        .withColumn("ix", grid.cell_to_ix(F.col("cell"), res))
        .withColumn("iy", grid.cell_to_iy(F.col("cell")))
    )
    left = pts.withColumn("off", F.explode(grid.disk_offsets_expr(k))).select(
        F.col("i").alias("qi"),
        F.col("lon").alias("qlon"),
        F.col("lat").alias("qlat"),
        F.col("tile_kind").alias("qkind"),
        F.expr(
            grid.cell_from_ixiy_sql("ix + off.dx", "iy + off.dy", res)
        ).alias("cell"),
    )
    pairs = (
        left.join(pts.select("cell", "i", "lon", "lat", "tile_kind"), "cell")
        .where(F.col("i") > F.col("qi"))
        .select(
            F.least("qkind", "tile_kind").alias("ka"),
            F.greatest("qkind", "tile_kind").alias("kb"),
            F.expr(_d2p_sql("qlon", "qlat", "lon", "lat")).alias("d2p"),
        )
        .where(F.col("d2p") <= F.lit(rmax_micro * rmax_micro))
    )
    counts = pairs.groupBy("ka", "kb").agg(
        *[
            F.sum(F.expr(f"CASE WHEN d2p <= {r * r} THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias(f"c{r}")
            for r in RADII_MICRO
        ]
    )
    stacked = ", ".join(f"{r}L, c{r}" for r in RADII_MICRO)
    kc = tiles.groupBy(F.col("tile_kind").alias("kk")).agg(
        F.count("*").alias("nk")
    )
    return (
        counts.select(
            "ka",
            "kb",
            F.expr(
                f"stack({len(RADII_MICRO)}, {stacked}) AS (r_micro, n_pairs)"
            ),
        )
        .join(
            F.broadcast(kc.select(F.col("kk").alias("ka"), F.col("nk").alias("na"))),
            "ka",
        )
        .join(
            F.broadcast(kc.select(F.col("kk").alias("kb"), F.col("nk").alias("nb"))),
            "kb",
        )
        .select(
            "ka",
            "kb",
            "r_micro",
            "n_pairs",
            F.expr(
                "CASE WHEN ka = kb"
                " THEN (1000000 * n_pairs) DIV ((na * (na - 1)) DIV 2)"
                " ELSE (1000000 * n_pairs) DIV (na * nb) END"
            ).alias("dens_ppm"),
        )
    )


def cross_k_oracle_sql() -> str:
    rmax_micro = max(RADII_MICRO)
    band = "0.0081e0"  # same float-safety margin as ripley_k
    radii = ", ".join(f"({r}, {r * r})" for r in RADII_MICRO)
    return f"""
ck_pairs AS (
  SELECT LEAST(t1.tile_kind, t2.tile_kind) AS ka,
         GREATEST(t1.tile_kind, t2.tile_kind) AS kb,
         {_d2p_sql('t1.lon', 't1.lat', 't2.lon', 't2.lat')} AS d2p
  FROM tiles t1 JOIN tiles t2
    ON t2.i > t1.i
   AND t2.lon >= t1.lon - {band} AND t2.lon <= t1.lon + {band}
   AND t2.lat >= t1.lat - {band} AND t2.lat <= t1.lat + {band}
),
ck_in AS (SELECT ka, kb, d2p FROM ck_pairs
          WHERE d2p <= {rmax_micro * rmax_micro}),
ck_radii(r_micro, r2p) AS (VALUES {radii}),
ck_counts AS (
  SELECT ka, kb, r.r_micro,
         CAST(sum(CASE WHEN p.d2p <= r.r2p THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pairs
  FROM ck_in p CROSS JOIN ck_radii r
  GROUP BY 1, 2, 3),
ck_kc AS (SELECT tile_kind AS kk, count(*) AS nk FROM tiles GROUP BY 1)
SELECT c.ka, c.kb, c.r_micro, c.n_pairs,
       CASE WHEN c.ka = c.kb
            THEN (1000000 * c.n_pairs) // ((a.nk * (a.nk - 1)) // 2)
            ELSE (1000000 * c.n_pairs) // (a.nk * b.nk) END AS dens_ppm
FROM ck_counts c
JOIN ck_kc a ON a.kk = c.ka
JOIN ck_kc b ON b.kk = c.kb"""


# ---------------------------------------------------------------------------
# Join-count statistics (Cliff & Ord): the binary-raster autocorrelation
# test. Color every cell of the FULL bounding-box grid (empties included)
# hot/cold by tile count >= thr, count rook-adjacent BB/WW/BW pairs, and
# put the free-sampling CSR expectation next to each observed count —
# observed BB far above expected = the hotspot clustering, quantified on
# the same quotient frame the heatmap uses. The grid is bounded by
# domain/res (scale-independent); tiles aggregate once.
# ---------------------------------------------------------------------------

JC_RES = 7
JC_THR = 2


def join_counts(tiles: DataFrame, res: int = JC_RES, thr: int = JC_THR) -> DataFrame:
    """(pair_kind, n_pairs, expected_milli): rook join counts vs CSR.

    Exactly 3 output rows (BB / WW / BW — kinds are seeded literally so a
    zero-observed color pair still reports its expectation). Expectation
    is exact integer arithmetic: 1000·J·f(nB,nW) DIV (N·(N−1)) with f the
    free-sampling pair weight — no float division anywhere.
    """
    cells = tiles.groupBy(
        F.expr(grid.ix_sql("lon", res)).alias("cx"),
        F.expr(grid.iy_sql("lat", res)).alias("cy"),
    ).agg(F.count("*").alias("n"))
    bounds = cells.agg(
        F.min("cx").alias("x0"), F.max("cx").alias("x1"),
        F.min("cy").alias("y0"), F.max("cy").alias("y1"),
    )
    full = (
        bounds.select(F.explode(F.expr("sequence(x0, x1)")).alias("gx"), "y0", "y1")
        .select("gx", F.explode(F.expr("sequence(y0, y1)")).alias("gy"))
    )
    colored = (
        full.join(cells, (full.gx == cells.cx) & (full.gy == cells.cy), "left")
        .select(
            "gx", "gy",
            F.when(F.coalesce(F.col("n"), F.lit(0)) >= thr, F.lit(1))
            .otherwise(F.lit(0)).alias("hot"),
        )
        .localCheckpoint(eager=False)
    )
    b = colored.select(
        F.col("gx").alias("bx"), F.col("gy").alias("by"), F.col("hot").alias("hb")
    )
    pairs = None
    for dx, dy in ((1, 0), (0, 1)):
        p = colored.join(
            b, (colored.gx + F.lit(dx) == b.bx) & (colored.gy + F.lit(dy) == b.by)
        ).select((F.col("hot") + F.col("hb")).alias("hsum"))
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.withColumn(
        "pair_kind",
        F.expr("CASE hsum WHEN 2 THEN 'BB' WHEN 0 THEN 'WW' ELSE 'BW' END"),
    )
    obs = pairs.groupBy("pair_kind").agg(F.count("*").alias("n_pairs"))
    tot = colored.agg(
        F.count("*").alias("n_all"), F.sum("hot").alias("n_b"),
        (F.count("*") - F.sum("hot")).alias("n_w"),
    )
    j_all = pairs.agg(F.count("*").alias("j_all"))
    kinds = colored.sparkSession.createDataFrame(
        [("BB",), ("WW",), ("BW",)], "pair_kind string"
    )
    return (
        kinds.join(obs, "pair_kind", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(j_all))
        .select(
            "pair_kind",
            F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
            F.expr(
                "(1000 * j_all * (CASE pair_kind WHEN 'BB' THEN n_b * (n_b - 1) "
                "WHEN 'WW' THEN n_w * (n_w - 1) ELSE 2 * n_b * n_w END)) "
                "DIV (n_all * (n_all - 1))"
            ).alias("expected_milli"),
        )
    )


def join_counts_oracle(res: int = JC_RES, thr: int = JC_THR) -> str:
    return f"""jc_cells AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         count(*) AS n
  FROM tiles GROUP BY 1, 2),
jc_b AS (SELECT min(cx) AS x0, max(cx) AS x1, min(cy) AS y0, max(cy) AS y1
         FROM jc_cells),
jc_gx AS (SELECT unnest(generate_series(x0, x1)) AS gx FROM jc_b),
jc_gy AS (SELECT unnest(generate_series(y0, y1)) AS gy FROM jc_b),
jc_col AS (
  SELECT g.gx, g.gy,
         CASE WHEN coalesce(c.n, 0) >= {thr} THEN 1 ELSE 0 END AS hot
  FROM (SELECT gx, gy FROM jc_gx CROSS JOIN jc_gy) g
  LEFT JOIN jc_cells c ON c.cx = g.gx AND c.cy = g.gy),
jc_pairs AS (
  SELECT a.hot + b.hot AS hsum FROM jc_col a
  JOIN jc_col b ON b.gx = a.gx + 1 AND b.gy = a.gy
  UNION ALL
  SELECT a.hot + b.hot FROM jc_col a
  JOIN jc_col b ON b.gx = a.gx AND b.gy = a.gy + 1),
jc_kindrows AS (
  SELECT CASE hsum WHEN 2 THEN 'BB' WHEN 0 THEN 'WW' ELSE 'BW' END AS pair_kind
  FROM jc_pairs),
jc_obs AS (SELECT pair_kind, count(*) AS n_pairs FROM jc_kindrows GROUP BY 1),
jc_tot AS (SELECT count(*) AS n_all, sum(hot) AS n_b,
                  count(*) - sum(hot) AS n_w FROM jc_col),
jc_j AS (SELECT count(*) AS j_all FROM jc_pairs),
jc_kinds(pair_kind) AS (VALUES ('BB'), ('WW'), ('BW'))
SELECT k.pair_kind, coalesce(o.n_pairs, 0) AS n_pairs,
       (1000 * j_all * (CASE k.pair_kind WHEN 'BB' THEN n_b * (n_b - 1)
                        WHEN 'WW' THEN n_w * (n_w - 1)
                        ELSE 2 * n_b * n_w END))
       // (n_all * (n_all - 1)) AS expected_milli
FROM jc_kinds k LEFT JOIN jc_obs o USING (pair_kind)
CROSS JOIN jc_tot CROSS JOIN jc_j"""


# ---------------------------------------------------------------------------
# Quadrat dispersion: the variance-mean ratio over the full bbox grid
# (empty quadrats included — the part naive per-occupied-cell stats get
# wrong). VMR = 1 under CSR; the hotspot corpus is far overdispersed.
# Spelled entirely in cross-multiplied integers: pop variance/mean =
# (N·Σn² − T²)/(N·T), emitted as an integer DIV (plus mean_milli).
# ---------------------------------------------------------------------------


def quadrat_dispersion(tiles: DataFrame, res: int = JC_RES) -> DataFrame:
    """One row: (n_quadrats, n_occupied, total, mean_milli, vmr)."""
    cells = tiles.groupBy(
        F.expr(grid.ix_sql("lon", res)).alias("cx"),
        F.expr(grid.iy_sql("lat", res)).alias("cy"),
    ).agg(F.count("*").alias("n"))
    occ = cells.agg(
        F.count("*").alias("n_occupied"),
        F.sum("n").alias("t_sum"),
        F.sum(F.expr("n * n")).alias("s2"),
        ((F.max("cx") - F.min("cx") + 1) * (F.max("cy") - F.min("cy") + 1))
        .alias("n_quadrats"),
    )
    # Empty quadrats contribute 0 to both T and S2 — the closed form needs
    # only the bbox area, never a generated grid.
    return occ.select(
        "n_quadrats",
        "n_occupied",
        F.col("t_sum").alias("total"),
        F.expr("(1000 * t_sum) DIV n_quadrats").alias("mean_milli"),
        F.expr("(n_quadrats * s2 - t_sum * t_sum) DIV (n_quadrats * t_sum)")
        .alias("vmr"),
    )


def quadrat_dispersion_oracle(res: int = JC_RES) -> str:
    return f"""qd_cells AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         count(*) AS n
  FROM tiles GROUP BY 1, 2),
qd AS (
  SELECT count(*) AS n_occupied, sum(n) AS t_sum, sum(n * n) AS s2,
         (max(cx) - min(cx) + 1) * (max(cy) - min(cy) + 1) AS n_quadrats
  FROM qd_cells)
SELECT n_quadrats, n_occupied, t_sum AS total,
       (1000 * t_sum) // n_quadrats AS mean_milli,
       (n_quadrats * s2 - t_sum * t_sum) // (n_quadrats * t_sum) AS vmr
FROM qd"""


# ---------------------------------------------------------------------------
# Geary's C: the global rank-1 autocorrelation coefficient over the count
# surface, complement of the local Moran suite (zonal.local_moran reports
# per-cell LISA; this is the single global C). C < 1 ⟺ neighbors are more
# similar than chance (the hotspot corpus pins c_milli < 1000).
#
# Aggregate-first discipline (the quadrat closed-form lesson): the full
# bbox grid is NEVER generated. Pairs where both sides are empty contribute
# 0 to Σ w_ij (x_i − x_j)², so only occupied-occupied and occupied-empty
# rook pairs are enumerated — a shifted equi-self-join of the occupied
# frame plus per-direction empty-neighbor probes. The pair count J and the
# grid size N come from closed forms of the bbox (J = 2WH − W − H).
# All-integer: C_milli = (1000·(N−1)·N·SSd) DIV (2J·(N·Σx² − T²)), every
# factor non-negative so Spark DIV == DuckDB //.
# ---------------------------------------------------------------------------


def gearys_c(tiles: DataFrame, res: int = JC_RES) -> DataFrame:
    """One row: (n_quadrats, n_pairs, ssd, c_milli) — global Geary's C
    ×1000 over the res-`res` count raster (empties included via closed
    forms, never materialized)."""
    occ = (
        tiles.groupBy(
            F.expr(grid.ix_sql("lon", res)).alias("cx"),
            F.expr(grid.iy_sql("lat", res)).alias("cy"),
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    bounds = occ.agg(
        F.min("cx").alias("x0"), F.max("cx").alias("x1"),
        F.min("cy").alias("y0"), F.max("cy").alias("y1"),
        F.count("*").alias("n_occ"), F.sum("n").alias("t_sum"),
        F.sum(F.expr("n * n")).alias("s2"),
    )
    b = occ.select(
        F.col("cx").alias("bx"), F.col("cy").alias("by"), F.col("n").alias("nb")
    )
    parts = []
    for dx, dy in ((1, 0), (0, 1)):
        # forward probe: pair (c, c+d). Right side empty-but-in-bbox
        # contributes n²; occupied contributes (n − nb)².
        fwd = (
            occ.join(
                b,
                (occ.cx + F.lit(dx) == b.bx) & (occ.cy + F.lit(dy) == b.by),
                "left",
            )
            .crossJoin(F.broadcast(bounds.select("x0", "x1", "y0", "y1")))
            .where(
                (F.col("cx") + F.lit(dx) <= F.col("x1"))
                & (F.col("cy") + F.lit(dy) <= F.col("y1"))
            )
            .select(
                F.when(
                    F.col("nb").isNull(), F.expr("n * n")
                ).otherwise(F.expr("(n - nb) * (n - nb)")).alias("d2")
            )
        )
        # backward probe: pair (c−d, c) with the LEFT side empty (the
        # both-occupied case was already counted by the forward probe of
        # the left cell).
        bwd = (
            occ.join(
                b,
                (occ.cx - F.lit(dx) == b.bx) & (occ.cy - F.lit(dy) == b.by),
                "left",
            )
            .crossJoin(F.broadcast(bounds.select("x0", "x1", "y0", "y1")))
            .where(
                F.col("nb").isNull()
                & (F.col("cx") - F.lit(dx) >= F.col("x0"))
                & (F.col("cy") - F.lit(dy) >= F.col("y0"))
            )
            .select(F.expr("n * n").alias("d2"))
        )
        parts.append(fwd)
        parts.append(bwd)
    ssd_df = parts[0]
    for p in parts[1:]:
        ssd_df = ssd_df.unionByName(p)
    ssd = ssd_df.agg(F.coalesce(F.sum("d2"), F.lit(0)).alias("ssd"))
    return (
        bounds.crossJoin(F.broadcast(ssd))
        .select(
            F.expr("(x1 - x0 + 1) * (y1 - y0 + 1)").alias("n_quadrats"),
            F.expr(
                "2 * (x1 - x0 + 1) * (y1 - y0 + 1) - (x1 - x0 + 1) - (y1 - y0 + 1)"
            ).alias("n_pairs"),
            "ssd",
            F.expr(
                "(1000 * ((x1 - x0 + 1) * (y1 - y0 + 1) - 1)"
                " * ((x1 - x0 + 1) * (y1 - y0 + 1)) * ssd)"
                " DIV (2 * (2 * (x1 - x0 + 1) * (y1 - y0 + 1)"
                " - (x1 - x0 + 1) - (y1 - y0 + 1))"
                " * ((x1 - x0 + 1) * (y1 - y0 + 1) * s2 - t_sum * t_sum))"
            ).alias("c_milli"),
        )
    )


def gearys_c_oracle(res: int = JC_RES) -> str:
    """Naive-but-exact oracle: the full bbox grid IS generated (empties as
    0 rows), one-sided rook pairs by self-join — independent of the
    engine's aggregate-first shortcut."""
    return f"""gc_cells AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         count(*) AS n
  FROM tiles GROUP BY 1, 2),
gc_b AS (SELECT min(cx) AS x0, max(cx) AS x1, min(cy) AS y0, max(cy) AS y1
         FROM gc_cells),
gc_full AS (
  SELECT gx, gy, coalesce(c.n, 0) AS x
  FROM (SELECT unnest(generate_series(x0, x1)) AS gx FROM gc_b) a
  CROSS JOIN (SELECT unnest(generate_series(y0, y1)) AS gy FROM gc_b) b
  LEFT JOIN gc_cells c ON c.cx = gx AND c.cy = gy),
gc_pairs AS (
  SELECT (a.x - b.x) * (a.x - b.x) AS d2 FROM gc_full a
  JOIN gc_full b ON b.gx = a.gx + 1 AND b.gy = a.gy
  UNION ALL
  SELECT (a.x - b.x) * (a.x - b.x) FROM gc_full a
  JOIN gc_full b ON b.gx = a.gx AND b.gy = a.gy + 1),
gc_n AS (SELECT count(*) AS n_all, sum(x) AS t_sum, sum(x * x) AS s2
         FROM gc_full),
gc_j AS (SELECT count(*) AS j_all, sum(d2) AS ssd FROM gc_pairs)
SELECT n_all AS n_quadrats, j_all AS n_pairs, ssd,
       (1000 * (n_all - 1) * n_all * ssd)
         // (2 * j_all * (n_all * s2 - t_sum * t_sum)) AS c_milli
FROM gc_n CROSS JOIN gc_j"""


# ---------------------------------------------------------------------------
# R130: distance-banded Gabriel graph (Gabriel & Sokal 1969 — the classic
# proximity graph of geographic-variation analysis; public literature).
# Edge (u, v) exists iff NO point w lies strictly inside the circle with
# diameter uv. Over integer grid cells the witness test is exact:
#   (2·wx − (ux+vx))² + (2·wy − (uy+vy))² < d²(u, v)
# (doubled coordinates keep the midpoint integral — the engine-round()
# lesson never arises because no division exists).
#
# Scale shape: edges are banded to d² ≤ GB_D2MAX (the radius_join spec
# discipline — unbounded Gabriel edges need unbounded search; the banded
# graph is the spec, and the oracle computes the SAME band naively). Pair
# candidates come from the one-sided packed-key offset fan (semivariogram
# discipline), and the witness search exploits that the witness CONDITION
# is pure offset arithmetic: for each pair offset (dx, dy) the valid
# witness offsets are precomputed in Python (≤ 6 per pair offset; pair
# offsets with d² ≤ 2 admit NO integer witness and are unconditional
# edges), so the Spark side never scans a disk — it equi-joins the
# pruned witness fan against the occupied frame and anti-joins pairs
# with ≥ 1 occupied witness. The naive all-pairs NOT EXISTS oracle
# independently proves both the pair band and the witness-fan pruning
# lossless.
# ---------------------------------------------------------------------------

GB_RES = 8
GB_D2MAX = 9  # band: edges up to squared cell distance 9 (3 cells)
_GB_PACK = 268_435_456


def _gb_pair_offsets(d2max: int = GB_D2MAX) -> list[tuple[int, int]]:
    r = int(d2max ** 0.5)
    return [
        (dx, dy)
        for dx in range(0, r + 1)
        for dy in range(-r, r + 1)
        if (dx, dy) != (0, 0)
        and dx * dx + dy * dy <= d2max
        and (dx > 0 or (dx == 0 and dy > 0))
    ]


def _gb_witnesses(dx: int, dy: int) -> list[tuple[int, int]]:
    """Integer offsets w (relative to u) strictly inside the circle with
    diameter (u, u+(dx,dy)) — the only cells whose occupancy can kill the
    edge. |w| < d ⇒ Chebyshev ≤ floor(sqrt(d2max))."""
    r = int(GB_D2MAX ** 0.5)
    return [
        (ox, oy)
        for ox in range(-r, r + 1)
        for oy in range(-r, r + 1)
        if (2 * ox - dx) ** 2 + (2 * oy - dy) ** 2 < dx * dx + dy * dy
    ]


def gabriel_graph(tiles: DataFrame, res: int = GB_RES) -> DataFrame:
    """(ux, uy, vx, vy, d2) — one row per banded Gabriel edge over the
    occupied res-``res`` cells, each unordered pair emitted once."""
    occ = (
        tiles.select(
            F.expr(grid.ix_sql("lon", res)).alias("cx"),
            F.expr(grid.iy_sql("lat", res)).alias("cy"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    home = occ.select(F.expr(f"cx * {_GB_PACK} + cy").alias("key"))
    offs = ", ".join(
        f"struct({dx} AS dx, {dy} AS dy, array({ws}) AS ws)"
        for dx, dy in _gb_pair_offsets()
        for ws in [
            ", ".join(
                f"struct({ox} AS ox, {oy} AS oy)"
                for ox, oy in _gb_witnesses(dx, dy)
            )
            or "struct(CAST(NULL AS INT) AS ox, CAST(NULL AS INT) AS oy)"
        ]
    )
    pairs = (
        occ.withColumn("o", F.explode(F.expr(f"array({offs})")))
        .select(
            F.col("cx").alias("ux"),
            F.col("cy").alias("uy"),
            F.expr("cx + o.dx").alias("vx"),
            F.expr("cy + o.dy").alias("vy"),
            F.expr("o.dx * o.dx + o.dy * o.dy").alias("d2"),
            F.col("o.ws").alias("ws"),
            F.expr(f"(cx + o.dx) * {_GB_PACK} + (cy + o.dy)").alias("key"),
        )
        .join(home, "key")
        .drop("key")
    )
    wfan = (
        pairs.select("ux", "uy", "vx", "vy", F.explode("ws").alias("w"))
        .where(F.col("w.ox").isNotNull())
        .select(
            "ux", "uy", "vx", "vy",
            F.expr(f"(ux + w.ox) * {_GB_PACK} + (uy + w.oy)").alias("key"),
        )
    )
    killed = (
        wfan.join(home, "key")
        .select("ux", "uy", "vx", "vy")
        .distinct()
    )
    return pairs.drop("ws").join(
        killed, ["ux", "uy", "vx", "vy"], "left_anti"
    )


def gabriel_oracle_sql(res: int = GB_RES, d2max: int = GB_D2MAX) -> str:
    """Naive mirror: all-pairs band join + NOT EXISTS witness over ALL
    occupied cells (splice after a CTE list providing tiles)."""
    return f"""
gb_occ AS (
  SELECT DISTINCT {grid.ix_sql('lon', res)} AS cx,
                  {grid.iy_sql('lat', res)} AS cy
  FROM tiles),
gb_pairs AS (
  SELECT a.cx AS ux, a.cy AS uy, b.cx AS vx, b.cy AS vy,
         (a.cx - b.cx) * (a.cx - b.cx)
           + (a.cy - b.cy) * (a.cy - b.cy) AS d2
  FROM gb_occ a JOIN gb_occ b
    ON (b.cx > a.cx OR (b.cx = a.cx AND b.cy > a.cy))
   AND abs(a.cx - b.cx) <= {int(d2max ** 0.5)}
   AND abs(a.cy - b.cy) <= {int(d2max ** 0.5)}
   AND (a.cx - b.cx) * (a.cx - b.cx)
         + (a.cy - b.cy) * (a.cy - b.cy) <= {d2max})
SELECT ux, uy, vx, vy, d2 FROM gb_pairs p
WHERE NOT EXISTS (
  SELECT 1 FROM gb_occ w
  WHERE (2 * w.cx - (p.ux + p.vx)) * (2 * w.cx - (p.ux + p.vx))
      + (2 * w.cy - (p.uy + p.vy)) * (2 * w.cy - (p.uy + p.vy)) < p.d2)"""


# ---------------------------------------------------------------------------
# R144: Duncan dissimilarity index (Duncan & Duncan 1955, public) — the
# classic segregation statistic, here between every pair of tile kinds
# over the res-7 cell partition:
#     D(A,B) = ½ Σ_i |a_i/A − b_i/B|
# made exact-integer by the common-denominator form
#     d_milli = (500 · Σ_i |a_i·B − b_i·A|) DIV (A·B)
# (Σ|a·B − b·A| ≤ 2AB, so d_milli ∈ [0, 1000]). Cells where only one
# kind occurs still contribute, so the per-cell counts are densified
# against the (occupied cell × kind) frame — bounded by the zone
# dimension, not the tile count. One tile groupBy produces the counts;
# everything after operates on the cells×kinds dimension frame (at 100 TB
# the heavy side is touched exactly once).
# ---------------------------------------------------------------------------


def dissimilarity(tiles: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(kind_a, kind_b, d_milli) for every unordered kind pair."""
    cell = grid.cell_sql("lon", "lat", res)
    counts = (
        tiles.selectExpr(f"{cell} AS cell", "tile_kind")
        .groupBy("cell", "tile_kind")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    cells = counts.select("cell").distinct()
    kinds = counts.select("tile_kind").distinct()
    totals = counts.groupBy("tile_kind").agg(F.sum("c").alias("tot"))
    dense = (
        cells.crossJoin(F.broadcast(kinds))
        .join(counts, ["cell", "tile_kind"], "left")
        .selectExpr("cell", "tile_kind", "coalesce(c, CAST(0 AS BIGINT)) AS c")
        .join(F.broadcast(totals), "tile_kind")
    )
    l = dense.selectExpr(
        "cell", "tile_kind AS kind_a", "c AS ca", "tot AS ta"
    )
    r = dense.selectExpr(
        "cell", "tile_kind AS kind_b", "c AS cb", "tot AS tb"
    )
    return (
        l.join(r, "cell")
        .where(F.col("kind_a") < F.col("kind_b"))
        .groupBy("kind_a", "kind_b")
        .agg(
            F.expr("sum(abs(ca * tb - cb * ta))").alias("num"),
            F.min("ta").alias("ta"),
            F.min("tb").alias("tb"),
        )
        .selectExpr(
            "kind_a", "kind_b", "(500 * num) DIV (ta * tb) AS d_milli"
        )
    )


def dissimilarity_oracle_sql(res: int = DEFAULT_RES) -> str:
    """Body SQL over the ``tiles`` view (caller prepends the synth CTEs)."""
    cell = grid.cell_sql("lon", "lat", res)
    return f"""
dis_counts AS (
  SELECT {cell} AS cell, tile_kind, count(*) AS c
  FROM tiles GROUP BY 1, 2
),
dis_dense AS (
  SELECT cells.cell, kinds.tile_kind, coalesce(dc.c, CAST(0 AS BIGINT)) AS c,
         tot.tot
  FROM (SELECT DISTINCT cell FROM dis_counts) cells
  CROSS JOIN (SELECT DISTINCT tile_kind FROM dis_counts) kinds
  LEFT JOIN dis_counts dc
    ON dc.cell = cells.cell AND dc.tile_kind = kinds.tile_kind
  JOIN (SELECT tile_kind, sum(c) AS tot FROM dis_counts GROUP BY 1) tot
    ON tot.tile_kind = kinds.tile_kind
)
SELECT l.tile_kind AS kind_a, r.tile_kind AS kind_b,
       (500 * sum(abs(l.c * r.tot - r.c * l.tot)))
         // (min(l.tot) * min(r.tot)) AS d_milli
FROM dis_dense l JOIN dis_dense r
  ON r.cell = l.cell AND l.tile_kind < r.tile_kind
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# R148: colocation participation ratios (Shekhar & Huang 2001, public) —
# the spatial association-mining statistic: for each ORDERED kind pair
# (A, B), the fraction of A tiles that share a res-8 cell with at least
# one B tile:
#     pr_milli(A→B) = 1000 · |{a ∈ A : ∃ b ∈ B in cell(a)}| DIV |A|
# (the participation index of the pair is min of the two directions —
# both directions are emitted). Counts per (cell, kind) and the kind
# presence set are two rollups of one tile groupBy; the pair fan happens
# on the bounded cells×kinds dimension frame, never on tiles.
# ---------------------------------------------------------------------------


def participation_ratios(tiles: DataFrame, res: int = 8) -> DataFrame:
    """(kind_a, kind_b, with_b, total_a, pr_milli) per ordered kind pair."""
    cell = grid.cell_sql("lon", "lat", res)
    ck = (
        tiles.selectExpr(f"{cell} AS cell", "tile_kind")
        .groupBy("cell", "tile_kind")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    totals = ck.groupBy(F.col("tile_kind").alias("kind_a")).agg(
        F.sum("c").alias("total_a")
    )
    pres = ck.selectExpr("cell", "tile_kind AS kind_b")
    hits = (
        ck.selectExpr("cell", "tile_kind AS kind_a", "c")
        .join(pres, "cell")
        .where(F.col("kind_a") != F.col("kind_b"))
        .groupBy("kind_a", "kind_b")
        .agg(F.sum("c").alias("with_b"))
    )
    return (
        totals.join(hits, "kind_a")
        .selectExpr(
            "kind_a", "kind_b", "with_b", "total_a",
            "(1000 * with_b) DIV total_a AS pr_milli",
        )
    )


def participation_oracle_sql(res: int = 8) -> str:
    cell = grid.cell_sql("lon", "lat", res)
    return f"""
pi_ck AS (
  SELECT {cell} AS cell, tile_kind, count(*) AS c
  FROM tiles GROUP BY 1, 2
),
pi_tot AS (SELECT tile_kind AS kind_a, sum(c) AS total_a FROM pi_ck GROUP BY 1),
pi_hits AS (
  SELECT a.tile_kind AS kind_a, b.tile_kind AS kind_b, sum(a.c) AS with_b
  FROM pi_ck a JOIN pi_ck b
    ON b.cell = a.cell AND b.tile_kind != a.tile_kind
  GROUP BY 1, 2
)
SELECT h.kind_a, h.kind_b, h.with_b, t.total_a,
       (1000 * h.with_b) // t.total_a AS pr_milli
FROM pi_hits h JOIN pi_tot t ON t.kind_a = h.kind_a
"""


# ---------------------------------------------------------------------------
# R179: region composition similarity — "find me neighborhoods that look
# alike": per res-4 block, the tile-kind mix; between every block pair,
# the total-variation distance of the two compositions in exact integers
# (tv_pm = 500·Σ_k|a_k·T_b − b_k·T_a| DIV (T_a·T_b)); report the top-20
# most similar pairs. The transpose of the Duncan dissimilarity index
# (that compares KINDS over cells; this compares REGIONS over kinds).
# Scale: ONE tile groupBy; the pair fan runs on the ~90-block dimension
# frame densified against the 7-kind dimension — never on tiles. Regions
# are coarse BY CONSTRUCTION, so the dimension-side all-pairs stays
# bounded at any data scale.
# ---------------------------------------------------------------------------

RSIM_RES = 4
RSIM_MIN_T = 10
RSIM_TOPK = 20


def region_similarity(tiles: DataFrame, res: int = RSIM_RES) -> DataFrame:
    """(rank, cell_a, cell_b, t_a, t_b, tv_pm): top-RSIM_TOPK most
    similar region pairs by composition TV distance."""
    cnt = (
        tiles.groupBy(
            F.expr(grid.cell_sql("lon", "lat", res)).alias("cell"),
            "tile_kind",
        )
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = (
        cnt.groupBy("cell")
        .agg(F.sum("c").cast("bigint").alias("t"))
        .where(F.col("t") >= RSIM_MIN_T)
    )
    kinds = cnt.select("tile_kind").dropDuplicates(["tile_kind"])
    dens = (
        tot.crossJoin(F.broadcast(kinds))
        .join(cnt, ["cell", "tile_kind"], "left")
        .selectExpr(
            "cell", "t", "tile_kind",
            "CAST(coalesce(c, 0) AS BIGINT) AS c",
        )
    )
    a = dens.selectExpr("cell AS cell_a", "t AS t_a", "tile_kind", "c AS c_a")
    b = dens.selectExpr("cell AS cell_b", "t AS t_b", "tile_kind", "c AS c_b")
    pairs = (
        a.join(b, "tile_kind")
        .where(F.col("cell_a") < F.col("cell_b"))
        .groupBy("cell_a", "cell_b", "t_a", "t_b")
        .agg(
            F.expr("CAST(sum(abs(c_a * t_b - c_b * t_a)) AS BIGINT)")
            .alias("sum_abs")
        )
        .selectExpr(
            "cell_a", "cell_b", "t_a", "t_b",
            "(500 * sum_abs) DIV (t_a * t_b) AS tv_pm",
        )
    )
    return (
        pairs.selectExpr(
            "*",
            "CAST(row_number() OVER (ORDER BY tv_pm, cell_a, cell_b)"
            " AS BIGINT) AS rank",
        )
        .where(F.col("rank") <= RSIM_TOPK)
        .select("rank", "cell_a", "cell_b", "t_a", "t_b", "tv_pm")
    )


def region_similarity_oracle(res: int = RSIM_RES) -> str:
    """Requires the spliced tiles CTE."""
    return f"""rs_cnt AS (
  SELECT {grid.cell_sql('lon', 'lat', res)} AS cell, tile_kind,
         count(*) AS c
  FROM tiles GROUP BY 1, 2),
rs_tot AS (
  SELECT cell, CAST(sum(c) AS BIGINT) AS t FROM rs_cnt GROUP BY 1
  HAVING sum(c) >= {RSIM_MIN_T}),
rs_kinds AS (SELECT DISTINCT tile_kind FROM rs_cnt),
rs_dens AS (
  SELECT t.cell, t.t, k.tile_kind,
         CAST(coalesce(c.c, 0) AS BIGINT) AS c
  FROM rs_tot t CROSS JOIN rs_kinds k
  LEFT JOIN rs_cnt c ON c.cell = t.cell AND c.tile_kind = k.tile_kind),
rs_pairs AS (
  SELECT a.cell AS cell_a, b.cell AS cell_b, a.t AS t_a, b.t AS t_b,
         (500 * CAST(sum(abs(a.c * b.t - b.c * a.t)) AS BIGINT))
           // (a.t * b.t) AS tv_pm
  FROM rs_dens a JOIN rs_dens b
    ON b.tile_kind = a.tile_kind AND a.cell < b.cell
  GROUP BY 1, 2, 3, 4)
SELECT CAST(row_number() OVER (ORDER BY tv_pm, cell_a, cell_b) AS BIGINT)
         AS rank,
       cell_a, cell_b, t_a, t_b, tv_pm
FROM rs_pairs QUALIFY rank <= {RSIM_TOPK}"""


# ---------------------------------------------------------------------------
# R285: geographically weighted regression (GWR) over the cell surface
# ---------------------------------------------------------------------------
#
# The spatially-varying-coefficient workhorse of geospatial analytics
# (Fotheringham/Brunsdon/Charlton; ArcGIS "GWR" tool): per focal cell, a
# KERNEL-WEIGHTED local OLS of the density surface (y, per-mille of the
# max cell count — hard-bounded <= 1000 at ANY scale) on squared grid
# distance to the nearest hotspot (x), with a triangular-squared kernel
# w = (H+1-cheb)^2 on the Chebyshev ring distance. Where density decays
# with hotspot distance the local slope is negative near hotspots and
# ~0 in the flat background — the relationship VARIES in space, which is
# the whole point of GWR over global OLS (ols_trend's spatial sibling).
#
# Exact integers throughout: slope = (Sw*Swxy - Swx*Swy)/(Sw*Swxx -
# Swx^2), emitted as sign + (1000*|num|) DIV den. Worst-case budget at
# ANY SF (y <= 1000 by construction, x <= ~8e4 within the span, w <= 25,
# <= 81 neighbors): num <= 2025 * 1.6e11 ~ 3.3e14, 1000x ~ 3.3e17 < 2^63.
#
# Scale shape: tiles collapse to the occupied-cell frame FIRST (one
# map-side-partial exchange); the 81-offset two-sided fan multiplies
# CELLS, never tiles; neighbors attach via one packed-key equi-join and
# aggregate in-stream (pair rows die inside the join stage — the
# density-quadratic discipline). The oracle re-derives all of it with a
# naive |dx|<=H all-pairs self-join.

GWR_RES = 7
GWR_H = 4  # Chebyshev kernel radius (bandwidth)
GWR_MIN_N = 5  # focal cells need >= 5 occupied neighbors for a fit


def _gwr_hotspot_cells(res: int = GWR_RES) -> list[tuple[int, int]]:
    from .. import synth

    return [
        (
            math.floor((lon + 180.0) * (1 << res)),
            math.floor((lat + 90.0) * (1 << res)),
        )
        for lon, lat in synth.HOTSPOTS
    ]


def _gwr_x_sql(cx: str, cy: str, res: int = GWR_RES) -> str:
    """Squared grid distance to the NEAREST hotspot — integer, exact."""
    terms = [
        f"(({cx} - {hx}) * ({cx} - {hx}) + ({cy} - {hy}) * ({cy} - {hy}))"
        for hx, hy in _gwr_hotspot_cells(res)
    ]
    return f"LEAST({', '.join(terms)})"


def gwr_local(
    tiles: DataFrame, res: int = GWR_RES, h: int = GWR_H
) -> DataFrame:
    cells = (
        tiles.groupBy(
            F.expr(grid.ix_sql("lon", res)).alias("cx"),
            F.expr(grid.iy_sql("lat", res)).alias("cy"),
        )
        .agg(F.count("*").alias("nv"))
        .localCheckpoint(eager=False)
    )
    vmax = cells.agg(F.max("nv").alias("vmax"))
    pts = cells.crossJoin(F.broadcast(vmax)).selectExpr(
        "cx", "cy",
        f"{_gwr_x_sql('cx', 'cy', res)} AS x",
        "(1000 * nv) DIV vmax AS y",
    )
    offs = ", ".join(
        f"struct({dx} AS dx, {dy} AS dy)"
        for dx in range(-h, h + 1)
        for dy in range(-h, h + 1)
    )
    hp1 = h + 1
    fan = (
        pts.withColumn("o", F.explode(F.expr(f"array({offs})")))
        .selectExpr(
            f"(cx + o.dx) * {_SV_PACK} + (cy + o.dy) AS key",
            f"({hp1} - greatest(abs(o.dx), abs(o.dy)))"
            f" * ({hp1} - greatest(abs(o.dx), abs(o.dy))) AS w",
            "x", "y",
        )
    )
    focal = pts.selectExpr(
        f"cx * {_SV_PACK} + cy AS key", "cx AS fcx", "cy AS fcy"
    )
    agg = (
        fan.join(focal, "key")
        .groupBy("fcx", "fcy")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_local"),
            F.expr("CAST(sum(w) AS BIGINT)").alias("sw"),
            F.expr("CAST(sum(w * x) AS BIGINT)").alias("swx"),
            F.expr("CAST(sum(w * y) AS BIGINT)").alias("swy"),
            F.expr("CAST(sum(w * x * y) AS BIGINT)").alias("swxy"),
            F.expr("CAST(sum(w * x * x) AS BIGINT)").alias("swxx"),
        )
        .where(f"n_local >= {GWR_MIN_N}")
    )
    return agg.selectExpr(
        "fcx AS cx", "fcy AS cy", "n_local", "sw",
        "CAST(CASE WHEN sw * swxy - swx * swy >= 0 THEN 1 ELSE -1 END"
        " AS BIGINT) AS slope_sign",
        "CAST((1000 * abs(sw * swxy - swx * swy))"
        " DIV GREATEST(sw * swxx - swx * swx, CAST(1 AS BIGINT))"
        " AS BIGINT) AS slope_abs_milli",
    )


def gwr_oracle_sql(res: int = GWR_RES, h: int = GWR_H) -> str:
    """Naive all-pairs mirror (splice after a CTE list providing tiles)."""
    hp1 = h + 1
    return f"""
gw_cells AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         count(*) AS nv
  FROM tiles GROUP BY 1, 2),
gw_pts AS (
  SELECT cx, cy, {_gwr_x_sql('cx', 'cy', res)} AS x,
         (1000 * nv) // (SELECT max(nv) FROM gw_cells) AS y
  FROM gw_cells),
gw_agg AS (
  SELECT f.cx, f.cy, CAST(count(*) AS BIGINT) AS n_local,
         CAST(sum(({hp1} - GREATEST(abs(f.cx - b.cx), abs(f.cy - b.cy)))
           * ({hp1} - GREATEST(abs(f.cx - b.cx), abs(f.cy - b.cy))))
           AS BIGINT) AS sw,
         CAST(sum(({hp1} - GREATEST(abs(f.cx - b.cx), abs(f.cy - b.cy)))
           * ({hp1} - GREATEST(abs(f.cx - b.cx), abs(f.cy - b.cy)))
           * b.x) AS BIGINT) AS swx,
         CAST(sum(({hp1} - GREATEST(abs(f.cx - b.cx), abs(f.cy - b.cy)))
           * ({hp1} - GREATEST(abs(f.cx - b.cx), abs(f.cy - b.cy)))
           * b.y) AS BIGINT) AS swy,
         CAST(sum(({hp1} - GREATEST(abs(f.cx - b.cx), abs(f.cy - b.cy)))
           * ({hp1} - GREATEST(abs(f.cx - b.cx), abs(f.cy - b.cy)))
           * b.x * b.y) AS BIGINT) AS swxy,
         CAST(sum(({hp1} - GREATEST(abs(f.cx - b.cx), abs(f.cy - b.cy)))
           * ({hp1} - GREATEST(abs(f.cx - b.cx), abs(f.cy - b.cy)))
           * b.x * b.x) AS BIGINT) AS swxx
  FROM gw_pts f JOIN gw_pts b
    ON abs(f.cx - b.cx) <= {h} AND abs(f.cy - b.cy) <= {h}
  GROUP BY 1, 2
  HAVING count(*) >= {GWR_MIN_N})
SELECT cx, cy, n_local, sw,
       CAST(CASE WHEN sw * swxy - swx * swy >= 0 THEN 1 ELSE -1 END
         AS BIGINT) AS slope_sign,
       CAST((1000 * abs(sw * swxy - swx * swy))
         // GREATEST(sw * swxx - swx * swx, 1) AS BIGINT)
         AS slope_abs_milli
FROM gw_agg"""


# ---------------------------------------------------------------------------
# R301: ordinary-kriging LOOCV — the geostatistics capstone beside
# idw_surface / idw_loo_error / semivariogram / directional_variogram:
# leave-one-out cross-validation of a 2-neighbor ordinary-kriging
# predictor on the res-7 density surface (per-mille of max). With a
# LINEAR variogram gamma(h) = h (Chebyshev h — the semivariogram family's
# metric) the 2-point OK system has the exact rational solution
#   w1 = (g12 - d1 + d2) / (2*g12),  w2 = (g12 + d1 - d2) / (2*g12)
# and the triangle inequality |d1 - d2| <= g12 makes BOTH weights
# non-negative — every compared quantity is a non-negative integer
# (no negative DIV ever). Prediction = (a1*z1 + a2*z2) DIV (2*g12),
# a_i the weight numerators. Beats the 1-NN and global-mean baselines
# carried in the same row iff the surface is spatially structured —
# which the semivariogram already certifies.
#
# Scale shape: obs = the bounded occupied-cell quotient; candidates via
# the 48-offset Chebyshev<=3 fan + packed-key equi-join (never
# all-pairs); per-focal top-2 is a window over the bounded cell frame.
# ---------------------------------------------------------------------------

KRG_RES = 7
KRG_H = 3


def _krg_offsets(h: int = KRG_H) -> list[tuple[int, int]]:
    return [
        (dx, dy)
        for dx in range(-h, h + 1)
        for dy in range(-h, h + 1)
        if (dx, dy) != (0, 0)
    ]


def kriging_loo(
    tiles: DataFrame, res: int = KRG_RES, h: int = KRG_H
) -> DataFrame:
    from pyspark.sql import Window

    cells = (
        tiles.groupBy(
            F.expr(grid.ix_sql("lon", res)).alias("cx"),
            F.expr(grid.iy_sql("lat", res)).alias("cy"),
        )
        .agg(F.count("*").alias("nv"))
        .localCheckpoint(eager=False)
    )
    vmax = cells.agg(F.max("nv").alias("vmax"))
    obs = (
        cells.crossJoin(F.broadcast(vmax))
        .selectExpr("cx", "cy", "(1000 * nv) DIV vmax AS z")
        .localCheckpoint(eager=False)
    )
    offs = ", ".join(
        f"struct({dx} AS dx, {dy} AS dy)" for dx, dy in _krg_offsets(h)
    )
    fan = obs.withColumn(
        "o", F.explode(F.expr(f"array({offs})"))
    ).selectExpr(
        "cx AS fcx", "cy AS fcy", "z AS fz",
        f"(cx + o.dx) * {_SV_PACK} + (cy + o.dy) AS nkey",
        "greatest(abs(o.dx), abs(o.dy)) AS d",
    )
    nbr = obs.selectExpr(
        f"cx * {_SV_PACK} + cy AS nkey",
        "cx AS nx", "cy AS ny", "z AS nz",
    )
    cand = fan.join(nbr, "nkey")
    w = Window.partitionBy("fcx", "fcy").orderBy("d", "nkey")
    top2 = cand.withColumn("rn", F.row_number().over(w)).where("rn <= 2")
    n1 = top2.where("rn = 1").selectExpr(
        "fcx", "fcy", "fz", "d AS d1", "nx AS x1", "ny AS y1",
        "nz AS z1",
    )
    n2 = top2.where("rn = 2").selectExpr(
        "fcx AS fcx2", "fcy AS fcy2", "d AS d2", "nx AS x2",
        "ny AS y2", "nz AS z2",
    )
    ev = (
        n1.join(
            n2, F.expr("fcx = fcx2 AND fcy = fcy2")
        )
        .selectExpr(
            "fz", "z1",
            "greatest(abs(x1 - x2), abs(y1 - y2)) AS g12",
            "d1", "d2", "z2",
        )
        .selectExpr(
            "fz", "z1",
            "((g12 - d1 + d2) * z1 + (g12 + d1 - d2) * z2)"
            " DIV (2 * g12) AS pred",
        )
    )
    mu = obs.agg(
        F.expr("CAST(sum(z) AS BIGINT) DIV count(*)").alias("mu"),
        F.expr("CAST(count(*) AS BIGINT)").alias("n_obs"),
    )
    return (
        ev.crossJoin(F.broadcast(mu))
        .groupBy("n_obs")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_eval"),
            F.expr("CAST(sum(abs(fz - pred)) AS BIGINT)").alias(
                "sae_krig"
            ),
            F.expr("CAST(sum(abs(fz - z1)) AS BIGINT)").alias(
                "sae_nn1"
            ),
            F.expr("CAST(sum(abs(fz - mu)) AS BIGINT)").alias(
                "sae_mean"
            ),
        )
        .selectExpr(
            "n_obs", "n_eval", "sae_krig", "sae_nn1", "sae_mean",
            "CAST((1000 * sae_krig) DIV n_eval AS BIGINT)"
            " AS mae_krig_milli",
            "CAST((1000 * sae_nn1) DIV n_eval AS BIGINT)"
            " AS mae_nn1_milli",
            "CAST((1000 * sae_mean) DIV n_eval AS BIGINT)"
            " AS mae_mean_milli",
        )
    )


def kriging_oracle_sql(res: int = KRG_RES, h: int = KRG_H) -> str:
    """Naive theta-join mirror (splice after a CTE list providing tiles)."""
    return f"""
kr_cells AS (
  SELECT {grid.ix_sql('lon', res)} AS cx, {grid.iy_sql('lat', res)} AS cy,
         count(*) AS nv
  FROM tiles GROUP BY 1, 2),
kr_obs AS (
  SELECT cx, cy,
         (1000 * nv) // (SELECT max(nv) FROM kr_cells) AS z
  FROM kr_cells),
kr_cand AS (
  SELECT f.cx AS fcx, f.cy AS fcy, f.z AS fz,
         b.cx AS nx, b.cy AS ny, b.z AS nz,
         GREATEST(abs(f.cx - b.cx), abs(f.cy - b.cy)) AS d,
         row_number() OVER (
           PARTITION BY f.cx, f.cy
           ORDER BY GREATEST(abs(f.cx - b.cx), abs(f.cy - b.cy)),
                    b.cx * {_SV_PACK} + b.cy) AS rn
  FROM kr_obs f JOIN kr_obs b
    ON abs(f.cx - b.cx) <= {h} AND abs(f.cy - b.cy) <= {h}
   AND NOT (f.cx = b.cx AND f.cy = b.cy)),
kr_ev AS (
  SELECT a.fz, a.nz AS z1,
         ((GREATEST(abs(a.nx - b.nx), abs(a.ny - b.ny))
             - a.d + b.d) * a.nz
          + (GREATEST(abs(a.nx - b.nx), abs(a.ny - b.ny))
             + a.d - b.d) * b.nz)
           // (2 * GREATEST(abs(a.nx - b.nx), abs(a.ny - b.ny)))
           AS pred
  FROM kr_cand a JOIN kr_cand b
    ON b.fcx = a.fcx AND b.fcy = a.fcy AND a.rn = 1 AND b.rn = 2),
kr_mu AS (
  SELECT CAST(sum(z) AS BIGINT) // count(*) AS mu,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM kr_obs),
kr_agg AS (
  SELECT m.n_obs, CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum(abs(e.fz - e.pred)) AS BIGINT) AS sae_krig,
         CAST(sum(abs(e.fz - e.z1)) AS BIGINT) AS sae_nn1,
         CAST(sum(abs(e.fz - m.mu)) AS BIGINT) AS sae_mean
  FROM kr_ev e CROSS JOIN kr_mu m GROUP BY 1)
SELECT n_obs, n_eval, sae_krig, sae_nn1, sae_mean,
       CAST((1000 * sae_krig) // n_eval AS BIGINT) AS mae_krig_milli,
       CAST((1000 * sae_nn1) // n_eval AS BIGINT) AS mae_nn1_milli,
       CAST((1000 * sae_mean) // n_eval AS BIGINT) AS mae_mean_milli
FROM kr_agg"""
