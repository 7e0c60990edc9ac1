"""Deterministic synthetic spatial tables — single-sourced for Spark & oracle.

BASELINE.json's ``input_hint`` mandates a tiles table
``(image_id, bytes, w, h, fmt, caption, phash)``; no external data may be
used, so the table is synthesized deterministically (FIXTURES.md §1) from
the driver's TPC-H-ish parquet: each ``orders.o_orderkey`` (dense, unique
0..N−1) seeds one tile. Zones (axis-aligned rectangles standing in for
polygons) and kNN query points come from ``range()``.

**Parity by construction**: every derived column is authored ONCE as a SQL
expression string (portable across Spark SQL and DuckDB 1.0) and used
verbatim on both sides — Spark via ``F.expr``, the correctness oracle via
string splicing into DuckDB SQL. All randomness is integer Lehmer-LCG
arithmetic (``(x*a) % 2147483647``), so both engines produce bit-identical
doubles; no engine-specific hash function is ever relied on.

This mirrors the reference's generated-fixture discipline
(``tests/fixtures/data_generators.py:1-40`` — seeded, programmatic, never
checked-in blobs).

Skew is intentional: 20% of tiles cluster around 3 hotspot centers
(FIXTURES.md §1 georeferencing) so hot-cell handling (AQE skew join /
salting, SURVEY.md O10) is exercised, not just simulated.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from typing import Any, Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# -- geography ---------------------------------------------------------------
LON0, LON_SPAN = 139.5, 0.6
LAT0, LAT_SPAN = 35.4, 0.5
HOTSPOTS = [(139.62, 35.48), (139.85, 35.70), (140.02, 35.82)]

# -- Lehmer LCG --------------------------------------------------------------
M31 = 2147483647


def lcg(x: str, a: int) -> str:
    """Two-step Lehmer mix: small seeds (0, 1, 2, …) must still scatter,
    so a single multiply is not enough. All intermediates < 2**48."""
    step1 = f"((({x}) % {M31}) * {a} % {M31} + 999983)"
    return f"({step1} * 69621 % {M31})"


def u01(x: str, a: int) -> str:
    """Uniform double in [0,1) — identical bits in Spark and DuckDB."""
    return f"({lcg(x, a)} / 2147483647e0)"


def dlit(x: float) -> str:
    """Float literal that parses as DOUBLE in BOTH Spark SQL (which types
    bare decimal literals as DECIMAL) and DuckDB: exponent notation."""
    return f"{x!r}e0"


def _hs_case(i: str, coords: list[float]) -> str:
    return (
        f"(CASE ({i}) % 3 WHEN 0 THEN {dlit(coords[0])} WHEN 1 THEN {dlit(coords[1])} "
        f"ELSE {dlit(coords[2])} END)"
    )


# ---------------------------------------------------------------------------
# tiles — one per orders row; i := o_orderkey
# ---------------------------------------------------------------------------

TILE_KINDS = ["aerial", "street", "marine", "park", "urban", "rural", "mixed"]


def tile_exprs(i: str = "i", dense: bool = False) -> dict[str, str]:
    """Column-name → portable SQL expression for the tiles table.

    ``dense=True`` is the stretch-density stress knob (round-4 verdict
    #8): SAME row count, but every row lands in a hotspot and the
    jitter halves — per-cell concentration rises ~20x (5x hot fraction
    x 4x area density), the regime where a materialized pair list goes
    quadratic. Smoke-only (tests/smoke_dense.py via SPARK_GRAFT_DENSE);
    correctness runs and every oracle always use the default geometry.
    """
    hot = "TRUE" if dense else f"(({i}) % 5 = 0)"
    jit = "0.01e0" if dense else "0.02e0"
    hs_lon = _hs_case(i, [h[0] for h in HOTSPOTS])
    hs_lat = _hs_case(i, [h[1] for h in HOTSPOTS])
    u_lon = u01(i, 48271)
    u_lat = u01(i, 16807)
    lon = (
        f"(CASE WHEN {hot} THEN {hs_lon} + ({u_lon} - 0.5e0) * {jit} "
        f"ELSE {dlit(LON0)} + {u_lon} * {dlit(LON_SPAN)} END)"
    )
    lat = (
        f"(CASE WHEN {hot} THEN {hs_lat} + ({u_lat} - 0.5e0) * {jit} "
        f"ELSE {dlit(LAT0)} + {u_lat} * {dlit(LAT_SPAN)} END)"
    )
    kind = "(CASE " + " ".join(
        f"WHEN ({i}) % 7 = {n} THEN '{k}'" for n, k in enumerate(TILE_KINDS)
    ) + " ELSE 'mixed' END)"
    size_case = "(CASE {m} WHEN 0 THEN 16 WHEN 1 THEN 32 WHEN 2 THEN 64 ELSE 128 END)"
    # ~3.2% of rows (i ≡ 1 mod 31) duplicate the phash of row i-1 — the
    # clone-group analog of code_similarity.py:311-434 fingerprint groups.
    phash_base = f"(CASE WHEN ({i}) % 31 = 1 THEN ({i}) - 1 ELSE ({i}) END)"
    return {
        "image_id": f"('img_' || lpad(CAST({i} AS STRING), 12, '0'))",
        "w": f"CAST({size_case.format(m=lcg(i, 7919) + ' % 4')} AS INT)",
        "h": f"CAST({size_case.format(m=lcg(i, 104729) + ' % 4')} AS INT)",
        "fmt": f"(CASE WHEN ({i}) % 4 = 0 THEN 'jpeg' ELSE 'png' END)",
        "caption": (
            f"('tile ' || CAST({i} AS STRING) || ' kind=' || {kind})"
        ),
        "phash": f"(({phash_base} % 10000019) * 2654435761)",
        "lon": lon,
        "lat": lat,
        "tile_kind": kind,
    }


def tiles_sql(from_clause: str = "orders", i: str = "o_orderkey") -> str:
    """Full DuckDB-runnable SELECT producing the tiles table."""
    cols = ",\n  ".join(f"{e} AS {n}" for n, e in tile_exprs(i).items())
    return f"SELECT\n  {i} AS i,\n  {cols}\nFROM {from_clause}"


def _dense(dense: bool | None = None) -> bool:
    """``dense``, read from SPARK_GRAFT_DENSE when unset."""
    if dense is None:
        # Stretch-density smoke knob (see tile_exprs): never set by a
        # correctness run or any oracle path.
        dense = os.environ.get("SPARK_GRAFT_DENSE", "") == "1"
    return dense


def tiles_plan(
    spark: SparkSession, sf_dir: str, dense: bool | None = None
) -> DataFrame:
    """The lazy plan ``tiles_df`` materializes: seed read, spread, and the
    LCG projection of ``tile_exprs``. One-shot readers (ingest's
    extraction of changed tiles) run it directly, leaving the serving
    cache alone."""
    dense = _dense(dense)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # The seed parquet is one small file → one input split. Real tile data
    # would arrive pre-partitioned; the synthetic table must be spread
    # explicitly or every downstream map-side operator runs on one task.
    parallelism = spark.sparkContext.defaultParallelism
    seed = orders.select("o_orderkey").repartition(parallelism, "o_orderkey")
    return seed.select(
        F.col("o_orderkey").alias("i"),
        *[
            F.expr(f"{e} AS {n}")
            for n, e in tile_exprs("o_orderkey", dense=dense).items()
        ],
    )


def _rdd(df: DataFrame) -> Any:
    """The persisted JVM RDD behind a locally checkpointed frame."""
    return df._jdf.queryExecution().analyzed().rdd()


def _checkpoint(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)


class Snapshot:
    """One materialized table (``leaf``: a tiles snapshot or the zone
    layer) and the query-independent structures derived from it (the
    kNN index, operators/knn.py; the zone covers, operators/pip_join.py).

    ``plan`` is checkpointed eagerly into ``leaf`` (memory, spilling to
    disk). A derived structure is built on first use, once per key,
    under this snapshot's lock: concurrent first callers wait for the
    one build. Its materialized frames are released with the leaf.
    After release a builder still runs, but its frames stay lazy and
    are not kept."""

    def __init__(self, plan: DataFrame):
        self.leaf = _checkpoint(plan)
        self._rdds = [_rdd(self.leaf)]
        self._derived: dict[Any, Any] = {}
        self._lock = threading.Lock()
        self._released = False

    def derived(self, key: Any, build: Callable[[Callable], Any]) -> Any:
        """``build(keep)``'s result for ``key``, built at most once;
        ``keep(df)`` materializes ``df`` for the snapshot's lifetime."""
        with self._lock:
            if self._released:
                return build(lambda df: df)
            if key not in self._derived:
                self._derived[key] = build(self._keep)
            return self._derived[key]

    def _keep(self, df: DataFrame) -> DataFrame:
        kept = _checkpoint(df)
        self._rdds.append(_rdd(kept))
        return kept

    def release(self) -> None:
        with self._lock:
            self._released = True
            self._derived.clear()
            for rdd in self._rdds:
                rdd.unpersist(False)


# Materialized tiles snapshots, least recently used first: (application
# id, real path, st_size, st_mtime_ns, dense) -> snapshot. The
# zone layer reads no file: one snapshot per application id, outside
# the LRU, so no tiles build can evict it. One lock guards both.
TILES_CACHE_SLOTS = 4
_tiles_cache: OrderedDict[tuple, Snapshot] = OrderedDict()
_zones_cache: dict[str, Snapshot] = {}
_cache_lock = threading.Lock()


def drop_tiles_cache() -> None:
    """Release every materialized tiles table."""
    with _cache_lock:
        while _tiles_cache:
            _tiles_cache.popitem()[1].release()


def snapshot(df: DataFrame) -> Snapshot | None:
    """The cached snapshot whose leaf ``df`` is, or None (a derived
    frame, or a leaf already released)."""
    with _cache_lock:
        return next((s for s in (*_tiles_cache.values(), *_zones_cache.values())
                     if s.leaf is df), None)


def tiles_df(
    spark: SparkSession,
    sf_dir: str,
    with_bytes: bool = False,
) -> DataFrame:
    """Spark-side tiles table from the SAME expressions, served from one
    materialization per source snapshot.

    The first call for a snapshot runs ``tiles_plan`` once into locally
    checkpointed blocks (memory, spilling to disk); every later call gets
    the same one-leaf DataFrame, so downstream plans neither re-read the
    seed nor re-analyze the LCG expressions. Only this base table and the
    query-independent structures derived from it (``Snapshot``) are
    reused: every query still plans and runs its own joins and
    aggregates, and no query result is kept.

    A snapshot is the SparkContext plus the real path, size and mtime_ns
    of ``orders.parquet``; an in-place rewrite that keeps both the size
    and the mtime_ns is the one change it cannot see (call
    ``drop_tiles_cache`` after one). The older snapshot of a rewritten
    file is released when the new one is built, the least recently used
    entry when a ``TILES_CACHE_SLOTS + 1``-th is. A released leaf cannot
    be recomputed (its lineage is cut), so take the frame per query
    rather than holding it across other snapshots' builds.

    ``with_bytes=True`` attaches the synthetic raster payload (pandas-UDF
    generated, see sources/codec.py) lazily on top of the cached leaf for
    the pixel pipeline; SQL-compared queries never touch ``bytes``.
    """
    dense = _dense()
    app = spark.sparkContext.applicationId
    real = os.path.realpath(f"{sf_dir}/orders.parquet")
    st = os.stat(real)
    stamp = (real, st.st_size, st.st_mtime_ns)
    key = (app, *stamp, dense)
    with _cache_lock:
        snap = _tiles_cache.get(key)
        if snap is None:
            # entries of a stopped context are gone with it; an older
            # snapshot of the same file can never be asked for again
            for k in [k for k in _tiles_cache if k[0] != app]:
                del _tiles_cache[k]
            for k in [k for k in _tiles_cache if k[1] == real and k[1:4] != stamp]:
                _tiles_cache.pop(k).release()
            snap = _tiles_cache[key] = Snapshot(
                tiles_plan(spark, sf_dir, dense))
            while len(_tiles_cache) > TILES_CACHE_SLOTS:
                _tiles_cache.popitem(last=False)[1].release()
        else:
            _tiles_cache.move_to_end(key)
    df = snap.leaf
    if with_bytes:
        from .sources.codec import attach_bytes

        df = attach_bytes(df)
    return df


# ---------------------------------------------------------------------------
# zones — 200 axis-aligned rectangle polygons; j := 0..199
# ---------------------------------------------------------------------------

N_ZONES = 200


def zone_exprs(j: str = "j") -> dict[str, str]:
    hs_lon = _hs_case(j, [h[0] for h in HOTSPOTS])
    hs_lat = _hs_case(j, [h[1] for h in HOTSPOTS])
    cx = f"(CASE WHEN ({j}) < 3 THEN {hs_lon} ELSE {dlit(LON0)} + {u01(f'2*({j})+1', 48271)} * {dlit(LON_SPAN)} END)"
    cy = f"(CASE WHEN ({j}) < 3 THEN {hs_lat} ELSE {dlit(LAT0)} + {u01(f'2*({j})+1', 16807)} * {dlit(LAT_SPAN)} END)"
    hw = f"(CASE WHEN ({j}) < 3 THEN 0.05e0 ELSE 0.004e0 + {u01(f'({j})+777', 69621)} * 0.03e0 END)"
    hh = f"(CASE WHEN ({j}) < 3 THEN 0.05e0 ELSE 0.004e0 + {u01(f'({j})+777', 40692)} * 0.025e0 END)"
    return {
        "polygon_id": f"('zone_' || lpad(CAST({j} AS STRING), 5, '0'))",
        "zkind": f"(CASE ({j}) % 3 WHEN 0 THEN 'district' WHEN 1 THEN 'park' ELSE 'water' END)",
        "xmin": f"({cx} - {hw})",
        "xmax": f"({cx} + {hw})",
        "ymin": f"({cy} - {hh})",
        "ymax": f"({cy} + {hh})",
    }


def zones_sql() -> str:
    cols = ",\n  ".join(f"{e} AS {n}" for n, e in zone_exprs("j").items())
    return f"SELECT\n  j,\n  {cols}\nFROM range({N_ZONES}) AS t(j)"


def zones_plan(spark: SparkSession) -> DataFrame:
    """The lazy plan ``zones_df`` materializes: ``range(N_ZONES)`` under
    the LCG projection of ``zone_exprs``."""
    return spark.range(N_ZONES).select(
        F.col("id").alias("j"),
        *[F.expr(f"{e} AS {n}") for n, e in zone_exprs("id").items()],
    )


def zones_df(spark: SparkSession) -> DataFrame:
    """The zone layer, served as one materialized leaf per SparkContext:
    every call returns the same one-leaf DataFrame, so plans over it
    neither re-analyze the LCG expressions nor rerun them. Its
    ``Snapshot`` also holds the layer's query-independent structures
    (``pip_join.zone_cover`` keeps one cover per resolution there), is
    never evicted by tiles builds, and is dropped with its context."""
    app = spark.sparkContext.applicationId
    with _cache_lock:
        snap = _zones_cache.get(app)
        if snap is None:
            _zones_cache.clear()  # a stopped context's entry is gone with it
            snap = _zones_cache[app] = Snapshot(zones_plan(spark))
    return snap.leaf


# ---------------------------------------------------------------------------
# query points — 50 kNN probes; q := 0..49
# ---------------------------------------------------------------------------

N_QUERY_POINTS = 50


def qpoint_exprs(q: str = "q") -> dict[str, str]:
    return {
        "query_id": f"CAST({q} AS BIGINT)",
        "qlon": f"({dlit(LON0)} + {u01(f'3*({q})+7', 48271)} * {dlit(LON_SPAN)})",
        "qlat": f"({dlit(LAT0)} + {u01(f'3*({q})+7', 16807)} * {dlit(LAT_SPAN)})",
    }


def qpoints_sql() -> str:
    cols = ",\n  ".join(f"{e} AS {n}" for n, e in qpoint_exprs("q").items())
    return f"SELECT\n  {cols}\nFROM range({N_QUERY_POINTS}) AS t(q)"


def qpoints_df(spark: SparkSession) -> DataFrame:
    return spark.range(N_QUERY_POINTS).select(
        *[F.expr(f"{e} AS {n}") for n, e in qpoint_exprs("id").items()]
    )


# DuckDB oracle preamble: CTEs reusable by every spatial oracle query.
def oracle_ctes() -> str:
    return (
        f"WITH tiles AS (\n{tiles_sql()}\n),\n"
        f"zones AS (\n{zones_sql()}\n),\n"
        f"qpoints AS (\n{qpoints_sql()}\n)"
    )


# ---------------------------------------------------------------------------
# polygon zones — 100 convex hexagons; true polygon geometry (not rects).
# Vertex directions are PYTHON-computed literal doubles (no SQL trig — cos/
# sin could differ by ulps across engines; literals parse identically).
# ---------------------------------------------------------------------------

N_POLY_ZONES = 100
_HEX_K = 6

import math as _math

# unit directions for a slightly irregular hexagon, fixed at import time
_HEX_DIRS = [
    (_math.cos(2 * _math.pi * m / _HEX_K + 0.3), _math.sin(2 * _math.pi * m / _HEX_K + 0.3))
    for m in range(_HEX_K)
]


def poly_zone_exprs(j: str = "j") -> dict[str, str]:
    """Convex hexagon per zone: center from the LCG, per-vertex radius
    jitter (0.6–1.0 of base) keeps it convex (radial polygons around a
    center are always convex when angles are sorted)."""
    cx = f"({dlit(LON0)} + {u01(f'7*({j})+13', 48271)} * {dlit(LON_SPAN)})"
    cy = f"({dlit(LAT0)} + {u01(f'7*({j})+13', 16807)} * {dlit(LAT_SPAN)})"
    base_r = f"(0.006e0 + {u01(f'({j})+555', 69621)} * 0.025e0)"
    cols: dict[str, str] = {
        "polygon_id": f"('hex_' || lpad(CAST({j} AS STRING), 5, '0'))",
    }
    for m, (ux, uy) in enumerate(_HEX_DIRS):
        r_m = f"({base_r} * (0.6e0 + {u01(f'({j})*11+{m}', 40692)} * 0.4e0))"
        cols[f"x{m}"] = f"({cx} + {r_m} * {dlit(ux)})"
        cols[f"y{m}"] = f"({cy} + {r_m} * {dlit(uy)})"
    return cols


def poly_zones_sql() -> str:
    cols = ",\n  ".join(f"{e} AS {n}" for n, e in poly_zone_exprs("j").items())
    return f"SELECT\n  j,\n  {cols}\nFROM range({N_POLY_ZONES}) AS t(j)"


def poly_zones_df(spark: SparkSession) -> DataFrame:
    return spark.range(N_POLY_ZONES).select(
        F.col("id").alias("j"),
        *[F.expr(f"{e} AS {n}") for n, e in poly_zone_exprs("id").items()],
    )


# ---------------------------------------------------------------------------
# concave polygon zones — 8-point stars (alternating outer/inner radius →
# strongly non-convex), same literal-direction discipline as the hexagons.
# ---------------------------------------------------------------------------

N_STAR_ZONES = 60
_STAR_K = 8

_STAR_DIRS = [
    (_math.cos(2 * _math.pi * m / _STAR_K + 0.15), _math.sin(2 * _math.pi * m / _STAR_K + 0.15))
    for m in range(_STAR_K)
]


def star_zone_exprs(j: str = "j") -> dict[str, str]:
    """Concave star per zone: even vertices at the outer radius, odd
    vertices pulled to 0.35x — every odd vertex is a reflex notch, so the
    half-plane (convex) test is WRONG for these shapes by construction
    and only the ray-cast verify matches."""
    cx = f"({dlit(LON0)} + {u01(f'5*({j})+29', 48271)} * {dlit(LON_SPAN)})"
    cy = f"({dlit(LAT0)} + {u01(f'5*({j})+29', 16807)} * {dlit(LAT_SPAN)})"
    base_r = f"(0.008e0 + {u01(f'({j})+777', 69621)} * 0.03e0)"
    cols: dict[str, str] = {
        "polygon_id": f"('star_' || lpad(CAST({j} AS STRING), 5, '0'))",
    }
    for m, (ux, uy) in enumerate(_STAR_DIRS):
        scale = "1.0e0" if m % 2 == 0 else "0.35e0"
        cols[f"x{m}"] = f"({cx} + {base_r} * {scale} * {dlit(ux)})"
        cols[f"y{m}"] = f"({cy} + {base_r} * {scale} * {dlit(uy)})"
    return cols


def star_zones_sql() -> str:
    cols = ",\n  ".join(f"{e} AS {n}" for n, e in star_zone_exprs("j").items())
    return f"SELECT\n  j,\n  {cols}\nFROM range({N_STAR_ZONES}) AS t(j)"


def star_zones_df(spark: SparkSession) -> DataFrame:
    return spark.range(N_STAR_ZONES).select(
        F.col("id").alias("j"),
        *[F.expr(f"{e} AS {n}") for n, e in star_zone_exprs("id").items()],
    )


def raycast_pip_predicate(px: str, py: str, k: int = _STAR_K) -> str:
    """Point-in-ARBITRARY-polygon (concave included): even-odd ray cast —
    count edges straddling the horizontal ray through the point whose
    crossing lies to the point's right; odd count = inside.

    Division-free: the crossing comparison px < x_m + (py−y_m)·(x_n−x_m)/
    (y_n−y_m) multiplies through by (y_n−y_m) with a sign-aware flip, so
    it is pure multiply/compare on the shared literal doubles — bit-
    identical on Spark and DuckDB (the half-plane discipline, generalized).
    The straddle rule ((y_m > py) != (y_n > py)) is the standard half-open
    vertex treatment: a ray through a vertex counts exactly once."""
    terms = []
    for m in range(k):
        n = (m + 1) % k
        straddle = f"((y{m} > ({py})) != (y{n} > ({py})))"
        lhs = f"((({px}) - x{m}) * (y{n} - y{m}))"
        rhs = f"((({py}) - y{m}) * (x{n} - x{m}))"
        cross = (
            f"(CASE WHEN y{n} > y{m} THEN {lhs} < {rhs} "
            f"ELSE {lhs} > {rhs} END)"
        )
        terms.append(f"(CASE WHEN {straddle} AND {cross} THEN 1 ELSE 0 END)")
    return "((" + " + ".join(terms) + ") % 2 = 1)"


def convex_pip_predicate(px: str, py: str, k: int = _HEX_K) -> str:
    """Point-in-convex-polygon: the point lies on the interior side of
    every directed edge (counterclockwise vertices → cross product ≥ 0).
    Pure arithmetic — identical in Spark SQL and DuckDB. Half-open
    semantics via >= 0 on all edges (boundary points included)."""
    terms = []
    for m in range(k):
        n = (m + 1) % k
        terms.append(
            f"((x{n} - x{m}) * (({py}) - y{m}) - (y{n} - y{m}) * (({px}) - x{m}) >= 0e0)"
        )
    return "(" + " AND ".join(terms) + ")"
