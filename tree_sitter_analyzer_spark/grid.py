"""Hierarchical grid cell index ("graftgrid") — the engine's H3/S2 analog.

The reference's candidate-retrieval index is SQLite FTS5 over symbol rows
(``_ast_cache_schema.py:425-434``): a cheap, inverted index consulted
*before* exact verification. Here the same role is played by an integer
grid-cell index over (lon, lat): cell-equality hash joins generate
candidates, exact geometry verifies survivors (SURVEY.md O4).

No external geo library exists in this image (h3/s2sphere are absent), so
the cell scheme is pure int64 arithmetic — deliberately chosen so that:

1. Spark evaluates it JVM-side through whole-stage codegen (no UDF),
2. the identical SQL text runs in DuckDB, giving bit-exact oracle parity,
3. a numpy implementation serves property tests.

Scheme
------
- resolution ``r`` in [0, 12]; cell edge = ``1/2**r`` degrees.
  r=9 → ~0.00195° ≈ 217 m at the equator, comparable to H3 res 9.
- ``ix = floor((lon+180) * 2**r)``, ``iy = floor((lat+90) * 2**r)``.
  At r=12: ix < 1,474,560 < 2**21 and iy < 737,280 < 2**20.
- packed id: ``cell = r * 2**56 + ix * 2**28 + iy`` (fits int64 for r≤12).
- parent at res p < r: shift ix, iy right by (r-p) — exact containment
  hierarchy (the ``cell_to_parent`` consistency property from FIXTURES.md §5).
- ``grid_disk(k)``: Chebyshev disk — all cells with |dx|,|dy| ≤ k. A point
  at euclidean distance d from a query is at most ``ceil(d/size)`` cells
  away on each axis, so disk k is guaranteed to contain every point within
  euclidean distance ``(k-1)*size`` — the radius-join cover bound.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

RES_MUL = 2**56  # 72057594037927936
IX_MUL = 2**28  # 268435456
MAX_RES = 12


def cell_size(res: int) -> float:
    """Cell edge length in degrees at resolution ``res``."""
    return 1.0 / (1 << res)


# ---------------------------------------------------------------------------
# SQL-text layer: single source of truth, used by Spark (F.expr) AND DuckDB.
# ---------------------------------------------------------------------------

def ix_sql(lon: str, res: int) -> str:
    return f"CAST(floor((({lon}) + 180.0e0) * {1 << res}) AS BIGINT)"


def iy_sql(lat: str, res: int) -> str:
    return f"CAST(floor((({lat}) + 90.0e0) * {1 << res}) AS BIGINT)"


def cell_sql(lon: str, lat: str, res: int) -> str:
    """Packed cell id from lon/lat column expressions. Portable SQL."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    return (
        f"({res} * {RES_MUL} + {ix_sql(lon, res)} * {IX_MUL} + {iy_sql(lat, res)})"
    )


def cell_from_ixiy_sql(ix: str, iy: str, res: int) -> str:
    return f"({res} * {RES_MUL} + ({ix}) * {IX_MUL} + ({iy}))"


def parent_sql(cell: str, res: int, parent_res: int) -> str:
    """Parent cell id at ``parent_res`` of a cell known to be at ``res``."""
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    d = 1 << (res - parent_res)
    ix = f"CAST(floor(((({cell}) - {res * RES_MUL}) / {IX_MUL}) / {d}) AS BIGINT)"
    iy = f"CAST(floor((({cell}) % {IX_MUL}) / {d}) AS BIGINT)"
    return f"({parent_res} * {RES_MUL} + {ix} * {IX_MUL} + {iy})"


# ---------------------------------------------------------------------------
# Column layer (thin wrappers so operator code reads naturally).
# ---------------------------------------------------------------------------

def cell_col(lon: str, lat: str, res: int) -> Column:
    return F.expr(cell_sql(lon, lat, res))


def ix_col(lon: str, res: int) -> Column:
    return F.expr(ix_sql(lon, res))


def iy_col(lat: str, res: int) -> Column:
    return F.expr(iy_sql(lat, res))


def cell_to_ix(cell: Column, res: int) -> Column:
    return ((cell - F.lit(res * RES_MUL)) / F.lit(IX_MUL)).cast("bigint")


def cell_to_iy(cell: Column) -> Column:
    return (cell % F.lit(IX_MUL)).cast("bigint")


def disk_offsets_expr(k: int) -> Column:
    """array<struct<dx,dy>> of all Chebyshev-disk offsets |dx|,|dy| ≤ k.

    Built with ``sequence`` + ``flatten`` so the fan-out stays JVM-side;
    explode downstream turns 1 query row into (2k+1)^2 candidate-cell rows
    (the UDTF fan-out pattern, SURVEY.md X5).
    """
    return F.expr(
        f"flatten(transform(sequence({-k}, {k}), dx -> "
        f"transform(sequence({-k}, {k}), dy -> struct(dx as dx, dy as dy))))"
    )


# ---------------------------------------------------------------------------
# Numpy oracle (property tests; never used in the Spark plan).
# ---------------------------------------------------------------------------

def np_ixiy(lon: np.ndarray, lat: np.ndarray, res: int):
    ix = np.floor((np.asarray(lon, dtype=np.float64) + 180.0e0) * (1 << res)).astype(
        np.int64
    )
    iy = np.floor((np.asarray(lat, dtype=np.float64) + 90.0e0) * (1 << res)).astype(
        np.int64
    )
    return ix, iy


def np_cell(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    ix, iy = np_ixiy(lon, lat, res)
    return res * RES_MUL + ix * IX_MUL + iy


def np_parent(cell: np.ndarray, res: int, parent_res: int) -> np.ndarray:
    cell = np.asarray(cell, dtype=np.int64)
    d = res - parent_res
    ix = (cell - res * RES_MUL) // IX_MUL
    iy = cell % IX_MUL
    return parent_res * RES_MUL + (ix >> d) * IX_MUL + (iy >> d)


def cell_center_lon_sql(cell: str, res: int) -> str:
    """Center longitude of a res-``res`` cell id (h3 cell_to_latlng
    analog). Portable SQL — exact double arithmetic (cell size is a
    power of two)."""
    ix = f"CAST(floor((({cell}) - {res * RES_MUL}) / {IX_MUL}) AS BIGINT)"
    return f"(({ix} + 0.5e0) / {1 << res} - 180e0)"


def cell_center_lat_sql(cell: str, res: int) -> str:
    iy = f"(({cell}) % {IX_MUL})"
    return f"(({iy} + 0.5e0) / {1 << res} - 90e0)"


def np_cell_center(cell: np.ndarray, res: int):
    cell = np.asarray(cell, dtype=np.int64)
    ix = (cell - res * RES_MUL) // IX_MUL
    iy = cell % IX_MUL
    return (ix + 0.5) / (1 << res) - 180.0, (iy + 0.5) / (1 << res) - 90.0


# ---------------------------------------------------------------------------
# Hexagonal grid ("grafthex") — the H3-geometry analog (SURVEY §2.12 R46).
#
# The square graftgrid is an S2-like quad index; H3's defining feature is
# HEXAGONAL cells (uniform 6-neighborhood, ~13% lower quantization error).
# This is a pointy-top axial hex binning in pure portable SQL: axial
# fractional coords then cube rounding, spelled only with floor/abs/CASE
# and PYTHON-computed double literals (no SQL trig/sqrt), so Spark and
# DuckDB produce bit-identical cells and the whole thing stays inside
# whole-stage codegen — same discipline as the square grid.
#
# round(v) is spelled floor(v + 0.5) everywhere: engine round() functions
# disagree on half-even vs half-away ties; floor(+0.5) is deterministic
# and identical on both.
# ---------------------------------------------------------------------------

_SQRT3 = 3.0 ** 0.5
_HEX_C1 = _SQRT3 / 3.0   # d(q)/dx
_HEX_C3 = 1.0 / 3.0      # -d(q)/dy ; d(r)/dy = 2/3


def _dlit(x: float) -> str:
    return f"{x!r}e0"


def hex_qr_sql(lon: str, lat: str, size: float) -> tuple[str, str]:
    """(hq, hr) BIGINT axial hex coordinates of the containing hex cell,
    edge length ``size`` degrees, as one portable SQL expression pair.

    Fractional axial coords → cube round (largest-residual reset keeps
    q + r + s = 0). Every subterm is duplicated textually — both engines
    CSE it; the expression stays UDF-free and codegen-friendly."""
    inv = _dlit(1.0 / size)
    x = f"(({lon}) + 180.0e0)"
    y = f"(({lat}) + 90.0e0)"
    qf = f"(({_dlit(_HEX_C1)} * {x} - {_dlit(_HEX_C3)} * {y}) * {inv})"
    rf = f"(({_dlit(2.0 / 3.0)} * {y}) * {inv})"
    sf = f"(0.0e0 - {qf} - {rf})"
    rq = f"CAST(floor({qf} + 0.5e0) AS BIGINT)"
    rr = f"CAST(floor({rf} + 0.5e0) AS BIGINT)"
    rs = f"CAST(floor({sf} + 0.5e0) AS BIGINT)"
    dq = f"abs({rq} - {qf})"
    dr = f"abs({rr} - {rf})"
    ds = f"abs({rs} - {sf})"
    q_reset = f"({dq} > {dr} AND {dq} > {ds})"
    r_reset = f"(NOT ({dq} > {dr} AND {dq} > {ds}) AND {dr} > {ds})"
    hq = f"(CASE WHEN {q_reset} THEN (0 - {rr} - {rs}) ELSE {rq} END)"
    hr = f"(CASE WHEN {r_reset} THEN (0 - {rq} - {rs}) ELSE {rr} END)"
    return hq, hr


def np_hex_qr(lon: np.ndarray, lat: np.ndarray, size: float):
    """Numpy mirror of hex_qr_sql (property tests)."""
    x = np.asarray(lon, dtype=np.float64) + 180.0e0
    y = np.asarray(lat, dtype=np.float64) + 90.0e0
    inv = 1.0 / size
    qf = (_HEX_C1 * x - _HEX_C3 * y) * inv
    rf = ((2.0 / 3.0) * y) * inv
    sf = 0.0e0 - qf - rf
    rq = np.floor(qf + 0.5e0).astype(np.int64)
    rr = np.floor(rf + 0.5e0).astype(np.int64)
    rs = np.floor(sf + 0.5e0).astype(np.int64)
    dq, dr, ds = np.abs(rq - qf), np.abs(rr - rf), np.abs(rs - sf)
    q_reset = (dq > dr) & (dq > ds)
    r_reset = ~q_reset & (dr > ds)
    hq = np.where(q_reset, 0 - rr - rs, rq)
    hr = np.where(r_reset, 0 - rq - rs, rr)
    return hq, hr


def np_hex_center(hq: np.ndarray, hr: np.ndarray, size: float):
    """(lon, lat) center of an axial hex cell (pointy-top)."""
    x = size * (_SQRT3 * (np.asarray(hq, dtype=np.float64)
                          + np.asarray(hr, dtype=np.float64) / 2.0))
    y = size * 1.5 * np.asarray(hr, dtype=np.float64)
    return x - 180.0e0, y - 90.0e0
