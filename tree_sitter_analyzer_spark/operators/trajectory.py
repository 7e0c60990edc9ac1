"""Trajectory / movement analytics over synthetic GPS pings (SURVEY §2.12
R36-R39).

The reference analyzes *sequences* of symbols per file (ordered spans,
``ast_cache`` row order); the movement analog — ordered position fixes per
entity — is the workload a geospatial engine at 10^12 rows actually faces
(fleet/AIS/mobile traces). Four classic operators over one shared
``pings`` derivation:

- per-entity trajectory summary (path length, net displacement, coverage),
- origin→destination flow matrix,
- stop detection (gaps-and-islands dwell runs),
- co-location pairs (contact join via (cell, day) bucket self-join).

Parity by construction (CLAUDE.md discipline): every ping column is
all-BIGINT — the walk lives on the res-12 integer grid (grid.py units:
1 unit = 1/4096°), steps are Lehmer-LCG integers, positions are window
cumulative sums, cells are integer right-shifts (DIV on positive
operands = DuckDB ``//``). No float ever enters a compared column, so
aggregation order is irrelevant and both engines are bit-exact.

Scale shape: every operator is one window over (user_id) — a single
hash-partition by entity, the natural key at 10^12 pings — followed by
an entity-keyed groupBy (no second shuffle: partial aggregation upstream
of the same exchange). The co-location contact join is an equi-join on
(cell, day) buckets — candidate pairs only ever form within a bucket,
never all-pairs (the pip_join/dedup banding discipline applied to
spacetime).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import sql_over
from ..synth import lcg

# res-12 integer units; start boxes sit inside the tiles geography
# (lon 139.5..140.1 → ix ≈ 1.308e6, lat 35.4..35.9 → iy ≈ 5.14e5).
N_BASES = 8
_SX = f"(1308300 + (user_id % {N_BASES}) * 280 + {lcg('user_id + 17', 48271)} % 60)"
_SY = f"(513700 + (user_id % {N_BASES}) * 230 + {lcg('user_id + 17', 16807)} % 60)"
# 40% of pings are dwells (zero step) — dwell runs are what stop
# detection finds; moving steps are ±20 units (~±5e-3°) per fix.
_DWELL = f"({lcg('event_id*3+1', 69621)} % 5 < 2)"
_DX = f"(CASE WHEN {_DWELL} THEN 0 ELSE {lcg('event_id*3+2', 48271)} % 41 - 20 END)"
_DY = f"(CASE WHEN {_DWELL} THEN 0 ELSE {lcg('event_id*3+2', 16807)} % 41 - 20 END)"

# micros-per-day; day bucket = TZ-free NTZ epoch DIV (queries_relational
# discipline — never cast NTZ to TIMESTAMP in compared queries)
_DAY_US = 86_400_000_000
_EPOCH_US_SPARK = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
)
_EPOCH_US_DUCK = "date_diff('microsecond', TIMESTAMP '1970-01-01', ts)"

# res-12 → res-r cell: shift = 12 - r; packed without the res tag (both
# coords < 2**24 here, so cx * 2**28 + cy is collision-free int64).
_PACK = 268_435_456


def _shift(r: int) -> int:
    return 1 << (12 - r)


def pings_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered position fixes per user: integer random walk seeded from
    the events table (one ping per event, ordered by (ts, event_id))."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            F.expr(_DX).alias("dx"),
            F.expr(_DY).alias("dy"),
            F.expr(_SX).alias("sx"),
            F.expr(_SY).alias("sy"),
        )
        .withColumn("seq", F.row_number().over(w))
        .withColumn("ix", F.col("sx") + F.sum("dx").over(cum))
        .withColumn("iy", F.col("sy") + F.sum("dy").over(cum))
        .withColumn("day", F.expr(f"{_EPOCH_US_SPARK} DIV {_DAY_US}"))
    )


def pings_oracle_cte(events_clause: str = "events") -> str:
    """DuckDB CTE chain producing the identical pings relation."""
    return f"""p0 AS (
  SELECT user_id, event_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
         {_DX} AS dx, {_DY} AS dy, {_SX} AS sx, {_SY} AS sy
  FROM {events_clause}
),
pings AS (
  SELECT user_id, event_id, ts, seq, dx, dy, sx, sy,
         sx + SUM(dx) OVER (PARTITION BY user_id ORDER BY seq
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ix,
         sy + SUM(dy) OVER (PARTITION BY user_id ORDER BY seq
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iy,
         {_EPOCH_US_DUCK} // {_DAY_US} AS day
  FROM p0
)"""


# ---------------------------------------------------------------------------
# R36: per-entity trajectory summary
# ---------------------------------------------------------------------------

def traj_stats(pings: DataFrame) -> DataFrame:
    """One row per user: ping count, Chebyshev path length (grid units),
    net displacement start→end, and distinct res-9 cells visited.
    Single exchange on user_id (the window's partitioning is reused by
    the groupBy — Catalyst plans no second shuffle)."""
    s9 = _shift(9)
    per = pings.select(
        "user_id",
        "seq",
        F.greatest(F.abs("dx"), F.abs("dy")).alias("step"),
        (F.col("ix") - F.col("sx")).alias("ox"),
        (F.col("iy") - F.col("sy")).alias("oy"),
        F.expr(f"(ix DIV {s9}) * {_PACK} + (iy DIV {s9})").alias("cell9"),
    )
    return per.groupBy("user_id").agg(
        F.count("*").alias("n_pings"),
        F.sum("step").alias("path_cheb"),
        F.greatest(
            F.abs(F.max_by("ox", "seq")), F.abs(F.max_by("oy", "seq"))
        ).alias("net_cheb"),
        F.countDistinct("cell9").alias("n_cells9"),
    )


def traj_stats_oracle(events_clause: str = "events") -> str:
    s9 = _shift(9)
    return f"""WITH {pings_oracle_cte(events_clause)}
SELECT user_id,
       count(*) AS n_pings,
       SUM(GREATEST(abs(dx), abs(dy))) AS path_cheb,
       GREATEST(abs(arg_max(ix - sx, seq)), abs(arg_max(iy - sy, seq))) AS net_cheb,
       count(DISTINCT (ix // {s9}) * {_PACK} + (iy // {s9})) AS n_cells9
FROM pings GROUP BY user_id"""


# ---------------------------------------------------------------------------
# R37: origin→destination flow matrix
# ---------------------------------------------------------------------------

def od_flows(pings: DataFrame, res: int = 7) -> DataFrame:
    """OD matrix at res ``res``: each user's trajectory contributes one
    (first-cell → last-cell) flow; flows aggregate to (origin, dest,
    n_users). Two entity-keyed aggregations — the second groupBy is on
    the (small) OD-pair key space."""
    s = _shift(res)
    od = pings.groupBy("user_id").agg(
        F.min_by(
            F.expr(f"(ix DIV {s}) * {_PACK} + (iy DIV {s})"), F.col("seq")
        ).alias("origin_cell"),
        F.max_by(
            F.expr(f"(ix DIV {s}) * {_PACK} + (iy DIV {s})"), F.col("seq")
        ).alias("dest_cell"),
    )
    return od.groupBy("origin_cell", "dest_cell").agg(
        F.count("*").alias("n_users")
    )


def od_flows_oracle(events_clause: str = "events", res: int = 7) -> str:
    s = _shift(res)
    return f"""WITH {pings_oracle_cte(events_clause)},
od AS (
  SELECT user_id,
         arg_min((ix // {s}) * {_PACK} + (iy // {s}), seq) AS origin_cell,
         arg_max((ix // {s}) * {_PACK} + (iy // {s}), seq) AS dest_cell
  FROM pings GROUP BY user_id)
SELECT origin_cell, dest_cell, count(*) AS n_users
FROM od GROUP BY origin_cell, dest_cell"""


# ---------------------------------------------------------------------------
# R38: stop detection (dwell runs) — gaps-and-islands
# ---------------------------------------------------------------------------

def stop_detect(pings: DataFrame, res: int = 9, min_len: int = 4) -> DataFrame:
    """Maximal runs of >= ``min_len`` consecutive fixes inside one res-9
    cell. Classic gaps-and-islands: within (user, cell) the run id is
    ``seq - row_number()`` — constant exactly while fixes are consecutive.
    Both windows partition by user (+cell), so one exchange feeds all."""
    s = _shift(res)
    cellp = pings.withColumn(
        "cell", F.expr(f"(ix DIV {s}) * {_PACK} + (iy DIV {s})")
    )
    w = Window.partitionBy("user_id", "cell").orderBy("seq")
    runs = cellp.withColumn("grp", F.col("seq") - F.row_number().over(w))
    return (
        runs.groupBy("user_id", "cell", "grp")
        .agg(F.count("*").alias("n_pings"), F.min("seq").alias("start_seq"))
        .where(F.col("n_pings") >= min_len)
        .select("user_id", "cell", "start_seq", "n_pings")
    )


def stop_detect_oracle(
    events_clause: str = "events", res: int = 9, min_len: int = 4
) -> str:
    s = _shift(res)
    return f"""WITH {pings_oracle_cte(events_clause)},
runs AS (
  SELECT user_id, (ix // {s}) * {_PACK} + (iy // {s}) AS cell, seq,
         seq - row_number() OVER (
           PARTITION BY user_id, (ix // {s}) * {_PACK} + (iy // {s})
           ORDER BY seq) AS grp
  FROM pings)
SELECT user_id, cell, min(seq) AS start_seq, count(*) AS n_pings
FROM runs GROUP BY user_id, cell, grp
HAVING count(*) >= {min_len}"""


# ---------------------------------------------------------------------------
# R39: co-location pairs (contact join)
# ---------------------------------------------------------------------------

def colocation_pairs(pings: DataFrame, res: int = 8) -> DataFrame:
    """User pairs observed in the same res-8 cell on the same day.
    Contact-tracing join: dedupe to (user, cell, day) presence rows,
    then a (cell, day)-keyed equi-self-join with user_a < user_b —
    candidates form only inside a spacetime bucket (never all-pairs;
    bucket population is bounded by cell size × day, the same banding
    discipline as the dedup tiers). Output: pair + co-located bucket
    count + distinct co-located days."""
    s = _shift(res)
    occ = (
        pings.select(
            "user_id",
            F.expr(f"(ix DIV {s}) * {_PACK} + (iy DIV {s})").alias("cell"),
            "day",
        )
        .dropDuplicates(["user_id", "cell", "day"])
        .localCheckpoint(eager=False)
    )
    a, b = occ.alias("a"), occ.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell"))
        & (F.col("a.day") == F.col("b.day"))
        & (F.col("a.user_id") < F.col("b.user_id")),
    )
    return pairs.groupBy(
        F.col("a.user_id").alias("user_a"), F.col("b.user_id").alias("user_b")
    ).agg(
        F.count("*").alias("n_meets"),
        F.countDistinct(F.col("a.day")).alias("n_days"),
    )


def colocation_pairs_oracle(events_clause: str = "events", res: int = 8) -> str:
    s = _shift(res)
    return f"""WITH {pings_oracle_cte(events_clause)},
occ AS (
  SELECT DISTINCT user_id, (ix // {s}) * {_PACK} + (iy // {s}) AS cell, day
  FROM pings)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       count(*) AS n_meets, count(DISTINCT a.day) AS n_days
FROM occ a JOIN occ b
  ON a.cell = b.cell AND a.day = b.day AND a.user_id < b.user_id
GROUP BY a.user_id, b.user_id"""


# ---------------------------------------------------------------------------
# R45: trajectory similarity (visited-cell Jaccard)
# ---------------------------------------------------------------------------

def traj_jaccard(
    pings: DataFrame, res: int = 9, max_df: int = 50, min_inter: int = 3
) -> DataFrame:
    """User-pair trajectory similarity: Jaccard over visited res-9 cell
    sets. Candidates come ONLY from shared cells (inverted-index
    equi-join, a < b), with a document-frequency cap dropping cells
    visited by > ``max_df`` users — the dedup tiers' ubiquitous-token
    noise suppression applied to space (a plaza everyone crosses carries
    no similarity signal and would otherwise quadratically blow the
    bucket join). Set sizes stay exact; the similarity is integer-milli
    (inter·1000 DIV union)."""
    s = _shift(res)
    visited = (
        pings.select(
            "user_id",
            F.expr(f"(ix DIV {s}) * {_PACK} + (iy DIV {s})").alias("cell"),
        )
        .dropDuplicates(["user_id", "cell"])
        .localCheckpoint(eager=False)
    )
    sizes = visited.groupBy("user_id").agg(F.count("*").alias("sz"))
    rare = (
        visited.groupBy("cell")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= max_df)
        .select("cell")
    )
    a = visited.alias("a")
    b = visited.alias("b")
    pairs = (
        a.join(rare, "cell")
        .join(b, "cell")
        .where(F.col("a.user_id") < F.col("b.user_id"))
        .groupBy(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
        )
        .agg(F.count("*").alias("inter"))
        .where(F.col("inter") >= min_inter)
    )
    return (
        pairs.join(sizes.withColumnRenamed("user_id", "user_a"), "user_a")
        .withColumnRenamed("sz", "sz_a")
        .join(
            sizes.withColumnRenamed("user_id", "user_b").withColumnRenamed(
                "sz", "sz_b"
            ),
            "user_b",
        )
        .select(
            "user_a",
            "user_b",
            "inter",
            F.expr("(inter * 1000) DIV (sz_a + sz_b - inter)").alias(
                "jaccard_milli"
            ),
        )
    )


def traj_jaccard_oracle(
    events_clause: str = "events", res: int = 9, max_df: int = 50,
    min_inter: int = 3,
) -> str:
    s = _shift(res)
    return f"""WITH {pings_oracle_cte(events_clause)},
visited AS (
  SELECT DISTINCT user_id, (ix // {s}) * {_PACK} + (iy // {s}) AS cell
  FROM pings),
sizes AS (SELECT user_id, count(*) AS sz FROM visited GROUP BY user_id),
rare AS (SELECT cell FROM visited GROUP BY cell HAVING count(*) <= {max_df}),
pairs AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b, count(*) AS inter
  FROM visited a JOIN rare r ON a.cell = r.cell
  JOIN visited b ON b.cell = a.cell AND a.user_id < b.user_id
  GROUP BY 1, 2 HAVING count(*) >= {min_inter})
SELECT p.user_a, p.user_b, p.inter,
       (p.inter * 1000) // (sa.sz + sb.sz - p.inter) AS jaccard_milli
FROM pairs p JOIN sizes sa ON sa.user_id = p.user_a
JOIN sizes sb ON sb.user_id = p.user_b"""


# ---------------------------------------------------------------------------
# R53: directional (bearing) mix per trajectory
# ---------------------------------------------------------------------------

# 8-sector integer bearing of a step — pure sign/magnitude CASE (no trig:
# engine sin/cos/atan2 last-ulp differences could flip a sector; integer
# comparisons cannot). |dx| = |dy| is the exact diagonal.
SECTOR_SQL = (
    "CASE WHEN abs(dx) > abs(dy) THEN (CASE WHEN dx > 0 THEN 'E' ELSE 'W' END) "
    "WHEN abs(dy) > abs(dx) THEN (CASE WHEN dy > 0 THEN 'N' ELSE 'S' END) "
    "WHEN dx > 0 AND dy > 0 THEN 'NE' "
    "WHEN dx > 0 THEN 'SE' "
    "WHEN dy > 0 THEN 'NW' "
    "ELSE 'SW' END"
)


def bearing_mix(pings: DataFrame) -> DataFrame:
    """Per-user directional mix over MOVING steps: dominant 8-sector
    bearing (ties broken by sector name — deterministic), its share in
    milli, and the number of distinct sectors used. The movement analog
    of a per-group categorical mode profile.

    Scale shape: filter → (user, sector) agg → user agg + user window on
    the tiny per-user-sector frame (≤8 rows per user). The ping scan
    shuffles once, on user_id — the same key every trajectory op uses.
    """
    mv = pings.where("NOT (dx = 0 AND dy = 0)").select(
        "user_id", F.expr(SECTOR_SQL).alias("sector")
    )
    cnts = mv.groupBy("user_id", "sector").agg(F.count("*").alias("cnt"))
    tot = cnts.groupBy("user_id").agg(
        F.sum("cnt").cast("bigint").alias("n_moves"),
        F.count("*").cast("bigint").alias("n_sectors"),
    )
    win = Window.partitionBy("user_id").orderBy(
        F.desc("cnt"), F.col("sector")
    )
    dom = (
        cnts.withColumn("rn", F.row_number().over(win))
        .where("rn = 1")
        .select("user_id", F.col("sector").alias("dom_sector"), "cnt")
    )
    return (
        tot.join(dom, "user_id")
        .select(
            "user_id",
            "n_moves",
            "n_sectors",
            "dom_sector",
            F.expr("1000 * cnt DIV n_moves").alias("dom_share_milli"),
        )
    )


def bearing_mix_oracle(events_clause: str = "events") -> str:
    return f"""WITH {pings_oracle_cte(events_clause)},
mv AS (
  SELECT user_id, {SECTOR_SQL} AS sector
  FROM pings WHERE NOT (dx = 0 AND dy = 0)
),
cnts AS (SELECT user_id, sector, count(*) AS cnt FROM mv GROUP BY 1, 2),
tot AS (
  SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n_moves,
         CAST(count(*) AS BIGINT) AS n_sectors
  FROM cnts GROUP BY 1
),
dom AS (
  SELECT user_id, sector, cnt,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY cnt DESC, sector) AS rn
  FROM cnts
)
SELECT t.user_id, t.n_moves, t.n_sectors, d.sector AS dom_sector,
       (1000 * d.cnt) // t.n_moves AS dom_share_milli
FROM tot t JOIN dom d ON d.user_id = t.user_id AND d.rn = 1"""


# ---------------------------------------------------------------------------
# R62: one-pass polyline simplification (Visvalingam sweep)
# ---------------------------------------------------------------------------

# Doubled triangle area at interior vertex (prev, cur, next) — exact
# bigint cross product, the Visvalingam-Whyatt effective-area measure.
_AREA2 = (
    "abs((ix - px) * (ny - py) - (iy - py) * (nx - px))"
)


def simplify_stats(pings: DataFrame, tol: int = 400) -> DataFrame:
    """One-sweep Visvalingam polyline simplification per user: endpoints
    always survive; an interior vertex survives iff its doubled triangle
    area vs its neighbors is >= ``tol`` (grid units², exact bigint cross
    product). The 40% dwell fixes (zero step → zero area) and
    near-collinear runs drop, so the retention ratio is the trajectory's
    information density. Returns one row per user: (user_id, n_pings,
    n_kept, kept_milli, dropped_area2) — dropped_area2 is the total
    effective area discarded, the simplification error mass.

    Scale shape: one window over (user_id) — the same single
    entity-keyed exchange every trajectory op shares — then a groupBy on
    the identical key (no second shuffle). Reference analog: the span
    compaction that keeps only structure-bearing AST rows
    (ast_cache.py row filtering); here the structure measure is
    geometric.
    """
    w = Window.partitionBy("user_id").orderBy("seq")
    v = (
        pings.select("user_id", "seq", "ix", "iy")
        .withColumn("px", F.lag("ix").over(w))
        .withColumn("py", F.lag("iy").over(w))
        .withColumn("nx", F.lead("ix").over(w))
        .withColumn("ny", F.lead("iy").over(w))
        .withColumn(
            "kept",
            F.expr(
                "CASE WHEN px IS NULL OR nx IS NULL THEN 1 "
                f"WHEN {_AREA2} >= {tol} THEN 1 ELSE 0 END"
            ),
        )
        .withColumn(
            "darea2",
            F.expr(
                "CASE WHEN px IS NULL OR nx IS NULL THEN 0 "
                f"WHEN {_AREA2} >= {tol} THEN 0 ELSE {_AREA2} END"
            ),
        )
    )
    return v.groupBy("user_id").agg(
        F.count("*").alias("n_pings"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        F.expr("1000 * sum(kept) DIV count(*)").alias("kept_milli"),
        F.sum("darea2").cast("bigint").alias("dropped_area2"),
    )


def simplify_oracle(events_clause: str = "events", tol: int = 400) -> str:
    a2 = _AREA2
    return f"""WITH {pings_oracle_cte(events_clause)},
sv AS (
  SELECT user_id, seq, ix, iy,
         lag(ix) OVER (PARTITION BY user_id ORDER BY seq) AS px,
         lag(iy) OVER (PARTITION BY user_id ORDER BY seq) AS py,
         lead(ix) OVER (PARTITION BY user_id ORDER BY seq) AS nx,
         lead(iy) OVER (PARTITION BY user_id ORDER BY seq) AS ny
  FROM pings
),
sk AS (
  SELECT user_id,
         CASE WHEN px IS NULL OR nx IS NULL THEN 1
              WHEN {a2} >= {tol} THEN 1 ELSE 0 END AS kept,
         CASE WHEN px IS NULL OR nx IS NULL THEN 0
              WHEN {a2} >= {tol} THEN 0 ELSE {a2} END AS darea2
  FROM sv
)
SELECT user_id, count(*) AS n_pings,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       (1000 * sum(kept)) // count(*) AS kept_milli,
       CAST(sum(darea2) AS BIGINT) AS dropped_area2
FROM sk GROUP BY user_id"""


# ---------------------------------------------------------------------------
# R63: revisitation analysis (returner / explorer classification)
# ---------------------------------------------------------------------------

def revisit_stats(pings: DataFrame, res: int = 9) -> DataFrame:
    """Returner-vs-explorer mobility profile (Pappalardo et al., Nature
    Comms 2015): per user, how many distinct res-``res`` cells were
    visited, how many were RE-entered after leaving (distinct visit
    islands >= 2), and the revisit share. A user is a ``returner`` when
    at least half their cells are revisited, else an ``explorer``.

    Islands reuse the stop-detection discipline: within (user, cell) the
    run id ``seq - row_number()`` is constant exactly while fixes are
    consecutive, so n_islands per (user, cell) = distinct run ids. Both
    windows and both groupBys share the user-keyed exchange.
    """
    s = _shift(res)
    cellp = pings.withColumn(
        "cell", F.expr(f"(ix DIV {s}) * {_PACK} + (iy DIV {s})")
    )
    w = Window.partitionBy("user_id", "cell").orderBy("seq")
    per_cell = (
        cellp.withColumn("grp", F.col("seq") - F.row_number().over(w))
        .groupBy("user_id", "cell")
        .agg(F.countDistinct("grp").alias("n_visits"))
    )
    return (
        per_cell.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_cells"),
            F.sum(F.expr("CASE WHEN n_visits >= 2 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_revisited"),
            F.sum(F.expr("n_visits - 1")).cast("bigint").alias("n_returns"),
        )
        .select(
            "user_id",
            "n_cells",
            "n_revisited",
            "n_returns",
            F.expr("1000 * n_revisited DIV n_cells").alias("revisit_milli"),
            F.expr(
                "CASE WHEN 2 * n_revisited >= n_cells THEN 'returner' "
                "ELSE 'explorer' END"
            ).alias("mobility_class"),
        )
    )


def revisit_oracle(events_clause: str = "events", res: int = 9) -> str:
    s = _shift(res)
    return f"""WITH {pings_oracle_cte(events_clause)},
rcell AS (
  SELECT user_id, (ix // {s}) * {_PACK} + (iy // {s}) AS cell, seq,
         seq - row_number() OVER (
           PARTITION BY user_id, (ix // {s}) * {_PACK} + (iy // {s})
           ORDER BY seq) AS grp
  FROM pings
),
pc AS (
  SELECT user_id, cell, count(DISTINCT grp) AS n_visits
  FROM rcell GROUP BY 1, 2
),
pu AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(CASE WHEN n_visits >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_revisited,
         CAST(sum(n_visits - 1) AS BIGINT) AS n_returns
  FROM pc GROUP BY 1
)
SELECT user_id, n_cells, n_revisited, n_returns,
       (1000 * n_revisited) // n_cells AS revisit_milli,
       CASE WHEN 2 * n_revisited >= n_cells THEN 'returner'
            ELSE 'explorer' END AS mobility_class
FROM pu"""


# ---------------------------------------------------------------------------
# R67: Knox space-time interaction test
# ---------------------------------------------------------------------------
#
# The classic epidemiology statistic (Knox 1964): among all case pairs,
# does the count close in BOTH space and time exceed what the space-close
# and time-close margins predict under independence? ratio_milli =
# 1000·n_both·n_pairs / (n_space·n_time) > 1000 ⟹ space-time clustering
# (contagion-like movement). Complements Mann-Kendall (trend per cell)
# and colocation (pairs listed); Knox is the global interaction scalar.
#
# All three pair counts use the same LOSSLESS one-sided band fan: the
# LEFT case expands to every bucket within reach (3×3 cells for space,
# ±1 epoch band for time), the RIGHT stays in its home bucket, and the
# unique key order a < b makes each unordered pair join EXACTLY once —
# no distinct(), no all-pairs (the mapmatch/dbscan bucket discipline).
# The naive oracle re-derives every count from a true all-pairs join.

KNOX_DELTA = 40                       # grid units; d² ≤ δ²
KNOX_TAU_US = 6 * 3_600_000_000      # 6 hours
_KNOX_BUCKET = 64                     # ≥ δ → 3×3 fan is a lossless cover


def _knox_cases(pings: DataFrame) -> DataFrame:
    return pings.where("user_id % 10 = 0").select(
        F.expr("user_id * 1000000 + seq").alias("k"),
        "ix",
        "iy",
        F.expr(f"{_EPOCH_US_SPARK}").alias("ep"),
    )


def knox_test(pings: DataFrame) -> DataFrame:
    """One audit row: (n_cases, n_pairs, n_space, n_time, n_both,
    knox_ratio_milli) — all bigint; n_pairs = C(n,2) arithmetically."""
    c = _knox_cases(pings)
    b = _KNOX_BUCKET
    d2 = KNOX_DELTA * KNOX_DELTA

    def fan_space(df: DataFrame) -> DataFrame:
        return df.select(
            "k", "ix", "iy", "ep",
            F.explode(
                F.expr(
                    "array(-1, 0, 1)"
                )
            ).alias("ox"),
        ).select(
            "k", "ix", "iy", "ep", "ox",
            F.explode(F.expr("array(-1, 0, 1)")).alias("oy"),
        ).select(
            "k", "ix", "iy", "ep",
            F.expr(f"(ix DIV {b} + ox) * {_PACK} + (iy DIV {b} + oy)").alias(
                "sb"
            ),
        )

    home_s = c.select(
        F.col("k").alias("k2"), F.col("ix").alias("ix2"),
        F.col("iy").alias("iy2"), F.col("ep").alias("ep2"),
        F.expr(f"(ix DIV {b}) * {_PACK} + (iy DIV {b})").alias("sb"),
    )
    space_pred = (
        "k < k2 AND (ix - ix2) * (ix - ix2) + (iy - iy2) * (iy - iy2)"
        f" <= {d2}"
    )
    time_pred = f"k < k2 AND abs(ep - ep2) <= {KNOX_TAU_US}"
    sp = fan_space(c).join(home_s, "sb").where(F.expr(space_pred))
    n_space = sp.agg(F.count("*").alias("n_space"))
    n_both = sp.where(F.expr(f"abs(ep - ep2) <= {KNOX_TAU_US}")).agg(
        F.count("*").alias("n_both")
    )
    fan_t = c.select(
        "k", "ep",
        F.explode(F.expr("array(-1, 0, 1)")).alias("ot"),
    ).select("k", "ep", F.expr(f"ep DIV {KNOX_TAU_US} + ot").alias("tb"))
    home_t = c.select(
        F.col("k").alias("k2"), F.col("ep").alias("ep2"),
        F.expr(f"ep DIV {KNOX_TAU_US}").alias("tb"),
    )
    n_time = (
        fan_t.join(home_t, "tb")
        .where(F.expr(time_pred))
        .agg(F.count("*").alias("n_time"))
    )
    n = c.agg(F.count("*").alias("n_cases"))
    return (
        n.crossJoin(F.broadcast(n_space))
        .crossJoin(F.broadcast(n_time))
        .crossJoin(F.broadcast(n_both))
        .selectExpr(
            "n_cases",
            "n_cases * (n_cases - 1) DIV 2 AS n_pairs",
            "n_space",
            "n_time",
            "n_both",
            "1000 * n_both * (n_cases * (n_cases - 1) DIV 2)"
            " DIV (n_space * n_time) AS knox_ratio_milli",
        )
    )


def knox_oracle(events_clause: str = "events") -> str:
    d2 = KNOX_DELTA * KNOX_DELTA
    return f"""WITH {pings_oracle_cte(events_clause)},
kc AS (
  SELECT user_id * 1000000 + seq AS k, ix, iy,
         {_EPOCH_US_DUCK} AS ep
  FROM pings WHERE user_id % 10 = 0
),
kp AS (
  SELECT (a.ix - b.ix) * (a.ix - b.ix)
         + (a.iy - b.iy) * (a.iy - b.iy) <= {d2} AS sclose,
         abs(a.ep - b.ep) <= {KNOX_TAU_US} AS tclose
  FROM kc a JOIN kc b ON a.k < b.k
),
kt AS (
  SELECT (SELECT count(*) FROM kc) AS n_cases,
         CAST(sum(CASE WHEN sclose THEN 1 ELSE 0 END) AS BIGINT) AS n_space,
         CAST(sum(CASE WHEN tclose THEN 1 ELSE 0 END) AS BIGINT) AS n_time,
         CAST(sum(CASE WHEN sclose AND tclose THEN 1 ELSE 0 END) AS BIGINT)
           AS n_both
  FROM kp
)
SELECT n_cases, n_cases * (n_cases - 1) // 2 AS n_pairs,
       n_space, n_time, n_both,
       (1000 * n_both * (n_cases * (n_cases - 1) // 2))
         // (n_space * n_time) AS knox_ratio_milli
FROM kt"""


# ---------------------------------------------------------------------------
# R70: mobility gyration + location-concentration profile
# ---------------------------------------------------------------------------

def gyration_profile(pings: DataFrame, res: int = 9) -> DataFrame:
    """Per-user mobility profile — the Gonzalez-2008 radius of gyration
    next to the Pappalardo location-concentration measures:

    - ``rg2_x100``: squared radius of gyration ×100 (grid units²), the
      exact integer ``(100·(n·Σ(rx²+ry²) − (Σrx)² − (Σry)²)) DIV n²``
      over START-RELATIVE coordinates (rx = ix − sx). Translation
      invariance makes the relative frame lossless, and |rx| ≤ 20·n
      keeps every product far inside int64 at any tested SF. The
      numerator is ≥ 0 (Cauchy-Schwarz), so Spark DIV and DuckDB //
      agree.
    - ``n_cells9`` distinct visited res-9 cells, ``simpson_num`` the
      Simpson collision count Σ n_c·(n_c−1) (an exact-integer diversity
      index — no entropy logs cross the engine boundary), and
      ``top_share_milli`` the dominant location's visit share in ‰.

    Scale shape: groupBy (user, cell) with full partial aggregation,
    then groupBy (user) over the visited-cell frame — the second
    exchange carries ≤ #distinct-cells rows per user, never pings.
    """
    s = _shift(res)
    pc = (
        pings.select(
            "user_id",
            F.expr(f"(ix DIV {s}) * {_PACK} + (iy DIV {s})").alias("cell"),
            (F.col("ix") - F.col("sx")).alias("rx"),
            (F.col("iy") - F.col("sy")).alias("ry"),
        )
        .groupBy("user_id", "cell")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("rx").alias("srx"),
            F.sum("ry").alias("sry"),
            F.sum(F.expr("rx * rx")).alias("srx2"),
            F.sum(F.expr("ry * ry")).alias("sry2"),
        )
    )
    return (
        pc.groupBy("user_id")
        .agg(
            F.sum("cnt").alias("n_pings"),
            F.sum("srx").alias("tsrx"),
            F.sum("sry").alias("tsry"),
            F.sum(F.expr("srx2 + sry2")).alias("tsr2"),
            F.count("*").alias("n_cells9"),
            F.sum(F.expr("cnt * (cnt - 1)")).alias("simpson_num"),
            F.max("cnt").alias("top_cnt"),
        )
        .select(
            "user_id",
            "n_pings",
            F.expr(
                "(100 * (n_pings * tsr2 - tsrx * tsrx - tsry * tsry))"
                " DIV (n_pings * n_pings)"
            ).alias("rg2_x100"),
            "n_cells9",
            "simpson_num",
            F.expr("(1000 * top_cnt) DIV n_pings").alias("top_share_milli"),
        )
    )


def gyration_profile_oracle(
    events_clause: str = "events", res: int = 9
) -> str:
    s = _shift(res)
    return f"""WITH {pings_oracle_cte(events_clause)},
pc AS (
  SELECT user_id, (ix // {s}) * {_PACK} + (iy // {s}) AS cell,
         count(*) AS cnt,
         SUM(ix - sx) AS srx, SUM(iy - sy) AS sry,
         SUM((ix - sx) * (ix - sx) + (iy - sy) * (iy - sy)) AS sr2
  FROM pings GROUP BY 1, 2)
SELECT user_id,
       SUM(cnt) AS n_pings,
       (100 * (SUM(cnt) * SUM(sr2) - SUM(srx) * SUM(srx)
               - SUM(sry) * SUM(sry)))
         // (SUM(cnt) * SUM(cnt)) AS rg2_x100,
       count(*) AS n_cells9,
       SUM(cnt * (cnt - 1)) AS simpson_num,
       (1000 * MAX(cnt)) // SUM(cnt) AS top_share_milli
FROM pc GROUP BY user_id"""


# ---------------------------------------------------------------------------
# R82: per-cell change-point detection (integer CUSUM)
# ---------------------------------------------------------------------------

CUSUM_RES = 7
CUSUM_MIN_PINGS = 20  # >=13 cells at sf0.001, >=158 at sf0.01 — never gate-vacuous


def cell_cusum(pings: DataFrame, res: int = CUSUM_RES,
               min_pings: int = CUSUM_MIN_PINGS) -> DataFrame:
    """Change-point detection over the spacetime cube: for each res-7
    cell with >= ``min_pings`` pings, the CUSUM statistic of daily ping
    counts — cum_d = Σ_{d'<=d} (D·n_d' − T) with D = observed days and
    T = total pings (∝ n_d' − mean, exactly, scaled by D) — and the
    change day = argmax |cum| (min-day tie-break). A dwell regime that
    shifts mid-month shows a pronounced |cum| peak at the shift day.

    All-bigint (counts and exact scaled deviations — no float mean
    crosses the engine boundary). Scale shape: one (cell, day) agg, a
    cell-keyed window cumsum, and a cell rollup — the window and both
    groupBys share the cell hash partitioning; the day frame is
    ≤ cells × days, never pings.
    """
    s = _shift(res)
    cd = (
        pings.groupBy(
            F.expr(f"(ix DIV {s}) * {_PACK} + (iy DIV {s})").alias("cell"),
            "day",
        )
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("cell")
    tot = cd.select(
        "cell", "day", "n",
        F.sum("n").over(w).alias("t"),
        F.count("*").over(w).alias("d_cnt"),
    ).where(F.col("t") >= min_pings)
    wo = Window.partitionBy("cell").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = tot.withColumn(
        "cum", F.sum(F.expr("d_cnt * n - t")).over(wo)
    )
    return (
        cum.groupBy("cell")
        .agg(
            F.max("d_cnt").alias("n_days"),
            F.max("t").alias("n_pings"),
            F.max(F.abs(F.col("cum"))).alias("max_abs_cusum"),
            # argmax |cum| with min-day tie-break as ONE bigint arg_min
            # key (day − |cum|·10⁶; |cum| dominates, day breaks ties and
            # makes the key unique — the min_by↔arg_min discipline)
            F.min_by("day", F.expr("day - abs(cum) * 1000000")).alias(
                "change_day"
            ),
        )
    )


def cell_cusum_oracle(events_clause: str = "events",
                      res: int = CUSUM_RES,
                      min_pings: int = CUSUM_MIN_PINGS) -> str:
    s = _shift(res)
    return f"""WITH {pings_oracle_cte(events_clause)},
cd AS (
  SELECT (ix // {s}) * {_PACK} + (iy // {s}) AS cell, day, count(*) AS n
  FROM pings GROUP BY 1, 2),
tot AS (
  SELECT cell, day, n,
         SUM(n) OVER (PARTITION BY cell) AS t,
         COUNT(*) OVER (PARTITION BY cell) AS d_cnt
  FROM cd),
cum AS (
  SELECT cell, day, t, d_cnt,
         SUM(d_cnt * n - t) OVER (PARTITION BY cell ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tot WHERE t >= {min_pings})
SELECT cell, MAX(d_cnt) AS n_days, MAX(t) AS n_pings,
       MAX(abs(cum)) AS max_abs_cusum,
       arg_min(day, day - abs(cum) * 1000000) AS change_day
FROM cum GROUP BY cell"""


# ---------------------------------------------------------------------------
# R94: time-respecting contact reachability (epidemic spread)
# ---------------------------------------------------------------------------

EPI_RES = 8
EPI_SEED_MOD = 10
EPI_ROUNDS = 30


def epidemic_reach(spark, pings: DataFrame, res: int = EPI_RES) -> DataFrame:
    """(user_id, day_infected): who is reachable from the seed users
    (user_id % 10 == 0, infected at their first active day) through
    TIME-RESPECTING contact chains — a contact on day d transmits only
    if the source was already infected by d (d >= d_src). The temporal
    analog of reachability: plain transitive closure over the contact
    graph would overcount (it ignores arrow-of-time ordering).

    Mechanics: distinct (user, cell, day) presence → (cell, day)-keyed
    contact self-join (the colocation discipline, both directions) →
    min-day relaxation loop, exactly the weighted_sssp shape (join +
    min-agg per round, two rounds per checkpoint, scalar (count, sum)
    fixpoint probe — infection days only decrease, the set only grows).
    The oracle replays the capped walk recursively, so parity holds
    whether or not the loop converged inside the cap.
    """
    from .graph import _even_steps

    s = _shift(res)
    occ = (
        pings.select(
            "user_id",
            F.expr(f"(ix DIV {s}) * {_PACK} + (iy DIV {s})").alias("cell"),
            "day",
        )
        .dropDuplicates(["user_id", "cell", "day"])
        .localCheckpoint(eager=False)
    )
    a, b = occ.alias("a"), occ.alias("b")
    contacts = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.user_id") != F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("u"),
            F.col("b.user_id").alias("v"),
            F.col("a.day").alias("cday"),
        )
        .dropDuplicates(["u", "v", "cday"])
        .localCheckpoint(eager=False)
    )
    inf = (
        pings.where(F.col("user_id") % EPI_SEED_MOD == 0)
        .groupBy("user_id")
        .agg(F.min("day").alias("d"))
        .select(F.col("user_id").alias("v"), "d")
    )

    def relax(state):
        st, ct = state.alias("st"), contacts.alias("ct")
        cand = (
            st.join(ct, F.col("st.v") == F.col("ct.u"))
            .where(F.col("ct.cday") >= F.col("st.d"))
            .select(F.col("ct.v").alias("v"), F.col("ct.cday").alias("d"))
        )
        return state.unionByName(cand).groupBy("v").agg(
            F.min("d").alias("d")
        )

    prev_sig = None
    for _ in range(_even_steps(EPI_ROUNDS) // 2):
        nxt = relax(relax(inf)).localCheckpoint(eager=True)
        row = nxt.agg(F.count("*").alias("n"), F.sum("d").alias("sd")).first()
        sig = (row["n"], row["sd"])
        inf = nxt
        if sig == prev_sig:
            break
        prev_sig = sig
    return inf.select(F.col("v").alias("user_id"), F.col("d").alias("day_infected"))


def epidemic_reach_oracle(events_clause: str = "events", res: int = EPI_RES) -> str:
    from .graph import _even_steps

    s = _shift(res)
    steps = _even_steps(EPI_ROUNDS)
    return f"""WITH RECURSIVE {pings_oracle_cte(events_clause)},
epi_occ AS (
  SELECT DISTINCT user_id, (ix // {s}) * {_PACK} + (iy // {s}) AS cell, day
  FROM pings),
epi_contacts AS (
  SELECT DISTINCT a.user_id AS u, b.user_id AS v, a.day AS cday
  FROM epi_occ a JOIN epi_occ b
    ON a.cell = b.cell AND a.day = b.day AND a.user_id != b.user_id),
epi_seeds AS (
  SELECT user_id AS v, min(day) AS d FROM pings
  WHERE user_id % {EPI_SEED_MOD} = 0 GROUP BY 1),
epi_walk(v, d, hops) AS (
  SELECT v, d, 0 FROM epi_seeds
  UNION
  SELECT c.v, c.cday, w.hops + 1
  FROM epi_walk w JOIN epi_contacts c ON c.u = w.v AND c.cday >= w.d
  WHERE w.hops < {steps})
SELECT v AS user_id, min(d) AS day_infected FROM epi_walk GROUP BY v"""


# ---------------------------------------------------------------------------
# R114: convoy detection — SUSTAINED co-movement, not just contact.
# colocation_pairs (R40) counts spacetime bucket meetings; a convoy is a
# pair whose meetings persist over CONSECUTIVE days (Jeung 2008's convoy
# relaxed to day granularity over the res-8 presence quotient).
# Gaps-and-islands over the pair's distinct meet-days: island id =
# day − row_number (consecutive days share it), longest island = the
# convoy duration. Everything downstream of the (cell, day)-bucketed
# contact join is keyed per pair — never all-pairs, and the per-pair
# day list is bounded by the calendar, not the data.
# ---------------------------------------------------------------------------

CONVOY_RES = 8
CONVOY_MIN_RUN = 2


def convoy_pairs(
    pings: DataFrame, res: int = CONVOY_RES, min_run: int = CONVOY_MIN_RUN
) -> DataFrame:
    """(user_a, user_b, n_days, max_run): pairs co-located on >= min_run
    CONSECUTIVE days, with their total meet-day count and longest
    consecutive-day run."""
    s = _shift(res)
    occ = pings.select(
        "user_id",
        F.expr(f"(ix DIV {s}) * {_PACK} + (iy DIV {s})").alias("cell"),
        "day",
    ).dropDuplicates(["user_id", "cell", "day"])
    a, b = occ.alias("a"), occ.alias("b")
    meet_days = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("a.day").alias("day"),
        )
        .dropDuplicates(["user_a", "user_b", "day"])
    )
    w = Window.partitionBy("user_a", "user_b").orderBy("day")
    runs = meet_days.withColumn(
        "island", F.col("day") - F.row_number().over(w)
    )
    per_island = runs.groupBy("user_a", "user_b", "island").agg(
        F.count("*").alias("run_len")
    )
    return (
        per_island.groupBy("user_a", "user_b")
        .agg(
            F.sum("run_len").alias("n_days"),
            F.max("run_len").alias("max_run"),
        )
        .where(F.col("max_run") >= min_run)
    )


def convoy_oracle(
    events_clause: str = "events",
    res: int = CONVOY_RES,
    min_run: int = CONVOY_MIN_RUN,
) -> str:
    s = _shift(res)
    return f"""WITH {pings_oracle_cte(events_clause)},
cv_occ AS (
  SELECT DISTINCT user_id, (ix // {s}) * {_PACK} + (iy // {s}) AS cell, day
  FROM pings),
cv_meet AS (
  SELECT DISTINCT a.user_id AS user_a, b.user_id AS user_b, a.day AS day
  FROM cv_occ a JOIN cv_occ b
    ON a.cell = b.cell AND a.day = b.day AND a.user_id < b.user_id),
cv_runs AS (
  SELECT user_a, user_b, day,
         day - row_number() OVER (PARTITION BY user_a, user_b
                                  ORDER BY day) AS island
  FROM cv_meet),
cv_isl AS (
  SELECT user_a, user_b, island, count(*) AS run_len
  FROM cv_runs GROUP BY 1, 2, 3)
SELECT user_a, user_b, CAST(sum(run_len) AS BIGINT) AS n_days,
       max(run_len) AS max_run
FROM cv_isl GROUP BY user_a, user_b
HAVING max(run_len) >= {min_run}"""


# ---------------------------------------------------------------------------
# R115: gravity-model fit over the OD matrix — spatial interaction
# modeling. Null model: T_ij = O_i · D_j / T (no distance decay).
# obs vs expected per OD pair, both exact integers (expected in
# micro-trips, ratio in milli). A ratio far from 1000 = the flow the
# null model can't explain (distance decay / hotspot structure).
# ---------------------------------------------------------------------------


def od_gravity(pings: DataFrame, res: int = 7) -> DataFrame:
    """Per observed OD pair: (origin_cell, dest_cell, n_obs, o_out, d_in,
    exp_micro, ratio_milli). exp_micro = 10^6·O_i·D_j DIV T;
    ratio_milli = 1000·n_obs·T DIV (O_i·D_j). All-positive integers."""
    od = od_flows(pings, res=res).localCheckpoint(eager=False)
    o_out = od.groupBy("origin_cell").agg(F.sum("n_users").alias("o_out"))
    d_in = od.groupBy("dest_cell").agg(F.sum("n_users").alias("d_in"))
    tot = od.agg(F.sum("n_users").alias("t_all"))
    return (
        od.join(o_out, "origin_cell")
        .join(d_in, "dest_cell")
        .crossJoin(F.broadcast(tot))
        .select(
            "origin_cell",
            "dest_cell",
            F.col("n_users").alias("n_obs"),
            "o_out",
            "d_in",
            F.expr("(1000000 * o_out * d_in) DIV t_all").alias("exp_micro"),
            F.expr("(1000 * n_users * t_all) DIV (o_out * d_in)").alias(
                "ratio_milli"
            ),
        )
    )


def od_gravity_oracle(events_clause: str = "events", res: int = 7) -> str:
    s = _shift(res)
    return f"""WITH {pings_oracle_cte(events_clause)},
gv_user AS (
  SELECT user_id,
         arg_min((ix // {s}) * {_PACK} + (iy // {s}), seq) AS origin_cell,
         arg_max((ix // {s}) * {_PACK} + (iy // {s}), seq) AS dest_cell
  FROM pings GROUP BY user_id),
gv_od AS (
  SELECT origin_cell, dest_cell, count(*) AS n_obs
  FROM gv_user GROUP BY 1, 2),
gv_o AS (SELECT origin_cell, sum(n_obs) AS o_out FROM gv_od GROUP BY 1),
gv_d AS (SELECT dest_cell, sum(n_obs) AS d_in FROM gv_od GROUP BY 1),
gv_t AS (SELECT sum(n_obs) AS t_all FROM gv_od)
SELECT od.origin_cell, od.dest_cell, od.n_obs, o.o_out, d.d_in,
       (1000000 * o.o_out * d.d_in) // t_all AS exp_micro,
       (1000 * od.n_obs * t_all) // (o.o_out * d.d_in) AS ratio_milli
FROM gv_od od
JOIN gv_o o USING (origin_cell)
JOIN gv_d d USING (dest_cell)
CROSS JOIN gv_t"""


# ---------------------------------------------------------------------------
# R137: co-visitation recommender (item-item collaborative filtering,
# Sarwar 2001 / the classic "people who visited X also visited Y" —
# public literature) over the ping walk: items are coarse cells
# (ix >> COVISIT_SHIFT — all walk coordinates are positive, so the
# arithmetic shift is engine-identical), a user's visit set is the
# DISTINCT coarse cells they ping, similarity is the exact integer
# SQUARED cosine  sim_milli = 1000·cooc² DIV (n_a·n_b)  (squaring
# removes the sqrt — monotone, so rankings are preserved and
# bit-deterministic), rank ties broken by (cooc DESC, target key ASC).
#
# Scale shape: the pair fan is per-user over the user's DISTINCT coarse
# cells — bounded by the per-user item cap (observed ≤ 40 here; real
# recommenders cap per-user history exactly this way), aggregated
# IN-STREAM to (cell_a, cell_b, cooc) so pair rows die inside the join
# stage (the dense-neighborhood rule); cell popularity joins back by
# key, top-K per source cell is one window.
# ---------------------------------------------------------------------------

COVISIT_SHIFT = 4
COVISIT_K = 3
_CV_PACK = 1_048_576


def covisit_topk(
    spark: SparkSession,
    sf_dir: str,
    shift: int = COVISIT_SHIFT,
    k: int = COVISIT_K,
) -> DataFrame:
    """(cx, cy, rcx, rcy, cooc, sim_milli, rank) — for every coarse cell,
    the top-``k`` most-co-visited other cells."""
    p = pings_df(spark, sf_dir)
    visits = p.selectExpr(
        "user_id",
        f"shiftright(ix, {shift}) AS cx",
        f"shiftright(iy, {shift}) AS cy",
    ).distinct()
    keyed = visits.selectExpr("user_id", f"cx * {_CV_PACK} + cy AS pk")
    a = keyed.toDF("user_id", "pa")
    b = keyed.toDF("user_id", "pb")
    cooc = (
        a.join(b, "user_id")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("cooc"))
    )
    pop = keyed.groupBy("pk").agg(F.count("*").alias("n_users"))
    both = cooc.unionByName(
        cooc.select(
            F.col("pb").alias("pa"), F.col("pa").alias("pb"), "cooc"
        )
    )
    scored = (
        both.join(pop.toDF("pa", "na"), "pa")
        .join(pop.toDF("pb", "nb"), "pb")
        .selectExpr(
            "pa", "pb", "cooc",
            "(1000 * cooc * cooc) DIV (na * nb) AS sim_milli",
        )
    )
    win = Window.partitionBy("pa").orderBy(
        F.desc("sim_milli"), F.desc("cooc"), F.col("pb")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .selectExpr(
            f"pa DIV {_CV_PACK} AS cx", f"pa % {_CV_PACK} AS cy",
            f"pb DIV {_CV_PACK} AS rcx", f"pb % {_CV_PACK} AS rcy",
            "cooc", "sim_milli", "CAST(rank AS BIGINT) AS rank",
        )
    )


def covisit_oracle(shift: int = COVISIT_SHIFT, k: int = COVISIT_K) -> str:
    return f"""WITH {pings_oracle_cte()},
cv_v AS (
  SELECT DISTINCT user_id, (ix >> {shift}) * {_CV_PACK} + (iy >> {shift})
           AS pk
  FROM pings),
cv_cooc AS (
  SELECT a.pk AS pa, b.pk AS pb, count(*) AS cooc
  FROM cv_v a JOIN cv_v b ON a.user_id = b.user_id AND a.pk < b.pk
  GROUP BY 1, 2),
cv_pop AS (SELECT pk, count(*) AS n_users FROM cv_v GROUP BY 1),
cv_both AS (
  SELECT pa, pb, cooc FROM cv_cooc
  UNION ALL
  SELECT pb, pa, cooc FROM cv_cooc),
cv_sc AS (
  SELECT c.pa, c.pb, c.cooc,
         (1000 * c.cooc * c.cooc) // (na.n_users * nb.n_users) AS sim_milli
  FROM cv_both c
  JOIN cv_pop na ON na.pk = c.pa
  JOIN cv_pop nb ON nb.pk = c.pb),
cv_rk AS (
  SELECT *, row_number() OVER (PARTITION BY pa
             ORDER BY sim_milli DESC, cooc DESC, pb) AS rank
  FROM cv_sc)
SELECT pa // {_CV_PACK} AS cx, pa % {_CV_PACK} AS cy,
       pb // {_CV_PACK} AS rcx, pb % {_CV_PACK} AS rcy,
       cooc, sim_milli, CAST(rank AS BIGINT) AS rank
FROM cv_rk WHERE rank <= {k}"""


# ---------------------------------------------------------------------------
# R181: trajectory Hausdorff distance — the METRIC companion to the
# set-based traj_jaccard (R49): for every candidate user pair, the
# classic symmetric Hausdorff distance max(h(A→B), h(B→A)) with
# h(A→B) = max_a min_b d(a,b), d = Chebyshev on the exact res-12
# integer walk (no floats anywhere). Candidates come ONLY from the
# traj_jaccard shared-rare-cell equi-join (never all user pairs), and
# each trajectory enters the point fan DOWN-SAMPLED (every 4th fix,
# seq <= 256) so the per-pair point fan is capped at 64×64; the
# quadratic point-pair rows aggregate IN-STREAM (map-side partial
# min per (pair, anchor point)) and die inside the join stage — the
# dense-neighborhood discipline. The two directed passes re-run the
# candidate join once per consumer rather than materializing pair rows.
# ---------------------------------------------------------------------------

HAUS_SAMPLE = 4
HAUS_MAX_SEQ = 256


def _haus_pts(pings: DataFrame) -> DataFrame:
    return pings.where(
        (F.col("seq") % HAUS_SAMPLE == 0) & (F.col("seq") <= HAUS_MAX_SEQ)
    ).select("user_id", "seq", "ix", "iy")


def _haus_directed(
    cand: DataFrame, pts: DataFrame, src: str, dst: str, out: str
) -> DataFrame:
    a = pts.selectExpr(
        f"user_id AS {src}", "seq AS seq_a", "ix AS ixa", "iy AS iya"
    )
    b = pts.selectExpr(
        f"user_id AS {dst}", "ix AS ixb", "iy AS iyb"
    )
    return (
        cand.join(a, src)
        .join(b, dst)
        .groupBy("user_a", "user_b", "seq_a")
        .agg(
            F.expr(
                "min(greatest(abs(ixa - ixb), abs(iya - iyb)))"
            ).alias("d")
        )
        .groupBy("user_a", "user_b")
        .agg(F.max("d").cast("bigint").alias(out))
    )


def hausdorff_pairs(pings: DataFrame) -> DataFrame:
    """(user_a, user_b, h_ab, h_ba, h_sym): symmetric Hausdorff distance
    in res-12 integer units per candidate pair."""
    cand = (
        traj_jaccard(pings)
        .select("user_a", "user_b")
        .localCheckpoint(eager=False)
    )
    pts = _haus_pts(pings).localCheckpoint(eager=False)
    h1 = _haus_directed(cand, pts, "user_a", "user_b", "h_ab")
    h2 = _haus_directed(cand, pts, "user_b", "user_a", "h_ba")
    return h1.join(h2, ["user_a", "user_b"]).selectExpr(
        "user_a", "user_b", "h_ab", "h_ba",
        "greatest(h_ab, h_ba) AS h_sym",
    )


def hausdorff_oracle(
    events_clause: str = "events", res: int = 9, max_df: int = 50,
    min_inter: int = 3,
) -> str:
    s = _shift(res)
    return f"""WITH {pings_oracle_cte(events_clause)},
hd_vis AS (
  SELECT DISTINCT user_id, (ix // {s}) * {_PACK} + (iy // {s}) AS cell
  FROM pings),
hd_rare AS (
  SELECT cell FROM hd_vis GROUP BY cell HAVING count(*) <= {max_df}),
hd_cand AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b
  FROM hd_vis a JOIN hd_rare r ON a.cell = r.cell
  JOIN hd_vis b ON b.cell = a.cell AND a.user_id < b.user_id
  GROUP BY 1, 2 HAVING count(*) >= {min_inter}),
hd_pts AS (
  SELECT user_id, seq, ix, iy FROM pings
  WHERE seq % {HAUS_SAMPLE} = 0 AND seq <= {HAUS_MAX_SEQ}),
hd_d1 AS (
  SELECT c.user_a, c.user_b, a.seq,
         min(greatest(abs(a.ix - b.ix), abs(a.iy - b.iy))) AS d
  FROM hd_cand c
  JOIN hd_pts a ON a.user_id = c.user_a
  JOIN hd_pts b ON b.user_id = c.user_b
  GROUP BY 1, 2, 3),
hd_h1 AS (
  SELECT user_a, user_b, CAST(max(d) AS BIGINT) AS h_ab
  FROM hd_d1 GROUP BY 1, 2),
hd_d2 AS (
  SELECT c.user_a, c.user_b, b.seq,
         min(greatest(abs(a.ix - b.ix), abs(a.iy - b.iy))) AS d
  FROM hd_cand c
  JOIN hd_pts b ON b.user_id = c.user_b
  JOIN hd_pts a ON a.user_id = c.user_a
  GROUP BY 1, 2, 3),
hd_h2 AS (
  SELECT user_a, user_b, CAST(max(d) AS BIGINT) AS h_ba
  FROM hd_d2 GROUP BY 1, 2)
SELECT h1.user_a, h1.user_b, h1.h_ab, h2.h_ba,
       greatest(h1.h_ab, h2.h_ba) AS h_sym
FROM hd_h1 h1 JOIN hd_h2 h2
  ON h2.user_a = h1.user_a AND h2.user_b = h1.user_b"""


# ---------------------------------------------------------------------------
# R191: IPF / Furness matrix balancing (Deming & Stephan 1940; the
# transport-modeling workhorse): rescale the observed res-7 OD flow
# matrix to DETERMINISTIC new margins — each cell's balanced target
# t(c) = (outflow(c) + inflow(c)) DIV 2, the "rebalance to symmetric
# in/out" calibration — by alternating row and column proportional
# fits, f ← f·t(o) DIV rowsum(o) then f ← f·t(d) DIV colsum(d), in
# milli-mass integers (floors compound identically on both engines).
# The output is the CONVERGENCE TABLE: per iteration the absolute
# margin errors per-mille — the number a planner actually reads.
# Structurally-absent flows (a cell with inflow target but no outgoing
# observed pairs) keep the error floor honestly above zero.
# Scale: every step is a groupBy + equi-join on the OD-pair dimension
# frame (bounded by observed pairs, never users); 3 rounds, each
# checkpointed.
# ---------------------------------------------------------------------------

IPF_ROUNDS = 3


def _ipf_margins(cur: DataFrame, key: str) -> DataFrame:
    return cur.groupBy(key).agg(
        F.expr("CAST(sum(f) AS BIGINT)").alias("ms")
    )


def _ipf_err(cur: DataFrame, t: DataFrame, key: str) -> DataFrame:
    """One row: (err_pm,) for the given margin vs targets."""
    ms = _ipf_margins(cur, key).withColumnRenamed(key, "cell")
    return (
        t.join(ms, "cell", "left")
        .selectExpr("t_m", "coalesce(ms, CAST(0 AS BIGINT)) AS ms")
        .agg(
            F.expr("CAST((1000 * sum(abs(ms - t_m))) DIV sum(t_m)"
                   " AS BIGINT)").alias("err_pm")
        )
    )


def ipf_balance(pings: DataFrame, rounds: int = IPF_ROUNDS) -> DataFrame:
    """(iter, row_err_pm, col_err_pm, total_milli): margin convergence
    of Furness balancing toward the symmetric in/out targets."""
    flows = od_flows(pings, 7).selectExpr(
        "origin_cell AS o", "dest_cell AS d",
        "CAST(n_users * 1000 AS BIGINT) AS f",
    ).localCheckpoint(eager=True)
    out0 = flows.groupBy("o").agg(F.expr("sum(f) AS om"))
    in0 = flows.groupBy("d").agg(F.expr("sum(f) AS im"))
    t = (
        out0.selectExpr("o AS cell", "om")
        .join(in0.selectExpr("d AS cell", "im"), "cell", "full")
        .selectExpr(
            "cell",
            "(coalesce(om, CAST(0 AS BIGINT))"
            " + coalesce(im, CAST(0 AS BIGINT))) DIV 2 AS t_m",
        )
        .localCheckpoint(eager=True)
    )
    rows = []
    cur = flows
    for it in range(rounds + 1):
        re = _ipf_err(cur, t, "o").withColumnRenamed("err_pm", "row_err_pm")
        ce = _ipf_err(cur, t, "d").withColumnRenamed("err_pm", "col_err_pm")
        tot = cur.agg(F.expr("CAST(sum(f) AS BIGINT) AS total_milli"))
        rows.append(
            re.crossJoin(ce)
            .crossJoin(tot)
            .selectExpr(
                f"CAST({it} AS BIGINT) AS iter",
                "row_err_pm", "col_err_pm", "total_milli",
            )
        )
        if it == rounds:
            break
        rs = _ipf_margins(cur, "o").withColumnRenamed("ms", "rs")
        cur = (
            cur.join(rs, "o")
            .join(t.selectExpr("cell AS o", "t_m AS tr"), "o")
            .selectExpr("o", "d", "(f * tr) DIV rs AS f")
        )
        cs = _ipf_margins(cur, "d").withColumnRenamed("ms", "cs")
        cur = (
            cur.join(cs, "d")
            .join(t.selectExpr("cell AS d", "t_m AS tc"), "d")
            .selectExpr("o", "d", "(f * tc) DIV cs AS f")
            .localCheckpoint(eager=True)
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def ipf_oracle(events_clause: str = "events",
               rounds: int = IPF_ROUNDS) -> str:
    s = _shift(7)
    ctes = [f"""ipf_od AS (
  SELECT user_id,
         arg_min((ix // {s}) * {_PACK} + (iy // {s}), seq) AS o,
         arg_max((ix // {s}) * {_PACK} + (iy // {s}), seq) AS d
  FROM pings GROUP BY 1)""", """ipf_f0 AS (
  SELECT o, d, CAST(count(*) * 1000 AS BIGINT) AS f
  FROM ipf_od GROUP BY 1, 2)""", """ipf_t AS (
  SELECT coalesce(a.cell, b.cell) AS cell,
         (coalesce(a.om, 0) + coalesce(b.im, 0)) // 2 AS t_m
  FROM (SELECT o AS cell, sum(f) AS om FROM ipf_f0 GROUP BY 1) a
  FULL JOIN (SELECT d AS cell, sum(f) AS im FROM ipf_f0 GROUP BY 1) b
    ON b.cell = a.cell)"""]
    errs = []
    for it in range(rounds + 1):
        p = f"ipf_f{2 * it}"
        errs.append(f"""
  SELECT CAST({it} AS BIGINT) AS iter,
    (SELECT CAST((1000 * sum(abs(coalesce(m.ms, 0) - t.t_m)))
       // sum(t.t_m) AS BIGINT)
     FROM ipf_t t LEFT JOIN
       (SELECT o, CAST(sum(f) AS BIGINT) AS ms FROM {p} GROUP BY 1) m
       ON m.o = t.cell) AS row_err_pm,
    (SELECT CAST((1000 * sum(abs(coalesce(m.ms, 0) - t.t_m)))
       // sum(t.t_m) AS BIGINT)
     FROM ipf_t t LEFT JOIN
       (SELECT d, CAST(sum(f) AS BIGINT) AS ms FROM {p} GROUP BY 1) m
       ON m.d = t.cell) AS col_err_pm,
    (SELECT CAST(sum(f) AS BIGINT) FROM {p}) AS total_milli""")
        if it == rounds:
            break
        ctes.append(f"""ipf_f{2 * it + 1} AS MATERIALIZED (
  SELECT c.o, c.d, (c.f * t.t_m) // r.rs AS f
  FROM ipf_f{2 * it} c
  JOIN (SELECT o, sum(f) AS rs FROM ipf_f{2 * it} GROUP BY 1) r
    ON r.o = c.o
  JOIN ipf_t t ON t.cell = c.o)""")
        ctes.append(f"""ipf_f{2 * it + 2} AS MATERIALIZED (
  SELECT c.o, c.d, (c.f * t.t_m) // s.cs AS f
  FROM ipf_f{2 * it + 1} c
  JOIN (SELECT d, sum(f) AS cs FROM ipf_f{2 * it + 1} GROUP BY 1) s
    ON s.d = c.d
  JOIN ipf_t t ON t.cell = c.d)""")
    body = "\n  UNION ALL\n".join(errs)
    return (
        f"WITH {pings_oracle_cte(events_clause)},\n"
        + ",\n".join(ctes)
        + f"\n{body}"
    )


# ---------------------------------------------------------------------------
# R236: radiation-model flows (Simini et al., Nature 2012 — the
# parameter-free spatial-interaction model that replaced gravity's
# fitted exponents). For each observed OD pair (i, j):
#
#   T_ij = T_i * m_i * n_j / ((m_i + s_ij) * (m_i + n_j + s_ij))
#
# where m_i / n_j are the origin/destination "populations" (total pings
# in the res-7 cell — all activity, not just endpoints), T_i the total
# observed outflow of i, and s_ij the population inside the open disk of
# radius d_ij around i, EXCLUDING both endpoints (strict d² compare —
# exact on the integer cell-center grid, no sqrt ever needed).
#
# Exactness: the prediction is evaluated as the STAGED integer floor
#   ((10^6·T_i·m_i DIV (m_i+s_ij)) · n_j) DIV (m_i+n_j+s_ij)
# — two independent floors, identical in both engines, keeping every
# intermediate under ~10^13 (one combined numerator could reach 10^18+
# at sf≥1). Scale: locations are the bounded active res-7 cell
# dimension, so the s_ij disk sum is a broadcast theta-join of the
# OD-pair frame against that dimension (pairs × locations, never
# pings × anything); masses and flows are two keyed aggregations of
# the ping stream with map-side partials.
# ---------------------------------------------------------------------------


def radiation_flows(pings: DataFrame, res: int = 7) -> DataFrame:
    """Radiation-model predicted flow per observed inter-cell OD pair."""
    s = _shift(res)
    cell = f"(ix DIV {s}) * {_PACK} + (iy DIV {s})"
    loc = (
        pings.selectExpr(f"{cell} AS k")
        .groupBy("k")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("mk"))
        .selectExpr(f"k", f"k DIV {_PACK} AS kx", f"k % {_PACK} AS ky", "mk")
        .localCheckpoint(eager=False)
    )
    od = od_flows(pings, res=res).where("origin_cell <> dest_cell")
    o_out = od.groupBy("origin_cell").agg(
        F.expr("CAST(sum(n_users) AS BIGINT)").alias("t_i")
    )
    pairs = (
        od.join(o_out, "origin_cell")
        .join(
            F.broadcast(
                loc.selectExpr(
                    "k AS origin_cell", "kx AS oxc", "ky AS oyc", "mk AS m_i"
                )
            ),
            "origin_cell",
        )
        .join(
            F.broadcast(
                loc.selectExpr(
                    "k AS dest_cell", "kx AS dxc", "ky AS dyc", "mk AS n_j"
                )
            ),
            "dest_cell",
        )
        .withColumn(
            "d2",
            F.expr("(oxc-dxc)*(oxc-dxc) + (oyc-dyc)*(oyc-dyc)"),
        )
    )
    sij = (
        pairs.join(
            F.broadcast(loc),
            F.expr(
                "k <> origin_cell AND k <> dest_cell"
                " AND (kx-oxc)*(kx-oxc) + (ky-oyc)*(ky-oyc) < d2"
            ),
            "left",
        )
        .groupBy(
            "origin_cell", "dest_cell", "n_users", "t_i", "m_i", "n_j", "d2"
        )
        .agg(F.expr("CAST(coalesce(sum(mk), 0) AS BIGINT)").alias("s_ij"))
    )
    return sij.selectExpr(
        "origin_cell",
        "dest_cell",
        "CAST(n_users AS BIGINT) AS n_obs",
        "t_i",
        "m_i",
        "n_j",
        "d2",
        "s_ij",
        "(((1000000 * t_i * m_i) DIV (m_i + s_ij)) * n_j)"
        " DIV (m_i + n_j + s_ij) AS pred_micro",
    )


def radiation_oracle(events_clause: str = "events", res: int = 7) -> str:
    s = _shift(res)
    c = f"(ix // {s}) * {_PACK} + (iy // {s})"
    return f"""WITH {pings_oracle_cte(events_clause)},
rd_loc AS (
  SELECT {c} AS k, CAST(count(*) AS BIGINT) AS mk FROM pings GROUP BY 1),
rd_lc AS (
  SELECT k, k // {_PACK} AS kx, k % {_PACK} AS ky, mk FROM rd_loc),
rd_u AS (
  SELECT user_id, arg_min({c}, seq) AS origin_cell,
         arg_max({c}, seq) AS dest_cell
  FROM pings GROUP BY user_id),
rd_od AS (
  SELECT origin_cell, dest_cell, count(*) AS n_users
  FROM rd_u WHERE origin_cell <> dest_cell GROUP BY 1, 2),
rd_o AS (
  SELECT origin_cell, CAST(sum(n_users) AS BIGINT) AS t_i
  FROM rd_od GROUP BY 1),
rd_p AS (
  SELECT od.origin_cell, od.dest_cell, od.n_users, o.t_i,
         a.kx AS oxc, a.ky AS oyc, a.mk AS m_i,
         b.kx AS dxc, b.ky AS dyc, b.mk AS n_j,
         (a.kx-b.kx)*(a.kx-b.kx) + (a.ky-b.ky)*(a.ky-b.ky) AS d2
  FROM rd_od od
  JOIN rd_o o USING (origin_cell)
  JOIN rd_lc a ON a.k = od.origin_cell
  JOIN rd_lc b ON b.k = od.dest_cell),
rd_s AS (
  SELECT p.origin_cell, p.dest_cell, p.n_users, p.t_i, p.m_i, p.n_j, p.d2,
         CAST(coalesce(sum(l.mk), 0) AS BIGINT) AS s_ij
  FROM rd_p p LEFT JOIN rd_lc l
    ON l.k <> p.origin_cell AND l.k <> p.dest_cell
   AND (l.kx-p.oxc)*(l.kx-p.oxc) + (l.ky-p.oyc)*(l.ky-p.oyc) < p.d2
  GROUP BY 1, 2, 3, 4, 5, 6, 7)
SELECT origin_cell, dest_cell, CAST(n_users AS BIGINT) AS n_obs,
       t_i, m_i, n_j, d2, s_ij,
       (((1000000 * t_i * m_i) // (m_i + s_ij)) * n_j)
         // (m_i + n_j + s_ij) AS pred_micro
FROM rd_s"""


# ---------------------------------------------------------------------------
# R268: spatial Markov transitions (Rey 2001)
# ---------------------------------------------------------------------------

def spatial_markov(pings: DataFrame) -> DataFrame:
    """Rey's spatial Markov chain on the res-9 occupancy raster: split
    the extent into two epochs at the mid-day, classify each occupied
    cell's ping count (1: n<=2, 2: n<=5, 3: n>5 — fixed thresholds,
    engine-portable), and tabulate epoch-1 -> epoch-2 class
    transitions CONDITIONED on the cell's epoch-1 8-neighbor max class
    (0 = no occupied neighbor). Class 0 in epoch 2 = the cell emptied.
    Everything after the (cell, epoch) agg runs on the bounded cell
    dimension; the neighbor pass is the aggregate-first 8-offset fan.
    """
    s9 = _shift(9)
    # (the scalar mid-day has to come from the data; compute it first)
    mid = pings.agg(
        F.expr("(min(day) + max(day) + 1) DIV 2").alias("m")
    )
    cnt = (
        pings.crossJoin(F.broadcast(mid))
        .selectExpr(
            f"ix DIV {s9} AS cx", f"iy DIV {s9} AS cy",
            "CASE WHEN day < m THEN 1 ELSE 2 END AS ep",
        )
        .groupBy("cx", "cy", "ep")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n"))
        .selectExpr(
            "cx", "cy", "ep",
            "CASE WHEN n <= 2 THEN 1 WHEN n <= 5 THEN 2 ELSE 3 END"
            " AS cls",
        )
        .localCheckpoint(eager=False)
    )
    e1 = cnt.where("ep = 1").selectExpr("cx", "cy", "cls AS c1")
    e2 = cnt.where("ep = 2").selectExpr(
        "cx AS x2", "cy AS y2", "cls AS c2"
    )
    offs = ", ".join(
        f"named_struct('dx', {dx}, 'dy', {dy})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0)
    )
    nbr = (
        e1.selectExpr("cx", "cy", "c1", f"explode(array({offs})) AS o")
        .selectExpr("cx + o.dx AS nx", "cy + o.dy AS ny", "c1 AS c")
        .groupBy("nx", "ny")
        .agg(F.expr("CAST(max(c) AS BIGINT)").alias("nbr_cls"))
    )
    base = (
        e1.join(
            nbr.selectExpr("nx AS cx", "ny AS cy", "nbr_cls"),
            ["cx", "cy"], "left",
        )
        .join(
            e2, F.expr("x2 = cx AND y2 = cy"), "left"
        )
        .selectExpr(
            "CAST(coalesce(nbr_cls, 0) AS BIGINT) AS nbr_cls",
            "CAST(c1 AS BIGINT) AS c1",
            "CAST(coalesce(c2, 0) AS BIGINT) AS c2",
        )
    )
    return base.groupBy("nbr_cls", "c1", "c2").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_cells")
    )


def spatial_markov_oracle() -> str:
    offs = ", ".join(
        f"({dx}, {dy})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0)
    )
    s9 = _shift(9)
    return f"""WITH {pings_oracle_cte()},
sm_mid AS (SELECT (min(day) + max(day) + 1) // 2 AS m FROM pings),
sm_cnt AS (
  SELECT ix // {s9} AS cx, iy // {s9} AS cy,
         CASE WHEN day < (SELECT m FROM sm_mid) THEN 1 ELSE 2 END AS ep,
         count(*) AS n
  FROM pings GROUP BY 1, 2, 3),
sm_cls AS (
  SELECT cx, cy, ep,
         CASE WHEN n <= 2 THEN 1 WHEN n <= 5 THEN 2 ELSE 3 END AS cls
  FROM sm_cnt),
sm_e1 AS (SELECT cx, cy, cls AS c1 FROM sm_cls WHERE ep = 1),
sm_e2 AS (SELECT cx, cy, cls AS c2 FROM sm_cls WHERE ep = 2),
sm_offs(dx, dy) AS (VALUES {offs}),
sm_nbr AS (
  SELECT e.cx + o.dx AS cx, e.cy + o.dy AS cy, max(e.c1) AS nbr_cls
  FROM sm_e1 e CROSS JOIN sm_offs o GROUP BY 1, 2)
SELECT CAST(coalesce(n.nbr_cls, 0) AS BIGINT) AS nbr_cls,
       CAST(a.c1 AS BIGINT) AS c1,
       CAST(coalesce(b.c2, 0) AS BIGINT) AS c2,
       CAST(count(*) AS BIGINT) AS n_cells
FROM sm_e1 a
LEFT JOIN sm_nbr n ON n.cx = a.cx AND n.cy = a.cy
LEFT JOIN sm_e2 b ON b.cx = a.cx AND b.cy = a.cy
GROUP BY 1, 2, 3"""


# ---------------------------------------------------------------------------
# R293: mean-squared-displacement ladder (diffusion profile)
# ---------------------------------------------------------------------------

MSD_LAGS = (1, 2, 4, 8, 16)


def msd_ladder(pings: DataFrame) -> DataFrame:
    """Mean squared displacement vs time lag — the mobility-physics
    diffusion diagnostic (Brockmann 2006 / Gonzalez 2008 family): for
    each lag tau in (1,2,4,8,16) fixes, MSD(tau) = mean over (user, t)
    of |p_{t+tau} - p_t|^2 in squared res-12 grid units.

    All-integer (the pings discipline): squared displacements are exact
    bigints, the milli mean is the staged-floor identity 1000*(S DIV n)
    + (1000*(S % n)) DIV n == floor(1000*S/n) with every intermediate
    far under 2^63 at any SF (per-row sq <= 2*(20*16)^2 ~ 2e5).
    ``ratio_milli`` doubles the lag (MSD(2tau)/MSD(tau), milli): ~2000
    flags normal diffusion, <2000 sub-diffusive dwell-trapping. -1
    sentinel on the first rung.

    Scale shape: every lead() shares ONE user-keyed window exchange;
    the unpivoted (lag, sq) stream aggregates map-side into 5 rows.
    Reference analog: ordered per-file span sequences
    (``ast_cache.py`` row order) re-read as displacement series.
    """
    w = Window.partitionBy("user_id").orderBy("seq")
    d = pings.select(
        "user_id",
        "seq",
        "ix",
        "iy",
        *[
            (
                (F.lead("ix", t).over(w) - F.col("ix"))
                * (F.lead("ix", t).over(w) - F.col("ix"))
                + (F.lead("iy", t).over(w) - F.col("iy"))
                * (F.lead("iy", t).over(w) - F.col("iy"))
            ).alias(f"sq_{t}")
            for t in MSD_LAGS
        ],
    )
    stack = ", ".join(f"{t}L, sq_{t}" for t in MSD_LAGS)
    long = d.selectExpr(
        f"stack({len(MSD_LAGS)}, {stack}) AS (lag, sq)"
    ).where("sq IS NOT NULL")
    agg = long.groupBy("lag").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_pairs"),
        F.expr("CAST(sum(sq) AS BIGINT)").alias("sum_sq"),
    )
    m = agg.selectExpr(
        "CAST(lag AS BIGINT) AS lag",
        "n_pairs",
        "1000 * (sum_sq DIV n_pairs)"
        " + (1000 * (sum_sq % n_pairs)) DIV n_pairs AS msd_milli",
    ).localCheckpoint(eager=False)
    prev = m.selectExpr("lag AS plag", "msd_milli AS pmsd")
    return (
        m.join(F.broadcast(prev), F.expr("plag * 2 = lag"), "left")
        .selectExpr(
            "lag",
            "n_pairs",
            "msd_milli",
            "CAST(CASE WHEN pmsd IS NULL OR pmsd = 0 THEN -1"
            " ELSE (1000 * msd_milli) DIV pmsd END AS BIGINT)"
            " AS ratio_milli",
        )
    )


def msd_oracle(events_clause: str = "events") -> str:
    leads = ",\n         ".join(
        f"lead(ix, {t}) OVER w AS x{t}, lead(iy, {t}) OVER w AS y{t}"
        for t in MSD_LAGS
    )
    arms = "\n  UNION ALL\n".join(
        f"  SELECT {t} AS lag, (x{t} - ix) * (x{t} - ix)"
        f" + (y{t} - iy) * (y{t} - iy) AS sq"
        f" FROM msd_p WHERE x{t} IS NOT NULL"
        for t in MSD_LAGS
    )
    return f"""WITH {pings_oracle_cte(events_clause)},
msd_p AS (
  SELECT user_id, seq, ix, iy,
         {leads}
  FROM pings
  WINDOW w AS (PARTITION BY user_id ORDER BY seq)),
msd_long AS (
{arms}),
msd_a AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(sq) AS BIGINT) AS sum_sq
  FROM msd_long GROUP BY 1),
msd_m AS (
  SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
         1000 * (sum_sq // n_pairs)
           + (1000 * (sum_sq % n_pairs)) // n_pairs AS msd_milli
  FROM msd_a)
SELECT m.lag, m.n_pairs, m.msd_milli,
       CAST(CASE WHEN p.msd_milli IS NULL OR p.msd_milli = 0 THEN -1
            ELSE (1000 * m.msd_milli) // p.msd_milli END AS BIGINT)
         AS ratio_milli
FROM msd_m m LEFT JOIN msd_m p ON p.lag * 2 = m.lag"""

# --- R395: home/work anchor inference + commute profile -----------------------
#
# The classic mobility-analytics anchor model (public: Gonzalez 2008 /
# CDR literature): a user's HOME is the modal night-hour (20:00-06:00)
# res-8 cell, WORK the modal day-hour cell; the commute is their
# Chebyshev cell distance.  Determinism: modal cells via row_number
# ordered (n DESC, cx, cy) — the unique-order-key rule for argmax ties.
# Scale shape: one (user, cell, night) count aggregation (map-side
# partial), one user-keyed window, one user-keyed self-join of two
# one-row-per-user frames.  Hours come from epoch-microseconds on the
# NTZ timestamp (never a session-TZ cast — the CLAUDE.md rule).

HW_RES = 8
_HOUR_US = 3_600_000_000


def home_work_body(engine: str, res: int = HW_RES) -> str:
    s = _shift(res)
    div = " DIV " if engine == "spark" else " // "
    eus = _EPOCH_US_SPARK if engine == "spark" else _EPOCH_US_DUCK
    return f"""
hw_lab AS (
  SELECT user_id,
         CAST(ix{div}{s} AS BIGINT) AS cx,
         CAST(iy{div}{s} AS BIGINT) AS cy,
         CASE WHEN (({eus}){div}{_HOUR_US}) % 24 >= 20
                OR (({eus}){div}{_HOUR_US}) % 24 < 6
              THEN 1 ELSE 0 END AS night
  FROM pings),
hw_cnt AS (
  SELECT user_id, cx, cy, night, CAST(count(*) AS BIGINT) AS n
  FROM hw_lab GROUP BY 1, 2, 3, 4),
hw_rank AS (
  SELECT user_id, cx, cy, night, n,
         row_number() OVER (PARTITION BY user_id, night
                            ORDER BY n DESC, cx, cy) AS rk
  FROM hw_cnt),
hw_home AS (
  SELECT user_id, cx AS home_cx, cy AS home_cy, n AS n_night
  FROM hw_rank WHERE night = 1 AND rk = 1),
hw_work AS (
  SELECT user_id, cx AS work_cx, cy AS work_cy, n AS n_day
  FROM hw_rank WHERE night = 0 AND rk = 1)
SELECT h.user_id, h.home_cx, h.home_cy, w.work_cx, w.work_cy,
       h.n_night, w.n_day,
       GREATEST(abs(h.home_cx - w.work_cx),
                abs(h.home_cy - w.work_cy)) AS commute_cheb,
       CAST(CASE WHEN h.home_cx = w.work_cx AND h.home_cy = w.work_cy
            THEN 1 ELSE 0 END AS BIGINT) AS colocated
FROM hw_home h JOIN hw_work w ON w.user_id = h.user_id"""


def home_work(pings: DataFrame, res: int = HW_RES) -> DataFrame:
    return sql_over(
        pings.sparkSession, f"WITH {home_work_body('spark', res)}",
        pings=pings,
    )


def home_work_oracle(events_clause: str = "events",
                     res: int = HW_RES) -> str:
    return (
        f"WITH {pings_oracle_cte(events_clause)},"
        f"{home_work_body('duck', res)}"
    )
