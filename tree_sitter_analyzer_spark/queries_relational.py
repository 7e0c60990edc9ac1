"""Relational operator suite over the TPC-H-ish tables.

Covers the reference's relational surface classes (SURVEY.md §2.3-2.7) on
the star-schema side: multi-way joins, grouped aggregation with exact
decimal arithmetic, analytic windows, sessionization, set ops, rollup,
and the snapshot-diff (AST-diff analog, U5).

Cross-engine float discipline: money aggregates go through
DECIMAL(20,4) so summation order can't perturb results; timestamps are
emitted as 'yyyy-MM-dd' strings (Spark is session-TZ, DuckDB is naive —
strings are unambiguous).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import synth
from .functions import sql_over
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _sql_tables(
    spark: SparkSession, sf_dir: str, text: str, *tables: str
) -> DataFrame:
    """``text`` over the named ``sf_dir`` tables, bound by ``sql_over``."""
    return sql_over(spark, text, **{t: _t(spark, sf_dir, t) for t in tables})


# --- A1/A2: grouped aggregation with exact decimals (TPC-H Q1 shape) -------

@register(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(floor(l_extendedprice * 100e0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount) * 100e0) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1-shaped pricing summary: partial+final hash agg, decimal-"
    "exact sums (SURVEY.md A1/A2/F3).",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # Money as integer cents (floor of the SAME double expression on both
    # engines): integer sums are order-independent → bit-exact parity.
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.expr("CAST(l_quantity AS BIGINT)")).alias("sum_qty"),
            F.sum(F.expr("CAST(floor(l_extendedprice * 100e0) AS BIGINT)")).alias(
                "sum_base_cents"
            ),
            F.sum(
                F.expr(
                    "CAST(floor(l_extendedprice * (1e0 - l_discount) * 100e0) AS BIGINT)"
                )
            ).alias("sum_disc_cents"),
            F.count("*").alias("count_order"),
        )
    )


# --- J1/J4: multi-way star join (TPC-H Q3/Q5 shape) --------------------------

@register(
    "revenue_by_nation",
    """
SELECT n.n_name AS nation,
       CAST(sum(CAST(floor(l.l_extendedprice * (1e0 - l.l_discount) * 100e0) AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
    doc="4-way dim join + agg: broadcast dims, fact never shuffled twice "
    "(SURVEY.md J1; Catalyst picks broadcast for nation/region/customer).",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.where(F.col("r_name") == "ASIA")),
              n.n_regionkey == F.col("r_regionkey"))
        .groupBy(n.n_name.alias("nation"))
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(l_extendedprice * (1e0 - l_discount) * 100e0) AS BIGINT)"
                )
            ).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
    )


# --- J3/U3: anti join --------------------------------------------------------

@register(
    "customers_without_urgent",
    """
SELECT c_custkey, c_name, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
""",
    doc="left_anti set difference (SURVEY.md J3/U3 — dead-code analog): "
    "customers with no URGENT order. The unconditioned variant (no orders "
    "at all) is 0 rows at every gate sf — a vacuous pass — so the "
    "predicate keeps the anti-join observable (18 @ sf0.001, 203 @ "
    "sf0.01).",
)
def q_customers_without_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# --- A6/W2: top-k per group with deterministic tie-breaks ---------------------

@register(
    "top_orders_per_segment",
    """
SELECT c_mktsegment, rn, o_orderkey, total_cents FROM (
  SELECT c.c_mktsegment,
         row_number() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY CAST(floor(o.o_totalprice * 100) AS BIGINT) DESC,
                                     o.o_orderkey) AS rn,
         o.o_orderkey,
         CAST(floor(o.o_totalprice * 100) AS BIGINT) AS total_cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
) WHERE rn <= 3
""",
    doc="Top-3 orders per market segment: over-fetch-free per-group top-k "
    "window with multi-key deterministic ordering (SURVEY.md A6/T1/W2).",
)
def q_top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).withColumn(
        "total_cents", F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
    )
    win = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("total_cents"), F.col("o_orderkey")
    )
    return (
        j.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= 3)
        .select("c_mktsegment", F.col("rn").cast("bigint").alias("rn"), "o_orderkey", "total_cents")
    )


# --- W4: analytic lag window (sessionization) ---------------------------------

@register(
    "event_sessions",
    """
SELECT user_id, count(*) AS n_sessions, CAST(sum(n_events) AS BIGINT) AS n_events FROM (
  SELECT user_id, session_id, count(*) AS n_events
  FROM (
    SELECT user_id, event_id,
           sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
    FROM (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL THEN 1
                  WHEN epoch_us(ts) -
                       epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                       > 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM events
    )
  ) GROUP BY user_id, session_id
) GROUP BY user_id
""",
    doc="Sessionization via lag + running sum over gaps >30min "
    "(SURVEY.md W4; guide 'Common OLAP patterns').",
)
def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    byts = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = byts.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts").over(byts)
    # parquet naive timestamps load as TIMESTAMP_NTZ; cast through
    # TIMESTAMP (session TZ pinned to UTC) for unix_micros parity with
    # DuckDB's epoch_us.
    micros = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    is_new = (
        F.when(prev.isNull(), 1)
        .when(micros(F.col("ts")) - micros(prev) > 1800 * 1_000_000, 1)
        .otherwise(0)
    )
    sessions = (
        e.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(run))
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
    )
    return sessions.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events")
    )


@register(
    "session_window_stats",
    """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
       CAST(epoch_us(max(ts)) - epoch_us(min(ts)) + 1800000000 AS BIGINT)
         AS duration_us,
       count(*) AS n_events
FROM sess GROUP BY user_id, sid
""",
    doc="Per-session stats via Spark's NATIVE session_window operator "
    "(30-min gap) — the one windowing mode event_sessions covers only by "
    "hand (lag+cumsum); here the built-in merges sessions and the DuckDB "
    "oracle recomputes them with the lag formulation: two genuinely "
    "different strategies, same rows. Semantics: same-session iff "
    "gap < 30 min (the session_window half-open [start, last+gap) rule); "
    "bounds stay TIMESTAMP_NTZ end-to-end (TZ-free epochs via "
    "timestampdiff).",
)
def q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    sw = e.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("sw")
    ).agg(F.count("*").alias("n_events"))
    epoch_us = (
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {})"
    )
    return sw.select(
        "user_id",
        F.expr(
            f"CAST({epoch_us.format('sw.start')} AS BIGINT)"
        ).alias("session_start_us"),
        F.expr(
            "CAST(timestampdiff(MICROSECOND, sw.start, sw.end) AS BIGINT)"
        ).alias("duration_us"),
        "n_events",
    )


# --- A11: rollup --------------------------------------------------------------

@register(
    "orders_rollup",
    """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100e0) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
""",
    doc="Hierarchical rollup (status → priority → grand total) — the "
    "grouping-sets surface the reference lacks (SURVEY.md A11).",
)
def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.expr("CAST(floor(o_totalprice * 100e0) AS BIGINT)")).alias(
                "total_cents"
            ),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_cents",
        )
    )


# --- U5: snapshot diff (AST-diff analog) ---------------------------------------

# v2 of the tiles table, derived arithmetically: rows i%20==3 get new
# pixels (phash+1), rows i%50==7 are deleted, and 1%-of-range new rows
# appear — mirroring IncrementalSync's new/modified/deleted classes.
_DIFF_V2 = """
SELECT i, image_id,
       CASE WHEN i % 20 = 3 THEN phash + 1 ELSE phash END AS phash
FROM tiles WHERE i % 50 <> 7
"""

@register(
    "snapshot_diff",
    f"""{synth.oracle_ctes()},
v2 AS ({_DIFF_V2})
SELECT coalesce(a.image_id, b.image_id) AS image_id,
       CASE WHEN b.image_id IS NULL THEN 'removed'
            WHEN a.image_id IS NULL THEN 'added'
            WHEN a.phash <> b.phash THEN 'changed'
            ELSE 'unchanged' END AS change
FROM tiles a FULL OUTER JOIN v2 b ON a.image_id = b.image_id
WHERE NOT (b.image_id IS NOT NULL AND a.image_id IS NOT NULL AND a.phash = b.phash)
""",
    doc="Snapshot diff via full outer join: added/removed/changed "
    "(SURVEY.md U5 — ast_diff.py:318-474 analog; Iceberg snapshot diff).",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = synth.tiles_df(spark, sf_dir).select("i", "image_id", "phash")
    v2 = (
        t.where(F.expr("i % 50 <> 7"))
        .withColumn(
            "phash",
            F.expr("CASE WHEN i % 20 = 3 THEN phash + 1 ELSE phash END"),
        )
    )
    a = t.alias("a")
    b = v2.alias("b")
    joined = a.join(b, F.col("a.image_id") == F.col("b.image_id"), "full_outer")
    change = (
        F.when(F.col("b.image_id").isNull(), "removed")
        .when(F.col("a.image_id").isNull(), "added")
        .when(F.col("a.phash") != F.col("b.phash"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select(
            F.coalesce(F.col("a.image_id"), F.col("b.image_id")).alias("image_id"),
            change.alias("change"),
        )
        .where(F.col("change") != "unchanged")
    )


# --- U5 completion: five-class snapshot diff (moved/renamed) -------------------
#
# Round-4 verdict "What's missing #1": the reference's AST diff
# (ast_diff.py:318-474) classifies added/removed/changed/MOVED/RENAMED
# via name+hash cross-matching; the original snapshot_diff stopped at
# three classes.  v2 here derives every class arithmetically from the
# tiles frame (residue classes pairwise CRT-disjoint EXCEPT renamed∧moved,
# which overlap at i ≡ 101 (mod 120) — those rows get BOTH the '_rn' key
# suffix and pos+1000000 and deterministically classify as 'renamed',
# since the key mismatch routes them through the hash cross-match; every
# other pair has no common solution by CRT on the gcd of the moduli.
# Renamed rows keep their phash byte-identical so the hash cross-match
# is exact):
#   i%50==7  -> row dropped              (removed, unless rename-matched)
#   i%20==3  -> phash+1                  (changed)
#   i%30==11 -> image_id||'_rn', same phash  (renamed: old key gone, new
#               key carries the identical content hash)
#   i%40==21 -> pos+1000000, same key/phash  (moved)
#   i%60==5  -> extra row image_id||'_new', phash+777 (added)
# Rename detection mirrors the reference: key-mismatched rows from both
# sides are cross-matched on content hash, ties resolved by rank-pairing
# (row_number per phash ordered by id — deterministic in both engines);
# matched pairs emit 'renamed' (old_id -> new_id), the remainder fall
# back to removed/added.  Scale shape: the cross-match is an equi-join
# on phash over the CHURN subset only (keys absent from the other side),
# never the full table; windows partition by phash (bounded groups).

_SDF_BODY = """
v2 AS (
  SELECT CASE WHEN i % 30 = 11 THEN image_id || '_rn'
              ELSE image_id END AS image_id,
         CASE WHEN i % 40 = 21 THEN i + 1000000 ELSE i END AS pos,
         CASE WHEN i % 20 = 3 THEN phash + 1 ELSE phash END AS phash
  FROM tiles WHERE i % 50 <> 7
  UNION ALL
  SELECT image_id || '_new' AS image_id, i + 2000000 AS pos,
         phash + 777 AS phash
  FROM tiles WHERE i % 60 = 5),
sdf_key AS (
  SELECT a.image_id AS a_id, a.i AS a_pos, a.phash AS a_ph,
         b.image_id AS b_id, b.pos AS b_pos, b.phash AS b_ph
  FROM tiles a FULL OUTER JOIN v2 b ON a.image_id = b.image_id),
sdf_matched AS (
  SELECT a_id AS old_id, b_id AS new_id,
         CASE WHEN a_ph <> b_ph THEN 'changed'
              WHEN a_pos <> b_pos THEN 'moved'
              ELSE 'unchanged' END AS change
  FROM sdf_key WHERE a_id IS NOT NULL AND b_id IS NOT NULL),
sdf_gone AS (
  SELECT a_id, a_ph,
         row_number() OVER (PARTITION BY a_ph ORDER BY a_id) AS rk
  FROM sdf_key WHERE b_id IS NULL),
sdf_new AS (
  SELECT b_id, b_ph,
         row_number() OVER (PARTITION BY b_ph ORDER BY b_id) AS rk
  FROM sdf_key WHERE a_id IS NULL),
sdf_ren AS (
  SELECT g.a_id AS old_id, n.b_id AS new_id, 'renamed' AS change
  FROM sdf_gone g JOIN sdf_new n ON n.b_ph = g.a_ph AND n.rk = g.rk)
SELECT old_id, new_id, change FROM sdf_matched WHERE change <> 'unchanged'
UNION ALL
SELECT old_id, new_id, change FROM sdf_ren
UNION ALL
SELECT g.a_id AS old_id, '' AS new_id, 'removed' AS change
FROM sdf_gone g LEFT JOIN sdf_new n ON n.b_ph = g.a_ph AND n.rk = g.rk
WHERE n.b_id IS NULL
UNION ALL
SELECT '' AS old_id, n.b_id AS new_id, 'added' AS change
FROM sdf_new n LEFT JOIN sdf_gone g ON g.a_ph = n.b_ph AND g.rk = n.rk
WHERE g.a_id IS NULL
"""


@register(
    "snapshot_diff_full",
    f"{synth.oracle_ctes()},\n{_SDF_BODY}",
    doc="Five-class snapshot diff with hash cross-matching "
    "(added/removed/changed/moved/renamed — reference ast_diff.py:"
    "318-474, SURVEY.md U5 completion): key-matched rows classify by "
    "content-hash then position; key-mismatched rows rename-match on "
    "content hash with deterministic rank-pairing, remainder fall back "
    "to removed/added. The cross-match joins only the churn subset.",
)
def q_snapshot_diff_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(
        spark, f"WITH {_SDF_BODY}",
        tiles=synth.tiles_df(spark, sf_dir).select("i", "image_id", "phash"),
    )


# --- I1: incremental MERGE (CDC) ------------------------------------------------

# Deterministic update set (same arithmetic both engines):
#   upserts: rows i%20==3 get phash+1 (modified) and rows i%100==11 spawn a
#   brand-new id (i + 10000000); deletes: rows i%50==7.
_UPSERTS = """
SELECT ('img_' || lpad(CAST(i AS STRING), 12, '0')) AS image_id, phash + 1 AS phash
FROM tiles WHERE i % 20 = 3
UNION ALL
SELECT ('img_' || lpad(CAST(i + 10000000 AS STRING), 12, '0')) AS image_id,
       phash + 7 AS phash
FROM tiles WHERE i % 100 = 11
"""
_DELETES = "SELECT image_id FROM tiles WHERE i % 50 = 7"


@register(
    "incremental_merge",
    f"""{synth.oracle_ctes()},
ups AS ({_UPSERTS}),
dels AS ({_DELETES})
SELECT image_id, phash FROM tiles
WHERE image_id NOT IN (SELECT image_id FROM ups)
  AND image_id NOT IN (SELECT image_id FROM dels)
UNION ALL
SELECT image_id, phash FROM ups
""",
    doc="Delta-mode MERGE (upserts + deletes onto the tile snapshot) — "
    "IncrementalSync re-expressed (incremental_sync.py:78-330, SURVEY.md "
    "I1/O7); anti-join + union emulating Iceberg MERGE INTO.",
)
def q_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.incremental import merge_delta

    t = synth.tiles_df(spark, sf_dir).select("i", "image_id", "phash")
    ups = (
        t.where(F.expr("i % 20 = 3"))
        .select("image_id", (F.col("phash") + 1).alias("phash"))
        .unionByName(
            t.where(F.expr("i % 100 = 11")).select(
                F.expr("'img_' || lpad(CAST(i + 10000000 AS STRING), 12, '0')").alias(
                    "image_id"
                ),
                (F.col("phash") + 7).alias("phash"),
            )
        )
    )
    dels = t.where(F.expr("i % 50 = 7")).select("image_id")
    return merge_delta(
        t.select("image_id", "phash"), ups, dels, "image_id"
    )


# --- F5: JSON extraction ---------------------------------------------------------

@register(
    "event_props_stats",
    """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
""",
    doc="Semi-structured JSON column extraction + agg (SURVEY.md F5 — "
    "json_extract of the metadata blob, _ast_cache_query.py:90-94).",
)
def q_event_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    k = F.expr("CAST(get_json_object(props, '$.k') AS BIGINT)")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


# --- F6: time bucketing -----------------------------------------------------------

@register(
    "monthly_order_stats",
    """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100e0) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
GROUP BY 1
""",
    doc="Calendar bucketing (SURVEY.md F6/I4): monthly order roll-up; "
    "month emitted as a string for cross-engine hash parity.",
)
def q_monthly_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "month",
            F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd"),
        )
        .groupBy("month")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.expr("CAST(floor(o_totalprice * 100e0) AS BIGINT)")).alias(
                "total_cents"
            ),
        )
    )


# --- J12: interval / range join ---------------------------------------------------

@register(
    "interval_join",
    None,  # set below to keep operator module single-sourced
    doc="Self-interval join (event pairs within ±60 s): bucket-binned "
    "candidates + exact range verify — the band-join pattern Spark lacks "
    "natively (SURVEY.md J12; same trick as the grid cells). The earlier "
    "orders↔events pairing was vacuous: the two tables occupy disjoint "
    "epochs (1995-2001 vs 2024), so it matched zero rows at every sf.",
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.range_join import event_pairs_within

    return event_pairs_within(_t(spark, sf_dir, "events"), 60)


from .operators.range_join import event_pairs_oracle as _epo
from .registry import REGISTRY as _REG

_REG["interval_join"].oracle = _epo(60)


# --- J12: AS-OF join (attribution) -------------------------------------------------

@register(
    "asof_attribution",
    """
WITH clicks AS (
  SELECT user_id, ts AS click_ts, max(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
purchases AS (
  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id AS purchase_id, p.user_id,
       c.click_id,
       CAST(epoch_us(p.ts) - epoch_us(c.click_ts) AS BIGINT) AS gap_micros,
       CAST(floor(p.value * 100e0) AS BIGINT) AS value_cents
FROM purchases p ASOF JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.click_ts
""",
    doc="AS-OF join (click→purchase attribution): each purchase matched "
    "to the user's LATEST click at-or-before it. Spark lacks a native "
    "as-of; the engine's union+ordered-window shape runs in ONE shuffle "
    "on user_id with the frame evaluated in-partition "
    "(operators/range_join.asof_join_latest). The oracle is DuckDB's "
    "NATIVE ASOF JOIN — a genuinely independent evaluation strategy.",
)
def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.range_join import asof_join_latest

    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts"))
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join_latest(purchases, clicks, key="user_id")
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("r_click_id").alias("click_id"),
        # NTZ-to-NTZ diff is pure calendar arithmetic — timezone-free
        F.expr("timestampdiff(MICROSECOND, r_ts, ts)").alias("gap_micros"),
        F.expr("CAST(floor(value * 100e0) AS BIGINT)").alias("value_cents"),
    )


# --- pivot -------------------------------------------------------------------------

@register(
    "order_status_pivot",
    """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
FROM orders GROUP BY o_orderpriority
""",
    doc="Pivot: order counts by priority × status (guide 'pivot/unpivot'; "
    "Spark .pivot() vs portable conditional-agg oracle).",
)
def q_order_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .fillna(0)
        .select(
            "o_orderpriority",
            F.col("F").cast("bigint").alias("F"),
            F.col("O").cast("bigint").alias("O"),
            F.col("P").cast("bigint").alias("P"),
        )
    )


# --- part/supplier fact joins (TPC-H Q14/Q15 shapes) -------------------------

_CENTS = "CAST(floor(l_extendedprice * (1e0 - l_discount) * 100e0) AS BIGINT)"


@register(
    "promo_revenue_by_type",
    f"""
WITH rev AS (
  SELECT p.p_type AS p_type,
         CAST(sum({_CENTS}) AS BIGINT) AS revenue_cents,
         count(*) AS n_items
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_type
)
SELECT p_type, revenue_cents, n_items,
       CAST(floor(1e4 * revenue_cents / sum(revenue_cents) OVER ()) AS BIGINT)
         AS share_bp
FROM rev
""",
    doc="TPC-H Q14 shape: fact⋈broadcast(part) revenue by part type with "
    "whole-result share in basis points (integer-cents discipline; the "
    "20k-row part dim broadcasts, the lineitem scan never shuffles before "
    "the 6-group agg — SURVEY.md J1/A2).",
)
def q_promo_revenue_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    grouped = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(
            F.sum(F.expr(_CENTS)).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
    )
    return grouped.withColumn(
        "share_bp",
        F.expr(
            "CAST(floor(1e4 * revenue_cents / "
            "sum(revenue_cents) OVER ()) AS BIGINT)"
        ),
    )


@register(
    "top_suppliers_per_nation",
    f"""
WITH rev AS (
  SELECT n.n_name AS nation, s.s_suppkey AS s_suppkey, s.s_name AS s_name,
         CAST(sum({_CENTS}) AS BIGINT) AS revenue_cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name, s.s_suppkey, s.s_name
)
SELECT nation, rank, s_suppkey, s_name, revenue_cents FROM (
  SELECT nation, s_suppkey, s_name, revenue_cents,
         row_number() OVER (PARTITION BY nation
                            ORDER BY revenue_cents DESC, s_suppkey) AS rank
  FROM rev
) WHERE rank <= 3
""",
    doc="TPC-H Q15 shape: top-3 revenue suppliers per nation — fact ⋈ "
    "broadcast dims, one agg shuffle, per-group window with deterministic "
    "s_suppkey tie-break (SURVEY.md A6/W2).",
)
def q_top_suppliers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(n.n_name.alias("nation"), "s_suppkey", "s_name")
        .agg(F.sum(F.expr(_CENTS)).alias("revenue_cents"))
    )
    win = Window.partitionBy("nation").orderBy(
        F.desc("revenue_cents"), F.col("s_suppkey")
    )
    return (
        rev.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= 3)
        .select(
            "nation",
            F.col("rank").cast("bigint").alias("rank"),
            "s_suppkey",
            "s_name",
            "revenue_cents",
        )
    )


# --- W4: rolling time-range frame (30-day activity window) -------------------

@register(
    "rolling_order_activity",
    """
SELECT o_custkey, o_orderkey, day,
       CAST(count(*) OVER (
         PARTITION BY o_custkey ORDER BY day
         RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS orders_30d,
       CAST(sum(price_cents) OVER (
         PARTITION BY o_custkey ORDER BY day
         RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS spend_30d_cents
FROM (
  SELECT o_custkey, o_orderkey,
         CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400e0) AS BIGINT)
           AS day,
         CAST(floor(o_totalprice * 100e0) AS BIGINT) AS price_cents
  FROM orders
)
""",
    doc="W4 rolling frame: per-customer 30-day trailing order count + "
    "spend via RANGE BETWEEN over epoch-days (the activation table's "
    "mod_count_30d, _ast_cache_schema.py:99-120, as a real analytic "
    "window — one shuffle on o_custkey, frame evaluated in-partition).",
)
def q_rolling_order_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        "o_orderkey",
        # o_orderdate is TIMESTAMP_NTZ in the parquet; casting to TIMESTAMP
        # would reinterpret it in the driver's session TZ (CLAUDE.md).
        # timestampdiff on NTZ is TZ-free (the event_pairs_within pattern).
        F.expr(
            "CAST(floor(timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate) / 86400e6)"
            " AS BIGINT)"
        ).alias("day"),
        F.expr("CAST(floor(o_totalprice * 100e0) AS BIGINT)").alias("price_cents"),
    )
    win = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-29, Window.currentRow)
    )
    return base.select(
        "o_custkey",
        "o_orderkey",
        "day",
        F.count("*").over(win).cast("bigint").alias("orders_30d"),
        F.sum("price_cents").over(win).cast("bigint").alias("spend_30d_cents"),
    )


_CTES = synth.oracle_ctes()


@register(
    "fmt_kind_cube",
    f"""{_CTES}
SELECT coalesce(fmt, 'ALL') AS fmt_g,
       coalesce(tile_kind, 'ALL') AS kind_g,
       count(*) AS n_tiles,
       CAST(sum(CAST(w AS BIGINT) * h) AS BIGINT) AS sum_pixels
FROM tiles
GROUP BY CUBE(fmt, tile_kind)
""",
    doc="Full cube over (fmt, tile_kind): all four grouping sets in one "
    "pass (SURVEY.md A11 — cube completes the grouping-sets surface next "
    "to orders_rollup and order_status_pivot).",
)
def q_fmt_kind_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = synth.tiles_df(spark, sf_dir)
    return (
        t.cube("fmt", "tile_kind")
        .agg(
            F.count("*").alias("n_tiles"),
            F.sum(F.expr("CAST(w AS BIGINT) * h")).cast("bigint").alias("sum_pixels"),
        )
        .select(
            F.coalesce("fmt", F.lit("ALL")).alias("fmt_g"),
            F.coalesce("tile_kind", F.lit("ALL")).alias("kind_g"),
            "n_tiles",
            "sum_pixels",
        )
    )


@register(
    "event_hopping_counts",
    """
SELECT strftime(make_timestamp(CAST(ws * 1000000 AS BIGINT)), '%Y-%m-%d %H:%M')
         AS win_start,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100e0) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM (
  SELECT event_type, value,
         unnest([CAST(floor(epoch(ts) / 43200e0) AS BIGINT) * 43200,
                 CAST(floor(epoch(ts) / 43200e0) AS BIGINT) * 43200 - 43200]) AS ws
  FROM events
)
GROUP BY 1, 2
""",
    doc="Hopping-window aggregation (1-day window, 12-h hop — SURVEY.md I4 "
    "in batch form): every event lands in exactly two epoch-aligned "
    "windows; Spark's window() fan-out vs an explicit unnest oracle.",
)
def q_event_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Keep ts as TIMESTAMP_NTZ: window() accepts NTZ (calendar-aligned,
    # timezone-free) and date_format on NTZ renders without a zone shift.
    # Casting to TIMESTAMP first re-interprets the naive value in the
    # SESSION timezone — correct under UTC, wrong under any other driver
    # session TZ (caught by a non-UTC probe).
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 day", "12 hours").alias("win"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("CAST(floor(value * 100e0) AS BIGINT)"))
            .cast("bigint")
            .alias("sum_value_cents"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value_cents",
        )
    )


@register(
    "median_order_per_segment",
    """
WITH ranked AS (
  SELECT c.c_mktsegment AS segment,
         CAST(floor(o.o_totalprice * 100e0) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY floor(o.o_totalprice * 100e0), o.o_orderkey) AS rn,
         count(*) OVER (PARTITION BY c.c_mktsegment) AS n
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT segment, n AS n_orders, cents AS median_cents
FROM ranked WHERE rn = CAST(ceil(n / 2e0) AS BIGINT)
""",
    doc="Exact lower-median order value per market segment (A5's "
    "percentile dimension, made engine-deterministic: rank by (cents, "
    "orderkey), pick position ceil(n/2) — no float interpolation).",
)
def q_median_order_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.expr("CAST(floor(o_totalprice * 100e0) AS BIGINT)").alias("cents"),
        "o_orderkey",
    )
    w = Window.partitionBy("segment").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("segment")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(wn))
        .where(F.expr("rn = CAST(ceil(n / 2e0) AS BIGINT)"))
        .select("segment", F.col("n").alias("n_orders"), F.col("cents").alias("median_cents"))
    )


# --- round 3 (cont.): TPC-H Q3 shape — shipping priority ----------------------

@register(
    "shipping_priority",
    """
SELECT l.l_orderkey,
       CAST(sum(CAST(floor(l.l_extendedprice * (1e0 - l.l_discount) * 100e0)
                AS BIGINT)) AS BIGINT) AS revenue_cents,
       date_diff('microsecond', TIMESTAMP '1970-01-01', o.o_orderdate)
         // 86400000000 AS odate_day,
       count(*) AS n_items
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-01'
  AND l.l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue_cents DESC, odate_day, l.l_orderkey
LIMIT 10
""",
    doc="TPC-H Q3 shape (shipping priority): unshipped-revenue per order "
    "for one market segment, top-10. Integer-cents revenue, epoch-day "
    "bigint date (NTZ never cast to TIMESTAMP — TZ-free timestampdiff), "
    "fully deterministic order (revenue desc, day, unique orderkey). "
    "Catalyst broadcasts the filtered customer dim; the lineitem fact "
    "shuffles once on l_orderkey; the top-10 is a TakeOrdered, never a "
    "global sort.",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").where(
        F.expr("o_orderdate < TIMESTAMP_NTZ '1998-06-01 00:00:00'")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.expr("l_shipdate > TIMESTAMP_NTZ '1998-06-01 00:00:00'")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(l_extendedprice * (1e0 - l_discount) * 100e0)"
                    " AS BIGINT)"
                )
            ).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
        .select(
            "l_orderkey",
            "revenue_cents",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
                " DIV 86400000000"
            ).alias("odate_day"),
            "n_items",
        )
        .orderBy(
            F.col("revenue_cents").desc(), "odate_day", "l_orderkey"
        )
        .limit(10)
    )


# --- round 3 (cont.): histogram quantile sketch -------------------------------

from .operators import sketch as _sketch  # noqa: E402


@register(
    "quantile_sketch",
    _sketch.histogram_quantiles_oracle_sql(),
    doc="Equi-width histogram quantile sketch (the approximate-percentile "
    "family next to CMS/Bloom/HLL): per order priority, P50/P90 of "
    "order cents estimated from a 64-bin histogram beside the exact "
    "unique-tie-break rank quantile — |est − exact| ≤ binwidth pinned. "
    "The histogram is a mergeable monoid: the shuffle carries ≤64 bins "
    "per group, never values; exact ranks ride a per-priority window.",
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sketch.histogram_quantiles(_t(spark, sf_dir, "orders"))


# --- round 3 (cont.): TPC-H Q4/Q18 analogs (EXISTS semi + HAVING join) -------

_EPOCH_DAY_SPARK = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {c})"
    " DIV 86400000000"
)
_EPOCH_DAY_DUCK = (
    "date_diff('microsecond', TIMESTAMP '1970-01-01', {c}) // 86400000000"
)


@register(
    "order_priority_check",
    f"""
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND {_EPOCH_DAY_DUCK.format(c='l.l_shipdate')}
          > {_EPOCH_DAY_DUCK.format(c='o.o_orderdate')} + 120)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="TPC-H Q4 shape (order priority check): orders placed in one "
    "quarter having at least one lineitem shipped >120 days after the "
    "order date, counted per priority. EXISTS compiles to a LEFT SEMI "
    "join on the order key (lineitem never duplicates the order row); "
    "dates compared as NTZ-safe epoch days — no TIMESTAMP cast, so the "
    "result is identical under any driver session timezone. At scale "
    "the fact-fact semi join shuffles both sides once on the key; the "
    "quarter filter prunes the orders side before the exchange.",
)
def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").where(
        F.expr(
            "o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'"
            " AND o_orderdate < TIMESTAMP_NTZ '1996-04-01 00:00:00'"
        )
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(_EPOCH_DAY_SPARK.format(c="l_shipdate")).alias("ship_day"),
    )
    o = o.withColumn(
        "odate_day", F.expr(_EPOCH_DAY_SPARK.format(c="o_orderdate"))
    )
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.ship_day > o.odate_day + 120),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "large_orders",
    f"""
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       {_EPOCH_DAY_DUCK.format(c='o.o_orderdate')} AS odate_day,
       CAST(floor(o.o_totalprice * 100e0) AS BIGINT) AS total_cents,
       CAST(sum(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2, 3, 4, 5
HAVING sum(CAST(floor(l.l_quantity) AS BIGINT)) > 150
ORDER BY total_cents DESC, o.o_orderkey
LIMIT 25
""",
    doc="TPC-H Q18 shape (large volume customers): orders whose total "
    "line quantity exceeds 150, with customer attribution, top-25 by "
    "order value. Quantities floor-cast to BIGINT on BOTH engines "
    "(DuckDB CAST rounds, Spark floors — CLAUDE.md discipline), money "
    "as integer cents, NTZ-safe epoch days, unique-orderkey tie-break. "
    "Plan: the lineitem HAVING pre-aggregates per orderkey BEFORE the "
    "customer join (group-then-join, not join-then-group), so the "
    "shuffle carries one row per order, and the 25-row result is a "
    "TakeOrdered.",
)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    qty = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.expr("CAST(floor(l_quantity) AS BIGINT)")).alias(
                "sum_qty"
            )
        )
        .where(F.col("sum_qty") > 150)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        qty.join(o, qty.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.expr(_EPOCH_DAY_SPARK.format(c="o_orderdate")).alias(
                "odate_day"
            ),
            F.expr("CAST(floor(o_totalprice * 100e0) AS BIGINT)").alias(
                "total_cents"
            ),
            "sum_qty",
        )
        .orderBy(F.col("total_cents").desc(), "o_orderkey")
        .limit(25)
    )


# --- round 3 (cont. 2): product-analytics family (funnel + cohorts) ----------

_EPOCH_US_SPARK_REL = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
)
_EPOCH_US_DUCK_REL = "date_diff('microsecond', TIMESTAMP '1970-01-01', ts)"
_FUNNEL = ("view", "click", "purchase")


@register(
    "funnel_stages",
    f"""
WITH e AS (
  SELECT user_id, event_type, {_EPOCH_US_DUCK_REL} AS ep FROM events),
s1 AS (SELECT user_id, min(ep) AS t1 FROM e
       WHERE event_type = '{_FUNNEL[0]}' GROUP BY 1),
s2 AS (SELECT e.user_id, min(ep) AS t2 FROM e JOIN s1 USING (user_id)
       WHERE event_type = '{_FUNNEL[1]}' AND ep > t1 GROUP BY 1),
s3 AS (SELECT e.user_id, min(ep) AS t3 FROM e JOIN s2 USING (user_id)
       WHERE event_type = '{_FUNNEL[2]}' AND ep > t2 GROUP BY 1)
SELECT 1 AS stage_idx, '{_FUNNEL[0]}' AS stage, count(*) AS n_users,
       CAST(0 AS BIGINT) AS total_lag_s FROM s1
UNION ALL
SELECT 2, '{_FUNNEL[1]}', count(*),
       CAST(COALESCE(SUM((t2 - t1) // 1000000), 0) AS BIGINT)
FROM s2 JOIN s1 USING (user_id)
UNION ALL
SELECT 3, '{_FUNNEL[2]}', count(*),
       CAST(COALESCE(SUM((t3 - t1) // 1000000), 0) AS BIGINT)
FROM s3 JOIN s1 USING (user_id)
""",
    doc="Ordered conversion funnel view→click→purchase: per user, each "
    "stage's timestamp is the FIRST qualifying event strictly after the "
    "previous stage (min-over-filtered, not mere presence), with users "
    "reached and total lag-from-entry seconds per stage. Every join is "
    "user-keyed — one hash partitioning reused across the whole chain; "
    "epoch-microsecond NTZ arithmetic keeps it session-TZ-free.",
)
def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr(_EPOCH_US_SPARK_REL).alias("ep"),
    )
    s1 = (
        e.where(F.col("event_type") == _FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("ep").alias("t1"))
    )
    s2 = (
        e.where(F.col("event_type") == _FUNNEL[1])
        .join(s1, "user_id")
        .where(F.col("ep") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ep").alias("t2"))
    )
    s3 = (
        e.where(F.col("event_type") == _FUNNEL[2])
        .join(s2, "user_id")
        .where(F.col("ep") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ep").alias("t3"))
    )

    def stage(idx: int, name: str, df: DataFrame, tcol: str) -> DataFrame:
        j = df.join(s1, "user_id")
        lag = (
            F.lit(0).cast("bigint")
            if idx == 1
            else F.coalesce(
                F.sum(F.expr(f"({tcol} - t1) DIV 1000000")), F.lit(0)
            ).cast("bigint")
        )
        return j.agg(
            F.lit(idx).cast("int").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count("*").alias("n_users"),
            lag.alias("total_lag_s"),
        )

    return (
        stage(1, _FUNNEL[0], s1, "t1")
        .unionByName(stage(2, _FUNNEL[1], s2, "t2"))
        .unionByName(stage(3, _FUNNEL[2], s3, "t3"))
    )


@register(
    "cohort_retention",
    f"""
WITH d AS (
  SELECT user_id, {_EPOCH_US_DUCK_REL} // 86400000000 AS day FROM events),
c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1),
a AS (SELECT DISTINCT user_id, day FROM d)
SELECT c.cohort_day // 7 AS cohort_week,
       (a.day - c.cohort_day) // 7 AS week_offset,
       count(DISTINCT a.user_id) AS n_users
FROM a JOIN c USING (user_id)
GROUP BY 1, 2
""",
    doc="Cohort retention triangle: users grouped by first-activity epoch "
    "week, distinct active users at each week offset since the cohort "
    "week. The (user, day) activity frame dedups BEFORE the join (one "
    "row per user-day, never per event); epoch-day NTZ arithmetic — no "
    "calendar casts, identical under any session timezone.",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"({_EPOCH_US_SPARK_REL}) DIV 86400000000").alias("day"),
    )
    c = d.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    a = d.distinct()
    return (
        a.join(c, "user_id")
        .groupBy(
            F.expr("cohort_day DIV 7").alias("cohort_week"),
            F.expr("(day - cohort_day) DIV 7").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# --- round 3 (cont. 2): TPC-H Q7/Q16/Q22 analogs ------------------------------


@register(
    "volume_shipping",
    """
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       CAST(sum(CAST(floor(l.l_extendedprice * (1e0 - l.l_discount) * 100e0)
                AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation nc ON nc.n_nationkey = c.c_nationkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation ns ON ns.n_nationkey = s.s_nationkey
WHERE ns.n_name <> nc.n_name
GROUP BY 1, 2, 3
""",
    doc="TPC-H Q7 shape (volume shipping): cross-nation trade revenue "
    "per (supplier nation, customer nation, ship year). Five-way star: "
    "Catalyst broadcasts every dimension (nation twice, supplier, "
    "customer); the lineitem fact shuffles once for the final "
    "aggregation. Year extracted from the naive NTZ timestamp — a "
    "calendar field of a TZ-free value, identical on both engines and "
    "under any session timezone; integer-cents revenue.",
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    nc = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    ns = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.expr("CAST(year(l_shipdate) AS BIGINT)").alias("l_year"),
        )
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(l_extendedprice * (1e0 - l_discount) * 100e0)"
                    " AS BIGINT)"
                )
            ).alias("revenue_cents")
        )
    )


@register(
    "parts_supplier_breadth",
    """
SELECT p.p_type, p.p_brand,
       count(DISTINCT l.l_suppkey) AS supplier_cnt,
       count(*) AS n_lines
FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE p.p_size >= 10
GROUP BY 1, 2
""",
    doc="TPC-H Q16 shape (supplier breadth): distinct suppliers able to "
    "ship each (type, brand) slice of the catalog, via the lineitem "
    "part-supplier fact. The part dim broadcasts; count(DISTINCT) "
    "expands to Spark's two-phase partial-distinct aggregate — the "
    "shuffle carries (group, suppkey) pairs already deduped map-side.",
)
def q_parts_supplier_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").where(F.col("p_size") >= 10)
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_type", "p_brand")
        .agg(
            F.countDistinct("l_suppkey").alias("supplier_cnt"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "idle_rich_customers",
    """
WITH bal AS (
  SELECT c_custkey, c_nationkey,
         CAST(floor(c_acctbal * 100e0) AS BIGINT) AS bal_cents
  FROM customer),
avg_bal AS (
  SELECT SUM(bal_cents) AS s, COUNT(*) AS n FROM bal WHERE bal_cents > 0)
SELECT b.c_nationkey, count(*) AS n_cust,
       CAST(sum(b.bal_cents) AS BIGINT) AS total_cents
FROM bal b CROSS JOIN avg_bal a
WHERE b.bal_cents > a.s // a.n
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = b.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-09-01')
GROUP BY 1
""",
    doc="TPC-H Q22 shape (global-market opportunity): DORMANT rich "
    "customers — above-average positive balance and no order in the "
    "horizon's final year — counted per nation (every synth customer "
    "has old orders, so dormancy, not absence, is the non-vacuous "
    "anti-join). "
    "The scalar average is an exact integer floor-division broadcast "
    "onto the scan; NOT EXISTS compiles to a LEFT ANTI join on the "
    "customer key. Balance cents via floor — floors toward -inf on "
    "both engines, so negative balances stay exact.",
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    bal = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.expr("CAST(floor(c_acctbal * 100e0) AS BIGINT)").alias("bal_cents"),
    )
    avg_bal = bal.where(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("s"), F.count("*").alias("n")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.expr("o_orderdate >= TIMESTAMP_NTZ '2000-09-01 00:00:00'"))
        .select("o_custkey")
    )
    return (
        bal.crossJoin(F.broadcast(avg_bal))
        .where(F.expr("bal_cents > s DIV n"))
        .join(o, bal.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_cust"),
            F.sum("bal_cents").alias("total_cents"),
        )
    )


# --- round 3 (cont. 2): sequence mining + seasonality -------------------------


@register(
    "event_transitions",
    f"""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS nxt
  FROM events),
pairs AS (
  SELECT event_type AS cur, nxt, count(*) AS n
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT cur, SUM(n) AS t FROM pairs GROUP BY 1)
SELECT p.cur, p.nxt, p.n,
       (1000 * p.n) // t.t AS prob_milli
FROM pairs p JOIN tot t ON t.cur = p.cur
""",
    doc="First-order Markov transition matrix over per-user event "
    "sequences: P(next | current) in exact per-mille. The lead() window "
    "orders by the UNIQUE (ts, event_id) key inside the user partition "
    "(repartition-proof); the 5×5 transition frame and its margins are "
    "two tiny aggregations on the same keys — the sequence-mining "
    "primitive behind session path analysis.",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).where(F.col("nxt").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("cur"), "nxt"
    ).agg(F.count("*").alias("n"))
    tot = pairs.groupBy("cur").agg(F.sum("n").alias("t"))
    return pairs.join(tot, "cur").select(
        "cur", "nxt", "n", F.expr("(1000 * n) DIV t").alias("prob_milli")
    )


@register(
    "dow_profile",
    f"""
WITH d AS (
  SELECT event_type,
         ({_EPOCH_US_DUCK_REL} // 86400000000 + 4) % 7 AS dow
  FROM events),
c AS (SELECT event_type, dow, count(*) AS n FROM d GROUP BY 1, 2),
t AS (SELECT event_type, SUM(n) AS tot FROM c GROUP BY 1)
SELECT c.event_type, c.dow, c.n,
       (7000 * c.n) // t.tot AS share_x7000
FROM c JOIN t ON t.event_type = c.event_type
""",
    doc="Day-of-week seasonality profile per event type: dow = (epoch "
    "day + 4) % 7 (1970-01-01 was a Thursday; +4 makes 0=Monday) — "
    "pure NTZ integer arithmetic, no calendar cast, identical under "
    "any session timezone. share_x7000 = 7000·n/total, so a uniform "
    "week sits at 1000 per day; deviations are the weekly signal.",
)
def q_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            f"(({_EPOCH_US_SPARK_REL}) DIV 86400000000 + 4) % 7"
        ).alias("dow"),
    )
    c = d.groupBy("event_type", "dow").agg(F.count("*").alias("n"))
    t = c.groupBy("event_type").agg(F.sum("n").alias("tot"))
    return c.join(t, "event_type").select(
        "event_type", "dow", "n",
        F.expr("(7000 * n) DIV tot").alias("share_x7000"),
    )


# --- round 3 (cont. 2): volume anomaly detection ------------------------------


@register(
    "volume_anomalies",
    f"""
WITH d AS (
  SELECT event_type, {_EPOCH_US_DUCK_REL} // 86400000000 AS day,
         count(*) AS n
  FROM events GROUP BY 1, 2),
st AS (
  SELECT event_type, count(*) AS dcnt, SUM(n) AS tot
  FROM d GROUP BY 1),
dev AS (
  SELECT d.event_type, d.day, d.n,
         d.n * s.dcnt - s.tot AS dv, s.dcnt, s.tot
  FROM d JOIN st s ON s.event_type = d.event_type),
var AS (
  SELECT event_type, SUM(dv * dv) AS ss FROM dev GROUP BY 1)
SELECT e.event_type, e.day, e.n
FROM dev e JOIN var v ON v.event_type = e.event_type
WHERE e.dv * e.dv * e.dcnt > 4 * v.ss
ORDER BY e.event_type, e.day
""",
    doc="Daily volume anomaly detection per event type: flag days whose "
    "squared deviation exceeds 4x the per-type variance — the z²>4 "
    "(|z|>2) rule spelled entirely in cross-multiplied integers "
    "(dv = n·D − T so dv²·D > 4·Σdv² ⟺ z² > 4; no mean, variance, or "
    "sqrt ever materializes as a float). Two aggregations and a join "
    "on the event-type key; the day frame is types × days, never "
    "events.",
)
def q_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(f"({_EPOCH_US_SPARK_REL}) DIV 86400000000").alias("day"),
        )
        .agg(F.count("*").alias("n"))
    )
    st = d.groupBy("event_type").agg(
        F.count("*").alias("dcnt"), F.sum("n").alias("tot")
    )
    dev = d.join(st, "event_type").withColumn(
        "dv", F.expr("n * dcnt - tot")
    )
    var = dev.groupBy("event_type").agg(
        F.sum(F.expr("dv * dv")).alias("ss")
    )
    return (
        dev.join(var, "event_type")
        .where(F.expr("dv * dv * dcnt > 4 * ss"))
        .select("event_type", "day", "n")
        .orderBy("event_type", "day")
    )


# --- round 3 (cont. 2): optimizer-statistics join-size estimate ----------------

from .operators import sketch as _sketch2  # noqa: E402


@register(
    "join_size_estimate",
    _sketch2.join_size_oracle_sql(),
    doc="Optimizer-statistics primitive: the customer-by-supplier "
    "nationkey join cardinality estimated from two count-min sketches "
    "via the AMS inner product (min over hash rows of Σ cmsA·cmsB — "
    "every row overestimates by non-negative collision cross terms, so "
    "cms_est >= true is part of the compared contract), beside the "
    "exact size from the per-key count frames — no join materialized. "
    "At scale each side collapses to its d×w sketch in one "
    "partial/final agg; the estimate is arithmetic over 2·d·w cells.",
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sketch2.join_size_estimate(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier")
    )


# --- round 3 (cont. 3): TPC-H Q10/Q19/Q21 analogs ------------------------------


@register(
    "returned_items",
    """
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(sum(CAST(floor(l.l_extendedprice * (1e0 - l.l_discount) * 100e0)
                AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_items
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue_cents DESC, c.c_custkey
LIMIT 20
""",
    doc="TPC-H Q10 shape (returned-item reporting): lost revenue per "
    "customer from 'R' lines in a one-year order window, top-20. "
    "Integer cents; customer and nation dims broadcast; the lineitem "
    "fact shuffles once on orderkey; top-20 is a TakeOrdered with the "
    "unique custkey tie-break.",
)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").where(
        F.expr(
            "o_orderdate >= TIMESTAMP_NTZ '1997-01-01 00:00:00' AND "
            "o_orderdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'"
        )
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(l_extendedprice * (1e0 - l_discount) * 100e0)"
                    " AS BIGINT)"
                )
            ).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.col("revenue_cents").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "disjunctive_revenue",
    """
SELECT CAST(sum(CAST(floor(l.l_extendedprice * (1e0 - l.l_discount) * 100e0)
                AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity >= 1e0 AND l.l_quantity <= 11e0)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity >= 10e0 AND l.l_quantity <= 20e0)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 20e0 AND l.l_quantity <= 30e0)
""",
    doc="TPC-H Q19 shape (discounted revenue, disjunctive predicate): "
    "three OR-of-AND branches mixing dim attributes (brand, size) with "
    "fact attributes (quantity). The dim-only disjunction "
    "(brand+size) prunes part BEFORE the broadcast join — Catalyst "
    "extracts the common p-side filter — and the single aggregate row "
    "is exact integer cents. One row, always non-vacuous columns.",
)
def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = F.expr(
        "(p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5"
        " AND l_quantity >= 1e0 AND l_quantity <= 11e0) OR "
        "(p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10"
        " AND l_quantity >= 10e0 AND l_quantity <= 20e0) OR "
        "(p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15"
        " AND l_quantity >= 20e0 AND l_quantity <= 30e0)"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(l_extendedprice * (1e0 - l_discount) * 100e0)"
                    " AS BIGINT)"
                )
            ).alias("revenue_cents"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "sole_blame_suppliers",
    """
WITH os AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_r
  FROM lineitem GROUP BY 1, 2
),
ow AS (
  SELECT l_orderkey, count(*) AS n_sup, sum(has_r) AS n_r_sup
  FROM os GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, count(*) AS n_orders
FROM os JOIN ow USING (l_orderkey)
JOIN supplier s ON s.s_suppkey = os.l_suppkey
WHERE ow.n_sup >= 2 AND ow.n_r_sup = 1 AND os.has_r = 1
GROUP BY s.s_suppkey, s.s_name
ORDER BY n_orders DESC, s.s_suppkey
LIMIT 10
""",
    doc="TPC-H Q21 shape (suppliers who kept orders waiting), adapted to "
    "the available columns: in multi-supplier orders, the supplier "
    "whose lines are the ONLY returned ('R') lines is solely to blame — "
    "the exists/not-exists pair becomes two hash aggregations on the "
    "(order, supplier) quotient (no correlated per-row subquery, no "
    "self-join of the fact), then a broadcast supplier dim and a "
    "deterministic top-10.",
)
def q_sole_blame_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    os_ = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(
            F.when(F.col("l_returnflag") == "R", F.lit(1)).otherwise(F.lit(0))
        ).alias("has_r")
    )
    ow = os_.groupBy("l_orderkey").agg(
        F.count("*").alias("n_sup"), F.sum("has_r").alias("n_r_sup")
    )
    return (
        os_.join(ow, "l_orderkey")
        .where((F.col("n_sup") >= 2) & (F.col("n_r_sup") == 1) & (F.col("has_r") == 1))
        .join(F.broadcast(s), os_.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "s_suppkey")
        .limit(10)
    )


# --- round 3 (cont. 3): TPC-H Q6/Q8/Q12/Q13/Q17 analogs ------------------------


@register(
    "forecast_revenue",
    """
SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100e0) AS BIGINT))
            AS BIGINT) AS discount_cents,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05e0 AND l_discount <= 0.07e0
  AND l_quantity < 24e0
""",
    doc="TPC-H Q6 shape (forecast revenue change): the pure-scan "
    "aggregate — every predicate (ship-year range, discount band, "
    "quantity cap) is a parquet-pushable scan filter, no join anywhere, "
    "one exact-cents row. The plan IS the scan: filters reach "
    "PushedFilters, and the single-row agg is a partial/final pair over "
    "whatever the scan survives — at 100 TB this query's cost is the "
    "I/O the pushdown leaves, nothing else. Discount bounds compare "
    "stored doubles against the same literal on both engines "
    "(reference: tree-sitter query predicate dispatch, query_loader "
    "filter classes).",
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(
        F.expr(
            "l_shipdate >= TIMESTAMP_NTZ '1997-01-01 00:00:00' AND "
            "l_shipdate <  TIMESTAMP_NTZ '1998-01-01 00:00:00' AND "
            "l_discount >= 0.05e0 AND l_discount <= 0.07e0 AND "
            "l_quantity < 24e0"
        )
    )
    return li.agg(
        F.sum(
            F.expr("CAST(floor(l_extendedprice * l_discount * 100e0) AS BIGINT)")
        ).alias("discount_cents"),
        F.count("*").alias("n_lines"),
    )


@register(
    "market_share",
    """
WITH rev AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         CAST(floor(l.l_extendedprice * (1e0 - l.l_discount) * 100e0)
              AS BIGINT) AS cents,
         ns.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation nc ON nc.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = nc.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation ns ON ns.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'ASIA'
)
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)
            AS BIGINT) AS focal_cents,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(floor(1e4 * sum(CASE WHEN supp_nation = 'NATION_3' THEN cents
                            ELSE 0 END) / sum(cents)) AS BIGINT) AS share_bp
FROM rev GROUP BY o_year ORDER BY o_year
""",
    doc="TPC-H Q8 shape (national market share): the share of "
    "ASIA-customer revenue supplied from NATION_3, per order year, in "
    "basis points. Six-way star — every dimension broadcasts (nation "
    "twice under different roles), the lineitem fact shuffles exactly "
    "once for the per-year aggregate; share is an integer floor over "
    "exact cents sums so the division happens once per year row, never "
    "per line. Year comes from the naive NTZ order date (TZ-safe on "
    "both engines).",
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nc = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    ns = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.expr("CAST(year(o_orderdate) AS BIGINT)").alias("o_year"),
            F.expr(_CENTS).alias("cents"),
            "supp_nation",
        )
    )
    focal = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("cents")).otherwise(F.lit(0))
    )
    return (
        rev.groupBy("o_year")
        .agg(
            focal.alias("focal_cents"),
            F.sum("cents").alias("total_cents"),
            F.expr(
                "CAST(floor(1e4 * sum(CASE WHEN supp_nation = 'NATION_3' THEN cents"
                " ELSE 0 END) / sum(cents)) AS BIGINT)"
            ).alias("share_bp"),
        )
        .orderBy("o_year")
    )


@register(
    "shipping_delay_priority",
    """
SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30
            THEN 'fast'
            WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90
            THEN 'normal' ELSE 'slow' END AS delay_band,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1 ORDER BY 1
""",
    doc="TPC-H Q12 shape (shipping modes / priority), adapted to the "
    "available columns: the schema has no l_shipmode, so the mode axis "
    "becomes the order-to-ship delay band (<=30 fast / <=90 normal / "
    "slow), counting urgent-or-high vs lower order priorities per "
    "band. The delay is a day difference of two naive NTZ timestamps — "
    "date_diff day semantics agree across engines for pure date "
    "values. One fact shuffle on orderkey, then a 3-group aggregate.",
)
def q_shipping_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    high = "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            F.expr(
                "CASE WHEN timestampdiff(DAY, o_orderdate, l_shipdate) <= 30"
                " THEN 'fast'"
                " WHEN timestampdiff(DAY, o_orderdate, l_shipdate) <= 90"
                " THEN 'normal' ELSE 'slow' END"
            ).alias("delay_band"),
            F.expr(f"CASE WHEN {high} THEN 1 ELSE 0 END").alias("is_high"),
        )
        .groupBy("delay_band")
        .agg(
            F.sum("is_high").alias("high_line_count"),
            F.sum(F.expr("1 - is_high")).alias("low_line_count"),
        )
        .orderBy("delay_band")
    )


@register(
    "customer_order_distribution",
    """
WITH co AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
)
SELECT c_count, count(*) AS custdist
FROM co GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    doc="TPC-H Q13 shape (customer order-count distribution): LEFT OUTER "
    "join so zero-order customers keep a row (count of a NULL key is 0 "
    "on both engines), then the histogram of histogram — two hash "
    "aggregates, the second over at most a few hundred distinct "
    "counts. The left join shuffles both sides on custkey once; the "
    "distribution agg is map-side tiny.",
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    co = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count(o.o_orderkey).alias("c_count"))
    )
    return (
        co.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "small_quantity_revenue",
    """
WITH pa AS (
  SELECT l_partkey,
         sum(CAST(l_quantity AS BIGINT)) AS sum_qty,
         count(*) AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(sum(CAST(floor(l.l_extendedprice * 100e0) AS BIGINT)) AS BIGINT)
         AS small_qty_cents,
       count(*) AS n_lines
FROM lineitem l
JOIN pa ON pa.l_partkey = l.l_partkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND 5 * CAST(l.l_quantity AS BIGINT) * pa.cnt < pa.sum_qty
""",
    doc="TPC-H Q17 shape (small-quantity-order revenue): lines of one "
    "brand whose quantity is below 20 percent of that part's average "
    "quantity. The correlated AVG subquery becomes a per-part "
    "aggregate joined back to the fact, and the 0.2*avg comparison is "
    "cross-multiplied to pure integers (5*qty*cnt < sum_qty) so no "
    "float division ever happens. At scale: one partkey-shuffle "
    "aggregate, then the fact re-joins the (much smaller) per-part "
    "frame on the same key — AQE can co-locate both sides; the brand "
    "filter broadcasts from the part dim.",
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    pa = l.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        F.sum(F.expr("CAST(l_quantity AS BIGINT)")).alias("sum_qty"),
        F.count("*").alias("cnt"),
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(pa, l.l_partkey == F.col("pa_partkey"))
        .where(
            F.expr("5 * CAST(l_quantity AS BIGINT) * cnt < sum_qty")
        )
        .agg(
            F.sum(
                F.expr("CAST(floor(l_extendedprice * 100e0) AS BIGINT)")
            ).alias("small_qty_cents"),
            F.count("*").alias("n_lines"),
        )
    )


# --- Synthetic partsupp: the one TPC-H table the testdata lacks ------------
# Derived DETERMINISTICALLY from part × supplier-count with the repo's
# synthetic-column discipline (CLAUDE.md): the same integer SQL evaluated
# by both engines. Mirrors the TPC-H generator's shape — each part gets
# exactly 4 suppliers at a fixed stride through the supplier keyspace
# (keys are 0-based contiguous at every SF), so partsupp stays 4·|part|
# rows at any scale, never |part|·|supplier|. availqty and supplycost are
# bounded integer hashes of the pair.

_PS_CTE = """
ps0 AS (
  SELECT p_partkey, (p_partkey + gen.i * (ns.n // 4 + 1)) % ns.n AS ps_suppkey
  FROM part
  CROSS JOIN (VALUES (0), (1), (2), (3)) AS gen(i)
  CROSS JOIN (SELECT count(*) AS n FROM supplier) ns),
ps AS (
  SELECT p_partkey AS ps_partkey, ps_suppkey,
         1 + (p_partkey * 13 + ps_suppkey * 7) % 5000 AS ps_availqty,
         100 + (p_partkey * 37 + ps_suppkey * 101) % 99900
           AS ps_supplycost_cents
  FROM ps0)"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ps_partkey, ps_suppkey, ps_availqty, ps_supplycost_cents)."""
    part = _t(spark, sf_dir, "part")
    ns = _t(spark, sf_dir, "supplier").agg(F.count("*").alias("n_supp"))
    return (
        part.select(
            "p_partkey", F.explode(F.expr("sequence(0, 3)")).alias("i")
        )
        .crossJoin(F.broadcast(ns))
        .selectExpr(
            "p_partkey AS ps_partkey",
            "(p_partkey + i * (n_supp DIV 4 + 1)) % n_supp AS ps_suppkey",
            "1 + (p_partkey * 13 + ((p_partkey + i * (n_supp DIV 4 + 1))"
            " % n_supp) * 7) % 5000 AS ps_availqty",
            "100 + (p_partkey * 37 + ((p_partkey + i * (n_supp DIV 4 + 1))"
            " % n_supp) * 101) % 99900 AS ps_supplycost_cents",
        )
    )


@register(
    "min_cost_supplier",
    f"""
WITH {_PS_CTE},
mc_supp AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE'),
mc_cand AS (
  SELECT p.p_partkey, p.p_size, p.p_type, m.s_suppkey, m.s_name, m.n_name,
         CAST(floor(m.s_acctbal * 100e0) AS BIGINT) AS acctbal_cents,
         ps.ps_supplycost_cents,
         min(ps.ps_supplycost_cents)
           OVER (PARTITION BY p.p_partkey) AS min_cost
  FROM part p
  JOIN ps ON ps.ps_partkey = p.p_partkey
  JOIN mc_supp m ON m.s_suppkey = ps.ps_suppkey
  WHERE p.p_size <= 3 AND p.p_type = 'ECONOMY')
SELECT p_partkey, s_suppkey, s_name, n_name, acctbal_cents,
       ps_supplycost_cents AS cost_cents
FROM mc_cand WHERE ps_supplycost_cents = min_cost
""",
    doc="TPC-H Q2 shape (minimum-cost supplier): for each small ECONOMY "
    "part, every EUROPE supplier achieving the per-part minimum "
    "supplycost. The correlated MIN subquery becomes a per-part window "
    "over the already-filtered candidates — one partkey shuffle; the "
    "region-filtered supplier dim broadcasts; partsupp is the "
    "deterministic 4-per-part synthetic (both engines build it from "
    "the same integer SQL).",
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_size") <= 3) & (F.col("p_type") == "ECONOMY")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("p_partkey")
    cand = (
        _partsupp(spark, sf_dir)
        .join(F.broadcast(p), F.col("ps_partkey") == p.p_partkey)
        .join(F.broadcast(supp), F.col("ps_suppkey") == F.col("s_suppkey"))
        .withColumn("min_cost", F.min("ps_supplycost_cents").over(w))
    )
    return cand.where(
        F.col("ps_supplycost_cents") == F.col("min_cost")
    ).select(
        "p_partkey",
        "s_suppkey",
        "s_name",
        "n_name",
        F.expr("CAST(floor(s_acctbal * 100e0) AS BIGINT)").alias(
            "acctbal_cents"
        ),
        F.col("ps_supplycost_cents").alias("cost_cents"),
    )


@register(
    "product_profit",
    f"""
WITH {_PS_CTE}
SELECT n.n_name AS nation, CAST(year(l.l_shipdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(floor(l.l_extendedprice * (1e0 - l.l_discount) * 100e0)
                     AS BIGINT)
                - ps.ps_supplycost_cents * CAST(l.l_quantity AS BIGINT))
            AS BIGINT) AS profit_cents
FROM lineitem l
JOIN ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2
""",
    doc="TPC-H Q9 shape (product-type profit): per (supplier nation, ship "
    "year) profit on widget parts — revenue minus supplycost·quantity, "
    "all integer cents. The lineitem fact joins partsupp on BOTH keys "
    "(part, supplier) — only pairs the synthetic partsupp carries "
    "match, as in real TPC-H; part/supplier/nation broadcast; year "
    "from the naive NTZ timestamp is session-TZ-independent.",
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    # Filter partsupp by the widget parts BEFORE it meets the fact: the
    # broadcast side is 4·|filtered part| rows, and the trillion-row
    # lineitem never shuffles for this join. (Were the filtered dim still
    # too big to broadcast, dropping the hint lets AQE fall back to a
    # (partkey, suppkey) shuffle join — the fact-side shuffle is the only
    # alternative and strictly worse until that point.)
    ps = _partsupp(spark, sf_dir).join(
        F.broadcast(p.select(F.col("p_partkey").alias("psf_key"))),
        F.col("ps_partkey") == F.col("psf_key"),
        "left_semi",
    )
    return (
        l.join(
            F.broadcast(ps),
            (l.l_partkey == ps.ps_partkey) & (l.l_suppkey == ps.ps_suppkey),
        )
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.expr("CAST(year(l_shipdate) AS BIGINT)").alias("o_year"),
        )
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(l_extendedprice * (1e0 - l_discount) * 100e0)"
                    " AS BIGINT)"
                    " - ps_supplycost_cents * CAST(l_quantity AS BIGINT)"
                )
            ).alias("profit_cents")
        )
    )


@register(
    "stock_value_share",
    f"""
WITH {_PS_CTE},
sv AS (
  SELECT ps.ps_partkey,
         sum(ps.ps_supplycost_cents * ps.ps_availqty) AS value_cents
  FROM ps
  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'ASIA'
  GROUP BY 1),
sv_tot AS (SELECT sum(value_cents) AS total_cents FROM sv)
SELECT sv.ps_partkey, CAST(sv.value_cents AS BIGINT) AS value_cents
FROM sv CROSS JOIN sv_tot
WHERE 2000 * sv.value_cents > total_cents
""",
    doc="TPC-H Q11 shape (important stock): parts whose ASIA-held stock "
    "value exceeds 1/2000 of the total — the fraction-of-total HAVING "
    "is cross-multiplied to integers (2000·value > total) so no float "
    "division exists. Two-phase: per-part aggregate, then the 1-row "
    "total broadcast back; supplier/nation/region broadcast into the "
    "synthetic partsupp.",
)
def q_stock_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey")
    )
    sv = (
        _partsupp(spark, sf_dir)
        .join(F.broadcast(supp), F.col("ps_suppkey") == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(
            F.sum(
                F.expr("ps_supplycost_cents * ps_availqty")
            ).alias("value_cents")
        )
    )
    tot = sv.agg(F.sum("value_cents").alias("total_cents"))
    return (
        sv.crossJoin(F.broadcast(tot))
        .where(F.expr("2000 * value_cents > total_cents"))
        .select(
            "ps_partkey", F.col("value_cents").cast("bigint").alias("value_cents")
        )
    )


@register(
    "excess_stock_suppliers",
    f"""
WITH {_PS_CTE},
ex_shipped AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(l_quantity AS BIGINT)) AS qty_shipped
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  GROUP BY 1, 2),
ex_hits AS (
  SELECT ps.ps_suppkey, ps.ps_partkey, ps.ps_availqty, e.qty_shipped
  FROM ps
  JOIN ex_shipped e
    ON e.l_partkey = ps.ps_partkey AND e.l_suppkey = ps.ps_suppkey
  JOIN part p ON p.p_partkey = ps.ps_partkey
  WHERE p.p_name LIKE 'large%'
    AND ps.ps_availqty > 2 * e.qty_shipped)
SELECT s.s_suppkey, s.s_name, n.n_name,
       count(*) AS n_excess_parts,
       sum(h.ps_availqty) AS total_availqty
FROM ex_hits h
JOIN supplier s ON s.s_suppkey = h.ps_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY 1, 2, 3
""",
    doc="TPC-H Q20 shape (excess stock): suppliers holding more than "
    "twice what they actually shipped since 1996 of any 'large' part "
    "they stock. The correlated EXISTS/half-of-shipped subquery becomes "
    "a (part, supplier)-keyed shipped-quantity aggregate inner-joined "
    "to the synthetic partsupp — pairs with no shipments can't "
    "trivially qualify; the part name filter and supplier dim "
    "broadcast.",
)
def q_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("large%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    shipped = l.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.expr("CAST(l_quantity AS BIGINT)")).alias("qty_shipped")
    )
    hits = (
        _partsupp(spark, sf_dir)
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(F.broadcast(p), F.col("ps_partkey") == p.p_partkey)
        .where(F.expr("ps_availqty > 2 * qty_shipped"))
    )
    return (
        hits.join(F.broadcast(s), F.col("ps_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_suppkey", "s_name", "n_name")
        .agg(
            F.count("*").alias("n_excess_parts"),
            F.sum("ps_availqty").alias("total_availqty"),
        )
    )


@register(
    "part_skyline",
    """
WITH sk AS (
  SELECT p_partkey, p_size,
         CAST(floor(p_retailprice * 100e0) AS BIGINT) AS price_cents
  FROM part)
SELECT q.p_partkey, q.p_size, q.price_cents
FROM sk q
WHERE NOT EXISTS (
  SELECT 1 FROM sk p
  WHERE p.p_size >= q.p_size AND p.price_cents <= q.price_cents
    AND (p.p_size > q.p_size OR p.price_cents < q.price_cents))
""",
    doc="Skyline (Pareto frontier) over parts: maximize size, minimize "
    "price; no point both >=size and <=price with one strict. The "
    "oracle is the quadratic NOT EXISTS; the engine computes it in ONE "
    "aggregate + a broadcast threshold join — per-size min prices "
    "(a <=50-row frame), strict/non-strict suffix minima over that "
    "tiny frame, then each part survives iff it beats both thresholds. "
    "No self-join of the data ever happens, so the plan is identical "
    "at 10^12 rows (the size-keyed agg is the only shuffle).",
)
def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    sk = _t(spark, sf_dir, "part").selectExpr(
        "p_partkey",
        "p_size",
        "CAST(floor(p_retailprice * 100e0) AS BIGINT) AS price_cents",
    )
    per_size = sk.groupBy(F.col("p_size").alias("sz")).agg(
        F.min("price_cents").alias("m")
    )
    w_gt = (
        Window.orderBy(F.desc("sz"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_ge = Window.orderBy(F.desc("sz")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    # dominated(q) iff  min{m(s): s > q.size} <= q.price
    #              or   min{m(s): s >= q.size} < q.price
    thr = per_size.select(
        "sz",
        F.min("m").over(w_gt).alias("min_gt"),
        F.min("m").over(w_ge).alias("min_ge"),
    )
    return (
        sk.join(F.broadcast(thr), sk.p_size == F.col("sz"))
        .where(
            (F.col("min_gt").isNull() | (F.col("min_gt") > F.col("price_cents")))
            & (F.col("min_ge") >= F.col("price_cents"))
        )
        .select("p_partkey", "p_size", "price_cents")
    )


@register(
    "scd2_event_intervals",
    f"""
WITH sc_ord AS (
  SELECT user_id, event_type,
         {_EPOCH_US_DUCK_REL} AS ts_us,
         lag(event_type) OVER w AS prev_type,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sc_grp AS (
  SELECT *, sum(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                     THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY rn) AS grp
  FROM sc_ord),
sc_isl AS (
  SELECT user_id, event_type, grp,
         min(ts_us) AS valid_from_us, count(*) AS n_events
  FROM sc_grp GROUP BY 1, 2, 3)
SELECT user_id, event_type, valid_from_us,
       coalesce(lead(valid_from_us)
                  OVER (PARTITION BY user_id ORDER BY valid_from_us),
                -1) AS valid_to_us,
       n_events,
       lead(valid_from_us)
         OVER (PARTITION BY user_id ORDER BY valid_from_us) IS NULL
         AS is_current
FROM sc_isl
""",
    doc="SCD2 dimension build from the event stream: consecutive "
    "same-type runs per user collapse into validity intervals "
    "[valid_from, valid_to) with the open current row flagged — the "
    "lag-change + running-sum gaps-and-islands, all on ONE user-keyed "
    "partitioning (no second shuffle). Epochs via timestampdiff on the "
    "naive NTZ timestamp (session-TZ-proof); the open interval's "
    "valid_to is -1, not NULL, so the hash compare is total.",
)
def q_scd2_event_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ord_ = ev.select(
        "user_id",
        "event_type",
        F.expr(_EPOCH_US_SPARK_REL).alias("ts_us"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.row_number().over(w).alias("rn"),
    )
    wg = Window.partitionBy("user_id").orderBy("rn")
    grp = ord_.withColumn(
        "grp",
        F.sum(
            F.expr(
                "CASE WHEN prev_type IS NULL OR prev_type <> event_type"
                " THEN 1 ELSE 0 END"
            )
        ).over(wg),
    )
    isl = grp.groupBy("user_id", "event_type", "grp").agg(
        F.min("ts_us").alias("valid_from_us"),
        F.count("*").alias("n_events"),
    )
    wi = Window.partitionBy("user_id").orderBy("valid_from_us")
    return isl.select(
        "user_id",
        "event_type",
        "valid_from_us",
        F.coalesce(
            F.lead("valid_from_us").over(wi), F.lit(-1).cast("bigint")
        ).alias("valid_to_us"),
        "n_events",
        F.lead("valid_from_us").over(wi).isNull().alias("is_current"),
    )


@register(
    "rfm_segments",
    f"""
WITH rf_base AS (
  SELECT c.c_custkey,
         date_diff('day', max(o.o_orderdate),
                   (SELECT max(o_orderdate) FROM orders)) AS recency_days,
         count(*) AS frequency,
         CAST(sum(CAST(floor(o.o_totalprice * 100e0) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1),
rf_n AS (SELECT count(*) AS n FROM rf_base),
rf_ranked AS (
  SELECT b.*,
         row_number() OVER (ORDER BY recency_days ASC, c_custkey) AS rr,
         row_number() OVER (ORDER BY frequency DESC, c_custkey) AS fr,
         row_number() OVER (ORDER BY monetary_cents DESC, c_custkey) AS mr,
         n.n
  FROM rf_base b CROSS JOIN rf_n n)
SELECT c_custkey, CAST(recency_days AS BIGINT) AS recency_days,
       frequency, monetary_cents,
       CAST(3 - (3 * (rr - 1)) // n AS BIGINT) AS r_score,
       CAST(3 - (3 * (fr - 1)) // n AS BIGINT) AS f_score,
       CAST(3 - (3 * (mr - 1)) // n AS BIGINT) AS m_score,
       CAST((3 - (3 * (rr - 1)) // n) * 100 + (3 - (3 * (fr - 1)) // n) * 10
            + (3 - (3 * (mr - 1)) // n) AS BIGINT) AS segment
FROM rf_ranked
""",
    doc="RFM customer segmentation: recency (days to the corpus max order "
    "date, NTZ-safe day diff), frequency, integer-cents monetary, each "
    "cut into data-derived terciles via unique-ranked row_number (3 - "
    "3*(rank-1) DIV n — no ntile, whose tie behavior diverges across "
    "engines), composed into the classic 111-333 segment code. One "
    "customer-keyed aggregate + three windows over the same frame.",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("mxd"))
    base = (
        c.join(o, c.c_custkey == o.o_custkey)
        .crossJoin(F.broadcast(mx))
        .groupBy("c_custkey")
        .agg(
            F.expr("datediff(max(mxd), max(o_orderdate))")
            .cast("bigint")
            .alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(
                F.expr("CAST(floor(o_totalprice * 100e0) AS BIGINT)")
            ).alias("monetary_cents"),
        )
    )
    n = base.agg(F.count("*").alias("n"))
    ranked = (
        base.crossJoin(F.broadcast(n))
        .withColumn(
            "rr",
            F.row_number().over(
                Window.orderBy(F.asc("recency_days"), "c_custkey")
            ),
        )
        .withColumn(
            "fr",
            F.row_number().over(
                Window.orderBy(F.desc("frequency"), "c_custkey")
            ),
        )
        .withColumn(
            "mr",
            F.row_number().over(
                Window.orderBy(F.desc("monetary_cents"), "c_custkey")
            ),
        )
    )
    return ranked.selectExpr(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        "CAST(3 - (3 * (rr - 1)) DIV n AS BIGINT) AS r_score",
        "CAST(3 - (3 * (fr - 1)) DIV n AS BIGINT) AS f_score",
        "CAST(3 - (3 * (mr - 1)) DIV n AS BIGINT) AS m_score",
        "CAST((3 - (3 * (rr - 1)) DIV n) * 100 + (3 - (3 * (fr - 1)) DIV n)"
        " * 10 + (3 - (3 * (mr - 1)) DIV n) AS BIGINT) AS segment",
    )


# --- R133: Benford first-digit audit -----------------------------------------

# floor(1000·log10(1 + 1/d)) for d = 1..9 — fixed integer literals, no
# float log on either engine (the zone_shape pi-literal discipline).
_BENFORD_MILLI = {
    "1": 301, "2": 176, "3": 124, "4": 96, "5": 79,
    "6": 66, "7": 57, "8": 51, "9": 45,
}
_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN '{d}' THEN {m}" for d, m in _BENFORD_MILLI.items())
    + " END"
)


@register(
    "benford_audit",
    f"""
WITH bf_d AS (
  SELECT substr(CAST(CAST(floor(l_extendedprice * 100e0) AS BIGINT)
                     AS VARCHAR), 1, 1) AS digit
  FROM lineitem),
bf_c AS (SELECT digit, count(*) AS n FROM bf_d GROUP BY 1),
bf_t AS (SELECT sum(n) AS total FROM bf_c)
SELECT digit, n,
       (1000 * n) // total AS obs_milli,
       {_BENFORD_CASE} AS exp_milli,
       abs((1000 * n) // total - {_BENFORD_CASE}) AS dev_milli
FROM bf_c CROSS JOIN bf_t
""",
    doc="Benford's-law first-digit audit over lineitem amounts (the "
    "classic forensic data-quality screen): observed first-significant-"
    "digit frequencies of the integer-cents amounts vs the Benford "
    "expectation as fixed floor(1000*log10(1+1/d)) literals, deviation "
    "per digit in milli. One scan, one 9-row aggregate, a broadcast "
    "total — no float log on either engine.",
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    c = (
        li.selectExpr(
            "substr(CAST(CAST(floor(l_extendedprice * 100e0) AS BIGINT) "
            "AS STRING), 1, 1) AS digit"
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    tot = c.agg(F.sum("n").alias("total"))
    return c.crossJoin(F.broadcast(tot)).selectExpr(
        "digit",
        "n",
        "(1000 * n) DIV total AS obs_milli",
        f"{_BENFORD_CASE} AS exp_milli",
        f"abs((1000 * n) DIV total - {_BENFORD_CASE}) AS dev_milli",
    )


# --- R145/R146: series autocorrelation + multi-touch attribution -------------
#
# R145: Spearman rank autocorrelation of the daily event-count series at
# lags 1-7 — the seasonality detector beside dow_profile. Spearman (not
# Pearson) because it is EXACT in integers: ranks are unique (count with
# day tie-break), so rho = 1 − 6·Σd²/(n(n²−1)) needs no float mean or
# variance. Per lag the pair set is the series joined to its k-shift;
# both coordinates are re-ranked WITHIN the overlap so the formula's
# permutation precondition holds. Scale: operates on the DAY dimension
# (thousands of rows at any corpus size) after one distributed count.
#
# R146: linear multi-touch attribution — every 'purchase' splits exactly
# 1000 milli-credits across the user's touch events (view/click/signup)
# in the preceding 7 days: each touch gets 1000 DIV n, the LAST touch
# (latest ts, event_id tie-break) also takes the remainder, and
# touchless conversions credit a 'direct' bucket — so
# Σ credit == 1000 · n_conversions EXACTLY (the audit invariant every
# attribution pipeline needs). The touch join is user-keyed with an
# integer-microsecond band filter (NTZ-safe), never time-bucketed-only.

_ACF_LAGS = (1, 2, 3, 4, 5, 6, 7)


@register(
    "spearman_acf",
    f"""
WITH acf_daily AS (
  SELECT {_EPOCH_US_DUCK_REL} // 86400000000 AS day, count(*) AS cnt
  FROM events GROUP BY 1
),
acf_all AS (
{" UNION ALL ".join(f'''
  SELECT {k} AS lag, rx, ry FROM (
    SELECT row_number() OVER (ORDER BY x.cnt, x.day) AS rx,
           row_number() OVER (ORDER BY y.cnt, x.day) AS ry
    FROM acf_daily x JOIN acf_daily y ON y.day = x.day + {k}
  )''' for k in _ACF_LAGS)}
)
SELECT lag, count(*) AS n_pairs,
       sum((rx - ry) * (rx - ry)) AS sum_d2,
       CASE WHEN count(*) > 1 THEN
         1000 - (6000 * sum((rx - ry) * (rx - ry)))
                  // (count(*) * (count(*) * count(*) - 1))
       END AS rho_milli
FROM acf_all GROUP BY lag
""",
    doc="Spearman rank autocorrelation of the daily event-count series "
    "at lags 1-7: exact-integer rho = 1000 - 6000*sum(d^2) DIV n(n^2-1) "
    "with unique (cnt, day) tie-broken ranks recomputed within each "
    "lag's overlap. NTZ epoch days; operates on the bounded day "
    "dimension after one distributed count.",
)
def q_spearman_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "events")
        .selectExpr(f"({_EPOCH_US_SPARK_REL}) DIV 86400000000 AS day")
        .groupBy("day")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    outs = []
    for k in _ACF_LAGS:
        x = daily.selectExpr("day", "cnt AS xv")
        y = daily.selectExpr(f"day - {k} AS day", "cnt AS yv")
        pairs = x.join(y, "day")
        rx = Window.orderBy("xv", "day")
        ry = Window.orderBy("yv", "day")
        outs.append(
            pairs.withColumn("rx", F.row_number().over(rx))
            .withColumn("ry", F.row_number().over(ry))
            .selectExpr(f"{k} AS lag", "rx", "ry")
        )
    allp = outs[0]
    for o in outs[1:]:
        allp = allp.unionByName(o)
    return allp.groupBy("lag").agg(
        F.count("*").alias("n_pairs"),
        F.expr("sum((rx - ry) * (rx - ry))").alias("sum_d2"),
        F.expr(
            "CASE WHEN count(*) > 1 THEN"
            " 1000 - (6000 * sum((rx - ry) * (rx - ry)))"
            " DIV (count(*) * (count(*) * count(*) - 1)) END"
        ).alias("rho_milli"),
    )


_TOUCH_TYPES = ("click", "signup", "view")
_ATTR_WINDOW_US = 7 * 86400000000


@register(
    "linear_attribution",
    f"""
WITH at_conv AS (
  SELECT event_id AS conv_id, user_id,
         {_EPOCH_US_DUCK_REL} AS c_us
  FROM events WHERE event_type = 'purchase'
),
at_touch AS (
  SELECT user_id, event_id, event_type AS channel,
         {_EPOCH_US_DUCK_REL} AS t_us
  FROM events WHERE event_type IN {_TOUCH_TYPES!r}
),
at_pairs AS (
  SELECT c.conv_id, t.channel, t.t_us, t.event_id,
         count(*) OVER (PARTITION BY c.conv_id) AS n,
         row_number() OVER (PARTITION BY c.conv_id
                            ORDER BY t.t_us DESC, t.event_id DESC) AS rn
  FROM at_conv c JOIN at_touch t
    ON t.user_id = c.user_id
   AND t.t_us <= c.c_us AND t.t_us > c.c_us - {_ATTR_WINDOW_US}
),
at_credit AS (
  SELECT channel,
         CASE WHEN rn = 1 THEN 1000 - (n - 1) * (1000 // n)
              ELSE 1000 // n END AS credit
  FROM at_pairs
  UNION ALL
  SELECT 'direct' AS channel, 1000 AS credit
  FROM at_conv c
  ANTI JOIN (SELECT DISTINCT conv_id FROM at_pairs) p
    ON p.conv_id = c.conv_id
)
SELECT channel, count(*) AS n_credits, sum(credit) AS credit_milli
FROM at_credit GROUP BY channel
""",
    doc="Linear multi-touch attribution: each purchase splits exactly "
    "1000 milli-credits across the user's view/click/signup touches in "
    "the preceding 7 days (1000 DIV n each, remainder to the LAST "
    "touch; touchless purchases -> 'direct'), so total credit == "
    "1000 * purchases exactly. User-keyed band join on NTZ integer "
    "microseconds.",
)
def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    conv = ev.where("event_type = 'purchase'").selectExpr(
        "event_id AS conv_id", "user_id",
        f"({_EPOCH_US_SPARK_REL}) AS c_us",
    )
    touch = ev.where(
        F.col("event_type").isin(*_TOUCH_TYPES)
    ).selectExpr(
        "user_id", "event_id", "event_type AS channel",
        f"({_EPOCH_US_SPARK_REL}) AS t_us",
    )
    pairs = conv.join(touch, "user_id").where(
        (F.col("t_us") <= F.col("c_us"))
        & (F.col("t_us") > F.col("c_us") - _ATTR_WINDOW_US)
    )
    wc = Window.partitionBy("conv_id")
    wr = Window.partitionBy("conv_id").orderBy(
        F.desc("t_us"), F.desc("event_id")
    )
    credited = (
        pairs.withColumn("n", F.count("*").over(wc))
        .withColumn("rn", F.row_number().over(wr))
        .selectExpr(
            "conv_id",
            "channel",
            "CASE WHEN rn = 1 THEN 1000 - (n - 1) * (1000 DIV n)"
            " ELSE 1000 DIV n END AS credit",
        )
        .localCheckpoint(eager=False)
    )
    direct = conv.join(
        credited.select("conv_id").distinct(), "conv_id", "left_anti"
    ).selectExpr("'direct' AS channel", "1000 AS credit")
    return (
        credited.select("channel", "credit")
        .unionByName(direct)
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_credits"),
            F.sum("credit").alias("credit_milli"),
        )
    )


# --- R151/R152: calendar gap-fill + robust trimmed stats ----------------------
#
# R151: time-series densification — the ETL step every daily rollup
# needs before window math: generate the full calendar between the
# series' min and max epoch day, left-join the observed counts, and
# carry the last observation forward across gaps. The carry-forward is
# spelled PORTABLY as a running max over a packed key (day·2^32 + cnt
# for observed days — day dominates, so the max IS the latest observed
# pair; IGNORE NULLS window syntax differs across engines and is
# avoided). Scale: the calendar is the bounded day dimension; one
# distributed count feeds it.
#
# R152: trimmed (10% each side) robust statistics of the purchase value
# per event type — rank-window + filter, exact integer cents, unique
# (cents, event_id) order so the trimmed set is engine-identical.

_GF_PACK = 1 << 32


@register(
    "gap_fill_daily",
    f"""
WITH gf_daily AS (
  SELECT user_id, {_EPOCH_US_DUCK_REL} // 86400000000 AS day,
         count(*) AS cnt
  FROM events WHERE event_type = 'signup' GROUP BY 1, 2
),
gf_cal AS (
  SELECT user_id, unnest(range(d0, d1 + 1)) AS day
  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
        FROM gf_daily GROUP BY 1)
),
gf_joined AS (
  SELECT c.user_id, c.day, d.cnt,
         max(CASE WHEN d.cnt IS NOT NULL
                  THEN c.day * {_GF_PACK} + d.cnt END)
           OVER (PARTITION BY c.user_id ORDER BY c.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pack
  FROM gf_cal c LEFT JOIN gf_daily d
    ON d.user_id = c.user_id AND d.day = c.day
)
SELECT user_id, day, pack % {_GF_PACK} AS cnt_filled,
       CASE WHEN cnt IS NULL THEN 1 ELSE 0 END AS was_gap
FROM gf_joined
""",
    doc="Per-user calendar densification with last-observation-carried-"
    "forward over each user's daily signup series: every user's "
    "min..max day range generated (sequence+explode), gaps filled by a "
    "user-partitioned running max over the packed (day*2^32 + cnt) key "
    "— portable LOCF without IGNORE NULLS syntax. The fill is keyed, so "
    "it shards perfectly at any user count.",
)
def q_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "events")
        .where("event_type = 'signup'")
        .selectExpr(
            "user_id",
            f"({_EPOCH_US_SPARK_REL}) DIV 86400000000 AS day",
        )
        .groupBy("user_id", "day")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    cal = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .selectExpr("user_id", "explode(sequence(d0, d1)) AS day")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cal.join(daily, ["user_id", "day"], "left")
        .withColumn(
            "pack",
            F.max(
                F.expr(
                    f"CASE WHEN cnt IS NOT NULL"
                    f" THEN day * {_GF_PACK} + cnt END"
                )
            ).over(w),
        )
        .selectExpr(
            "user_id",
            "day",
            f"pack % {_GF_PACK} AS cnt_filled",
            "CASE WHEN cnt IS NULL THEN 1 ELSE 0 END AS was_gap",
        )
    )


@register(
    "trimmed_stats",
    f"""
WITH tr_vals AS (
  SELECT event_type, event_id,
         CAST(floor(value * 100e0) AS BIGINT) AS cents
  FROM events
),
tr_ranked AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM tr_vals
)
SELECT event_type, min(n) AS n, count(*) AS n_kept,
       sum(cents) AS sum_kept_cents,
       sum(cents) // count(*) AS mean_kept_cents,
       min(cents) AS lo_cents, max(cents) AS hi_cents
FROM tr_ranked
WHERE rn > n // 10 AND rn <= n - n // 10
GROUP BY event_type
""",
    doc="10%-trimmed robust statistics of the event value per type: "
    "rank window with the unique (cents, event_id) order, keep ranks "
    "(n DIV 10, n - n DIV 10], exact integer cents — the outlier-proof "
    "companion to the z-score anomaly detector.",
)
def q_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = _t(spark, sf_dir, "events").selectExpr(
        "event_type", "event_id",
        "CAST(floor(value * 100e0) AS BIGINT) AS cents",
    )
    wr = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    return (
        vals.withColumn("rn", F.row_number().over(wr))
        .withColumn("n", F.count("*").over(wn))
        .where("rn > n DIV 10 AND rn <= n - n DIV 10")
        .groupBy("event_type")
        .agg(
            F.min("n").alias("n"),
            F.count("*").alias("n_kept"),
            F.sum("cents").alias("sum_kept_cents"),
            F.expr("sum(cents) DIV count(*)").alias("mean_kept_cents"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


# --- R159: truncated dyadic EWMA deviation screen ----------------------------
#
# Exponentially-weighted moving average with alpha = 1/2, truncated at
# exactly 8 terms so the whole estimator is integer arithmetic: the
# baseline for day t is s = sum_{i=1..8} n_{t-i} * 2^(8-i) over total
# weight W = 2^8 - 1 = 255 (tail mass < 2^-8 of an untruncated EWMA).
# Deviation is emitted as (sign, per-mille magnitude) — DIV on negatives
# differs across engines (Spark truncates, DuckDB floors), so the
# compared magnitude is always non-negative. The day frame is types x
# days (bounded); one window over one type-keyed exchange.

_EWMA_TERMS = " + ".join(
    f"lag(n, {i}) OVER (PARTITION BY event_type ORDER BY day)"
    f" * {1 << (8 - i)}"
    for i in range(1, 9)
)
_EWMA_W = 255


@register(
    "ewma_anomalies",
    f"""
WITH ew_d AS (
  SELECT event_type, {_EPOCH_US_DUCK_REL} // 86400000000 AS day,
         count(*) AS n
  FROM events GROUP BY 1, 2),
ew_s AS (
  SELECT event_type, day, n,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         {_EWMA_TERMS} AS s
  FROM ew_d)
SELECT event_type, day, n, s // {_EWMA_W} AS ewma_pred,
       CASE WHEN n * {_EWMA_W} >= s THEN 1 ELSE -1 END AS dev_sign,
       (1000 * abs(n * {_EWMA_W} - s)) // greatest(s, 1) AS dev_abs_pm,
       CASE WHEN (1000 * abs(n * {_EWMA_W} - s)) > 500 * greatest(s, 1)
            THEN 1 ELSE 0 END AS is_anomaly
FROM ew_s WHERE rn > 8
""",
    doc="Truncated dyadic EWMA (alpha=1/2, exactly 8 terms, total weight "
    "255) volume screen per event type: integer predicted baseline, "
    "signed per-mille deviation, |dev| > 50% anomaly flag. The adaptive "
    "companion to the global-variance z-score screen — recent days "
    "dominate the baseline. Day frame bounded by types x days.",
)
def q_ewma_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(f"({_EPOCH_US_SPARK_REL}) DIV 86400000000").alias("day"),
        )
        .agg(F.count("*").alias("n"))
    )
    return (
        d.selectExpr(
            "event_type", "day", "n",
            "row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn",
            f"{_EWMA_TERMS} AS s",
        )
        .where("rn > 8")
        .selectExpr(
            "event_type", "day", "n",
            f"s DIV {_EWMA_W} AS ewma_pred",
            f"CASE WHEN n * {_EWMA_W} >= s THEN 1 ELSE -1 END AS dev_sign",
            f"(1000 * abs(n * {_EWMA_W} - s)) DIV greatest(s, 1)"
            " AS dev_abs_pm",
            f"CASE WHEN (1000 * abs(n * {_EWMA_W} - s)) >"
            f" 500 * greatest(s, 1) THEN 1 ELSE 0 END AS is_anomaly",
        )
    )


# --- R165: A/B experiment harness --------------------------------------------
#
# The experimentation-analytics readout every product pipeline runs:
# deterministic md5-parity arm assignment over users, distinct-user
# conversion rates per arm, and the relative lift vs control — all exact
# integers (per-mille rates; lift as sign + cross-multiplied abs
# per-mille, the negative-DIV-divergence discipline). One events scan →
# one user-keyed aggregate → a one-row envelope.

from .functions import md5int_duck as _md5d, md5int_spark as _md5s  # noqa: E402

_AB_ARM_SPARK = f"({_md5s('CAST(user_id AS STRING)')}) % 2"
_AB_ARM_DUCK = f"({_md5d('CAST(user_id AS VARCHAR)')}) % 2"


@register(
    "ab_test_harness",
    f"""
WITH ab_u AS (
  SELECT user_id, {_AB_ARM_DUCK} AS arm,
         max(CASE WHEN event_type = 'purchase'
              AND CAST(floor(value * 100e0) AS BIGINT) >= 15000
             THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1),
ab_s AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
         CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_c,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_t
  FROM ab_u)
SELECT n_c, conv_c, (1000 * conv_c) // n_c AS rate_c_pm,
       n_t, conv_t, (1000 * conv_t) // n_t AS rate_t_pm,
       CASE WHEN conv_t * n_c >= conv_c * n_t THEN 1 ELSE -1 END AS lift_sign,
       (1000 * abs(conv_t * n_c - conv_c * n_t))
         // greatest(conv_c * n_t, 1) AS lift_abs_pm
FROM ab_s
""",
    doc="A/B experiment harness: deterministic md5-parity arm assignment "
    "over users, distinct-user high-value-purchase conversion (>= 150.00 in integer cents) rates per arm "
    "(per-mille), and relative lift vs control as sign + "
    "cross-multiplied abs per-mille (integer-exact; no float rates). "
    "One events scan, one user-keyed aggregate, one-row envelope.",
)
def q_ab_test_harness(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.expr(
                "max(CASE WHEN event_type = 'purchase'"
                " AND CAST(floor(value * 100e0) AS BIGINT) >= 15000"
                " THEN 1 ELSE 0 END)"
            ).alias("conv")
        )
        .selectExpr(f"{_AB_ARM_SPARK} AS arm", "conv")
    )
    return u.agg(
        F.expr("CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)").alias("n_c"),
        F.expr("CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)").alias("conv_c"),
        F.expr("CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)").alias("n_t"),
        F.expr("CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)").alias("conv_t"),
    ).selectExpr(
        "n_c", "conv_c", "(1000 * conv_c) DIV n_c AS rate_c_pm",
        "n_t", "conv_t", "(1000 * conv_t) DIV n_t AS rate_t_pm",
        "CASE WHEN conv_t * n_c >= conv_c * n_t THEN 1 ELSE -1 END AS lift_sign",
        "(1000 * abs(conv_t * n_c - conv_c * n_t))"
        " DIV greatest(conv_c * n_t, 1) AS lift_abs_pm",
    )


# --- R169: watermark lateness ladder ------------------------------------------
#
# Quantifies watermark tuning WITHOUT running a stream: arrival order is
# the event time plus a deterministic md5 network-delay jitter (0-600 s,
# the same SQL text on both engines — the synthetic-column parity
# discipline); the watermark is the running max event time over
# PREVIOUSLY ARRIVED rows (ROWS ... 1 PRECEDING, per event-type stream);
# an event is dropped at delay d iff its event time < watermark − d.
# The delay ladder (0/60/300/600 s) then reads off exactly how much
# allowed-lateness buys — the number every withWatermark() call needs.
# One window per type-keyed exchange; ladder fan is a 4-row broadcast.

_WM_JIT = f"({_md5s('CAST(event_id AS STRING)')}) % 600000000"
_WM_JIT_D = f"({_md5d('CAST(event_id AS VARCHAR)')}) % 600000000"
_WM_LADDER = (0, 60, 300, 600)


@register(
    "watermark_lateness",
    f"""
WITH wm_e AS (
  SELECT event_type, event_id, {_EPOCH_US_DUCK_REL} AS us,
         {_EPOCH_US_DUCK_REL} + {_WM_JIT_D} AS arr
  FROM events),
wm_w AS (
  SELECT event_type, us,
         max(us) OVER (PARTITION BY event_type ORDER BY arr, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS wm
  FROM wm_e),
wm_l AS (SELECT unnest([{", ".join(map(str, _WM_LADDER))}]) AS delay_s)
SELECT w.event_type, CAST(l.delay_s AS BIGINT) AS delay_s,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN w.us < w.wm - l.delay_s * 1000000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       (1000 * CAST(sum(CASE WHEN w.us < w.wm - l.delay_s * 1000000
                        THEN 1 ELSE 0 END) AS BIGINT)) // count(*)
         AS late_pm
FROM wm_w w CROSS JOIN wm_l l
GROUP BY 1, 2
""",
    doc="Watermark lateness ladder: with arrival = event time + "
    "deterministic md5 delay jitter (0-600s), count per event-type "
    "stream how many events each withWatermark delay (0/60/300/600s) "
    "would drop — the running-max watermark over previously-arrived "
    "rows, the allowed-lateness tuning readout. One window per "
    "type-keyed exchange; the ladder is a 4-row broadcast fan.",
)
def q_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_type", "event_id",
        f"({_EPOCH_US_SPARK_REL}) AS us",
        f"({_EPOCH_US_SPARK_REL}) + {_WM_JIT} AS arr",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("arr", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ladder = ", ".join(map(str, _WM_LADDER))
    return (
        e.withColumn("wm", F.max("us").over(w))
        .selectExpr(
            "event_type", "us", "wm",
            f"explode(array({ladder})) AS delay_s",
        )
        .groupBy("event_type", F.col("delay_s").cast("bigint").alias("delay_s"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.expr(
                "CAST(sum(CASE WHEN us < wm - delay_s * 1000000"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_late"),
        )
        .withColumn("late_pm", F.expr("(1000 * n_late) DIV n_events"))
    )


# --- R170: decile drift audit (train vs serve distribution monitoring) -------
#
# The ML-ops data-drift readout: freeze decile edges on the TRAIN epoch
# (first half of the order-date range — the real protocol: serve data is
# bucketed by the TRAIN edges), histogram both epochs, and report the
# per-bucket share shift plus the total-variation distance, all exact
# integers via common denominators: tv_pm = (500·Σ|c_t·Ns − c_s·Nt|)
# DIV (Nt·Ns). The bucket fan is a broadcast 9-edge cross join (×9 per
# row — scale-free); everything after lives on the 10-row bucket frame.

_DD_EDGE_RANKS = ", ".join(f"({i} * n) DIV 10" for i in range(1, 10))


@register(
    "decile_drift",
    f"""
WITH dd_r AS (
  SELECT o_orderkey, CAST(floor(o_totalprice * 100e0) AS BIGINT) AS cents,
         {_EPOCH_DAY_DUCK.format(c='o_orderdate')} AS day
  FROM orders),
dd_mid AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM dd_r),
dd_e AS (
  SELECT o_orderkey, cents,
         CASE WHEN day < mid THEN 0 ELSE 1 END AS serve
  FROM dd_r CROSS JOIN dd_mid),
dd_tr AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, o_orderkey) AS rn,
         count(*) OVER () AS n
  FROM dd_e WHERE serve = 0),
dd_edges AS (
  SELECT cents AS edge FROM dd_tr
  WHERE rn IN ({_DD_EDGE_RANKS.replace("DIV", "//")})),
dd_b AS (
  SELECT e.o_orderkey, e.serve,
         CAST(sum(CASE WHEN e.cents > g.edge THEN 1 ELSE 0 END) AS BIGINT)
           AS bucket
  FROM dd_e e CROSS JOIN dd_edges g
  GROUP BY 1, 2),
dd_h AS (
  SELECT bucket,
         CAST(sum(CASE WHEN serve = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_train,
         CAST(sum(CASE WHEN serve = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_serve
  FROM dd_b GROUP BY 1),
dd_tot AS (
  SELECT CAST(sum(n_train) AS BIGINT) AS nt,
         CAST(sum(n_serve) AS BIGINT) AS ns,
         CAST(sum(abs_term) AS BIGINT) AS sum_abs
  FROM (SELECT n_train, n_serve,
               abs(n_train * (SELECT sum(n_serve) FROM dd_h)
                   - n_serve * (SELECT sum(n_train) FROM dd_h)) AS abs_term
        FROM dd_h))
SELECT h.bucket, h.n_train, h.n_serve,
       (1000 * abs(h.n_train * t.ns - h.n_serve * t.nt)) // (t.nt * t.ns)
         AS dshare_abs_pm,
       (500 * t.sum_abs) // (t.nt * t.ns) AS tv_pm
FROM dd_h h CROSS JOIN dd_tot t
""",
    doc="Decile drift audit (train/serve distribution monitoring): "
    "decile edges frozen on the first-half-of-dates train epoch, both "
    "epochs histogrammed by those edges, per-bucket share shift and "
    "total-variation distance in exact per-mille integers (common "
    "denominators — no float shares). Broadcast 9-edge fan; everything "
    "after lives on the 10-row bucket frame.",
)
def q_decile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "CAST(floor(o_totalprice * 100e0) AS BIGINT) AS cents",
        f"{_EPOCH_DAY_SPARK.format(c='o_orderdate')} AS day",
    )
    mid = r.agg(F.expr("(min(day) + max(day) + 1) DIV 2 AS mid"))
    e = r.crossJoin(F.broadcast(mid)).selectExpr(
        "o_orderkey", "cents",
        "CASE WHEN day < mid THEN 0 ELSE 1 END AS serve",
    ).localCheckpoint(eager=False)
    wtr = Window.orderBy("cents", "o_orderkey")
    tr = (
        e.where("serve = 0")
        .withColumn("rn", F.row_number().over(wtr))
        .withColumn("n", F.count("*").over(Window.partitionBy()))
        .where(f"rn IN ({_DD_EDGE_RANKS})")
        .selectExpr("cents AS edge")
    )
    b = (
        e.crossJoin(F.broadcast(tr))
        .groupBy("o_orderkey", "serve")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN cents > edge THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("bucket")
        )
    )
    h = b.groupBy("bucket").agg(
        F.expr("CAST(sum(CASE WHEN serve = 0 THEN 1 ELSE 0 END) AS BIGINT)")
        .alias("n_train"),
        F.expr("CAST(sum(CASE WHEN serve = 1 THEN 1 ELSE 0 END) AS BIGINT)")
        .alias("n_serve"),
    ).localCheckpoint(eager=False)
    tot = h.agg(
        F.expr("CAST(sum(n_train) AS BIGINT) AS nt"),
        F.expr("CAST(sum(n_serve) AS BIGINT) AS ns"),
    )
    tot2 = (
        h.crossJoin(F.broadcast(tot))
        .agg(
            F.expr("CAST(sum(abs(n_train * ns - n_serve * nt)) AS BIGINT)")
            .alias("sum_abs"),
            F.first("nt").alias("nt"),
            F.first("ns").alias("ns"),
        )
    )
    return h.crossJoin(F.broadcast(tot2)).selectExpr(
        "bucket", "n_train", "n_serve",
        "(1000 * abs(n_train * ns - n_serve * nt)) DIV (nt * ns)"
        " AS dshare_abs_pm",
        "(500 * sum_abs) DIV (nt * ns) AS tv_pm",
    )


# --- R173: inter-arrival burstiness (CV^2) ------------------------------------
#
# Goh & Barabási-style burstiness screen made integer-exact: per
# event-type stream, the squared coefficient of variation of
# inter-arrival gaps, CV² = Var/μ² = (n·Σd² − S²)/S² — Poisson traffic
# reads ~1000 per-mille, clockwork ~0, bursty >1000. Gaps in whole
# seconds keep every intermediate far inside bigint. One lag window per
# type-keyed exchange, then a 5-row aggregate.


@register(
    "burstiness_cv2",
    f"""
WITH bc_e AS (
  SELECT event_type, {_EPOCH_US_DUCK_REL} // 1000000 AS s, event_id
  FROM events),
bc_d AS (
  SELECT event_type,
         s - lag(s) OVER (PARTITION BY event_type ORDER BY s, event_id)
           AS d
  FROM bc_e),
bc_a AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(d) AS BIGINT) AS sum_s,
         CAST(sum(d * d) AS BIGINT) AS sum_s2
  FROM bc_d WHERE d IS NOT NULL GROUP BY 1)
SELECT event_type, n_gaps, sum_s // n_gaps AS mean_gap_s,
       (1000 * (n_gaps * sum_s2 - sum_s * sum_s))
         // (sum_s * sum_s) AS cv2_pm
FROM bc_a
""",
    doc="Inter-arrival burstiness per event-type stream: CV² of gap "
    "seconds as exact integers via (n*sum(d^2) - S^2)/S^2 per-mille — "
    "Poisson ~1000, clockwork ~0, bursty >1000. One lag window per "
    "type-keyed exchange, then a 5-row aggregate; no float mean or "
    "variance ever materializes.",
)
def q_burstiness_cv2(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_type",
        f"({_EPOCH_US_SPARK_REL}) DIV 1000000 AS s",
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("s", "event_id")
    return (
        e.withColumn("d", F.expr("s - lag(s) OVER (PARTITION BY"
                                 " event_type ORDER BY s, event_id)"))
        .where("d IS NOT NULL")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_gaps"),
            F.expr("CAST(sum(d) AS BIGINT)").alias("sum_s"),
            F.expr("CAST(sum(d * d) AS BIGINT)").alias("sum_s2"),
        )
        .selectExpr(
            "event_type", "n_gaps",
            "sum_s DIV n_gaps AS mean_gap_s",
            "(1000 * (n_gaps * sum_s2 - sum_s * sum_s))"
            " DIV (sum_s * sum_s) AS cv2_pm",
        )
    )


from .streaming import incremental as _inc2  # noqa: E402

@register(
    "merkle_diff",
    _inc2.merkle_diff_oracle(),
    doc="Merkle partition diff — the anti-entropy sync planner "
    "(Dynamo/Cassandra merkle trees, Iceberg manifest diffing): "
    "order-invariant bit_xor row-hash digests per (source, 64-doc "
    "sub-partition) for two snapshots (B = deterministic same-SQL "
    "revision of doc_id % 97 rows), compared to flag exactly which "
    "partitions an incremental sync must touch. Snapshots never join "
    "row-by-row; row-level classify runs ONLY on flagged partitions.",
)
def q_merkle_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _inc2.merkle_diff(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


# --- R186: leaky-bucket rate policer (Lindley virtual queue) ------------------
#
# The admission-control meter every ingest front-end runs, made
# window-expressible: a virtual queue drained at the stream's own mean
# rate (self-calibrating, so the same SQL is meaningful at every SF)
# with each event depositing 1000 millitokens. The textbook recurrence
# X_n = max(0, X_{n-1} + cost − drain) is sequential, but Lindley's
# closed form makes it ONE window pass:
#   X_n = D_n − min(0, min_{j≤n} D_j),  D_n = Σcost − drain(t_n)
# — a cumsum and a running min per type-keyed exchange (the CLAUDE.md
# min-OVER-ROWS discipline), no recursion, no applyInPandas. An event
# is violating when its virtual backlog exceeds the 5-event burst cap.
# (The LOSS-system variant where rejected events don't fill the queue
# is inherently recursive — this is the color-blind srTCM-style meter,
# which is the one network calculus actually bounds.)


@register(
    "rate_policer",
    f"""
WITH pol_e AS (
  SELECT event_type, {_EPOCH_US_DUCK_REL} // 1000000 AS s, event_id
  FROM events),
pol_w AS (
  SELECT event_type, s, event_id,
         row_number() OVER (PARTITION BY event_type ORDER BY s, event_id)
           AS rn,
         count(*) OVER (PARTITION BY event_type) AS n,
         s - min(s) OVER (PARTITION BY event_type) AS rel,
         max(s) OVER (PARTITION BY event_type)
           - min(s) OVER (PARTITION BY event_type) AS span
  FROM pol_e),
pol_d AS (
  SELECT event_type, rn, n,
         1000 * rn - (1000 * n * rel) // span AS d
  FROM pol_w),
pol_x AS (
  SELECT event_type, n,
         d - least(min(d) OVER (PARTITION BY event_type ORDER BY rn
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS x
  FROM pol_d)
SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
       CAST(sum(CAST(x > 5000 AS INT)) AS BIGINT) AS n_viol,
       CAST((1000 * sum(CAST(x > 5000 AS INT))) // max(n) AS BIGINT)
         AS viol_pm,
       CAST(max(x) AS BIGINT) AS max_x_milli
FROM pol_x GROUP BY 1
""",
    doc="Leaky-bucket rate policer per event-type stream via Lindley's "
    "closed form: virtual backlog X_n = D_n - min(0, running min D_j) "
    "with D = cumulative cost - drain at the stream's own mean rate — "
    "the sequential token-bucket recurrence collapsed to one cumsum + "
    "one running min per type-keyed exchange (no recursion, no state "
    "UDF). Violation = backlog > the 5-event burst cap; both outcome "
    "classes live at sf0.001 AND sf0.01.",
)
def q_rate_policer(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_type",
        f"({_EPOCH_US_SPARK_REL}) DIV 1000000 AS s",
        "event_id",
    )
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("s", "event_id")
    return (
        e.select(
            "event_type",
            F.row_number().over(wo).alias("rn"),
            F.count("*").over(wp).alias("n"),
            (F.col("s") - F.min("s").over(wp)).alias("rel"),
            (F.max("s").over(wp) - F.min("s").over(wp)).alias("span"),
        )
        .selectExpr(
            "event_type", "rn", "n",
            "1000 * rn - (1000 * n * rel) DIV span AS d",
        )
        .select(
            "event_type", "n",
            F.expr(
                "d - least(min(d) OVER (PARTITION BY event_type ORDER BY rn"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)"
            ).alias("x"),
        )
        .groupBy("event_type")
        .agg(
            F.expr("CAST(max(n) AS BIGINT)").alias("n_events"),
            F.expr("CAST(sum(CAST(x > 5000 AS INT)) AS BIGINT)")
            .alias("n_viol"),
            F.expr("CAST(max(x) AS BIGINT)").alias("max_x_milli"),
        )
        .selectExpr(
            "event_type", "n_events", "n_viol",
            "(1000 * n_viol) DIV n_events AS viol_pm",
            "max_x_milli",
        )
        .select(
            "event_type", "n_events", "n_viol", "viol_pm", "max_x_milli"
        )
    )


# --- R188: forecast eval harness (exact MASE) ----------------------------------
#
# The forecasting scorecard (Hyndman & Koehler 2006) done exactly: per
# event-type daily-count series (zero-densified over min..max day),
# three deterministic forecasters — naive-1 (yesterday), seasonal
# naive-7 (same weekday last week), train-mean — are scored on the
# second half of days with the Mean Absolute SCALED Error:
#   MASE = (Σ_test |y−ŷ| / n_test) / (Σ_train |y_t−y_{t−1}| / n_gaps)
# kept integer by cross-multiplication (mase_pm = 1000·A·nB DIV nA·B).
# MASE < 1000 beats the in-sample naive walk — the standard bar.
# Scale: one type-keyed exchange for the windows; the train stats live
# on the 5-row type dimension and broadcast back; day fan is bounded
# by the calendar, never by events.


@register(
    "forecast_eval",
    f"""
WITH fe_daily AS (
  SELECT event_type, {_EPOCH_US_DUCK_REL} // 86400000000 AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2),
fe_dim AS (
  SELECT event_type, min(day) AS d0, max(day) AS d1,
         min(day) + (max(day) - min(day)) // 2 AS half
  FROM fe_daily GROUP BY 1),
fe_cal AS (
  SELECT m.event_type, unnest(range(m.d0, m.d1 + 1)) AS day,
         m.d0, m.half
  FROM fe_dim m),
fe_s AS (
  SELECT c.event_type, c.day, c.d0, c.half, coalesce(d.cnt, 0) AS cnt
  FROM fe_cal c LEFT JOIN fe_daily d
    ON d.event_type = c.event_type AND d.day = c.day),
fe_l AS (
  SELECT *,
         lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY day) AS y1,
         lag(cnt, 7) OVER (PARTITION BY event_type ORDER BY day) AS y7
  FROM fe_s),
fe_tr AS (
  SELECT event_type,
         CAST(sum(CASE WHEN day > d0 AND day <= half
                       THEN abs(cnt - y1) END) AS BIGINT) AS b,
         CAST(sum(CASE WHEN day > d0 AND day <= half THEN 1 END)
           AS BIGINT) AS nb,
         CAST(sum(CASE WHEN day <= half THEN cnt END) AS BIGINT)
           // CAST(sum(CASE WHEN day <= half THEN 1 END) AS BIGINT) AS mu
  FROM fe_l GROUP BY 1),
fe_te AS (
  SELECT l.event_type,
         CAST(count(*) AS BIGINT) AS na,
         CAST(sum(abs(l.cnt - l.y1)) AS BIGINT) AS a1,
         CAST(sum(abs(l.cnt - l.y7)) AS BIGINT) AS a7,
         CAST(sum(abs(l.cnt - t.mu)) AS BIGINT) AS am,
         max(t.b) AS b, max(t.nb) AS nb
  FROM fe_l l JOIN fe_tr t ON t.event_type = l.event_type
  WHERE l.day > l.half GROUP BY 1)
SELECT event_type, model, n_test, mase_pm FROM (
  SELECT event_type, 'naive1' AS model, na AS n_test,
         CAST((1000 * a1 * nb) // (na * greatest(b, 1)) AS BIGINT)
           AS mase_pm FROM fe_te
  UNION ALL
  SELECT event_type, 'snaive7', na,
         CAST((1000 * a7 * nb) // (na * greatest(b, 1)) AS BIGINT)
    FROM fe_te
  UNION ALL
  SELECT event_type, 'trainmean', na,
         CAST((1000 * am * nb) // (na * greatest(b, 1)) AS BIGINT)
    FROM fe_te)
""",
    doc="Forecast scorecard with exact integer MASE (Hyndman & Koehler "
    "2006): naive-1, seasonal-naive-7, and train-mean forecasters over "
    "the zero-densified per-type daily series, scored on the second "
    "half of days against the in-sample naive walk denominator, "
    "cross-multiplied (no float MAE). One type-keyed window exchange; "
    "train stats broadcast from the 5-row type dimension.",
)
def q_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            "event_type",
            f"({_EPOCH_US_SPARK_REL}) DIV 86400000000 AS day",
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    dim = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
        F.expr("min(day) + (max(day) - min(day)) DIV 2").alias("half"),
    )
    cal = dim.selectExpr(
        "event_type", "explode(sequence(d0, d1)) AS day", "d0", "half"
    )
    s = (
        cal.join(daily, ["event_type", "day"], "left")
        .selectExpr(
            "event_type", "day", "d0", "half",
            "coalesce(cnt, CAST(0 AS BIGINT)) AS cnt",
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = (
        s.withColumn("y1", F.lag("cnt", 1).over(w))
        .withColumn("y7", F.lag("cnt", 7).over(w))
        .localCheckpoint(eager=False)
    )
    tr = lagged.groupBy("event_type").agg(
        F.expr(
            "CAST(sum(CASE WHEN day > d0 AND day <= half"
            " THEN abs(cnt - y1) END) AS BIGINT)"
        ).alias("b"),
        F.expr(
            "CAST(sum(CASE WHEN day > d0 AND day <= half THEN 1 END)"
            " AS BIGINT)"
        ).alias("nb"),
        F.expr(
            "CAST(sum(CASE WHEN day <= half THEN cnt END) AS BIGINT)"
            " DIV CAST(sum(CASE WHEN day <= half THEN 1 END) AS BIGINT)"
        ).alias("mu"),
    )
    te = (
        lagged.where("day > half")
        .join(F.broadcast(tr), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("na"),
            F.expr("CAST(sum(abs(cnt - y1)) AS BIGINT)").alias("a1"),
            F.expr("CAST(sum(abs(cnt - y7)) AS BIGINT)").alias("a7"),
            F.expr("CAST(sum(abs(cnt - mu)) AS BIGINT)").alias("am"),
            F.max("b").alias("b"),
            F.max("nb").alias("nb"),
        )
    )
    return te.selectExpr(
        "event_type",
        "stack(3, 'naive1', a1, 'snaive7', a7, 'trainmean', am)"
        " AS (model, a)",
        "na AS n_test", "b", "nb",
    ).selectExpr(
        "event_type", "model", "n_test",
        "CAST((1000 * a * nb) DIV (n_test * greatest(b, 1)) AS BIGINT)"
        " AS mase_pm",
    )


# --- R190: exact weighted quantiles via the value-dimension histogram ---------
#
# Weighted median/quartiles of the line price, weighted by quantity,
# per return flag — EXACT, with the same move that made AUC scale
# (R180): instead of a global per-row sort (one reducer per group at
# 10^12 rows), the weights are first histogrammed onto the bounded
# (flag, cents) VALUE dimension (one map-side-partial groupBy), and the
# quantile is the least value whose cumulative weight crosses
# ceil(q·W) — a window over the value dimension only. Ties need no
# tie-break key: the histogram absorbs them. The at-extreme-scale
# approximate companion is histogram_quantiles (R68); this is the exact
# rung of the same ladder.


@register(
    "weighted_quantiles",
    """
WITH wq_h AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice * 100e0) AS BIGINT) AS cents,
         CAST(sum(CAST(floor(l_quantity + 0.5e0) AS BIGINT)) AS BIGINT)
           AS w
  FROM lineitem GROUP BY 1, 2),
wq_c AS (
  SELECT flag, cents, w,
         sum(w) OVER (PARTITION BY flag ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(w) OVER (PARTITION BY flag) AS wt
  FROM wq_h)
SELECT flag, CAST(max(wt) AS BIGINT) AS w_total,
       CAST(min(CASE WHEN 4 * cw >= wt THEN cents END) AS BIGINT)
         AS p25_cents,
       CAST(min(CASE WHEN 2 * cw >= wt THEN cents END) AS BIGINT)
         AS median_cents,
       CAST(min(CASE WHEN 4 * cw >= 3 * wt THEN cents END) AS BIGINT)
         AS p75_cents,
       CAST(min(CASE WHEN 4 * cw >= 3 * wt THEN cents END)
         - min(CASE WHEN 4 * cw >= wt THEN cents END) AS BIGINT)
         AS wiqr_cents
FROM wq_c GROUP BY flag
""",
    doc="Exact weighted quantiles (p25/median/p75 of line price cents, "
    "weighted by quantity) per return flag via the value-dimension "
    "histogram: weights groupBy onto (flag, cents) with map-side "
    "partial agg, the quantile is the least value whose cumulative "
    "weight crosses ceil(q*W) — the window runs on the bounded value "
    "dimension, never a per-row global sort. Ties absorbed by the "
    "histogram; the exact rung beside histogram_quantiles' sketch.",
)
def q_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = (
        _t(spark, sf_dir, "lineitem")
        .selectExpr(
            "l_returnflag AS flag",
            "CAST(floor(l_extendedprice * 100e0) AS BIGINT) AS cents",
            "CAST(floor(l_quantity + 0.5e0) AS BIGINT) AS q",
        )
        .groupBy("flag", "cents")
        .agg(F.expr("CAST(sum(q) AS BIGINT)").alias("w"))
    )
    return (
        h.select(
            "flag", "cents", "w",
            F.expr(
                "sum(w) OVER (PARTITION BY flag ORDER BY cents"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            ).alias("cw"),
            F.expr("sum(w) OVER (PARTITION BY flag)").alias("wt"),
        )
        .groupBy("flag")
        .agg(
            F.expr("CAST(max(wt) AS BIGINT)").alias("w_total"),
            F.expr(
                "CAST(min(CASE WHEN 4 * cw >= wt THEN cents END)"
                " AS BIGINT)"
            ).alias("p25_cents"),
            F.expr(
                "CAST(min(CASE WHEN 2 * cw >= wt THEN cents END)"
                " AS BIGINT)"
            ).alias("median_cents"),
            F.expr(
                "CAST(min(CASE WHEN 4 * cw >= 3 * wt THEN cents END)"
                " AS BIGINT)"
            ).alias("p75_cents"),
        )
        .selectExpr(
            "flag", "w_total", "p25_cents", "median_cents", "p75_cents",
            "p75_cents - p25_cents AS wiqr_cents",
        )
    )


# --- R192: deletion-cascade audit (right-to-be-forgotten) ----------------------
#
# The GDPR/CCPA erasure planner: a deterministic delete set (customers
# with c_custkey % 97 == 0) cascades customer → orders → lineitem via
# key semi-joins (the only shape that scales — never row-by-row), and
# the audit emits per-table deletion counts PLUS an independently
# derived orphan witness: survivors still referencing a deleted parent,
# computed from the delete frames themselves (0 proves the cascade
# closed; a partial cascade would surface here, not vanish).


@register(
    "deletion_cascade",
    """
WITH dc_c AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
dc_o AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM dc_c)),
dc_l AS (
  SELECT l_orderkey, l_linenumber FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM dc_o)),
dc_orph_o AS (
  SELECT count(*) AS n FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM dc_c)
    AND o_orderkey NOT IN (SELECT o_orderkey FROM dc_o)),
dc_orph_l AS (
  SELECT count(*) AS n FROM lineitem li
  WHERE li.l_orderkey IN (SELECT o_orderkey FROM dc_o)
    AND NOT EXISTS (SELECT 1 FROM dc_l d
                    WHERE d.l_orderkey = li.l_orderkey
                      AND d.l_linenumber = li.l_linenumber))
SELECT tbl, n_rows, n_deleted,
       CAST((1000 * n_deleted) // n_rows AS BIGINT) AS del_pm,
       orphans_after
FROM (
  SELECT 'customer' AS tbl,
         CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_rows,
         CAST((SELECT count(*) FROM dc_c) AS BIGINT) AS n_deleted,
         CAST(0 AS BIGINT) AS orphans_after
  UNION ALL
  SELECT 'orders',
         CAST((SELECT count(*) FROM orders) AS BIGINT),
         CAST((SELECT count(*) FROM dc_o) AS BIGINT),
         CAST((SELECT n FROM dc_orph_o) AS BIGINT)
  UNION ALL
  SELECT 'lineitem',
         CAST((SELECT count(*) FROM lineitem) AS BIGINT),
         CAST((SELECT count(*) FROM dc_l) AS BIGINT),
         CAST((SELECT n FROM dc_orph_l) AS BIGINT))
""",
    doc="GDPR deletion-cascade audit: customers with custkey % 97 == 0 "
    "cascade to their orders and lineitems via key semi-joins, with "
    "per-table deletion counts and an independently derived orphan "
    "witness (survivors referencing a deleted parent — 0 proves the "
    "cascade closed). The erasure plan every governed lakehouse needs, "
    "in the only shape that scales.",
)
def q_deletion_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dc = cust.where("c_custkey % 97 = 0").select("c_custkey")
    do = orders.join(
        F.broadcast(dc), orders["o_custkey"] == dc["c_custkey"], "left_semi"
    ).select("o_orderkey").localCheckpoint(eager=False)
    dok = do.withColumnRenamed("o_orderkey", "l_orderkey")
    dl = li.join(
        F.broadcast(dok), "l_orderkey", "left_semi"
    ).select("l_orderkey", "l_linenumber")
    orph_o = (
        orders.join(F.broadcast(dc), orders["o_custkey"] == dc["c_custkey"],
                    "left_semi")
        .join(F.broadcast(do), "o_orderkey", "left_anti")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS n"))
    )
    orph_l = (
        li.join(F.broadcast(dok), "l_orderkey", "left_semi")
        .join(dl, ["l_orderkey", "l_linenumber"], "left_anti")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS n"))
    )

    def row(tbl, total_df, del_df, orph_df):
        tot = total_df.agg(F.expr("CAST(count(*) AS BIGINT) AS n_rows"))
        dele = del_df.agg(F.expr("CAST(count(*) AS BIGINT) AS n_deleted"))
        return (
            tot.crossJoin(dele)
            .crossJoin(orph_df.withColumnRenamed("n", "orphans_after"))
            .selectExpr(
                f"'{tbl}' AS tbl", "n_rows", "n_deleted",
                "(1000 * n_deleted) DIV n_rows AS del_pm",
                "orphans_after",
            )
        )

    zero = cust.sparkSession.range(1).selectExpr("CAST(0 AS BIGINT) AS n")
    return (
        row("customer", cust, dc, zero)
        .unionByName(row("orders", orders, do, orph_o))
        .unionByName(row("lineitem", li, dl, orph_l))
    )


# --- R194: exact two-sample Kolmogorov-Smirnov test ----------------------------
#
# The distribution-drift test beside decile_drift's TV distance: D =
# sup|ECDF_1 − ECDF_2| between the order-price distributions of two
# customer segments, EXACT via the value-dimension histogram (the R180/
# R190 move): per distinct cents value the two cumulative counts, the
# sup read off the bounded dimension as max|c1·n2 − c2·n1| (common
# denominator — no float ECDF), the argmax value recovered by a second
# dimension-frame pass against the broadcast max. The α=0.05 decision
# uses Smirnov's asymptotic bound cross-multiplied:
#   reject ⟺ d_pm² · n1·n2 > 1.358²·10⁶ · (n1+n2)
# (floor-conservative by construction).


@register(
    "ks_test",
    f"""
WITH ks_o AS (
  SELECT c.c_mktsegment AS seg,
         CAST(floor(o.o_totalprice * 100e0) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
ks_h AS (
  SELECT cents,
         CAST(sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT)
           AS h1,
         CAST(sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT)
           AS h2
  FROM ks_o GROUP BY 1),
ks_c AS (
  SELECT cents,
         sum(h1) OVER (ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
         sum(h2) OVER (ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2,
         sum(h1) OVER () AS n1, sum(h2) OVER () AS n2
  FROM ks_h),
ks_m AS (
  SELECT max(abs(c1 * n2 - c2 * n1)) AS dnum,
         max(n1) AS n1, max(n2) AS n2
  FROM ks_c)
SELECT m.n1, m.n2,
       CAST((1000 * m.dnum) // (m.n1 * m.n2) AS BIGINT) AS d_pm,
       CAST(min(c.cents) AS BIGINT) AS d_at_cents,
       CAST(((1000 * m.dnum) // (m.n1 * m.n2))
            * ((1000 * m.dnum) // (m.n1 * m.n2)) * m.n1 * m.n2
            > 1844164 * (m.n1 + m.n2) AS BIGINT) AS reject05
FROM ks_m m JOIN ks_c c
  ON abs(c.c1 * m.n2 - c.c2 * m.n1) = m.dnum
GROUP BY m.n1, m.n2, m.dnum
""",
    doc="Exact two-sample Kolmogorov-Smirnov test between the BUILDING "
    "and MACHINERY segments' order-price distributions: sup|ECDF "
    "difference| via common-denominator counts on the bounded value "
    "dimension (no float ECDF), the argmax price recovered exactly, "
    "and the alpha=0.05 Smirnov decision cross-multiplied (floor-"
    "conservative). The inferential companion to decile_drift's "
    "descriptive TV distance.",
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").where(
        "c_mktsegment IN ('BUILDING', 'MACHINERY')"
    )
    h = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .selectExpr(
            "c_mktsegment AS seg",
            "CAST(floor(o_totalprice * 100e0) AS BIGINT) AS cents",
        )
        .groupBy("cents")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("h1"),
            F.expr(
                "CAST(sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("h2"),
        )
    )
    cum = h.selectExpr(
        "cents",
        "sum(h1) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW) AS c1",
        "sum(h2) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW) AS c2",
        "sum(h1) OVER () AS n1",
        "sum(h2) OVER () AS n2",
    ).localCheckpoint(eager=False)
    m = cum.agg(
        F.expr("max(abs(c1 * n2 - c2 * n1)) AS dnum"),
        F.expr("max(n1) AS mn1"),
        F.expr("max(n2) AS mn2"),
    )
    return (
        cum.crossJoin(F.broadcast(m))
        .where("abs(c1 * n2 - c2 * n1) = dnum")
        .groupBy("mn1", "mn2", "dnum")
        .agg(F.expr("CAST(min(cents) AS BIGINT) AS d_at_cents"))
        .selectExpr(
            "mn1 AS n1", "mn2 AS n2",
            "CAST((1000 * dnum) DIV (mn1 * mn2) AS BIGINT) AS d_pm",
            "d_at_cents",
            "CAST(((1000 * dnum) DIV (mn1 * mn2))"
            " * ((1000 * dnum) DIV (mn1 * mn2)) * mn1 * mn2"
            " > 1844164 * (mn1 + mn2) AS BIGINT) AS reject05",
        )
    )


# --- R195: data-quality profiler ------------------------------------------------
#
# The great-expectations/dbt-style column profile as a first-class
# query: per column of the orders table (keys, enums, price-as-cents,
# date-as-epoch-day) the null count, exact distinct count, and min/max
# rendered as engine-portable strings (integers only — float/date
# formatting never crosses the engine boundary). ONE scan computes
# every statistic (a single aggregate row), then unpivots to the
# 6-row column dimension.


@register(
    "data_profile",
    f"""
WITH dp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(o_orderkey) AS BIGINT) AS nn_key,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd_key,
         CAST(min(o_orderkey) AS BIGINT) AS mn_key,
         CAST(max(o_orderkey) AS BIGINT) AS mx_key,
         CAST(count(o_custkey) AS BIGINT) AS nn_cust,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_cust,
         CAST(min(o_custkey) AS BIGINT) AS mn_cust,
         CAST(max(o_custkey) AS BIGINT) AS mx_cust,
         CAST(count(o_orderstatus) AS BIGINT) AS nn_st,
         CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd_st,
         min(o_orderstatus) AS mn_st, max(o_orderstatus) AS mx_st,
         CAST(count(o_orderpriority) AS BIGINT) AS nn_pr,
         CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS nd_pr,
         min(o_orderpriority) AS mn_pr, max(o_orderpriority) AS mx_pr,
         CAST(count(o_totalprice) AS BIGINT) AS nn_tp,
         CAST(count(DISTINCT CAST(floor(o_totalprice * 100e0) AS BIGINT))
           AS BIGINT) AS nd_tp,
         CAST(min(CAST(floor(o_totalprice * 100e0) AS BIGINT)) AS BIGINT)
           AS mn_tp,
         CAST(max(CAST(floor(o_totalprice * 100e0) AS BIGINT)) AS BIGINT)
           AS mx_tp,
         CAST(count(o_orderdate) AS BIGINT) AS nn_dt,
         CAST(count(DISTINCT date_diff('microsecond',
           TIMESTAMP '1970-01-01', o_orderdate) // 86400000000)
           AS BIGINT) AS nd_dt,
         CAST(min(date_diff('microsecond', TIMESTAMP '1970-01-01',
           o_orderdate) // 86400000000) AS BIGINT) AS mn_dt,
         CAST(max(date_diff('microsecond', TIMESTAMP '1970-01-01',
           o_orderdate) // 86400000000) AS BIGINT) AS mx_dt
  FROM orders)
SELECT col, n_rows, n_rows - nn AS n_null, nd AS n_distinct,
       mn AS min_s, mx AS max_s FROM (
  SELECT 'o_orderkey' AS col, n_rows, nn_key AS nn, nd_key AS nd,
         CAST(mn_key AS VARCHAR) AS mn, CAST(mx_key AS VARCHAR) AS mx
  FROM dp
  UNION ALL SELECT 'o_custkey', n_rows, nn_cust, nd_cust,
         CAST(mn_cust AS VARCHAR), CAST(mx_cust AS VARCHAR) FROM dp
  UNION ALL SELECT 'o_orderstatus', n_rows, nn_st, nd_st, mn_st, mx_st
  FROM dp
  UNION ALL SELECT 'o_orderpriority', n_rows, nn_pr, nd_pr, mn_pr, mx_pr
  FROM dp
  UNION ALL SELECT 'o_totalprice_cents', n_rows, nn_tp, nd_tp,
         CAST(mn_tp AS VARCHAR), CAST(mx_tp AS VARCHAR) FROM dp
  UNION ALL SELECT 'o_orderdate_day', n_rows, nn_dt, nd_dt,
         CAST(mn_dt AS VARCHAR), CAST(mx_dt AS VARCHAR) FROM dp)
""",
    doc="Data-quality column profiler (the great-expectations/dbt "
    "profile as a query): null count, exact distinct count, and "
    "engine-portable min/max strings for six orders columns — floats "
    "profiled as integer cents, dates as epoch days, so no float/date "
    "formatting ever crosses the engine boundary. ONE scan computes "
    "every statistic, then unpivots to the 6-row column dimension.",
)
def q_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = (
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        f" o_orderdate) DIV 86400000000"
    )
    dp = _t(spark, sf_dir, "orders").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_rows"),
        F.expr("CAST(count(o_orderkey) AS BIGINT) AS nn_key"),
        F.expr("CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd_key"),
        F.expr("CAST(min(o_orderkey) AS BIGINT) AS mn_key"),
        F.expr("CAST(max(o_orderkey) AS BIGINT) AS mx_key"),
        F.expr("CAST(count(o_custkey) AS BIGINT) AS nn_cust"),
        F.expr("CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_cust"),
        F.expr("CAST(min(o_custkey) AS BIGINT) AS mn_cust"),
        F.expr("CAST(max(o_custkey) AS BIGINT) AS mx_cust"),
        F.expr("CAST(count(o_orderstatus) AS BIGINT) AS nn_st"),
        F.expr("CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd_st"),
        F.expr("min(o_orderstatus) AS mn_st"),
        F.expr("max(o_orderstatus) AS mx_st"),
        F.expr("CAST(count(o_orderpriority) AS BIGINT) AS nn_pr"),
        F.expr("CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS nd_pr"),
        F.expr("min(o_orderpriority) AS mn_pr"),
        F.expr("max(o_orderpriority) AS mx_pr"),
        F.expr("CAST(count(o_totalprice) AS BIGINT) AS nn_tp"),
        F.expr(
            "CAST(count(DISTINCT CAST(floor(o_totalprice * 100e0)"
            " AS BIGINT)) AS BIGINT) AS nd_tp"
        ),
        F.expr(
            "CAST(min(CAST(floor(o_totalprice * 100e0) AS BIGINT))"
            " AS BIGINT) AS mn_tp"
        ),
        F.expr(
            "CAST(max(CAST(floor(o_totalprice * 100e0) AS BIGINT))"
            " AS BIGINT) AS mx_tp"
        ),
        F.expr("CAST(count(o_orderdate) AS BIGINT) AS nn_dt"),
        F.expr(f"CAST(count(DISTINCT {day}) AS BIGINT) AS nd_dt"),
        F.expr(f"CAST(min({day}) AS BIGINT) AS mn_dt"),
        F.expr(f"CAST(max({day}) AS BIGINT) AS mx_dt"),
    )
    rows = []
    specs = [
        ("o_orderkey", "nn_key", "nd_key",
         "CAST(mn_key AS STRING)", "CAST(mx_key AS STRING)"),
        ("o_custkey", "nn_cust", "nd_cust",
         "CAST(mn_cust AS STRING)", "CAST(mx_cust AS STRING)"),
        ("o_orderstatus", "nn_st", "nd_st", "mn_st", "mx_st"),
        ("o_orderpriority", "nn_pr", "nd_pr", "mn_pr", "mx_pr"),
        ("o_totalprice_cents", "nn_tp", "nd_tp",
         "CAST(mn_tp AS STRING)", "CAST(mx_tp AS STRING)"),
        ("o_orderdate_day", "nn_dt", "nd_dt",
         "CAST(mn_dt AS STRING)", "CAST(mx_dt AS STRING)"),
    ]
    for col, nn, nd, mn, mx in specs:
        rows.append(
            dp.selectExpr(
                f"'{col}' AS col", "n_rows",
                f"n_rows - {nn} AS n_null",
                f"{nd} AS n_distinct",
                f"{mn} AS min_s", f"{mx} AS max_s",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --- R197: median absolute deviation (robust scale) ----------------------------
#
# The robust-statistics scale estimator beside trimmed_stats' location
# family: MAD = median(|x − median(x)|) per event-type value stream,
# EXACT via two value-dimension histogram medians (the R190 crossing
# trick twice) — first the median over the (type, cents) histogram,
# then the median of absolute deviations over the (type, |cents−med|)
# histogram. No per-row global sort at either step; the deviation
# histogram is one broadcast-median join away from the first.


@register(
    "mad_stats",
    """
WITH md_h AS (
  SELECT event_type, CAST(floor(value * 100e0) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
md_c AS (
  SELECT event_type, cents, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM md_h),
md_m AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         CAST(min(CASE WHEN 2 * cw >= n THEN cents END) AS BIGINT)
           AS median_cents
  FROM md_c GROUP BY 1),
md_d AS (
  SELECT h.event_type, abs(h.cents - m.median_cents) AS dev,
         CAST(sum(h.c) AS BIGINT) AS c
  FROM md_h h JOIN md_m m ON m.event_type = h.event_type
  GROUP BY 1, 2),
md_dc AS (
  SELECT event_type, dev, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY dev
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM md_d)
SELECT d.event_type, m.n, m.median_cents,
       CAST(min(CASE WHEN 2 * d.cw >= d.n THEN d.dev END) AS BIGINT)
         AS mad_cents
FROM md_dc d JOIN md_m m ON m.event_type = d.event_type
GROUP BY 1, 2, 3
""",
    doc="Median absolute deviation per event-type value stream — the "
    "robust scale estimator beside trimmed_stats' robust location — "
    "exact via TWO value-dimension histogram medians (the crossing "
    "trick twice): median over the (type, cents) histogram, then "
    "median of |cents - median| over the deviation histogram. No "
    "per-row global sort at either step.",
)
def q_mad_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            "event_type",
            "CAST(floor(value * 100e0) AS BIGINT) AS cents",
        )
        .groupBy("event_type", "cents")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    med = (
        h.selectExpr(
            "event_type", "cents", "c",
            "sum(c) OVER (PARTITION BY event_type ORDER BY cents"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw",
            "sum(c) OVER (PARTITION BY event_type) AS n",
        )
        .groupBy("event_type")
        .agg(
            F.expr("CAST(max(n) AS BIGINT)").alias("n"),
            F.expr(
                "CAST(min(CASE WHEN 2 * cw >= n THEN cents END)"
                " AS BIGINT)"
            ).alias("median_cents"),
        )
    )
    dev = (
        h.join(F.broadcast(med), "event_type")
        .selectExpr(
            "event_type", "n", "median_cents",
            "abs(cents - median_cents) AS dev", "c",
        )
        .groupBy("event_type", "n", "median_cents", "dev")
        .agg(F.expr("CAST(sum(c) AS BIGINT)").alias("c"))
    )
    return (
        dev.selectExpr(
            "event_type", "n", "median_cents", "dev", "c",
            "sum(c) OVER (PARTITION BY event_type ORDER BY dev"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw",
        )
        .groupBy("event_type", "n", "median_cents")
        .agg(
            F.expr(
                "CAST(min(CASE WHEN 2 * cw >= n THEN dev END) AS BIGINT)"
            ).alias("mad_cents")
        )
        .select("event_type", "n", "median_cents", "mad_cents")
    )


# --- R198: exact chi-square goodness-of-fit (day-of-week uniformity) -----------
#
# Pearson's GOF test without a single float: against the uniform
# 7-day expectation E = N/7, the statistic folds to
#   chi2 = Σ(7·O_i − N)² / (7·N)
# (common denominators), emitted in milli. df = 6, so the α=0.05
# decision is chi2_milli > 12592. The inferential companion to
# dow_profile's descriptive weekday shares.


@register(
    "chi2_dow",
    f"""
WITH x2_o AS (
  SELECT ({_EPOCH_US_DUCK_REL} // 86400000000 + 4) % 7 AS dow,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY 1),
x2_n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM x2_o)
SELECT n.n AS n_events,
       CAST(count(*) AS BIGINT) AS n_days_seen,
       CAST((1000 * sum((7 * o.o - n.n) * (7 * o.o - n.n)))
         // (7 * n.n) AS BIGINT) AS chi2_milli,
       CAST((1000 * sum((7 * o.o - n.n) * (7 * o.o - n.n)))
         // (7 * n.n) > 12592 AS BIGINT) AS reject05
FROM x2_o o CROSS JOIN x2_n n
GROUP BY n.n
""",
    doc="Exact chi-square goodness-of-fit for day-of-week uniformity "
    "of the event stream: chi2 = sum((7*O - N)^2) / (7*N) in milli "
    "(common denominators, zero floats), df=6, alpha=0.05 critical "
    "12.592. The inferential companion to dow_profile; TZ-safe epoch "
    "days ((day+4)%7 anchors Thursday=0 like the dow_profile "
    "discipline).",
)
def q_chi2_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            f"(({_EPOCH_US_SPARK_REL}) DIV 86400000000 + 4) % 7 AS dow"
        )
        .groupBy("dow")
        .agg(F.count("*").cast("bigint").alias("o"))
    )
    n = o.agg(F.expr("CAST(sum(o) AS BIGINT) AS n"))
    return (
        o.crossJoin(F.broadcast(n))
        .groupBy("n")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_days_seen"),
            F.expr(
                "CAST((1000 * sum((7 * o - n) * (7 * o - n)))"
                " DIV (7 * n) AS BIGINT)"
            ).alias("chi2_milli"),
        )
        .selectExpr(
            "n AS n_events", "n_days_seen", "chi2_milli",
            "CAST(chi2_milli > 12592 AS BIGINT) AS reject05",
        )
    )


@register(
    "occ_conflict_audit",
    _inc2.occ_conflict_oracle(),
    doc="Optimistic-concurrency conflict audit (the Iceberg/Delta "
    "snapshot-isolation commit check): two deterministic concurrent "
    "writers reduce to their 8-doc partition touch-sets, conflicts = "
    "partitions touched by both, and the "
    "second committer must retry iff any exist. Row-level edits never "
    "join — validation cost is O(partitions), the point of partition-"
    "level conflict detection at 100 TB.",
)
def q_occ_conflict_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _inc2.occ_conflict_audit(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


# --- R207: matrix profile over the daily revenue series -------------------------
#
# Keogh's matrix profile (Yeh et al. 2016, ICDM) — the modern
# time-series primitive: for every length-7 window of the
# zero-densified daily order-revenue series, the distance to its
# nearest non-trivial neighbor window. Peaks are DISCORDS (anomalous
# weeks: nothing else looks like them), valleys are MOTIFS (repeated
# weekly patterns). Done EXACTLY in integers: daily revenue in whole
# dollars (bigint), raw squared euclidean distance between window
# vectors (no z-normalization — the z-normed variant needs float
# means; the raw-distance profile is the published MASS-free exact
# form), trivial matches excluded by |i-j| >= m/2. Scale: the pair fan
# is CALENDAR-bounded (days², never rows²) — the orders table
# aggregates to the bounded day dimension first with map-side partial
# agg; windows/rankings run on that ~2.4k-row frame. At SF where daily
# dollars exceed ~1e9, rescale to kilodollars to keep diff² sums in
# bigint.

_DAY_US = 86400000000
_MP_SQ = " + ".join(
    f"(a.v{k} - b.v{k}) * (a.v{k} - b.v{k})" for k in range(7)
)


@register(
    "matrix_profile_daily",
    f"""
WITH mp_daily AS (
  SELECT date_diff('microsecond', TIMESTAMP '1970-01-01', o_orderdate)
           // {_DAY_US} AS day,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1),
mp_cal AS (
  SELECT unnest(range(min(day), max(day) + 1)) AS day FROM mp_daily),
mp_s AS (
  SELECT c.day, coalesce(d.v, 0) AS v
  FROM mp_cal c LEFT JOIN mp_daily d ON d.day = c.day),
mp_w AS (
  SELECT day,
         v AS v0,
         lead(v, 1) OVER (ORDER BY day) AS v1,
         lead(v, 2) OVER (ORDER BY day) AS v2,
         lead(v, 3) OVER (ORDER BY day) AS v3,
         lead(v, 4) OVER (ORDER BY day) AS v4,
         lead(v, 5) OVER (ORDER BY day) AS v5,
         lead(v, 6) OVER (ORDER BY day) AS v6
  FROM mp_s),
mp_win AS (SELECT * FROM mp_w WHERE v6 IS NOT NULL),
mp_pairs AS (
  SELECT a.day AS di, b.day AS dj, {_MP_SQ} AS dist
  FROM mp_win a JOIN mp_win b ON abs(a.day - b.day) >= 4),
mp_prof AS (
  SELECT di AS day, min(dist) AS pdist FROM mp_pairs GROUP BY 1),
mp_nn AS (
  SELECT p.day, p.pdist, min(q.dj) AS nn_day
  FROM mp_prof p JOIN mp_pairs q
    ON q.di = p.day AND q.dist = p.pdist
  GROUP BY 1, 2),
mp_rank AS (
  SELECT 'discord' AS kind,
         row_number() OVER (ORDER BY pdist DESC, day) AS rnk,
         day, nn_day, pdist
  FROM mp_nn
  UNION ALL
  SELECT 'motif',
         row_number() OVER (ORDER BY pdist ASC, day),
         day, nn_day, pdist
  FROM mp_nn)
SELECT kind, CAST(rnk AS BIGINT) AS rank, CAST(day AS BIGINT) AS day,
       CAST(nn_day AS BIGINT) AS nn_day, CAST(pdist AS BIGINT) AS dist
FROM mp_rank WHERE rnk <= 5
""",
    doc="Exact integer matrix profile (Yeh 2016) over the zero-densified "
    "daily order-revenue series, window m=7, trivial-match exclusion "
    "|i-j| >= m/2: top-5 discords (anomalous weeks) and top-5 motifs "
    "(most-repeated weekly patterns) with their nearest-neighbor day "
    "and raw squared distance in whole dollars. Pair fan is "
    "calendar-bounded (days^2, never rows^2); the fact table reduces "
    "to the day dimension with map-side partial agg first.",
)
def q_matrix_profile_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" o_orderdate) DIV {_DAY_US} AS day",
            "CAST(floor(o_totalprice) AS BIGINT) AS dollars",
        )
        .groupBy("day")
        .agg(F.expr("CAST(sum(dollars) AS BIGINT)").alias("v"))
        .localCheckpoint(eager=False)
    )
    cal = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).selectExpr("explode(sequence(d0, d1)) AS day")
    s = cal.join(daily, "day", "left").selectExpr(
        "day", "coalesce(v, CAST(0 AS BIGINT)) AS v"
    )
    # windows + rankings live on the bounded calendar dimension (~2.4k
    # rows) — the single-partition window is dimension-sized by design.
    lead_cols = ["day", "v AS v0"] + [
        f"lead(v, {k}) OVER (ORDER BY day) AS v{k}" for k in range(1, 7)
    ]
    win = (
        s.selectExpr(*lead_cols)
        .where("v6 IS NOT NULL")
        .localCheckpoint(eager=False)
    )
    a = win.selectExpr(
        "day AS di", *[f"v{k} AS av{k}" for k in range(7)]
    )
    b = win.selectExpr(
        "day AS dj", *[f"v{k} AS bv{k}" for k in range(7)]
    )
    sq = " + ".join(
        f"(av{k} - bv{k}) * (av{k} - bv{k})" for k in range(7)
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where("abs(di - dj) >= 4")
        .selectExpr("di", "dj", f"{sq} AS dist")
        .localCheckpoint(eager=False)
    )
    prof = pairs.groupBy("di").agg(F.min("dist").alias("pdist"))
    nn = (
        prof.join(
            pairs,
            (prof["di"] == pairs["di"]) & (prof["pdist"] == pairs["dist"]),
        )
        .groupBy(prof["di"].alias("day"), "pdist")
        .agg(F.min("dj").alias("nn_day"))
    )
    ranked = nn.selectExpr(
        "'discord' AS kind",
        "row_number() OVER (ORDER BY pdist DESC, day) AS rnk",
        "day", "nn_day", "pdist",
    ).unionByName(
        nn.selectExpr(
            "'motif' AS kind",
            "row_number() OVER (ORDER BY pdist ASC, day) AS rnk",
            "day", "nn_day", "pdist",
        )
    )
    return ranked.where("rnk <= 5").selectExpr(
        "kind", "CAST(rnk AS BIGINT) AS rank", "CAST(day AS BIGINT) AS day",
        "CAST(nn_day AS BIGINT) AS nn_day", "CAST(pdist AS BIGINT) AS dist",
    )


# --- R208: Mann-Kendall trend test + Theil-Sen slope ----------------------------
#
# The nonparametric monotone-trend standard (Mann 1945, Kendall 1975;
# Sen 1968) over the same zero-densified daily revenue series: S =
# SUM over day pairs i<j of sign(v_j - v_i); tie-corrected variance
# 18*Var = n(n-1)(2n+5) - SUM_t t(t-1)(2t+5); the alpha=0.05 decision
# cross-multiplied with the continuity correction (|S|-1)^2:
#   reject <=> 180000*(|S|-1)^2 > 38416 * var18.
# Theil-Sen slope = exact weighted median (crossing rule) of the
# per-pair slopes floor(1000*(v_j-v_i)/(d_j-d_i)) — the float divide
# is deterministic cross-engine (integer-valued rationals divide
# exactly in IEEE; non-integers sit >= 1/2400 from the floor
# boundary). Pair fan is calendar-bounded (days^2).


@register(
    "trend_mk",
    f"""
WITH mk_daily AS (
  SELECT date_diff('microsecond', TIMESTAMP '1970-01-01', o_orderdate)
           // {_DAY_US} AS day,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1),
mk_cal AS (
  SELECT unnest(range(min(day), max(day) + 1)) AS day FROM mk_daily),
mk_s AS (
  SELECT c.day, coalesce(d.v, 0) AS v
  FROM mk_cal c LEFT JOIN mk_daily d ON d.day = c.day),
mk_pairs AS (
  SELECT CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END
           AS sgn,
         CAST(floor(1000e0 * (b.v - a.v) / (b.day - a.day)) AS BIGINT)
           AS slope_milli
  FROM mk_s a JOIN mk_s b ON b.day > a.day),
mk_stat AS (
  SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM mk_pairs),
mk_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM mk_s),
mk_ties AS (
  SELECT coalesce(CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0)
           AS tsum
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM mk_s GROUP BY v)
  WHERE t > 1),
mk_h AS (
  SELECT slope_milli, CAST(count(*) AS BIGINT) AS cnt
  FROM mk_pairs GROUP BY 1),
mk_c AS (
  SELECT slope_milli,
         sum(cnt) OVER (ORDER BY slope_milli
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER () AS tot
  FROM mk_h),
mk_med AS (
  SELECT min(slope_milli) AS sen_slope_milli FROM mk_c
  WHERE 2 * cum >= tot)
SELECT n.n AS n_days, st.s_stat,
       n.n * (n.n - 1) * (2 * n.n + 5) - t.tsum AS var18,
       m.sen_slope_milli,
       CAST(180000 * greatest(abs(st.s_stat) - 1, 0)
              * greatest(abs(st.s_stat) - 1, 0)
            > 38416 * (n.n * (n.n - 1) * (2 * n.n + 5) - t.tsum)
          AS BIGINT) AS reject05,
       CASE
         WHEN 180000 * greatest(abs(st.s_stat) - 1, 0)
                * greatest(abs(st.s_stat) - 1, 0)
              <= 38416 * (n.n * (n.n - 1) * (2 * n.n + 5) - t.tsum)
           THEN 'no-trend'
         WHEN st.s_stat > 0 THEN 'increasing' ELSE 'decreasing'
       END AS verdict
FROM mk_stat st, mk_n n, mk_ties t, mk_med m
""",
    doc="Mann-Kendall monotone-trend test with tie-corrected variance "
    "and continuity correction, alpha=0.05 decision fully "
    "cross-multiplied (no float Z), plus the exact Theil-Sen median "
    "slope (milli-dollars/day) via the weighted-median crossing rule "
    "over the per-pair slope histogram. Pair fan is calendar-bounded; "
    "the fact table reduces to the day dimension first.",
)
def q_trend_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" o_orderdate) DIV {_DAY_US} AS day",
            "CAST(floor(o_totalprice) AS BIGINT) AS dollars",
        )
        .groupBy("day")
        .agg(F.expr("CAST(sum(dollars) AS BIGINT)").alias("v"))
        .localCheckpoint(eager=False)
    )
    cal = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).selectExpr("explode(sequence(d0, d1)) AS day")
    s = (
        cal.join(daily, "day", "left")
        .selectExpr("day", "coalesce(v, CAST(0 AS BIGINT)) AS v")
        .localCheckpoint(eager=False)
    )
    a = s.selectExpr("day AS da", "v AS va")
    b = s.selectExpr("day AS db", "v AS vb")
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where("db > da")
        .selectExpr(
            "CASE WHEN vb > va THEN 1 WHEN vb < va THEN -1 ELSE 0 END"
            " AS sgn",
            "CAST(floor(1000e0 * (vb - va) / (db - da)) AS BIGINT)"
            " AS slope_milli",
        )
        .localCheckpoint(eager=False)
    )
    stat = pairs.agg(F.expr("CAST(sum(sgn) AS BIGINT) AS s_stat"))
    n = s.agg(F.expr("CAST(count(*) AS BIGINT) AS n"))
    ties = (
        s.groupBy("v")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS t"))
        .where("t > 1")
        .agg(
            F.expr(
                "coalesce(CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT),"
                " 0) AS tsum"
            )
        )
    )
    med = (
        pairs.groupBy("slope_milli")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS cnt"))
        .selectExpr(
            "slope_milli",
            "sum(cnt) OVER (ORDER BY slope_milli ROWS BETWEEN UNBOUNDED"
            " PRECEDING AND CURRENT ROW) AS cum",
            "sum(cnt) OVER () AS tot",
        )
        .where("2 * cum >= tot")
        .agg(F.expr("min(slope_milli) AS sen_slope_milli"))
    )
    return (
        stat.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(med))
        .selectExpr(
            "n AS n_days", "s_stat",
            "n * (n - 1) * (2 * n + 5) - tsum AS var18",
            "sen_slope_milli",
            "CAST(180000 * greatest(abs(s_stat) - 1, 0)"
            " * greatest(abs(s_stat) - 1, 0)"
            " > 38416 * (n * (n - 1) * (2 * n + 5) - tsum) AS BIGINT)"
            " AS reject05",
            "CASE WHEN 180000 * greatest(abs(s_stat) - 1, 0)"
            " * greatest(abs(s_stat) - 1, 0)"
            " <= 38416 * (n * (n - 1) * (2 * n + 5) - tsum)"
            " THEN 'no-trend' WHEN s_stat > 0 THEN 'increasing'"
            " ELSE 'decreasing' END AS verdict",
        )
    )


# --- R209: Kaplan-Meier survival curve -------------------------------------------
#
# The product-limit estimator (Kaplan & Meier 1958) on the classic
# product-analytics survival question: time from a user's FIRST view
# to their first subsequent purchase, right-censored at a 120-hour
# horizon (and by the end of the observation window, whichever comes
# first) — the mixed event/censor structure KM exists for. Per event
# hour: exact at-risk and event counts (bigints); S(t) emitted as
# floor(1e6 * prod (n_i-d_i)/n_i) via the deterministic ROWS-ordered
# exp-sum-ln fold (both engines fold identical doubles in identical
# order; the 1e-6 grid sits ~1e8 x above the accumulated ULP error),
# plus the integer-exact Nelson-Aalen cumulative hazard floor(1e6*d/n)
# summed as bigints. Scale: per-user firsts are one user-keyed
# map-side-partial agg; the KM table lives on the bounded <=121-row
# hour dimension.

_HOUR_US = 3600000000


@register(
    "kaplan_meier",
    f"""
WITH km_fv AS (
  SELECT user_id, min(ts) AS fv
  FROM events WHERE event_type = 'view' GROUP BY 1),
km_end AS (SELECT max(ts) AS tend FROM events),
km_fp AS (
  SELECT e.user_id, min(e.ts) AS fp
  FROM events e JOIN km_fv v ON v.user_id = e.user_id AND e.ts > v.fv
  WHERE e.event_type = 'purchase' GROUP BY 1),
km_obs AS (
  SELECT v.user_id,
         date_diff('microsecond', v.fv, p.fp) // {3600000000} AS raw_t,
         date_diff('microsecond', v.fv, x.tend) // {3600000000} AS span
  FROM km_fv v CROSS JOIN km_end x
  LEFT JOIN km_fp p ON p.user_id = v.user_id),
km_tc AS (
  SELECT CASE WHEN raw_t IS NOT NULL AND raw_t <= 120 AND raw_t <= span
              THEN raw_t ELSE least(120, span) END AS t,
         CASE WHEN raw_t IS NOT NULL AND raw_t <= 120 AND raw_t <= span
              THEN 1 ELSE 0 END AS ev
  FROM km_obs),
km_h AS (
  SELECT t, CAST(sum(ev) AS BIGINT) AS d,
         CAST(sum(1 - ev) AS BIGINT) AS c
  FROM km_tc GROUP BY 1),
km_r AS (
  SELECT t, d, c,
         sum(d + c) OVER (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - d - c AS removed,
         sum(d + c) OVER () AS total
  FROM km_h)
SELECT CAST(t AS BIGINT) AS t,
       CAST(total - removed AS BIGINT) AS n_risk,
       d AS d_events, c AS c_censored,
       CAST(floor(1e6 * exp(sum(ln(
           CAST(total - removed - d AS DOUBLE) / (total - removed)))
         OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW))) AS BIGINT) AS s_micro,
       CAST(sum((1000000 * d) // (total - removed))
         OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW) AS BIGINT) AS na_micro
FROM km_r
""",
    doc="Kaplan-Meier product-limit survival curve for view-to-purchase "
    "conversion, right-censored at a 120-hour horizon and at the end "
    "of the observation window: exact at-risk/event/censor counts per "
    "hour, S(t) as floor(1e6 * product) via the deterministic "
    "ROWS-ordered exp-sum-ln fold, and the integer-exact Nelson-Aalen "
    "cumulative hazard. Per-user firsts are one user-keyed map-side-"
    "partial agg; the KM table lives on the bounded hour dimension.",
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").localCheckpoint(eager=False)
    fv = (
        ev.where("event_type = 'view'")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fv"))
    )
    end = ev.agg(F.max("ts").alias("tend"))
    fp = (
        ev.where("event_type = 'purchase'")
        .join(fv, "user_id")
        .where("ts > fv")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
    )
    obs = (
        fv.crossJoin(F.broadcast(end))
        .join(fp, "user_id", "left")
        .selectExpr(
            f"timestampdiff(MICROSECOND, fv, fp) DIV 3600000000 AS raw_t",
            f"timestampdiff(MICROSECOND, fv, tend) DIV 3600000000 AS span",
        )
    )
    h = (
        obs.selectExpr(
            "CASE WHEN raw_t IS NOT NULL AND raw_t <= 120 AND"
            " raw_t <= span THEN raw_t ELSE least(120, span) END AS t",
            "CASE WHEN raw_t IS NOT NULL AND raw_t <= 120 AND"
            " raw_t <= span THEN 1 ELSE 0 END AS ev",
        )
        .groupBy("t")
        .agg(
            F.expr("CAST(sum(ev) AS BIGINT)").alias("d"),
            F.expr("CAST(sum(1 - ev) AS BIGINT)").alias("c"),
        )
    )
    r = h.selectExpr(
        "t", "d", "c",
        "sum(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW) - d - c AS removed",
        "sum(d + c) OVER () AS total",
    )
    return r.selectExpr(
        "CAST(t AS BIGINT) AS t",
        "CAST(total - removed AS BIGINT) AS n_risk",
        "d AS d_events", "c AS c_censored",
        "CAST(floor(1e6 * exp(sum(ln(CAST(total - removed - d AS DOUBLE)"
        " / (total - removed))) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED"
        " PRECEDING AND CURRENT ROW))) AS BIGINT) AS s_micro",
        "CAST(sum((1000000 * d) DIV (total - removed)) OVER (ORDER BY t"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        " AS na_micro",
    )


# --- R220: snapshot retention / vacuum planner -----------------------------------
#
# The Iceberg/Delta VACUUM decision as a query: given a deterministic
# snapshot->file membership history (files of 16 docs each; file f
# enters the table at snapshot a(f) = f % 7 and is rewritten out after
# a Lehmer-derived lifetime), retain the last 3 snapshots and classify
# every file: RETAINED (referenced by a kept snapshot) vs ORPHAN
# (referenced only by expired ones — reclaimable). Exact set algebra on
# file-interval endpoints: O(files) with map-side partial agg, no
# per-snapshot fan-out. Companion to merkle_diff (what changed) and
# compaction_plan (how to rewrite): this one decides what may be
# DELETED.

_SNAP_LAST, _SNAP_KEEP = 9, 3
_SNAP_LIFE = "(1 + ((((f % 2147483647) * 48271 % 2147483647 + 999983) * 69621 % 2147483647) % 6))"


@register(
    "snapshot_expiry",
    f"""
WITH se_f AS (
  SELECT doc_id // 16 AS f, CAST(sum(n_chars) AS BIGINT) AS bytes
  FROM documents GROUP BY 1),
se_iv AS (
  SELECT f, bytes, f % 7 AS added_at,
         f % 7 + {_SNAP_LIFE} AS removed_at
  FROM se_f),
se_cls AS (
  SELECT added_at,
         CASE WHEN removed_at > {_SNAP_LAST - _SNAP_KEEP}
              THEN 'retained' ELSE 'orphan' END AS status,
         bytes
  FROM se_iv
  WHERE added_at <= {_SNAP_LAST})
SELECT CAST(added_at AS BIGINT) AS added_at, status,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(bytes) AS BIGINT) AS bytes
FROM se_cls GROUP BY 1, 2
""",
    doc="Snapshot retention / vacuum planner (the Iceberg expire-"
    "snapshots decision): deterministic file intervals (added at f%7, "
    "Lehmer lifetime), retain the last 3 of 10 snapshots, classify "
    "every file retained-vs-orphan with reclaimable bytes, grouped by "
    "the snapshot that introduced it. A file is retained iff its "
    "removal strictly follows the oldest kept snapshot. Exact interval "
    "algebra, O(files), map-side partial agg.",
)
def q_snapshot_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    f = (
        docs.selectExpr("doc_id DIV 16 AS f", "n_chars")
        .groupBy("f")
        .agg(F.expr("CAST(sum(n_chars) AS BIGINT)").alias("bytes"))
    )
    return (
        f.selectExpr(
            "f", "bytes", "f % 7 AS added_at",
            f"f % 7 + {_SNAP_LIFE} AS removed_at",
        )
        .where(f"added_at <= {_SNAP_LAST}")
        .selectExpr(
            "CAST(added_at AS BIGINT) AS added_at",
            f"CASE WHEN removed_at > {_SNAP_LAST - _SNAP_KEEP}"
            " THEN 'retained' ELSE 'orphan' END AS status",
            "bytes",
        )
        .groupBy("added_at", "status")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.expr("CAST(sum(bytes) AS BIGINT)").alias("bytes"),
        )
    )


# --- R221: selectivity estimation q-error audit -----------------------------------
#
# The query-optimizer calibration harness (Leis 2015 "How good are
# query optimizers, really?" popularized q-error): an equal-frequency
# 8-bucket histogram on order price (the ntile move — the deterministic
# stand-in for ANALYZE), the textbook uniform-within-bucket range
# estimator, and per-workload-query q-error = max(est,act)/min(est,act)
# — all cross-multiplied integers (per-bucket milli floors). The
# histogram is the 8-row dimension; actuals are one predicate scan with
# map-side partial agg.

_QE_WORKLOAD = [
    (1, 25_000_000, 25_500_000),
    (2, 10_000_000, 15_000_000),
    (3, 5_000_000, 45_000_000),
    (4, 48_000_000, 50_000_000),
    (5, 0, 100_000),
    (6, 0, 50_000_000),
]
_QE_VALUES = ", ".join(f"({q}, {lo}, {hi})" for q, lo, hi in _QE_WORKLOAD)
_QE_STACK = (
    f"stack({len(_QE_WORKLOAD)}, "
    + ", ".join(f"{q}, {lo}, {hi}" for q, lo, hi in _QE_WORKLOAD)
    + ") AS (qid, qlo, qhi)"
)


@register(
    "selectivity_qerror",
    f"""
WITH qe_c AS (
  SELECT CAST(floor(o_totalprice * 100e0) AS BIGINT) AS cents,
         o_orderkey
  FROM orders),
qe_b AS (
  SELECT cents, ntile(8) OVER (ORDER BY cents, o_orderkey) AS b
  FROM qe_c),
qe_h AS (
  SELECT b, CAST(min(cents) AS BIGINT) AS lo,
         CAST(max(cents) AS BIGINT) AS hi,
         CAST(count(*) AS BIGINT) AS rows_b
  FROM qe_b GROUP BY 1),
qe_w(qid, qlo, qhi) AS (VALUES {_QE_VALUES}),
qe_est AS (
  SELECT w.qid, w.qlo, w.qhi,
         CAST(coalesce(sum(
           (1000 * h.rows_b *
            greatest(least(h.hi, w.qhi) - greatest(h.lo, w.qlo) + 1, 0))
           // (h.hi - h.lo + 1)), 0) AS BIGINT) AS est_milli
  FROM qe_w w LEFT JOIN qe_h h
    ON h.hi >= w.qlo AND h.lo <= w.qhi
  GROUP BY 1, 2, 3),
qe_act AS (
  SELECT w.qid, CAST(count(c.cents) AS BIGINT) AS act_rows
  FROM qe_w w LEFT JOIN qe_c c
    ON c.cents >= w.qlo AND c.cents <= w.qhi
  GROUP BY 1)
SELECT e.qid, CAST(e.qlo AS BIGINT) AS qlo, CAST(e.qhi AS BIGINT) AS qhi,
       a.act_rows, e.est_milli,
       CAST((1000 * greatest(e.est_milli, 1000 * a.act_rows))
            // greatest(least(e.est_milli, 1000 * a.act_rows), 1)
         AS BIGINT) AS qerr_milli
FROM qe_est e JOIN qe_act a ON a.qid = e.qid
""",
    doc="Selectivity-estimation q-error audit (Leis 2015): equal-"
    "frequency 8-bucket price histogram (deterministic ntile ANALYZE "
    "stand-in), uniform-within-bucket range estimates vs exact counts "
    "for a 6-query range workload, q-error = max/min cross-multiplied "
    "in milli. Includes an empty range (estimator must return 0) and "
    "the full range (must be exact). Histogram is an 8-row dimension; "
    "actuals are one predicate scan with map-side partial agg.",
)
def q_selectivity_qerror(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "CAST(floor(o_totalprice * 100e0) AS BIGINT) AS cents",
        "o_orderkey",
    ).localCheckpoint(eager=False)
    h = (
        o.selectExpr(
            "cents",
            "ntile(8) OVER (ORDER BY cents, o_orderkey) AS b",
        )
        .groupBy("b")
        .agg(
            F.expr("CAST(min(cents) AS BIGINT)").alias("lo"),
            F.expr("CAST(max(cents) AS BIGINT)").alias("hi"),
            F.expr("CAST(count(*) AS BIGINT)").alias("rows_b"),
        )
    )
    w = o.sparkSession.range(1).selectExpr(_QE_STACK)
    est = (
        w.join(
            F.broadcast(h),
            (h["hi"] >= w["qlo"]) & (h["lo"] <= w["qhi"]),
            "left",
        )
        .groupBy("qid", "qlo", "qhi")
        .agg(
            F.expr(
                "CAST(coalesce(sum((1000 * rows_b *"
                " greatest(least(hi, qhi) - greatest(lo, qlo) + 1, 0))"
                " DIV (hi - lo + 1)), 0) AS BIGINT)"
            ).alias("est_milli")
        )
    )
    act = (
        F.broadcast(w.select("qid", "qlo", "qhi"))
        .join(
            o,
            (o["cents"] >= w["qlo"]) & (o["cents"] <= w["qhi"]),
            "left",
        )
        .groupBy("qid")
        .agg(F.expr("CAST(count(cents) AS BIGINT)").alias("act_rows"))
    )
    return est.join(act, "qid").selectExpr(
        "qid", "CAST(qlo AS BIGINT) AS qlo", "CAST(qhi AS BIGINT) AS qhi",
        "act_rows", "est_milli",
        "CAST((1000 * greatest(est_milli, 1000 * act_rows))"
        " DIV greatest(least(est_milli, 1000 * act_rows), 1) AS BIGINT)"
        " AS qerr_milli",
    )


# --- R224: per-user contribution bounding (DP-prep audit) -------------------------
#
# The differential-privacy preprocessing step (Wilson et al. 2020,
# "Differentially private SQL with bounded user contribution"): before
# any DP release, each user's row contribution must be clipped to a
# bound C — this audit reports exactly what a C=100 clip costs. Per-user
# event counts reduce user-keyed with map-side partial agg; the
# contribution histogram (value dimension) yields max/p95 via the
# crossing rule; dropped-mass bias is cross-multiplied to milli.

_CLIP_C = 100


@register(
    "contribution_bounding",
    f"""
WITH cb_u AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1),
cb_h AS (SELECT n, CAST(count(*) AS BIGINT) AS cnt FROM cb_u GROUP BY 1),
cb_c AS (
  SELECT n, cnt,
         sum(cnt) OVER (ORDER BY n ROWS BETWEEN UNBOUNDED PRECEDING
           AND CURRENT ROW) AS cum,
         sum(cnt) OVER () AS users
  FROM cb_h),
cb_p AS (
  SELECT min(n) AS p95_contribution FROM cb_c WHERE 20 * cum >= 19 * users)
SELECT CAST(sum(u.n) AS BIGINT) AS total_rows,
       CAST(sum(least(u.n, {_CLIP_C})) AS BIGINT) AS kept_rows,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN u.n > {_CLIP_C} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_users,
       CAST(max(u.n) AS BIGINT) AS max_contribution,
       CAST(max(p.p95_contribution) AS BIGINT) AS p95_contribution,
       CAST((1000 * (sum(u.n) - sum(least(u.n, {_CLIP_C}))))
            // sum(u.n) AS BIGINT) AS dropped_milli
FROM cb_u u CROSS JOIN cb_p p
""",
    doc="Contribution-bounding audit (the DP-SQL clip step, Wilson "
    "2020): per-user event counts clipped at C=100 — total vs kept "
    "rows, clipped-user count, max and exact p95 contribution (value-"
    "histogram crossing rule), and the dropped-mass bias in milli. "
    "User-keyed map-side partial agg; the histogram lives on the "
    "bounded contribution dimension.",
)
def q_contribution_bounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint(eager=False)
    )
    p = (
        u.groupBy("n")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .selectExpr(
            "n",
            "sum(cnt) OVER (ORDER BY n ROWS BETWEEN UNBOUNDED PRECEDING"
            " AND CURRENT ROW) AS cum",
            "sum(cnt) OVER () AS users",
        )
        .where("20 * cum >= 19 * users")
        .agg(F.expr("min(n) AS p95_contribution"))
    )
    return u.crossJoin(F.broadcast(p)).agg(
        F.expr("CAST(sum(n) AS BIGINT) AS total_rows"),
        F.expr(f"CAST(sum(least(n, {_CLIP_C})) AS BIGINT) AS kept_rows"),
        F.expr("CAST(count(*) AS BIGINT) AS n_users"),
        F.expr(
            f"CAST(sum(CASE WHEN n > {_CLIP_C} THEN 1 ELSE 0 END)"
            " AS BIGINT) AS n_clipped_users"
        ),
        F.expr("CAST(max(n) AS BIGINT) AS max_contribution"),
        F.expr("CAST(max(p95_contribution) AS BIGINT) AS p95_contribution"),
        F.expr(
            f"CAST((1000 * (sum(n) - sum(least(n, {_CLIP_C}))))"
            " DIV sum(n) AS BIGINT) AS dropped_milli"
        ),
    )


# --- R225: Markov stationary distribution (integer power iteration) ---------------
#
# The long-run occupancy of the user-journey Markov chain: 4 integer-
# quantized power-iteration steps over the event-transition matrix
# (the pagerank_fixed discipline — micro-unit bigint mass, per-term
# floors, so the k-step result is bit-identical across engines and
# partitionings): pi_{{k+1}}(j) = SUM_i (pi_k(i) * n_ij) DIV t_i.
# Every iteration is emitted so convergence is visible in the result.
# The chain frame is the bounded 5x5 type dimension; floors leak <=
# n_states micro per step (documented, visible in the mass column).

_MK_ITERS = 4


def _markov_ctes() -> str:
    steps = [
        """mk_seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS nxt
  FROM events),
mk_p AS (
  SELECT event_type AS cur, nxt, CAST(count(*) AS BIGINT) AS n
  FROM mk_seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
mk_t AS (SELECT cur, CAST(sum(n) AS BIGINT) AS t FROM mk_p GROUP BY 1),
mk_s AS (SELECT cur AS state FROM mk_t),
mk_ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM mk_s),
mk_it0 AS (
  SELECT state, CAST(1000000 // ns AS BIGINT) AS pi
  FROM mk_s CROSS JOIN mk_ns)"""
    ]
    for k in range(1, _MK_ITERS + 1):
        steps.append(
            f"""mk_it{k} AS (
  SELECT p.nxt AS state,
         CAST(sum((i.pi * p.n) // t.t) AS BIGINT) AS pi
  FROM mk_it{k - 1} i
  JOIN mk_p p ON p.cur = i.state JOIN mk_t t ON t.cur = i.state
  GROUP BY 1)"""
        )
    return ",\n".join(steps)


@register(
    "markov_stationary",
    f"""
WITH {_markov_ctes()}
SELECT * FROM (
  {" UNION ALL ".join(
      f"SELECT {k} AS iteration, state, pi AS pi_micro FROM mk_it{k}"
      for k in range(_MK_ITERS + 1)
  )})
""",
    doc="Stationary distribution of the user-journey Markov chain via 4 "
    "integer-quantized power-iteration steps (the pagerank_fixed "
    "discipline: micro-unit bigint mass, per-term floors — bit-"
    "identical across engines and partitionings); every iteration "
    "emitted so convergence is visible. Transition frame is the "
    "bounded 5x5 type dimension; one user-keyed window to build it.",
)
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    seq = ev.selectExpr(
        "event_type",
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts,"
        " event_id) AS nxt",
    )
    p = (
        seq.where("nxt IS NOT NULL")
        .groupBy(F.col("event_type").alias("cur"), "nxt")
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint(eager=False)
    )
    t = p.groupBy("cur").agg(F.expr("CAST(sum(n) AS BIGINT)").alias("t"))
    pt = p.join(t, "cur").localCheckpoint(eager=False)
    states = t.select(F.col("cur").alias("state"))
    ns = states.agg(F.count("*").cast("bigint").alias("ns"))
    pi = states.crossJoin(F.broadcast(ns)).selectExpr(
        "state", "CAST(1000000 DIV ns AS BIGINT) AS pi"
    )
    outs = [pi.selectExpr("0 AS iteration", "state", "pi AS pi_micro")]
    for k in range(1, _MK_ITERS + 1):
        pi = (
            pi.join(pt, pi["state"] == pt["cur"])
            .selectExpr("nxt AS state", "(pi * n) DIV t AS term")
            .groupBy("state")
            .agg(F.expr("CAST(sum(term) AS BIGINT)").alias("pi"))
        )
        outs.append(
            pi.selectExpr(f"{k} AS iteration", "state", "pi AS pi_micro")
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.selectExpr(
        "CAST(iteration AS BIGINT) AS iteration", "state", "pi_micro"
    )


# --- R227: AMS F2 sketch audit ------------------------------------------------------
#
# The Alon-Matias-Szegedy second-moment sketch (AMS 1996, the Godel-
# prize streaming result): F2 = SUM_k f_k^2 of the l_partkey stream,
# estimated by 16 independent +/-1-hash estimators z_j = SUM_rows
# s_j(key) (md5-seeded signs, one scan, map-side partial agg), combined
# median-of-means (4 groups of 4; lower-middle mean pair averaged) and
# audited against the EXACT F2 from the frequency histogram. All
# bigints: z^2 <= rows^2 stays in range, the estimate/error cross-
# multiply to milli. The sketch costs one 16-column scan vs the exact
# path's key-dimension shuffle — the audit records what that buys.

_AMS_J = 16


def _ams_signs(engine: str) -> list[str]:
    from .functions import md5int_duck, md5int_spark

    md5 = md5int_spark if engine == "spark" else md5int_duck
    cat = (
        "concat('ams{j}_', CAST(l_partkey AS STRING))"
        if engine == "spark"
        else "'ams{j}_' || CAST(l_partkey AS VARCHAR)"
    )
    return [
        f"CAST(sum(CASE WHEN {md5(cat.format(j=j))} % 2 = 0"
        f" THEN 1 ELSE -1 END) AS BIGINT) AS z{j}"
        for j in range(_AMS_J)
    ]


_AMS_MEANS = ", ".join(
    f"(z{4 * g} * z{4 * g} + z{4 * g + 1} * z{4 * g + 1}"
    f" + z{4 * g + 2} * z{4 * g + 2} + z{4 * g + 3} * z{4 * g + 3})"
    f" DIV 4 AS m{g}"
    for g in range(4)
)


@register(
    "f2_sketch_audit",
    f"""
WITH f2_z AS (
  SELECT {', '.join(_ams_signs('duck'))},
         CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem),
f2_m AS (
  SELECT n_rows, {_AMS_MEANS.replace(' DIV ', ' // ')} FROM f2_z),
f2_med AS (
  SELECT n_rows,
         (list_sort([m0, m1, m2, m3])[2]
          + list_sort([m0, m1, m2, m3])[3]) // 2 AS est_f2
  FROM f2_m),
f2_ex AS (
  SELECT CAST(sum(f * f) AS BIGINT) AS exact_f2,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM (SELECT CAST(count(*) AS BIGINT) AS f FROM lineitem
        GROUP BY l_partkey))
SELECT e.exact_f2, m.est_f2, e.n_keys, m.n_rows,
       CAST((1000 * abs(m.est_f2 - e.exact_f2)) // e.exact_f2 AS BIGINT)
         AS err_milli
FROM f2_med m CROSS JOIN f2_ex e
""",
    doc="AMS second-moment sketch audit (Alon-Matias-Szegedy 1996): 16 "
    "md5-seeded +/-1 estimators over the l_partkey stream in ONE "
    "16-column scan (map-side partial agg), median-of-means combine "
    "(4x4, middle pair averaged), vs the exact F2 from the key "
    "histogram — relative error recorded in milli. All-bigint; the "
    "sketch needs no key shuffle, the exact path does.",
)
def q_f2_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    z = li.agg(
        *[F.expr(e) for e in _ams_signs("spark")],
        F.count("*").cast("bigint").alias("n_rows"),
    )
    med = z.selectExpr("n_rows", *_AMS_MEANS.split(", ")).selectExpr(
        "n_rows",
        "(array_sort(array(m0, m1, m2, m3))[1]"
        " + array_sort(array(m0, m1, m2, m3))[2]) DIV 2 AS est_f2",
    )
    ex = (
        li.groupBy("l_partkey")
        .agg(F.count("*").cast("bigint").alias("f"))
        .agg(
            F.expr("CAST(sum(f * f) AS BIGINT) AS exact_f2"),
            F.expr("CAST(count(*) AS BIGINT) AS n_keys"),
        )
    )
    return med.crossJoin(F.broadcast(ex)).selectExpr(
        "exact_f2", "est_f2", "n_keys", "n_rows",
        "CAST((1000 * abs(est_f2 - exact_f2)) DIV exact_f2 AS BIGINT)"
        " AS err_milli",
    )


# --- R229: SPRT sequential A/B monitor ----------------------------------------------
#
# Wald's sequential probability ratio test (1945) — the always-valid
# streaming alternative to ab_test_harness's fixed-horizon z-test:
# per arm, replay the time-ordered purchase stream and accumulate the
# integer log-likelihood ratio for H1: p=0.35 vs H0: p=0.25 on the
# high-value-conversion Bernoulli (increments are the PRECOMPUTED
# literals floor(1e6*ln(.35/.25)) = 336472 and floor(1e6*ln(.65/.75))
# = -143101 — the rrf integer-table discipline), stopping at the Wald
# boundaries +/-ln(19) (alpha = beta = 0.05). Batch form = the exact
# replay of the streaming monitor: the cumsum window is ordered by the
# unique (ts, event_id) stream key within each arm partition — state
# is one bigint per arm in the streaming deployment.

_SPRT_UP = 2944439     # ceil(1e6 * ln(19)) — conservative
_SPRT_DOWN = -2944439


@register(
    "sprt_monitor",
    f"""
WITH sp_obs AS (
  SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
         ts, event_id,
         CASE WHEN value >= 150e0 THEN 1 ELSE 0 END AS x
  FROM events WHERE event_type = 'purchase'),
sp_c AS (
  SELECT arm, ts, event_id, x,
         row_number() OVER (PARTITION BY arm ORDER BY ts, event_id)
           AS rn,
         sum(CASE WHEN x = 1 THEN 336472 ELSE -143101 END)
           OVER (PARTITION BY arm ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS llr
  FROM sp_obs),
sp_x AS (
  SELECT arm, min(rn) AS cross_at_n
  FROM sp_c WHERE llr >= {_SPRT_UP} OR llr <= {_SPRT_DOWN}
  GROUP BY 1),
sp_f AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_obs,
         CAST(sum(x) AS BIGINT) AS successes,
         CAST(max(CASE WHEN rn = n2.mx THEN llr END) AS BIGINT)
           AS llr_final_micro
  FROM sp_c JOIN (SELECT arm AS a2, max(rn) AS mx FROM sp_c GROUP BY 1)
    n2 ON n2.a2 = sp_c.arm
  GROUP BY 1)
SELECT f.arm, f.n_obs, f.successes, f.llr_final_micro,
       CAST(coalesce(x.cross_at_n, -1) AS BIGINT) AS cross_at_n,
       CASE WHEN x.cross_at_n IS NULL THEN 'continue'
            WHEN (SELECT c.llr FROM sp_c c
                  WHERE c.arm = f.arm AND c.rn = x.cross_at_n)
                 >= {_SPRT_UP} THEN 'accept_h1'
            ELSE 'accept_h0' END AS decision
FROM sp_f f LEFT JOIN sp_x x ON x.arm = f.arm
""",
    doc="Wald SPRT sequential A/B monitor — the always-valid streaming "
    "alternative to the fixed-horizon z-test: per md5-parity arm, the "
    "time-ordered purchase stream accumulates the integer log-"
    "likelihood ratio for p=0.35 vs p=0.25 high-value conversion "
    "(precomputed literal increments, the rrf table discipline), "
    "stopping at the +/-ln(19) Wald boundaries; first-crossing index "
    "and decision per arm. Batch = exact replay of the streaming "
    "monitor whose state is one bigint per arm.",
)
def q_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import md5int_spark

    ev = _t(spark, sf_dir, "events").where("event_type = 'purchase'")
    obs = ev.selectExpr(
        f"CASE WHEN {md5int_spark('CAST(user_id AS STRING)')} % 2 = 0"
        " THEN 'A' ELSE 'B' END AS arm",
        "ts", "event_id",
        "CASE WHEN value >= 150e0 THEN 1 ELSE 0 END AS x",
    )
    c = obs.selectExpr(
        "arm", "x",
        "row_number() OVER (PARTITION BY arm ORDER BY ts, event_id)"
        " AS rn",
        "sum(CASE WHEN x = 1 THEN 336472 ELSE -143101 END)"
        " OVER (PARTITION BY arm ORDER BY ts, event_id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr",
    ).localCheckpoint(eager=False)
    xx = (
        c.where(f"llr >= {_SPRT_UP} OR llr <= {_SPRT_DOWN}")
        .groupBy("arm")
        .agg(F.expr("min(rn) AS cross_at_n"))
    )
    mx = c.groupBy("arm").agg(F.expr("max(rn) AS mx"))
    f = (
        c.join(mx, "arm")
        .groupBy("arm")
        .agg(
            F.count("*").cast("bigint").alias("n_obs"),
            F.expr("CAST(sum(x) AS BIGINT)").alias("successes"),
            F.expr(
                "CAST(max(CASE WHEN rn = mx THEN llr END) AS BIGINT)"
            ).alias("llr_final_micro"),
        )
    )
    cross_val = c.selectExpr("arm AS a3", "rn AS rn3", "llr AS llr3")
    return (
        f.join(xx, "arm", "left")
        .join(
            cross_val,
            (F.col("arm") == F.col("a3"))
            & (F.col("cross_at_n") == F.col("rn3")),
            "left",
        )
        .selectExpr(
            "arm", "n_obs", "successes", "llr_final_micro",
            "CAST(coalesce(cross_at_n, -1) AS BIGINT) AS cross_at_n",
            f"CASE WHEN cross_at_n IS NULL THEN 'continue'"
            f" WHEN llr3 >= {_SPRT_UP} THEN 'accept_h1'"
            " ELSE 'accept_h0' END AS decision",
        )
    )


# --- R234: classical seasonal decomposition of daily revenue -----------------------
#
# The textbook additive decomposition (the moving-average classical
# method STL refines), exact in integers on the bounded calendar
# dimension: zero-densified daily order revenue (the matrix_profile
# frame), trend = centered 7-day moving SUM (full windows only, so
# detrended = 7*v - s7 stays a pure bigint — the trend division by 7
# never happens), per-weekday seasonal index = sign-split milli mean of
# the detrended series (the langid_agreement negative-DIV discipline:
# sign + floored abs — engine DIV semantics on negatives never enter),
# plus each weekday's share of total revenue. Weekday = day % 7 (epoch
# day 0 was a Thursday; the label is the portable residue, not an
# engine dayofweek). Windows only on the ~2.4k-row calendar dimension.


@register(
    "seasonal_decomposition",
    f"""
WITH sd_daily AS (
  SELECT date_diff('microsecond', TIMESTAMP '1970-01-01', o_orderdate)
           // {_DAY_US} AS day,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1),
sd_cal AS (
  SELECT unnest(range(min(day), max(day) + 1)) AS day FROM sd_daily),
sd_s AS (
  SELECT c.day, coalesce(d.v, 0) AS v
  FROM sd_cal c LEFT JOIN sd_daily d ON d.day = c.day),
sd_w AS (
  SELECT day, v,
         sum(v) OVER (ORDER BY day
           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
         count(*) OVER (ORDER BY day
           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
  FROM sd_s),
sd_d AS (
  SELECT day % 7 AS dow, v, 7 * v - s7 AS detr7
  FROM sd_w WHERE c7 = 7),
sd_g AS (
  SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(v) AS BIGINT) AS revenue,
         CAST(sum(detr7) AS BIGINT) AS sum_detr7
  FROM sd_d GROUP BY 1),
sd_t AS (SELECT CAST(sum(revenue) AS BIGINT) AS tot FROM sd_g)
SELECT CAST(g.dow AS BIGINT) AS dow, g.n_days, g.revenue,
       CAST((1000 * g.revenue) // t.tot AS BIGINT) AS share_milli,
       CAST(CASE WHEN g.sum_detr7 >= 0 THEN 1 ELSE -1 END AS BIGINT)
         AS seas_sign,
       CAST((1000 * abs(g.sum_detr7)) // (7 * g.n_days) AS BIGINT)
         AS seas_abs_milli
FROM sd_g g CROSS JOIN sd_t t
""",
    doc="Classical additive seasonal decomposition of zero-densified "
    "daily order revenue: centered 7-day moving-sum trend (full "
    "windows only, so the detrended series 7*v - s7 is a pure "
    "bigint), per-weekday seasonal index as sign + floored abs milli "
    "mean (negative-DIV discipline), and each weekday's revenue "
    "share. Weekday = epoch-day % 7 — the portable residue, no "
    "engine dayofweek. All windows on the bounded calendar "
    "dimension.",
)
def q_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" o_orderdate) DIV {_DAY_US} AS day",
            "CAST(floor(o_totalprice) AS BIGINT) AS dollars",
        )
        .groupBy("day")
        .agg(F.expr("CAST(sum(dollars) AS BIGINT)").alias("v"))
        .localCheckpoint(eager=False)
    )
    cal = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).selectExpr("explode(sequence(d0, d1)) AS day")
    s = cal.join(daily, "day", "left").selectExpr(
        "day", "coalesce(v, CAST(0 AS BIGINT)) AS v"
    )
    w = s.selectExpr(
        "day", "v",
        "sum(v) OVER (ORDER BY day"
        " ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7",
        "count(*) OVER (ORDER BY day"
        " ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7",
    )
    g = (
        w.where("c7 = 7")
        .selectExpr("day % 7 AS dow", "v", "7 * v - s7 AS detr7")
        .groupBy("dow")
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_days"),
            F.expr("CAST(sum(v) AS BIGINT) AS revenue"),
            F.expr("CAST(sum(detr7) AS BIGINT) AS sum_detr7"),
        )
    )
    t = g.agg(F.expr("CAST(sum(revenue) AS BIGINT) AS tot"))
    return g.crossJoin(F.broadcast(t)).selectExpr(
        "CAST(dow AS BIGINT) AS dow", "n_days", "revenue",
        "CAST((1000 * revenue) DIV tot AS BIGINT) AS share_milli",
        "CAST(CASE WHEN sum_detr7 >= 0 THEN 1 ELSE -1 END AS BIGINT)"
        " AS seas_sign",
        "CAST((1000 * abs(sum_detr7)) DIV (7 * n_days) AS BIGINT)"
        " AS seas_abs_milli",
    )


# --- R235: functional / inclusion dependency discovery audit -----------------------
#
# The data-profiling primitive behind every schema-discovery tool
# (Metanome / HyFD / Spider families): for a fixed candidate catalog,
# the EXACT violation counts of functional dependencies (X -> Y fails
# on every X group carrying >1 distinct Y) and inclusion dependencies
# (A subset-of B fails on every distinct A value absent from B).
# TPC-H's own constructed dependencies give both polarities real
# positives and real negatives: n_name -> n_regionkey and
# c_name -> c_mktsegment hold (the name columns are unique by
# construction), o_custkey subset-of c_custkey is the enforced FK,
# while o_orderkey subset-of l_orderkey honestly fails (orders whose
# lineitems were never generated) and the segment/priority FDs fail
# wide.
# Each FD is one keyed agg (map-side partial); each IND is a distinct
# plus a broadcast anti-join — both the shapes that survive 10^12 rows.


_FD_CANDS = [
    ("nation", "n_name", "n_regionkey"),
    ("customer", "c_name", "c_mktsegment"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_custkey", "o_orderpriority"),
]
_IND_CANDS = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),
]


def _fd_oracle() -> str:
    parts = []
    for tbl, lhs, rhs in _FD_CANDS:
        parts.append(f"""
SELECT 'fd' AS kind, '{tbl}.{lhs}' AS lhs, '{tbl}.{rhs}' AS rhs,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS BIGINT)
         AS holds
FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS nd FROM {tbl} GROUP BY 1)""")
    for ltbl, lcol, rtbl, rcol in _IND_CANDS:
        parts.append(f"""
SELECT 'ind' AS kind, '{ltbl}.{lcol}' AS lhs, '{rtbl}.{rcol}' AS rhs,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN miss THEN 1 ELSE 0 END) AS BIGINT) AS n_viol,
       CAST(sum(CASE WHEN miss THEN 1 ELSE 0 END) = 0 AS BIGINT) AS holds
FROM (SELECT l.v, r.{rcol} IS NULL AS miss
      FROM (SELECT DISTINCT {lcol} AS v FROM {ltbl}) l
      LEFT JOIN (SELECT DISTINCT {rcol} FROM {rtbl}) r
        ON r.{rcol} = l.v)""")
    return " UNION ALL ".join(parts)


@register(
    "fd_ind_audit",
    _fd_oracle(),
    doc="Dependency-discovery audit (Metanome/HyFD/Spider family) over a "
    "fixed candidate catalog: exact violating-group counts for 4 "
    "functional dependencies (the name-keyed ones hold — n_name and "
    "c_name are unique; the segment/priority ones honestly fail) and exact "
    "missing-value counts for 4 inclusion dependencies (the enforced "
    "FKs hold; o_orderkey subset-of l_orderkey fails on lineitem-less "
    "orders). FDs are one keyed agg each, INDs a distinct + "
    "broadcast anti-join — the 10^12-row shapes.",
)
def q_fd_ind_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for tbl, lhs, rhs in _FD_CANDS:
        g = (
            _t(spark, sf_dir, tbl)
            .groupBy(lhs)
            .agg(F.expr(f"count(DISTINCT {rhs}) AS nd"))
            .agg(
                F.expr("CAST(count(*) AS BIGINT) AS n_keys"),
                F.expr(
                    "CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)"
                    " AS BIGINT) AS n_viol"
                ),
            )
            .selectExpr(
                f"'fd' AS kind", f"'{tbl}.{lhs}' AS lhs",
                f"'{tbl}.{rhs}' AS rhs", "n_keys", "n_viol",
                "CAST(n_viol = 0 AS BIGINT) AS holds",
            )
        )
        out = g if out is None else out.unionByName(g)
    for ltbl, lcol, rtbl, rcol in _IND_CANDS:
        lv = _t(spark, sf_dir, ltbl).selectExpr(f"{lcol} AS v").distinct()
        rv = _t(spark, sf_dir, rtbl).selectExpr(f"{rcol} AS v").distinct()
        miss = lv.join(F.broadcast(rv), "v", "left_anti").agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_viol")
        )
        tot = lv.agg(F.expr("CAST(count(*) AS BIGINT) AS n_keys"))
        g = tot.crossJoin(miss).selectExpr(
            "'ind' AS kind", f"'{ltbl}.{lcol}' AS lhs",
            f"'{rtbl}.{rcol}' AS rhs", "n_keys", "n_viol",
            "CAST(n_viol = 0 AS BIGINT) AS holds",
        )
        out = out.unionByName(g)
    return out


# --- R237: exact Shapley-value channel attribution ---------------------------------
#
# The game-theoretic rung above linear_attribution's positional split
# (Shapley 1953; the standard data-driven attribution model in the
# marketing-science literature, e.g. Zhao et al. 2018): channels are
# the 4 non-purchase event types, a converted user's JOURNEY is the set
# of distinct channels touched strictly before their first purchase,
# and the coalition value v(S) = number of conversions whose journey is
# contained in S. The Shapley value of channel c is
#   phi_c = sum over S not containing c of |S|!(k-1-|S|)!/k! * (v(S u c) - v(S)).
#
# Everything lives on the bounded 2^k subset dimension (k=4 -> 16
# subsets): journeys collapse to bitmask counts (one user-keyed agg),
# v(S) is a subset-sum join (mask & S = mask) of 16 x <=16 rows, the
# factorial weights are CASE literals on bit_count, and phi arrives as
# the exact integer numerator phi_num = 24*phi (k! = 24) plus
# phi_micro = 10^6*phi_num DIV 24. Efficiency (sum phi = v(full) -
# v(empty)) is pinned in tests. Scale: one scan to first-purchase
# timestamps, one user-keyed semi-band join for touches, then nothing
# larger than 2^k ever shuffles.

_SHAP_CHAN = (
    "CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2"
    " WHEN 'signup' THEN 4 ELSE 8 END"
)
_SHAP_W = "CASE bit_count(s0) WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END"
_SHAP_NAME = (
    "CASE b WHEN 1 THEN 'click' WHEN 2 THEN 'error'"
    " WHEN 4 THEN 'signup' ELSE 'view' END"
)


@register(
    "shapley_attribution",
    f"""
WITH sh_conv AS (
  SELECT user_id, min(ts) AS conv_ts
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
sh_touch AS (
  SELECT DISTINCT e.user_id, {_SHAP_CHAN} AS b
  FROM events e JOIN sh_conv c ON c.user_id = e.user_id
  WHERE e.ts < c.conv_ts AND e.event_type <> 'purchase'),
sh_mask AS (
  SELECT c.user_id, CAST(coalesce(sum(t.b), 0) AS BIGINT) AS mask
  FROM sh_conv c LEFT JOIN sh_touch t ON t.user_id = c.user_id
  GROUP BY 1),
sh_cm AS (
  SELECT mask, CAST(count(*) AS BIGINT) AS conv FROM sh_mask GROUP BY 1),
sh_v AS (
  SELECT s.s, CAST(coalesce(sum(m.conv), 0) AS BIGINT) AS v
  FROM range(16) s(s) LEFT JOIN sh_cm m ON (m.mask & s.s) = m.mask
  GROUP BY 1),
sh_ch AS (
  SELECT CASE i WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS b
  FROM range(4) t(i)),
sh_phi AS (
  SELECT c.b,
         CAST(sum(({_SHAP_W}) * (v1.v - v0.v)) AS BIGINT) AS phi_num
  FROM sh_ch c
  JOIN (SELECT s AS s0, v FROM sh_v) v0 ON (v0.s0 & c.b) = 0
  JOIN (SELECT s AS s1, v FROM sh_v) v1 ON v1.s1 = v0.s0 + c.b
  GROUP BY 1),
sh_nt AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n_touched FROM sh_touch GROUP BY 1)
SELECT {_SHAP_NAME.replace('CASE b', 'CASE p.b')} AS channel,
       CAST(coalesce(n.n_touched, 0) AS BIGINT) AS n_touched,
       p.phi_num,
       (1000000 * p.phi_num) // 24 AS phi_micro
FROM sh_phi p LEFT JOIN sh_nt n ON n.b = p.b
""",
    doc="Exact Shapley-value channel attribution (Shapley 1953, the "
    "data-driven attribution standard): journeys = distinct channels "
    "touched strictly before first purchase, coalition value v(S) = "
    "conversions with journey within S, phi as the exact integer "
    "numerator (k!=24 denominator) from CASE-literal factorial weights "
    "on the 2^4 subset dimension. One user-keyed agg + one user-keyed "
    "join; nothing larger than 16 rows shuffles after that. Efficiency "
    "sum(phi)=v(full)-v(empty) is test-pinned.",
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    conv = (
        ev.where("event_type = 'purchase'")
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    touch = (
        ev.join(conv, "user_id")
        .where("ts < conv_ts AND event_type <> 'purchase'")
        .selectExpr("user_id", f"{_SHAP_CHAN} AS b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    mask = (
        conv.join(touch, "user_id", "left")
        .groupBy("user_id")
        .agg(F.expr("CAST(coalesce(sum(b), 0) AS BIGINT)").alias("mask"))
    )
    cm = mask.groupBy("mask").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("conv")
    )
    subs = ev.sparkSession.range(16).selectExpr("id AS s")
    v = (
        subs.join(F.broadcast(cm), F.expr("(mask & s) = mask"), "left")
        .groupBy("s")
        .agg(F.expr("CAST(coalesce(sum(conv), 0) AS BIGINT)").alias("v"))
        .localCheckpoint(eager=False)
    )
    chan = ev.sparkSession.range(4).selectExpr(
        "CASE id WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS b"
    )
    v0 = v.selectExpr("s AS s0", "v AS v0")
    v1 = v.selectExpr("s AS s1", "v AS v1")
    phi = (
        chan.join(F.broadcast(v0), F.expr("(s0 & b) = 0"))
        .join(F.broadcast(v1), F.expr("s1 = s0 + b"))
        .groupBy("b")
        .agg(
            F.expr(
                f"CAST(sum(({_SHAP_W}) * (v1 - v0)) AS BIGINT)"
            ).alias("phi_num")
        )
    )
    nt = touch.groupBy("b").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_touched")
    )
    return phi.join(F.broadcast(nt), "b", "left").selectExpr(
        f"{_SHAP_NAME} AS channel",
        "CAST(coalesce(n_touched, 0) AS BIGINT) AS n_touched",
        "phi_num",
        "(1000000 * phi_num) DIV 24 AS phi_micro",
    )


# --- R240: split-conformal prediction intervals -------------------------------------
#
# Conformal prediction (Vovk et al. 2005; Angelopoulos & Bates 2023
# tutorial form), the distribution-free interval calibration every
# production forecaster should ship: orders split 3 ways by key residue
# (train / calibration / test), the "model" is the per-priority train
# mean (integer cents), nonconformity = |cents - pred|, and the
# interval half-width q is the EXACT ceil((n_cal+1)(1-alpha))-th order
# statistic of the calibration scores (alpha = 0.2) — computed by the
# histogram crossing rule (groupBy(score) with map-side partials, one
# per-priority cumsum window on the score-value dimension, min value
# whose cumulative count crosses k), never a per-row global sort.
# Test-half coverage is then counted exactly; the conformal guarantee
# (coverage >= 1 - alpha in expectation) shows up honestly per group.

_DC_DAY = "86400000000"
_DC_DAY_SPARK = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
    " o_orderdate) DIV " + _DC_DAY
)
_DC_DAY_DUCK = (
    "date_diff('microsecond', TIMESTAMP '1970-01-01', o_orderdate) // "
    + _DC_DAY
)
_CF_CENTS = "CAST(floor(o_totalprice * 100e0) AS BIGINT)"


@register(
    "conformal_interval",
    f"""
WITH cf_o AS (
  SELECT o_orderpriority AS prio, o_orderkey % 3 AS split,
         {_CF_CENTS} AS cents
  FROM orders),
cf_pred AS (
  SELECT prio, CAST(sum(cents) // count(*) AS BIGINT) AS pred_cents
  FROM cf_o WHERE split = 0 GROUP BY 1),
cf_cal AS (
  SELECT o.prio, abs(o.cents - p.pred_cents) AS s
  FROM cf_o o JOIN cf_pred p ON p.prio = o.prio WHERE o.split = 1),
cf_h AS (
  SELECT prio, s, CAST(count(*) AS BIGINT) AS c FROM cf_cal GROUP BY 1, 2),
cf_cum AS (
  SELECT prio, s, sum(c) OVER (PARTITION BY prio ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY prio) AS n_cal
  FROM cf_h),
cf_q AS (
  SELECT prio, CAST(min(n_cal) AS BIGINT) AS n_cal,
         CAST((4 * (min(n_cal) + 1) + 4) // 5 AS BIGINT) AS k,
         CAST(min(CASE WHEN cum >= (4 * (n_cal + 1) + 4) // 5
                       THEN s END) AS BIGINT) AS q_cents
  FROM cf_cum GROUP BY 1),
cf_test AS (
  SELECT o.prio, CAST(count(*) AS BIGINT) AS n_test,
         CAST(sum(CAST(abs(o.cents - p.pred_cents) <= q.q_cents AS BIGINT))
              AS BIGINT) AS n_covered
  FROM cf_o o
  JOIN cf_pred p ON p.prio = o.prio
  JOIN cf_q q ON q.prio = o.prio
  WHERE o.split = 2 GROUP BY 1)
SELECT q.prio AS priority, p.pred_cents, q.n_cal, q.k, q.q_cents,
       t.n_test, t.n_covered,
       (1000 * t.n_covered) // t.n_test AS coverage_milli
FROM cf_q q JOIN cf_pred p ON p.prio = q.prio
JOIN cf_test t ON t.prio = q.prio
""",
    doc="Split-conformal prediction intervals (Vovk 2005) per order "
    "priority: key-residue train/cal/test split, per-priority train-"
    "mean model in integer cents, interval half-width = the exact "
    "ceil((n+1)*0.8)-th calibration order statistic via the histogram "
    "crossing rule (value-dimension cumsum, never a per-row global "
    "sort), exact test coverage counted beside the 800-milli target. "
    "The distribution-free guarantee, audited distributed.",
)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS prio", "o_orderkey % 3 AS split",
        f"{_CF_CENTS} AS cents",
    )
    pred = (
        o.where("split = 0")
        .groupBy("prio")
        .agg(F.expr("CAST(sum(cents) DIV count(*) AS BIGINT)").alias(
            "pred_cents"))
    )
    cal = (
        o.where("split = 1")
        .join(F.broadcast(pred), "prio")
        .selectExpr("prio", "abs(cents - pred_cents) AS s")
    )
    h = cal.groupBy("prio", "s").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("c")
    )
    wp = Window.partitionBy("prio").orderBy("s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wa = Window.partitionBy("prio")
    cum = h.select(
        "prio", "s",
        F.sum("c").over(wp).alias("cum"),
        F.sum("c").over(wa).alias("n_cal"),
    )
    qf = cum.groupBy("prio").agg(
        F.expr("CAST(min(n_cal) AS BIGINT)").alias("n_cal"),
        F.expr(
            "CAST((4 * (min(n_cal) + 1) + 4) DIV 5 AS BIGINT)"
        ).alias("k"),
        F.expr(
            "CAST(min(CASE WHEN cum >= (4 * (n_cal + 1) + 4) DIV 5"
            " THEN s END) AS BIGINT)"
        ).alias("q_cents"),
    )
    test = (
        o.where("split = 2")
        .join(F.broadcast(pred), "prio")
        .join(F.broadcast(qf.select("prio", "q_cents")), "prio")
        .groupBy("prio")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_test"),
            F.expr(
                "CAST(sum(CAST(abs(cents - pred_cents) <= q_cents"
                " AS BIGINT)) AS BIGINT)"
            ).alias("n_covered"),
        )
    )
    return (
        qf.join(F.broadcast(pred), "prio")
        .join(F.broadcast(test), "prio")
        .selectExpr(
            "prio AS priority", "pred_cents", "n_cal", "k", "q_cents",
            "n_test", "n_covered",
            "(1000 * n_covered) DIV n_test AS coverage_milli",
        )
    )


# --- R241: difference-in-differences estimator ---------------------------------------
#
# The workhorse causal-inference design (Card & Krueger 1994 form):
# treated = even customer keys, post = orders on/after epoch day 10408
# (1998-07-01), outcome = order value in integer cents. The DiD effect
# is the difference of the four floored cell means
# (mean_milli = 1000*sum DIV n, independently floored — identical
# cross-engine), and the PLACEBO effect re-runs the same contrast
# entirely inside the pre period split at day 9770 (1996-10-01) — the
# parallel-trends falsification every DiD needs. One scan to the 4
# (group x period) cells + one to the 4 placebo cells; everything else
# is scalar algebra on those 8 rows.


@register(
    "did_estimator",
    f"""
WITH dd_o AS (
  SELECT CAST(o_custkey % 2 = 0 AS BIGINT) AS treated,
         {_DC_DAY_DUCK} AS day, {_CF_CENTS} AS cents
  FROM orders),
dd_cell AS (
  SELECT treated, CAST(day >= 10408 AS BIGINT) AS post,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(cents) AS BIGINT) AS sum_cents
  FROM dd_o GROUP BY 1, 2),
dd_m AS (
  SELECT treated, post, n_orders, sum_cents,
         (1000 * sum_cents) // n_orders AS mean_milli
  FROM dd_cell),
dd_eff AS (
  SELECT max(CASE WHEN treated = 1 AND post = 1 THEN mean_milli END)
       - max(CASE WHEN treated = 1 AND post = 0 THEN mean_milli END)
       - max(CASE WHEN treated = 0 AND post = 1 THEN mean_milli END)
       + max(CASE WHEN treated = 0 AND post = 0 THEN mean_milli END)
           AS effect_milli
  FROM dd_m),
dd_pcell AS (
  SELECT treated, CAST(day >= 9770 AS BIGINT) AS post,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sc
  FROM dd_o WHERE day < 10408 GROUP BY 1, 2),
dd_peff AS (
  SELECT max(CASE WHEN treated = 1 AND post = 1 THEN (1000 * sc) // n END)
       - max(CASE WHEN treated = 1 AND post = 0 THEN (1000 * sc) // n END)
       - max(CASE WHEN treated = 0 AND post = 1 THEN (1000 * sc) // n END)
       + max(CASE WHEN treated = 0 AND post = 0 THEN (1000 * sc) // n END)
           AS placebo_milli
  FROM dd_pcell)
SELECT m.treated, m.post, m.n_orders, m.sum_cents, m.mean_milli,
       e.effect_milli, p.placebo_milli
FROM dd_m m CROSS JOIN dd_eff e CROSS JOIN dd_peff p
""",
    doc="Difference-in-differences (Card-Krueger design): treated = even "
    "customer keys, post = epoch day >= 10408, outcome = order cents; "
    "effect = the 4-cell contrast of independently floored milli means, "
    "plus the pre-period placebo contrast (split day 9770) — the "
    "parallel-trends falsification. Two scans to 8 bounded cells, then "
    "scalar algebra; the honest null reads near zero on both.",
)
def q_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "CAST(o_custkey % 2 = 0 AS BIGINT) AS treated",
        f"{_DC_DAY_SPARK} AS day",
        f"{_CF_CENTS} AS cents",
    ).localCheckpoint(eager=False)
    cell = (
        o.groupBy("treated", F.expr("CAST(day >= 10408 AS BIGINT)")
                 .alias("post"))
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_orders"),
            F.expr("CAST(sum(cents) AS BIGINT)").alias("sum_cents"),
        )
        .selectExpr(
            "treated", "post", "n_orders", "sum_cents",
            "(1000 * sum_cents) DIV n_orders AS mean_milli",
        )
        .localCheckpoint(eager=False)
    )
    eff = cell.agg(
        F.expr(
            "max(CASE WHEN treated = 1 AND post = 1 THEN mean_milli END)"
            " - max(CASE WHEN treated = 1 AND post = 0 THEN mean_milli END)"
            " - max(CASE WHEN treated = 0 AND post = 1 THEN mean_milli END)"
            " + max(CASE WHEN treated = 0 AND post = 0 THEN mean_milli END)"
        ).alias("effect_milli")
    )
    peff = (
        o.where("day < 10408")
        .groupBy("treated", F.expr("CAST(day >= 9770 AS BIGINT)")
                 .alias("post"))
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n"),
            F.expr("CAST(sum(cents) AS BIGINT)").alias("sc"),
        )
        .agg(
            F.expr(
                "max(CASE WHEN treated = 1 AND post = 1"
                " THEN (1000 * sc) DIV n END)"
                " - max(CASE WHEN treated = 1 AND post = 0"
                " THEN (1000 * sc) DIV n END)"
                " - max(CASE WHEN treated = 0 AND post = 1"
                " THEN (1000 * sc) DIV n END)"
                " + max(CASE WHEN treated = 0 AND post = 0"
                " THEN (1000 * sc) DIV n END)"
            ).alias("placebo_milli")
        )
    )
    return cell.crossJoin(F.broadcast(eff)).crossJoin(F.broadcast(peff))


# --- R243: Haar wavelet energy decomposition of daily revenue -----------------------
#
# The discrete Haar transform (Haar 1910; Mallat's fast DWT) on the
# daily-revenue series, exact in integers: the calendar extent is
# trimmed to whole 16-day (level-4) blocks, detail coefficients at
# level l are d_l(b) = s_{l-1}(2b) - s_{l-1}(2b+1) — computed directly
# from the daily histogram as sum(v * (1 - 2*half_l)) per block, so no
# level feeds the next and absent days contribute exactly 0 (no
# densify) — and the per-level energies sum(d^2) obey the exact
# unnormalized Parseval identity 16*ssq = 8*E1 + 4*E2 + 2*E3 + E4 + S4
# (pinned in pytest). Values are hecto-dollars (dollars DIV 100) to
# keep block-sum squares far from bigint overflow at 100x the bench
# scale. One scan fans the bounded day dimension over 4 literal
# levels; everything downstream is keyed on (level, block).

_HR_V_SPARK = "CAST(floor(o_totalprice) AS BIGINT) DIV 100"
_HR_V_DUCK = "CAST(floor(o_totalprice) AS BIGINT) // 100"


@register(
    "haar_energy",
    f"""
WITH hr_daily AS (
  SELECT {_DC_DAY_DUCK} AS day,
         CAST(sum({_HR_V_DUCK}) AS BIGINT) AS v
  FROM orders GROUP BY 1),
hr_ext AS (
  SELECT min(day) AS d0, (max(day) - min(day) + 1) // 16 AS nb16
  FROM hr_daily),
hr_t AS (
  SELECT d.day - e.d0 AS rel, d.v, e.nb16
  FROM hr_daily d CROSS JOIN hr_ext e
  WHERE d.day - e.d0 < 16 * e.nb16),
hr_lv (l, p, ph) AS (VALUES (1, 2, 1), (2, 4, 2), (3, 8, 4), (4, 16, 8)),
hr_d AS (
  SELECT lv.l, t.rel // lv.p AS block,
         CAST(sum(t.v * (1 - 2 * ((t.rel // lv.ph) % 2))) AS BIGINT) AS d
  FROM hr_t t CROSS JOIN hr_lv lv GROUP BY 1, 2),
hr_e AS (
  SELECT l, CAST(sum(d * d) AS BIGINT) AS energy FROM hr_d GROUP BY 1),
hr_s AS (
  SELECT CAST(sum(s * s) AS BIGINT) AS senergy
  FROM (SELECT rel // 16 AS block, sum(v) AS s FROM hr_t GROUP BY 1)),
hr_r AS (SELECT CAST(sum(v * v) AS BIGINT) AS ssq FROM hr_t)
SELECT part, CAST(level AS BIGINT) AS level, n_blocks, energy FROM (
  SELECT 'detail' AS part, e.l AS level,
         CAST(x.nb16 * (16 // lv.p) AS BIGINT) AS n_blocks, e.energy
  FROM hr_e e JOIN hr_lv lv ON lv.l = e.l CROSS JOIN hr_ext x
  UNION ALL
  SELECT 'smooth', 4, CAST(x.nb16 AS BIGINT), s.senergy
  FROM hr_s s CROSS JOIN hr_ext x
  UNION ALL
  SELECT 'raw', 0, CAST(16 * x.nb16 AS BIGINT), r.ssq
  FROM hr_r r CROSS JOIN hr_ext x)
""",
    doc="Discrete Haar wavelet energy decomposition of daily revenue "
    "(hecto-dollars): extent trimmed to whole 16-day blocks, level "
    "1-4 detail energies computed directly from the daily histogram "
    "(sign fan, no level-to-level dependency, absent days are exact "
    "zeros), plus the level-4 smooth energy and the raw sum of "
    "squares — tied together by the exact unnormalized Parseval "
    "identity 16*ssq = 8*E1 + 4*E2 + 2*E3 + E4 + S4 (pytest-pinned).",
)
def q_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "orders")
        .selectExpr(f"{_DC_DAY_SPARK} AS day", f"{_HR_V_SPARK} AS hd")
        .groupBy("day")
        .agg(F.expr("CAST(sum(hd) AS BIGINT)").alias("v"))
        .localCheckpoint(eager=False)
    )
    ext = daily.agg(
        F.expr("min(day) AS d0"),
        F.expr("(max(day) - min(day) + 1) DIV 16 AS nb16"),
    )
    t = (
        daily.crossJoin(F.broadcast(ext))
        .where("day - d0 < 16 * nb16")
        .selectExpr("day - d0 AS rel", "v", "nb16")
        .localCheckpoint(eager=False)
    )
    lv = t.sparkSession.sql(
        "SELECT * FROM VALUES (1, 2, 1), (2, 4, 2), (3, 8, 4), (4, 16, 8)"
        " AS hr_lv(l, p, ph)"
    )
    e = (
        t.crossJoin(F.broadcast(lv))
        .groupBy("l", F.expr("rel DIV p").alias("block"))
        .agg(
            F.expr(
                "CAST(sum(v * (1 - 2 * ((rel DIV ph) % 2))) AS BIGINT)"
            ).alias("d")
        )
        .groupBy("l")
        .agg(F.expr("CAST(sum(d * d) AS BIGINT)").alias("energy"))
    )
    s = (
        t.groupBy(F.expr("rel DIV 16").alias("block"))
        .agg(F.expr("sum(v) AS s"))
        .agg(F.expr("CAST(sum(s * s) AS BIGINT)").alias("senergy"))
    )
    r = t.agg(F.expr("CAST(sum(v * v) AS BIGINT)").alias("ssq"))
    det = (
        e.join(F.broadcast(lv), "l")
        .crossJoin(F.broadcast(ext))
        .selectExpr(
            "'detail' AS part", "CAST(l AS BIGINT) AS level",
            "CAST(nb16 * (16 DIV p) AS BIGINT) AS n_blocks", "energy",
        )
    )
    smo = s.crossJoin(F.broadcast(ext)).selectExpr(
        "'smooth' AS part", "CAST(4 AS BIGINT) AS level",
        "CAST(nb16 AS BIGINT) AS n_blocks", "senergy AS energy",
    )
    raw = r.crossJoin(F.broadcast(ext)).selectExpr(
        "'raw' AS part", "CAST(0 AS BIGINT) AS level",
        "CAST(16 * nb16 AS BIGINT) AS n_blocks", "ssq AS energy",
    )
    return det.unionByName(smo).unionByName(raw)


# --- R244: sweepline peak concurrency of shipment intervals -------------------------
#
# The classic event-sweepline max-overlap reduction (the interval
# scheduling / room-booking primitive) per return flag: every lineitem
# holds an inclusive [shipdate, shipdate + handling] day interval
# (handling = l_partkey % 30 days — this corpus's lineitem carries no
# receiptdate, so the duration is a deterministic synthetic column
# evaluated identically by both engines, per CLAUDE.md parity
# discipline); +1/-1 delta events at start and end+1 collapse to the
# bounded calendar dimension (groupBy(flag, day) with map-side
# partials — interval rows die in the first exchange), a per-flag
# cumsum over that bounded dimension yields the active count, and the
# peak plus its FIRST day (min day achieving the max) are read off
# exactly. Mean duration in floored milli-days rides the same scan.

_IP_SDAY = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
    " l_shipdate) DIV " + _DC_DAY
)
_IP_SDAY_DUCK = (
    "date_diff('microsecond', TIMESTAMP '1970-01-01', l_shipdate) // "
    + _DC_DAY
)


@register(
    "interval_peak",
    f"""
WITH ip_iv AS (
  SELECT l_returnflag AS flag, {_IP_SDAY_DUCK} AS sday,
         {_IP_SDAY_DUCK} + l_partkey % 30 AS eday
  FROM lineitem),
ip_ev AS (
  SELECT flag, sday AS day, 1 AS delta FROM ip_iv
  UNION ALL
  SELECT flag, eday + 1, -1 FROM ip_iv),
ip_h AS (
  SELECT flag, day, CAST(sum(delta) AS BIGINT) AS delta
  FROM ip_ev GROUP BY 1, 2),
ip_c AS (
  SELECT flag, day,
         sum(delta) OVER (PARTITION BY flag ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS active
  FROM ip_h),
ip_p AS (
  SELECT flag, day, active, max(active) OVER (PARTITION BY flag) AS peak
  FROM ip_c),
ip_agg AS (
  SELECT flag, CAST(max(peak) AS BIGINT) AS peak_active,
         CAST(min(CASE WHEN active = peak THEN day END) AS BIGINT)
           AS peak_day
  FROM ip_p GROUP BY 1),
ip_n AS (
  SELECT flag, CAST(count(*) AS BIGINT) AS n_intervals,
         CAST(sum(eday - sday + 1) AS BIGINT) AS sum_days
  FROM ip_iv GROUP BY 1)
SELECT n.flag, n.n_intervals, n.sum_days,
       (1000 * n.sum_days) // n.n_intervals AS mean_days_milli,
       a.peak_active, a.peak_day
FROM ip_n n JOIN ip_agg a ON a.flag = n.flag
""",
    doc="Sweepline peak concurrency of [shipdate, shipdate + handling] "
    "day intervals per return flag (handling = l_partkey % 30, a "
    "deterministic synthetic duration — the corpus lineitem has no "
    "receiptdate): +1/-1 delta events collapse to the bounded "
    "calendar dimension with map-side partial aggregation, a per-flag "
    "cumsum yields the active count, and the peak with its first "
    "achieving day is exact. Mean interval length in floored "
    "milli-days rides the same scan.",
)
def q_interval_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag AS flag", f"{_IP_SDAY} AS sday",
        f"{_IP_SDAY} + l_partkey % 30 AS eday",
    )
    ev = iv.selectExpr(
        "flag",
        "explode(array(struct(sday AS day, 1 AS delta),"
        " struct(eday + 1 AS day, -1 AS delta))) AS e",
    ).selectExpr("flag", "e.day AS day", "e.delta AS delta")
    h = ev.groupBy("flag", "day").agg(
        F.expr("CAST(sum(delta) AS BIGINT)").alias("delta")
    )
    c = h.selectExpr(
        "flag", "day",
        "sum(delta) OVER (PARTITION BY flag ORDER BY day"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS active",
    ).selectExpr(
        "flag", "day", "active",
        "max(active) OVER (PARTITION BY flag) AS peak",
    )
    agg = c.groupBy("flag").agg(
        F.expr("CAST(max(peak) AS BIGINT)").alias("peak_active"),
        F.expr(
            "CAST(min(CASE WHEN active = peak THEN day END) AS BIGINT)"
        ).alias("peak_day"),
    )
    n = iv.groupBy("flag").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_intervals"),
        F.expr("CAST(sum(eday - sday + 1) AS BIGINT)").alias("sum_days"),
    )
    return n.join(agg, "flag").selectExpr(
        "flag", "n_intervals", "sum_days",
        "(1000 * sum_days) DIV n_intervals AS mean_days_milli",
        "peak_active", "peak_day",
    )


# --- R248: Poisson bootstrap standard error -----------------------------------------
#
# The production-scale bootstrap (Chamandy et al. 2012 — the Poisson
# bootstrap): resampling-with-replacement is impossible at 10^12 rows,
# but each replicate's multiplicity for a row is approximately iid
# Poisson(1), so B=64 replicates are ONE pass: fan each row to (row, b),
# draw w ~ Poisson(1) from the md5 hash of (key, b) via fixed 32-bit
# inverse-CDF thresholds (floor(cum_k * 2^32) literals, k=0..6, else 7),
# and map-side-partial-aggregate (flag, b) sums — fanned rows die inside
# their first exchange. Replicate means stay in CENTS (milli would
# overflow: (3.8e9)^2 > 2^63); the SE over the bounded 64-replicate
# dimension uses the exact-isqrt discipline (R242).


@register(
    "poisson_bootstrap",
    """
WITH pb_rows AS (
  SELECT l_returnflag AS flag, l_orderkey, l_linenumber,
         CAST(floor(l_extendedprice * (1e0 - l_discount) * 100e0)
           AS BIGINT) AS cents
  FROM lineitem),
pb_fan AS (
  SELECT flag, cents, t.b, CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) || '|' || CAST(b AS VARCHAR)),1,8)) AS BIGINT) AS u
  FROM pb_rows CROSS JOIN generate_series(0, 63) AS t(b)),
pb_rep AS (
  SELECT flag, b, CAST(sum(w) AS BIGINT) AS sw,
         CAST(sum(w * cents) AS BIGINT) AS swc
  FROM (SELECT flag, b, cents, (CASE WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1 WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3 WHEN u < 4279248373 THEN 4 WHEN u < 4292415291 THEN 5 WHEN u < 4294609777 THEN 6 ELSE 7 END) AS w FROM pb_fan)
  GROUP BY 1, 2),
pb_m AS (SELECT flag, b, swc // sw AS m FROM pb_rep WHERE sw > 0),
pb_var AS (
  SELECT flag, CAST(count(*) AS BIGINT) AS n_reps,
         CAST(min(m) AS BIGINT) AS rep_min_cents,
         CAST(max(m) AS BIGINT) AS rep_max_cents,
         (count(*) * sum(m * m) - sum(m) * sum(m))
           // (count(*) * (count(*) - 1)) AS v
  FROM pb_m GROUP BY 1),
pb_se AS (
  SELECT *, CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT) AS s0
  FROM pb_var),
pb_base AS (
  SELECT flag, CAST(count(*) AS BIGINT) AS n_rows,
         CAST((1000 * sum(cents)) // count(*) AS BIGINT)
           AS mean_cents_milli
  FROM pb_rows GROUP BY 1)
SELECT b.flag, b.n_rows, b.mean_cents_milli, s.n_reps,
       s.rep_min_cents, s.rep_max_cents,
       CAST((CASE WHEN (s0 + 1) * (s0 + 1) <= v THEN s0 + 1 WHEN s0 * s0 > v THEN s0 - 1 ELSE s0 END) AS BIGINT) AS boot_se_cents
FROM pb_base b JOIN pb_se s ON s.flag = b.flag
""",
    doc="Poisson bootstrap (Chamandy 2012) of the per-returnflag mean "
    "revenue: 64 one-pass replicates, per-row multiplicity ~Poisson(1) "
    "from fixed 32-bit md5 inverse-CDF thresholds, replicate means in "
    "exact cents, SE over the bounded replicate dimension via exact "
    "isqrt. The only bootstrap shape that works at 10^12 rows — no "
    "resampling pass, fanned rows die in the first exchange.",
)
def q_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The seed parquet is one file — spread the rows BEFORE the 64x
    # replicate fan or the whole md5 draw runs on a single task.
    rows = (
        _t(spark, sf_dir, "lineitem")
        .repartition(32, "l_orderkey")
        .selectExpr(
            "l_returnflag AS flag", "l_orderkey", "l_linenumber",
            "CAST(floor(l_extendedprice * (1e0 - l_discount) * 100e0)"
            " AS BIGINT) AS cents",
        )
    )
    fan = rows.select(
        "flag", "cents", "l_orderkey", "l_linenumber",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b"),
    ).selectExpr("flag", "cents", "b", "CAST(conv(substr(md5(CAST(l_orderkey AS STRING) || '-' || CAST(l_linenumber AS STRING) || '|' || CAST(b AS STRING)),1,8),16,10) AS BIGINT) AS u")
    rep = (
        fan.selectExpr("flag", "b", "cents", "(CASE WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1 WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3 WHEN u < 4279248373 THEN 4 WHEN u < 4292415291 THEN 5 WHEN u < 4294609777 THEN 6 ELSE 7 END) AS w")
        .groupBy("flag", "b")
        .agg(
            F.expr("CAST(sum(w) AS BIGINT)").alias("sw"),
            F.expr("CAST(sum(w * cents) AS BIGINT)").alias("swc"),
        )
    )
    m = rep.where("sw > 0").selectExpr(
        "flag", "b", "swc DIV sw AS m"
    )
    var = m.groupBy("flag").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_reps"),
        F.expr("CAST(min(m) AS BIGINT)").alias("rep_min_cents"),
        F.expr("CAST(max(m) AS BIGINT)").alias("rep_max_cents"),
        F.expr(
            "(count(*) * sum(m * m) - sum(m) * sum(m))"
            " DIV (count(*) * (count(*) - 1))"
        ).alias("v"),
    ).withColumn(
        "s0", F.expr("CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT)")
    )
    base = rows.groupBy("flag").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_rows"),
        F.expr(
            "(1000 * sum(cents)) DIV count(*)"
        ).alias("mean_cents_milli"),
    )
    return base.join(var, "flag").selectExpr(
        "flag", "n_rows", "mean_cents_milli", "n_reps",
        "rep_min_cents", "rep_max_cents",
        "CAST((CASE WHEN (s0 + 1) * (s0 + 1) <= v THEN s0 + 1 WHEN s0 * s0 > v THEN s0 - 1 ELSE s0 END) AS BIGINT) AS boot_se_cents",
    )


# --- R249: delete-one-block jackknife --------------------------------------------
#
# The block jackknife (Quenouille 1956/Tukey 1958, delete-a-group
# variant — the estimator production survey systems actually use at
# scale, e.g. delete-a-group jackknife in census estimation): 10
# arithmetic blocks by l_orderkey % 10, leave-one-block-out means from
# the TOTALS alone (S - s_i)/(N - n_i) — one scan to 10 bounded cells,
# no resampling pass. Leave-out means stay in CENTS for the variance
# algebra (milli would overflow the squared sums); pseudo-values and
# the jackknife SE ride the exact-isqrt discipline (R242). The
# deterministic sibling of poisson_bootstrap's randomized replicates.


@register(
    "jackknife_blocks",
    """
WITH jk_rows AS (
  SELECT l_orderkey % 10 AS blk,
         CAST(floor(l_extendedprice * (1e0 - l_discount) * 100e0)
           AS BIGINT) AS cents
  FROM lineitem),
jk_blk AS (
  SELECT blk, CAST(count(*) AS BIGINT) AS n_i,
         CAST(sum(cents) AS BIGINT) AS s_i
  FROM jk_rows GROUP BY 1),
jk_tot AS (
  SELECT CAST(sum(n_i) AS BIGINT) AS n, CAST(sum(s_i) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS g
  FROM jk_blk),
jk_loo AS (
  SELECT b.blk, b.n_i, t.g,
         (t.s - b.s_i) // (t.n - b.n_i) AS loo_cents,
         (1000 * (t.s - b.s_i)) // (t.n - b.n_i) AS loo_milli,
         (1000 * t.s) // t.n AS mean_milli
  FROM jk_blk b CROSS JOIN jk_tot t),
jk_var AS (
  SELECT ((g - 1) * (g * sum(loo_cents * loo_cents)
           - sum(loo_cents) * sum(loo_cents))) // (g * g) AS v
  FROM jk_loo GROUP BY g),
jk_se AS (
  SELECT v, CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT) AS s0
  FROM jk_var)
SELECT CAST(l.blk AS BIGINT) AS blk, l.n_i, l.loo_milli,
       CAST(l.g * l.mean_milli - (l.g - 1) * l.loo_milli AS BIGINT)
         AS pseudo_milli,
       l.mean_milli AS mean_cents_milli,
       CAST((CASE WHEN (e.s0 + 1) * (e.s0 + 1) <= e.v THEN e.s0 + 1
                  WHEN e.s0 * e.s0 > e.v THEN e.s0 - 1
                  ELSE e.s0 END) AS BIGINT) AS jk_se_cents
FROM jk_loo l CROSS JOIN jk_se e
""",
    doc="Delete-a-group jackknife over 10 arithmetic l_orderkey blocks: "
    "leave-one-out means from totals alone (no resampling pass), "
    "pseudo-values, and the jackknife SE of the mean revenue via "
    "exact isqrt — one scan to 10 bounded cells. The deterministic "
    "variance estimate beside poisson_bootstrap's randomized one.",
)
def q_jackknife_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey % 10 AS blk",
        "CAST(floor(l_extendedprice * (1e0 - l_discount) * 100e0)"
        " AS BIGINT) AS cents",
    )
    blk = rows.groupBy("blk").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_i"),
        F.expr("CAST(sum(cents) AS BIGINT)").alias("s_i"),
    )
    tot = blk.agg(
        F.expr("CAST(sum(n_i) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(s_i) AS BIGINT)").alias("s"),
        F.expr("CAST(count(*) AS BIGINT)").alias("g"),
    )
    loo = blk.crossJoin(F.broadcast(tot)).selectExpr(
        "blk", "n_i", "g",
        "(s - s_i) DIV (n - n_i) AS loo_cents",
        "(1000 * (s - s_i)) DIV (n - n_i) AS loo_milli",
        "(1000 * s) DIV n AS mean_milli",
    )
    var = loo.groupBy("g").agg(
        F.expr(
            "((g - 1) * (g * sum(loo_cents * loo_cents)"
            " - sum(loo_cents) * sum(loo_cents))) DIV (g * g)"
        ).alias("v")
    ).withColumn(
        "s0", F.expr("CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT)")
    ).select("v", "s0")
    return loo.crossJoin(F.broadcast(var)).selectExpr(
        "CAST(blk AS BIGINT) AS blk", "n_i", "loo_milli",
        "CAST(g * mean_milli - (g - 1) * loo_milli AS BIGINT)"
        " AS pseudo_milli",
        "mean_milli AS mean_cents_milli",
        "CAST((CASE WHEN (s0 + 1) * (s0 + 1) <= v THEN s0 + 1"
        " WHEN s0 * s0 > v THEN s0 - 1 ELSE s0 END) AS BIGINT)"
        " AS jk_se_cents",
    )


# --- R253: k-fold cross-validation of the group-mean model ----------------------------
#
# The model-eval loop every pipeline needs, run as pure aggregation:
# 5 folds by l_orderkey % 5; for each fold, the "model" is the
# train-side per-returnflag mean revenue, and the held-out SSE comes
# from MOMENTS alone (sum, sum of squares, count per (flag, fold) —
# SSE = sc2 - 2*m*sc + n*m^2), so the whole CV is ONE scan to a
# 15-cell bounded dimension plus arithmetic. Revenue in integer
# DOLLARS: cents^2 sums would pass 2^63 at sf>=0.1 (the documented
# rescale-at-scale discipline). RMSE via exact isqrt (R242).


@register(
    "kfold_eval",
    """
WITH kf_rows AS (
  SELECT l_returnflag AS flag, l_orderkey % 5 AS fold,
         CAST(floor(l_extendedprice * (1e0 - l_discount)) AS BIGINT)
           AS d
  FROM lineitem),
kf_cell AS (
  SELECT flag, fold, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(d) AS BIGINT) AS sd,
         CAST(sum(d * d) AS BIGINT) AS sd2
  FROM kf_rows GROUP BY 1, 2),
kf_tot AS (
  SELECT flag, CAST(sum(n) AS BIGINT) AS nt, CAST(sum(sd) AS BIGINT)
           AS st
  FROM kf_cell GROUP BY 1),
kf_eval AS (
  SELECT c.flag, c.fold, c.n AS n_test,
         (t.st - c.sd) // (t.nt - c.n) AS train_mean_dollars,
         c.sd2 - 2 * ((t.st - c.sd) // (t.nt - c.n)) * c.sd
           + c.n * ((t.st - c.sd) // (t.nt - c.n))
               * ((t.st - c.sd) // (t.nt - c.n)) AS sse
  FROM kf_cell c JOIN kf_tot t ON t.flag = c.flag),
kf_v AS (
  SELECT flag, fold, n_test, train_mean_dollars, sse // n_test AS v
  FROM kf_eval),
kf_s AS (
  SELECT *, CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT) AS s0
  FROM kf_v)
SELECT flag, CAST(fold AS BIGINT) AS fold, n_test,
       CAST(train_mean_dollars AS BIGINT) AS train_mean_dollars,
       CAST((CASE WHEN (s0 + 1) * (s0 + 1) <= v THEN s0 + 1
                  WHEN s0 * s0 > v THEN s0 - 1 ELSE s0 END) AS BIGINT)
         AS rmse_dollars
FROM kf_s
""",
    doc="5-fold CV of the per-returnflag train-mean model from moments "
    "alone: one scan to a 15-cell (flag, fold) dimension, held-out "
    "SSE = sd2 - 2m*sd + n*m^2 with the train mean from leave-fold-"
    "out totals, RMSE via exact isqrt. Revenue in integer dollars so "
    "squared sums stay under 2^63 at scale.",
)
def q_kfold_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag AS flag", "l_orderkey % 5 AS fold",
        "CAST(floor(l_extendedprice * (1e0 - l_discount)) AS BIGINT)"
        " AS d",
    )
    cell = rows.groupBy("flag", "fold").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(d) AS BIGINT)").alias("sd"),
        F.expr("CAST(sum(d * d) AS BIGINT)").alias("sd2"),
    )
    tot = cell.groupBy("flag").agg(
        F.expr("CAST(sum(n) AS BIGINT)").alias("nt"),
        F.expr("CAST(sum(sd) AS BIGINT)").alias("st"),
    )
    ev = cell.join(tot, "flag").selectExpr(
        "flag", "fold", "n AS n_test",
        "(st - sd) DIV (nt - n) AS train_mean_dollars",
        "sd2 - 2 * ((st - sd) DIV (nt - n)) * sd"
        " + n * ((st - sd) DIV (nt - n)) * ((st - sd) DIV (nt - n))"
        " AS sse",
    )
    v = ev.selectExpr(
        "flag", "fold", "n_test", "train_mean_dollars",
        "sse DIV n_test AS v",
    ).withColumn(
        "s0", F.expr("CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT)")
    )
    return v.selectExpr(
        "flag", "CAST(fold AS BIGINT) AS fold", "n_test",
        "CAST(train_mean_dollars AS BIGINT) AS train_mean_dollars",
        "CAST((CASE WHEN (s0 + 1) * (s0 + 1) <= v THEN s0 + 1"
        " WHEN s0 * s0 > v THEN s0 - 1 ELSE s0 END) AS BIGINT)"
        " AS rmse_dollars",
    )


# --- R257: exact autocorrelation function of daily revenue ----------------------------
#
# The Box-Jenkins identification tool (ACF, lags 1..7) on the
# zero-densified daily order-revenue series, exact in integers:
# deviations against the FLOORED mean (d_t = v_t - S DIV n — a
# deterministic estimator both engines and the python replay share;
# avoids the n-scaled-deviation overflow at big SF), c_k = sum d_t
# d_{t+k} over the bounded calendar dimension via a lag-fan equi-join
# (7 x 2500 rows), acf_k = sign + (1000|c_k|) DIV c_0 (negative-DIV
# discipline). Daily values in kilodollars so d^2 sums stay far under
# 2^63 at any SF. The linear-ACF complement to spearman_acf's rank one.


@register(
    "revenue_acf",
    f"""
WITH ra_daily AS (
  SELECT date_diff('microsecond', TIMESTAMP '1970-01-01', o_orderdate)
           // {_DAY_US} AS day,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000
           AS BIGINT) AS v
  FROM orders GROUP BY 1),
ra_cal AS (
  SELECT unnest(range(min(day), max(day) + 1)) AS day FROM ra_daily),
ra_s AS (
  SELECT c.day, coalesce(d.v, 0) AS v
  FROM ra_cal c LEFT JOIN ra_daily d ON d.day = c.day),
ra_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) // count(*) AS mu
  FROM ra_s),
ra_d AS (
  SELECT s.day, s.v - m.mu AS d FROM ra_s s CROSS JOIN ra_m m),
ra_c0 AS (SELECT CAST(sum(d * d) AS BIGINT) AS c0 FROM ra_d),
ra_k AS (
  SELECT a.lag, CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(x.d * y.d) AS BIGINT) AS ck
  FROM (SELECT unnest(range(1, 8)) AS lag) a
  JOIN ra_d x ON TRUE
  JOIN ra_d y ON y.day = x.day + a.lag
  GROUP BY 1)
SELECT CAST(k.lag AS BIGINT) AS lag, k.n_terms,
       CAST(CASE WHEN k.ck >= 0 THEN 1 ELSE -1 END AS BIGINT)
         AS acf_sign,
       CAST((1000 * abs(k.ck)) // z.c0 AS BIGINT) AS acf_abs_milli
FROM ra_k k CROSS JOIN ra_c0 z
""",
    doc="Exact ACF (lags 1-7) of zero-densified daily order revenue in "
    "kilodollars: floored-mean deviations, lag-fan equi-join on the "
    "bounded calendar dimension, sign + milli magnitude against c0. "
    "The Box-Jenkins identification tool beside spearman_acf (rank), "
    "seasonal_decomposition (weekly), and haar_energy (multi-scale).",
)
def q_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" o_orderdate) DIV {_DAY_US} AS day",
            "CAST(floor(o_totalprice) AS BIGINT) AS dollars",
        )
        .groupBy("day")
        .agg(F.expr("CAST(sum(dollars) DIV 1000 AS BIGINT)").alias("v"))
        .localCheckpoint(eager=False)
    )
    cal = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).selectExpr("explode(sequence(d0, d1)) AS day")
    s = cal.join(daily, "day", "left").selectExpr(
        "day", "coalesce(v, CAST(0 AS BIGINT)) AS v"
    )
    m = s.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(v) AS BIGINT) DIV count(*)").alias("mu"),
    )
    d = s.crossJoin(F.broadcast(m)).selectExpr("day", "v - mu AS d")
    d = d.localCheckpoint(eager=False)
    c0 = d.agg(F.expr("CAST(sum(d * d) AS BIGINT)").alias("c0"))
    lags = spark.range(1, 8).selectExpr("id AS lag")
    x = d.selectExpr("day AS xday", "d AS xd")
    y = d.selectExpr("day AS yday", "d AS yd")
    k = (
        x.crossJoin(F.broadcast(lags))
        .join(y, F.expr("yday = xday + lag"))
        .groupBy("lag")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_terms"),
            F.expr("CAST(sum(xd * yd) AS BIGINT)").alias("ck"),
        )
    )
    return k.crossJoin(F.broadcast(c0)).selectExpr(
        "CAST(lag AS BIGINT) AS lag", "n_terms",
        "CAST(CASE WHEN ck >= 0 THEN 1 ELSE -1 END AS BIGINT)"
        " AS acf_sign",
        "CAST((1000 * abs(ck)) DIV c0 AS BIGINT) AS acf_abs_milli",
    )


# --- R258: offline changepoint (binary segmentation, first split) ---------------------
#
# The first step of binary segmentation (Scott-Knott / CUSUM-offline
# family): the split day s maximizing the per-term-floored
# between-segment score S1^2 DIV n1 + S2^2 DIV n2 (the Jenks/R232
# per-class floor discipline — minimizing SSE is equivalent to
# maximizing sum-of-squared-segment-means mass), with >= 7 days per
# side and smallest-day ties. Everything reads off ONE cumulative-sum
# window pass over the bounded calendar dimension — no split x day
# fan. Kilodollar units keep S^2 under 2^63 at any SF.


@register(
    "changepoint_split",
    f"""
WITH cp_daily AS (
  SELECT date_diff('microsecond', TIMESTAMP '1970-01-01', o_orderdate)
           // {_DAY_US} AS day,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000
           AS BIGINT) AS v
  FROM orders GROUP BY 1),
cp_cal AS (
  SELECT unnest(range(min(day), max(day) + 1)) AS day FROM cp_daily),
cp_s AS (
  SELECT c.day, coalesce(d.v, 0) AS v
  FROM cp_cal c LEFT JOIN cp_daily d ON d.day = c.day),
cp_t AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s
  FROM cp_s),
cp_cum AS (
  SELECT day,
         row_number() OVER (ORDER BY day) AS n1,
         sum(v) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1
  FROM cp_s),
cp_sc AS (
  SELECT c.day, c.n1, t.n - c.n1 AS n2, c.s1, t.s - c.s1 AS s2,
         (c.s1 * c.s1) // c.n1
           + ((t.s - c.s1) * (t.s - c.s1)) // (t.n - c.n1) AS score
  FROM cp_cum c CROSS JOIN cp_t t
  WHERE c.n1 >= 7 AND t.n - c.n1 >= 7),
cp_best AS (
  SELECT day, n1, n2, s1, s2, score,
         row_number() OVER (ORDER BY score DESC, day) AS rk
  FROM cp_sc)
SELECT CAST(day AS BIGINT) AS split_day,
       CAST(n1 AS BIGINT) AS n_left, CAST(n2 AS BIGINT) AS n_right,
       CAST((1000 * s1) // n1 AS BIGINT) AS mean_left_milli,
       CAST((1000 * s2) // n2 AS BIGINT) AS mean_right_milli,
       CAST(score AS BIGINT) AS score
FROM cp_best WHERE rk = 1
""",
    doc="Offline changepoint (binary segmentation, first split) on "
    "zero-densified daily order revenue: argmax of the per-term-"
    "floored between-segment mass S1^2 DIV n1 + S2^2 DIV n2 over all "
    "split days (>=7 days per side, smallest-day ties) — one cumsum "
    "window over the bounded calendar, no split x day fan. The "
    "offline complement to cell_cusum/sprt_monitor's sequential "
    "monitors.",
)
def q_changepoint_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" o_orderdate) DIV {_DAY_US} AS day",
            "CAST(floor(o_totalprice) AS BIGINT) AS dollars",
        )
        .groupBy("day")
        .agg(F.expr("CAST(sum(dollars) DIV 1000 AS BIGINT)").alias("v"))
        .localCheckpoint(eager=False)
    )
    cal = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).selectExpr("explode(sequence(d0, d1)) AS day")
    s = cal.join(daily, "day", "left").selectExpr(
        "day", "coalesce(v, CAST(0 AS BIGINT)) AS v"
    )
    t = s.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(v) AS BIGINT)").alias("s"),
    )
    cum = s.selectExpr(
        "day",
        "row_number() OVER (ORDER BY day) AS n1",
        "sum(v) OVER (ORDER BY day"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1",
    )
    sc = (
        cum.crossJoin(F.broadcast(t))
        .where("n1 >= 7 AND n - n1 >= 7")
        .selectExpr(
            "day", "n1", "n - n1 AS n2", "s1", "s - s1 AS s2",
            "(s1 * s1) DIV n1 + ((s - s1) * (s - s1)) DIV (n - n1)"
            " AS score",
        )
    )
    best = sc.selectExpr(
        "*", "row_number() OVER (ORDER BY score DESC, day) AS rk"
    ).where("rk = 1")
    return best.selectExpr(
        "CAST(day AS BIGINT) AS split_day",
        "CAST(n1 AS BIGINT) AS n_left", "CAST(n2 AS BIGINT) AS n_right",
        "CAST((1000 * s1) DIV n1 AS BIGINT) AS mean_left_milli",
        "CAST((1000 * s2) DIV n2 AS BIGINT) AS mean_right_milli",
        "CAST(score AS BIGINT) AS score",
    )


# --- R260: weekly top-k churn --------------------------------------------------------
#
# Leaderboard stability: the week-over-week Jaccard of the weekly
# top-10 revenue parts (revenue DESC, partkey ASC ties). rbo_drift
# compares two rankings ONCE; this tracks set churn along the whole
# bounded week dimension — (week, part) agg, top-k window per week,
# consecutive-week equi-join on part, one Jaccard row per adjacent
# week pair. Never parts x parts.


@register(
    "topk_churn",
    f"""
WITH tc_wk AS (
  SELECT date_diff('microsecond', TIMESTAMP '1970-01-01', l_shipdate)
           // ({_DAY_US} * 7) AS week, l_partkey,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount)
           * 100e0) AS BIGINT)) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2),
tc_top AS (
  SELECT week, l_partkey FROM (
    SELECT week, l_partkey,
           row_number() OVER (PARTITION BY week
             ORDER BY c DESC, l_partkey) AS rk
    FROM tc_wk)
  WHERE rk <= 10),
tc_n AS (
  SELECT week, CAST(count(*) AS BIGINT) AS n FROM tc_top GROUP BY 1),
tc_int AS (
  SELECT a.week, CAST(count(*) AS BIGINT) AS inter
  FROM tc_top a JOIN tc_top b
    ON b.week = a.week + 1 AND b.l_partkey = a.l_partkey
  GROUP BY 1)
SELECT CAST(a.week AS BIGINT) AS week, a.n AS n_a, b.n AS n_b,
       CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
       CAST((1000 * coalesce(i.inter, 0))
         // (a.n + b.n - coalesce(i.inter, 0)) AS BIGINT)
         AS jaccard_milli
FROM tc_n a JOIN tc_n b ON b.week = a.week + 1
LEFT JOIN tc_int i ON i.week = a.week
""",
    doc="Week-over-week Jaccard churn of the weekly top-10 revenue "
    "parts (deterministic ties): (week,part) agg, per-week top-k "
    "window, consecutive-week equi-join — leaderboard stability along "
    "the whole bounded week dimension, the temporal complement to "
    "rbo_drift's one-shot ranking comparison.",
)
def q_topk_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    wk = (
        _t(spark, sf_dir, "lineitem")
        .selectExpr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" l_shipdate) DIV ({_DAY_US} * 7) AS week",
            "l_partkey",
            "CAST(floor(l_extendedprice * (1e0 - l_discount) * 100e0)"
            " AS BIGINT) AS cents",
        )
        .groupBy("week", "l_partkey")
        .agg(F.expr("CAST(sum(cents) AS BIGINT)").alias("c"))
    )
    top = wk.selectExpr(
        "week", "l_partkey",
        "row_number() OVER (PARTITION BY week"
        " ORDER BY c DESC, l_partkey) AS rk",
    ).where("rk <= 10").select("week", "l_partkey").localCheckpoint(
        eager=False
    )
    n = top.groupBy("week").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n")
    )
    a = top.selectExpr("week AS wa", "l_partkey AS pa")
    b = top.selectExpr("week AS wb", "l_partkey AS pb")
    inter = (
        a.join(b, F.expr("wb = wa + 1 AND pb = pa"))
        .groupBy("wa")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("inter"))
    )
    na = n.selectExpr("week", "n AS n_a")
    nb = n.selectExpr("week - 1 AS week", "n AS n_b")
    return (
        na.join(nb, "week")
        .join(inter.selectExpr("wa AS week", "inter"), "week", "left")
        .selectExpr(
            "CAST(week AS BIGINT) AS week", "n_a", "n_b",
            "CAST(coalesce(inter, 0) AS BIGINT) AS inter",
            "CAST((1000 * coalesce(inter, 0))"
            " DIV (n_a + n_b - coalesce(inter, 0)) AS BIGINT)"
            " AS jaccard_milli",
        )
    )


# --- R261: rapid repeat-purchase pairs -------------------------------------------------
#
# Transactional near-duplicate detection (the fraud/double-billing
# screen): two lineitems of the SAME customer and SAME part from
# DIFFERENT orders shipping within 14 days. The join is keyed on
# (custkey, partkey) — content-partitioned equi-join, the banded-join
# discipline: the +-14-day band is a post-filter on an already-tiny
# candidate set, never a theta-join over raw rows. Ordered okey pair
# dedups without DISTINCT.


@register(
    "repeat_purchase_pairs",
    f"""
WITH rp_r AS (
  SELECT o.o_custkey AS cust, l.l_partkey AS part,
         date_diff('microsecond', TIMESTAMP '1970-01-01', l.l_shipdate)
           // {_DAY_US} AS day,
         l.l_orderkey AS ok, l.l_linenumber AS ln
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
SELECT a.cust AS cust, a.part AS part,
       a.ok AS ok_a, b.ok AS ok_b,
       CAST(abs(a.day - b.day) AS BIGINT) AS day_gap
FROM rp_r a JOIN rp_r b
  ON a.cust = b.cust AND a.part = b.part AND a.ok < b.ok
WHERE b.day BETWEEN a.day - 14 AND a.day + 14
""",
    doc="Rapid repeat-purchase pairs: same customer + same part from "
    "two different orders shipping within 14 days — the transactional "
    "double-billing screen. Equi-join on (cust, part) with the day "
    "band as a candidate post-filter (banded-join discipline); "
    "ordered orderkey pair dedups without a DISTINCT.",
)
def q_repeat_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = (
        _t(spark, sf_dir, "lineitem")
        .join(
            _t(spark, sf_dir, "orders").selectExpr(
                "o_orderkey", "o_custkey"
            ),
            F.expr("o_orderkey = l_orderkey"),
        )
        .selectExpr(
            "o_custkey AS cust", "l_partkey AS part",
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" l_shipdate) DIV {_DAY_US} AS day",
            "l_orderkey AS ok", "l_linenumber AS ln",
        )
    )
    a = r.selectExpr(
        "cust AS ca", "part AS pa", "day AS da", "ok AS oka"
    )
    b = r.selectExpr(
        "cust AS cb", "part AS pb", "day AS db", "ok AS okb"
    )
    return a.join(
        b,
        F.expr(
            "ca = cb AND pa = pb AND oka < okb"
            " AND db BETWEEN da - 14 AND da + 14"
        ),
    ).selectExpr(
        "ca AS cust", "pa AS part", "oka AS ok_a", "okb AS ok_b",
        "CAST(abs(da - db) AS BIGINT) AS day_gap",
    )


# --- R262: Lo-MacKinlay variance-ratio test --------------------------------------------
#
# The random-walk diagnostic (Lo & MacKinlay 1988): if daily revenue
# innovations were iid, the variance of q-day block sums would be q x
# the daily variance — VR(q) = 1. Exact integer definition on the
# zero-densified kilodollar series: floored-mean deviations, block
# sums over whole non-overlapping q-blocks, staged double-floor
# (n * cq DIV (q * m), then * 1000 DIV c1 — the R236 discipline) so
# nothing passes 2^63 at any SF. q in {2, 4, 8}; VR < 1 flags
# mean-reversion, > 1 momentum.


@register(
    "variance_ratio",
    f"""
WITH vrt_daily AS (
  SELECT date_diff('microsecond', TIMESTAMP '1970-01-01', o_orderdate)
           // {_DAY_US} AS day,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000
           AS BIGINT) AS v
  FROM orders GROUP BY 1),
vrt_cal AS (
  SELECT unnest(range(min(day), max(day) + 1)) AS day FROM vrt_daily),
vrt_s AS (
  SELECT c.day - (SELECT min(day) FROM vrt_cal) AS t,
         coalesce(d.v, 0) AS v
  FROM vrt_cal c LEFT JOIN vrt_daily d ON d.day = c.day),
vrt_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) // count(*) AS mu
  FROM vrt_s),
vrt_c1 AS (
  SELECT CAST(sum((s.v - m.mu) * (s.v - m.mu)) AS BIGINT) AS c1
  FROM vrt_s s CROSS JOIN vrt_m m),
vrt_q AS (SELECT unnest([2, 4, 8]) AS q),
vrt_blk AS (
  SELECT q.q, s.t // q.q AS blk, CAST(sum(s.v) AS BIGINT) AS bs,
         CAST(count(*) AS BIGINT) AS bn
  FROM vrt_s s CROSS JOIN vrt_q q
  GROUP BY 1, 2),
vrt_cq AS (
  SELECT b.q, CAST(count(*) AS BIGINT) AS m,
         CAST(sum((b.bs - b.q * mm.mu) * (b.bs - b.q * mm.mu))
           AS BIGINT) AS cq
  FROM vrt_blk b CROSS JOIN vrt_m mm
  WHERE b.bn = b.q
  GROUP BY 1)
SELECT CAST(c.q AS BIGINT) AS q, c.m AS n_blocks,
       CAST((1000 * ((m2.n * c.cq) // (c.q * c.m))) // z.c1 AS BIGINT)
         AS vr_milli
FROM vrt_cq c CROSS JOIN vrt_m m2 CROSS JOIN vrt_c1 z
""",
    doc="Lo-MacKinlay variance ratio VR(q) for q=2,4,8 on zero-"
    "densified daily revenue: exact kilodollar integers, floored-mean "
    "deviations, whole non-overlapping blocks only, staged double-"
    "floor so nothing passes 2^63. VR<1000 milli = mean-reversion, "
    ">1000 = momentum; the random-walk diagnostic beside revenue_acf.",
)
def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" o_orderdate) DIV {_DAY_US} AS day",
            "CAST(floor(o_totalprice) AS BIGINT) AS dollars",
        )
        .groupBy("day")
        .agg(F.expr("CAST(sum(dollars) DIV 1000 AS BIGINT)").alias("v"))
        .localCheckpoint(eager=False)
    )
    lo = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = lo.selectExpr("explode(sequence(d0, d1)) AS day", "d0")
    s = cal.join(daily, "day", "left").selectExpr(
        "day - d0 AS t", "coalesce(v, CAST(0 AS BIGINT)) AS v"
    ).localCheckpoint(eager=False)
    m = s.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(v) AS BIGINT) DIV count(*)").alias("mu"),
    )
    c1 = s.crossJoin(F.broadcast(m)).agg(
        F.expr("CAST(sum((v - mu) * (v - mu)) AS BIGINT)").alias("c1")
    )
    qs = spark.range(1, 4).selectExpr(
        "CAST(pow(2, id) AS BIGINT) AS q"
    )
    blk = (
        s.crossJoin(F.broadcast(qs))
        .groupBy("q", F.expr("t DIV q").alias("blk"))
        .agg(
            F.expr("CAST(sum(v) AS BIGINT)").alias("bs"),
            F.expr("CAST(count(*) AS BIGINT)").alias("bn"),
        )
    )
    cq = (
        blk.where("bn = q")
        .crossJoin(F.broadcast(m.selectExpr("mu")))
        .groupBy("q")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("m"),
            F.expr(
                "CAST(sum((bs - q * mu) * (bs - q * mu)) AS BIGINT)"
            ).alias("cq"),
        )
    )
    return (
        cq.crossJoin(F.broadcast(m.selectExpr("n")))
        .crossJoin(F.broadcast(c1))
        .selectExpr(
            "CAST(q AS BIGINT) AS q", "m AS n_blocks",
            "CAST((1000 * ((n * cq) DIV (q * m))) DIV c1 AS BIGINT)"
            " AS vr_milli",
        )
    )


# --- R266: Bradley-Terry pairwise-preference ranking -----------------------------------
#
# The pairwise-comparison ranking model behind every LLM arena
# leaderboard (Bradley-Terry 1952, minorization-maximization updates):
# players = the 5 order priorities; a "match" happens per customer
# holding both priorities, won by the larger total spend (exact cents;
# ties -> lexicographically smaller priority — deterministic). Two MM
# iterations from the uniform start, all in floored milli strengths
# (term = 1e6*n_ij DIV (s_i + s_j), s' = 1e6*w_i DIV sum terms) — the
# bounded 5x5 pair dimension makes the whole solve arithmetic. Win
# counting is ONE renamed-key self-join over the per-(cust, prio)
# spend frame (<= 5 rows per customer).


@register(
    "bradley_terry",
    """
WITH bt_cp AS (
  SELECT o_custkey AS cust, o_orderpriority AS prio,
         CAST(sum(CAST(floor(o_totalprice * 100e0) AS BIGINT))
           AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2),
bt_m AS (
  SELECT a.prio AS i, b.prio AS j,
         CAST(count(*) AS BIGINT) AS n_ij,
         CAST(sum(CASE WHEN a.cents > b.cents
                       OR (a.cents = b.cents AND a.prio < b.prio)
                  THEN 1 ELSE 0 END) AS BIGINT) AS w_ij
  FROM bt_cp a JOIN bt_cp b
    ON a.cust = b.cust AND a.prio <> b.prio
  GROUP BY 1, 2),
bt_p AS (
  SELECT i AS prio, CAST(sum(n_ij) AS BIGINT) AS n_i,
         CAST(sum(w_ij) AS BIGINT) AS w_i
  FROM bt_m GROUP BY 1),
bt_s1 AS (
  SELECT prio, n_i, w_i, (2000 * w_i) // n_i AS s1 FROM bt_p),
bt_d2 AS (
  SELECT m.i AS prio,
         CAST(sum((1000000 * m.n_ij) // (a.s1 + b.s1)) AS BIGINT) AS d
  FROM bt_m m
  JOIN bt_s1 a ON a.prio = m.i
  JOIN bt_s1 b ON b.prio = m.j
  GROUP BY 1)
SELECT s.prio, s.n_i AS matches, s.w_i AS wins, s.s1 AS s1_milli,
       CAST((1000000 * s.w_i) // d.d AS BIGINT) AS s2_milli,
       CAST(row_number() OVER (
         ORDER BY (1000000 * s.w_i) // d.d DESC, s.prio) AS BIGINT)
         AS rnk
FROM bt_s1 s JOIN bt_d2 d ON d.prio = s.prio
""",
    doc="Bradley-Terry strengths of the 5 order priorities from per-"
    "customer pairwise spend comparisons (exact cents, deterministic "
    "ties), two MM iterations in floored milli — the arena-"
    "leaderboard model as pure bounded-dimension arithmetic; one "
    "renamed-key self-join counts every match.",
)
def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    cp = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "o_custkey AS cust", "o_orderpriority AS prio",
            "CAST(floor(o_totalprice * 100e0) AS BIGINT) AS cents",
        )
        .groupBy("cust", "prio")
        .agg(F.expr("CAST(sum(cents) AS BIGINT)").alias("cents"))
        .localCheckpoint(eager=False)
    )
    a = cp.selectExpr("cust AS ca", "prio AS pa", "cents AS xa")
    b = cp.selectExpr("cust AS cb", "prio AS pb", "cents AS xb")
    m = (
        a.join(b, F.expr("ca = cb AND pa <> pb"))
        .groupBy(F.col("pa").alias("i"), F.col("pb").alias("j"))
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_ij"),
            F.expr(
                "CAST(sum(CASE WHEN xa > xb OR (xa = xb AND pa < pb)"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("w_ij"),
        )
        .localCheckpoint(eager=False)
    )
    p = m.groupBy(F.col("i").alias("prio")).agg(
        F.expr("CAST(sum(n_ij) AS BIGINT)").alias("n_i"),
        F.expr("CAST(sum(w_ij) AS BIGINT)").alias("w_i"),
    )
    s1 = p.selectExpr(
        "prio", "n_i", "w_i", "(2000 * w_i) DIV n_i AS s1"
    )
    d2 = (
        m.join(s1.selectExpr("prio AS i", "s1 AS si"), "i")
        .join(s1.selectExpr("prio AS j", "s1 AS sj"), "j")
        .groupBy(F.col("i").alias("prio"))
        .agg(
            F.expr(
                "CAST(sum((1000000 * n_ij) DIV (si + sj)) AS BIGINT)"
            ).alias("d")
        )
    )
    return s1.join(d2, "prio").selectExpr(
        "prio", "n_i AS matches", "w_i AS wins", "s1 AS s1_milli",
        "(1000000 * w_i) DIV d AS s2_milli",
        "CAST(row_number() OVER (ORDER BY (1000000 * w_i) DIV d DESC,"
        " prio) AS BIGINT) AS rnk",
    )


# --- R267: robust distribution shape (Bowley skew + Moors kurtosis) --------------------
#
# Moment skewness/kurtosis need cubed and fourth-power sums (overflow
# at scale and float-fragile); the quantile-based estimators don't:
# Bowley 1901 skewness (Q3 + Q1 - 2*Q2)/(Q3 - Q1) and Moors 1988
# kurtosis ((E7-E5) + (E3-E1))/(E6-E2) from octiles — all order
# statistics read off ONE cumulative window over the bounded
# value-dimension histogram (the CLAUDE.md discipline), signs emitted
# separately (negative-DIV discipline).


@register(
    "robust_shape",
    """
WITH rs_h AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice * (1e0 - l_discount)) AS BIGINT)
           AS d,
         CAST(count(*) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2),
rs_c AS (
  SELECT flag, d, w,
         sum(w) OVER (PARTITION BY flag ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(w) OVER (PARTITION BY flag) AS n
  FROM rs_h),
rs_q AS (
  SELECT flag, CAST(max(n) AS BIGINT) AS n,
         min(CASE WHEN 8 * cw >= 1 * n THEN d END) AS e1,
         min(CASE WHEN 8 * cw >= 2 * n THEN d END) AS q1,
         min(CASE WHEN 8 * cw >= 3 * n THEN d END) AS e3,
         min(CASE WHEN 8 * cw >= 4 * n THEN d END) AS q2,
         min(CASE WHEN 8 * cw >= 5 * n THEN d END) AS e5,
         min(CASE WHEN 8 * cw >= 6 * n THEN d END) AS q3,
         min(CASE WHEN 8 * cw >= 7 * n THEN d END) AS e7
  FROM rs_c GROUP BY flag)
SELECT flag, n,
       CAST(q1 AS BIGINT) AS q1, CAST(q2 AS BIGINT) AS q2,
       CAST(q3 AS BIGINT) AS q3,
       CAST(CASE WHEN q3 + q1 >= 2 * q2 THEN 1 ELSE -1 END AS BIGINT)
         AS bowley_sign,
       CAST((1000 * abs(q3 + q1 - 2 * q2)) // (q3 - q1) AS BIGINT)
         AS bowley_abs_milli,
       CAST((1000 * ((e7 - e5) + (e3 - e1))) // (q3 - q1) AS BIGINT)
         AS moors_milli
FROM rs_q
""",
    doc="Quantile-based distribution shape per return flag: Bowley "
    "skewness (sign + milli) and Moors octile kurtosis, every order "
    "statistic from ONE cumulative window over the bounded dollar-"
    "value histogram — the overflow-proof alternative to cubed/"
    "fourth-power moment sums at 10^12 rows.",
)
def q_robust_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = (
        _t(spark, sf_dir, "lineitem")
        .selectExpr(
            "l_returnflag AS flag",
            "CAST(floor(l_extendedprice * (1e0 - l_discount)) AS BIGINT)"
            " AS d",
        )
        .groupBy("flag", "d")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("w"))
    )
    c = h.selectExpr(
        "flag", "d", "w",
        "sum(w) OVER (PARTITION BY flag ORDER BY d"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw",
        "sum(w) OVER (PARTITION BY flag) AS n",
    )
    q = c.groupBy("flag").agg(
        F.expr("CAST(max(n) AS BIGINT)").alias("n"),
        *[
            F.expr(
                f"min(CASE WHEN 8 * cw >= {k} * n THEN d END)"
            ).alias(name)
            for k, name in [
                (1, "e1"), (2, "q1"), (3, "e3"), (4, "q2"),
                (5, "e5"), (6, "q3"), (7, "e7"),
            ]
        ],
    )
    return q.selectExpr(
        "flag", "n",
        "CAST(q1 AS BIGINT) AS q1", "CAST(q2 AS BIGINT) AS q2",
        "CAST(q3 AS BIGINT) AS q3",
        "CAST(CASE WHEN q3 + q1 >= 2 * q2 THEN 1 ELSE -1 END AS BIGINT)"
        " AS bowley_sign",
        "(1000 * abs(q3 + q1 - 2 * q2)) DIV (q3 - q1)"
        " AS bowley_abs_milli",
        "(1000 * ((e7 - e5) + (e3 - e1))) DIV (q3 - q1) AS moors_milli",
    )


# --- R269: one-step Huber M-estimator ---------------------------------------------------
#
# The robust-location workhorse (Huber 1964, one Newton step from the
# median — the estimator asymptotics textbooks actually recommend):
# m1 = median + sum(clip(x - median, +-k)) / n with k = 2 * MAD.
# Median and MAD read off the bounded value-dimension histogram
# (CLAUDE.md discipline); the clipped sum is one more pass over the
# SAME histogram (clip is monotone in the value, so the histogram
# loses nothing). Against trimmed_stats (reject) and mad_stats
# (scale), this is the third robust tool: downweight.


@register(
    "huber_location",
    """
WITH hb_h AS (
  SELECT event_type, CAST(floor(value * 100e0) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
hb_c AS (
  SELECT event_type, cents, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM hb_h),
hb_m AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         CAST(min(CASE WHEN 2 * cw >= n THEN cents END) AS BIGINT) AS med
  FROM hb_c GROUP BY 1),
hb_d AS (
  SELECT h.event_type, abs(h.cents - m.med) AS dev,
         CAST(sum(h.c) AS BIGINT) AS c
  FROM hb_h h JOIN hb_m m ON m.event_type = h.event_type
  GROUP BY 1, 2),
hb_dc AS (
  SELECT event_type, dev, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY dev
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM hb_d),
hb_mad AS (
  SELECT event_type,
         CAST(min(CASE WHEN 2 * cw >= n THEN dev END) AS BIGINT) AS mad
  FROM hb_dc GROUP BY 1),
hb_psi AS (
  SELECT h.event_type,
         CAST(sum(h.c * greatest(least(h.cents - m.med, 2 * d.mad),
           -2 * d.mad)) AS BIGINT) AS psi,
         CAST(sum(h.c * CASE WHEN abs(h.cents - m.med) > 2 * d.mad
           THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
  FROM hb_h h
  JOIN hb_m m ON m.event_type = h.event_type
  JOIN hb_mad d ON d.event_type = h.event_type
  GROUP BY 1)
SELECT m.event_type, m.n, m.med AS median_cents, d.mad AS mad_cents,
       p.n_clipped,
       CAST(CASE WHEN p.psi >= 0 THEN m.med + p.psi // m.n
                 ELSE m.med - ((-p.psi) // m.n) END AS BIGINT)
         AS huber_cents
FROM hb_m m
JOIN hb_mad d ON d.event_type = m.event_type
JOIN hb_psi p ON p.event_type = m.event_type
""",
    doc="One-step Huber M-estimator per event-type value stream: one "
    "Newton step from the histogram median with k = 2*MAD clipping — "
    "median, MAD, and the clipped correction all read off the SAME "
    "bounded value-dimension histogram; negative correction floored "
    "toward zero explicitly (negative-DIV discipline). The downweight "
    "member of the robust family beside trimmed_stats and mad_stats.",
)
def q_huber_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    h = ev.selectExpr(
        "event_type", "CAST(floor(value * 100e0) AS BIGINT) AS cents"
    ).groupBy("event_type", "cents").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("c")
    ).localCheckpoint(eager=False)
    c = h.selectExpr(
        "event_type", "cents", "c",
        "sum(c) OVER (PARTITION BY event_type ORDER BY cents"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw",
        "sum(c) OVER (PARTITION BY event_type) AS n",
    )
    m = c.groupBy("event_type").agg(
        F.expr("CAST(max(n) AS BIGINT)").alias("n"),
        F.expr(
            "CAST(min(CASE WHEN 2 * cw >= n THEN cents END) AS BIGINT)"
        ).alias("med"),
    )
    d = h.join(m, "event_type").selectExpr(
        "event_type", "abs(cents - med) AS dev", "c"
    ).groupBy("event_type", "dev").agg(
        F.expr("CAST(sum(c) AS BIGINT)").alias("c")
    )
    dc = d.selectExpr(
        "event_type", "dev", "c",
        "sum(c) OVER (PARTITION BY event_type ORDER BY dev"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw",
        "sum(c) OVER (PARTITION BY event_type) AS n",
    )
    mad = dc.groupBy("event_type").agg(
        F.expr(
            "CAST(min(CASE WHEN 2 * cw >= n THEN dev END) AS BIGINT)"
        ).alias("mad")
    )
    psi = (
        h.join(m, "event_type")
        .join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.expr(
                "CAST(sum(c * greatest(least(cents - med, 2 * mad),"
                " -2 * mad)) AS BIGINT)"
            ).alias("psi"),
            F.expr(
                "CAST(sum(c * CASE WHEN abs(cents - med) > 2 * mad"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_clipped"),
        )
    )
    return (
        m.join(mad, "event_type")
        .join(psi, "event_type")
        .selectExpr(
            "event_type", "n", "med AS median_cents", "mad AS mad_cents",
            "n_clipped",
            "CAST(CASE WHEN psi >= 0 THEN med + psi DIV n"
            " ELSE med - ((-psi) DIV n) END AS BIGINT) AS huber_cents",
        )
    )


# --- R270: revenue streaks (gaps-and-islands) -------------------------------------------
#
# The classic gaps-and-islands reduction: maximal runs of consecutive
# days with daily revenue above the global FLOORED-MEAN threshold,
# via the day - row_number() grouping key on the bounded calendar —
# longest streak, streak count, and total above-days per side of the
# threshold. One window pass + one keyed agg; never row-adjacent
# self-joins.


@register(
    "revenue_streaks",
    f"""
WITH st_daily AS (
  SELECT date_diff('microsecond', TIMESTAMP '1970-01-01', o_orderdate)
           // {_DAY_US} AS day,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1),
st_cal AS (
  SELECT unnest(range(min(day), max(day) + 1)) AS day FROM st_daily),
st_s AS (
  SELECT c.day, coalesce(d.v, 0) AS v
  FROM st_cal c LEFT JOIN st_daily d ON d.day = c.day),
st_mu AS (
  SELECT CAST(sum(v) AS BIGINT) // count(*) AS mu FROM st_s),
st_f AS (
  SELECT day, CASE WHEN v > (SELECT mu FROM st_mu) THEN 1 ELSE 0 END
           AS hot
  FROM st_s),
st_g AS (
  SELECT hot, day - row_number() OVER (PARTITION BY hot ORDER BY day)
           AS grp, day
  FROM st_f),
st_runs AS (
  SELECT hot, grp, CAST(count(*) AS BIGINT) AS len,
         CAST(min(day) AS BIGINT) AS start_day
  FROM st_g GROUP BY 1, 2)
SELECT CAST(hot AS BIGINT) AS hot,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(sum(len) AS BIGINT) AS n_days,
       CAST(max(len) AS BIGINT) AS longest,
       CAST(min(CASE WHEN len = (SELECT max(r2.len) FROM st_runs r2
         WHERE r2.hot = st_runs.hot) THEN start_day END) AS BIGINT)
         AS longest_start
FROM st_runs GROUP BY 1
""",
    doc="Gaps-and-islands over the zero-densified daily revenue "
    "calendar: maximal runs above/below the floored-mean threshold "
    "via the day - row_number() grouping key — longest streak with "
    "its earliest start day, run counts, day totals. One window pass "
    "+ one keyed agg on the bounded calendar.",
)
def q_revenue_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" o_orderdate) DIV {_DAY_US} AS day",
            "CAST(floor(o_totalprice) AS BIGINT) AS dollars",
        )
        .groupBy("day")
        .agg(F.expr("CAST(sum(dollars) AS BIGINT)").alias("v"))
        .localCheckpoint(eager=False)
    )
    cal = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).selectExpr("explode(sequence(d0, d1)) AS day")
    s = cal.join(daily, "day", "left").selectExpr(
        "day", "coalesce(v, CAST(0 AS BIGINT)) AS v"
    )
    mu = s.agg(
        F.expr("CAST(sum(v) AS BIGINT) DIV count(*)").alias("mu")
    )
    f = s.crossJoin(F.broadcast(mu)).selectExpr(
        "day", "CASE WHEN v > mu THEN 1 ELSE 0 END AS hot"
    )
    g = f.selectExpr(
        "hot",
        "day - row_number() OVER (PARTITION BY hot ORDER BY day) AS grp",
        "day",
    )
    runs = g.groupBy("hot", "grp").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("len"),
        F.expr("CAST(min(day) AS BIGINT)").alias("start_day"),
    ).localCheckpoint(eager=False)
    mx = runs.groupBy("hot").agg(F.expr("max(len)").alias("mxlen"))
    return (
        runs.join(mx, "hot")
        .groupBy("hot")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_runs"),
            F.expr("CAST(sum(len) AS BIGINT)").alias("n_days"),
            F.expr("CAST(max(len) AS BIGINT)").alias("longest"),
            F.expr(
                "CAST(min(CASE WHEN len = mxlen THEN start_day END)"
                " AS BIGINT)"
            ).alias("longest_start"),
        )
        .selectExpr(
            "CAST(hot AS BIGINT) AS hot", "n_runs", "n_days",
            "longest", "longest_start",
        )
    )


# --- R271: ABC (Pareto) classification ---------------------------------------------------
#
# Inventory/catalog ABC analysis the scale-correct way: parts are
# classed by the VALUE-histogram of their revenue, not by a global
# rank — class A = parts whose per-part revenue >= the value v where
# the revenue-share accumulated from the top crosses 80%, B = to 95%,
# C = rest (ties at the cut all take the better class: value-keyed
# determinism, no per-part rank). One (part) agg -> one bounded
# value-histogram window pass -> class rollup.


@register(
    "abc_classification",
    """
WITH ab_p AS (
  SELECT l_partkey,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
           AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem GROUP BY 1),
ab_h AS (
  SELECT rev, CAST(count(*) AS BIGINT) AS c,
         CAST(sum(rev) AS BIGINT) AS mass
  FROM ab_p GROUP BY 1),
ab_c AS (
  SELECT rev, c, mass,
         sum(mass) OVER (ORDER BY rev DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
         sum(mass) OVER () AS tot
  FROM ab_h),
ab_cuts AS (
  SELECT CAST(max(CASE WHEN 100 * cm >= 80 * tot THEN rev END)
           AS BIGINT) AS v80,
         CAST(max(CASE WHEN 100 * cm >= 95 * tot THEN rev END)
           AS BIGINT) AS v95,
         CAST(max(tot) AS BIGINT) AS tot
  FROM ab_c)
SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev) AS BIGINT) AS revenue,
       CAST((1000 * sum(rev)) // max(tot) AS BIGINT) AS share_milli
FROM (
  SELECT p.rev, t.tot,
         CASE WHEN p.rev >= t.v80 THEN 'A'
              WHEN p.rev >= t.v95 THEN 'B' ELSE 'C' END AS cls
  FROM ab_p p CROSS JOIN ab_cuts t)
GROUP BY cls
""",
    doc="ABC/Pareto classification of parts by revenue via the "
    "value-dimension histogram (no global per-part rank): cut values "
    "where top-accumulated revenue share crosses 80%/95%, ties take "
    "the better class, per-class part counts + exact revenue shares. "
    "One part agg + one bounded histogram window.",
)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _t(spark, sf_dir, "lineitem")
        .selectExpr(
            "l_partkey",
            "CAST(floor(l_extendedprice * (1e0 - l_discount)) AS BIGINT)"
            " AS d",
        )
        .groupBy("l_partkey")
        .agg(F.expr("CAST(sum(d) AS BIGINT)").alias("rev"))
        .localCheckpoint(eager=False)
    )
    h = p.groupBy("rev").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("c"),
        F.expr("CAST(sum(rev) AS BIGINT)").alias("mass"),
    )
    c = h.selectExpr(
        "rev", "c", "mass",
        "sum(mass) OVER (ORDER BY rev DESC"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm",
        "sum(mass) OVER () AS tot",
    )
    cuts = c.agg(
        F.expr(
            "CAST(max(CASE WHEN 100 * cm >= 80 * tot THEN rev END)"
            " AS BIGINT)"
        ).alias("v80"),
        F.expr(
            "CAST(max(CASE WHEN 100 * cm >= 95 * tot THEN rev END)"
            " AS BIGINT)"
        ).alias("v95"),
        F.expr("CAST(max(tot) AS BIGINT)").alias("tot"),
    )
    return (
        p.crossJoin(F.broadcast(cuts))
        .selectExpr(
            "rev", "tot",
            "CASE WHEN rev >= v80 THEN 'A'"
            " WHEN rev >= v95 THEN 'B' ELSE 'C' END AS cls",
        )
        .groupBy("cls")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_parts"),
            F.expr("CAST(sum(rev) AS BIGINT)").alias("revenue"),
            F.expr(
                "CAST((1000 * sum(rev)) DIV max(tot) AS BIGINT)"
            ).alias("share_milli"),
        )
    )


# --- R273: Simpson's-paradox detector ----------------------------------------------------
#
# The classic aggregation trap, audited: the sign of the association
# between discount and quantity, pooled vs within each return flag.
# Association = exact integer covariance numerator n*sum(xy) -
# sum(x)*sum(y) (x = discount milli, y = quantity units — both
# bounded, products < 2^63 at any SF). A pooled sign disagreeing with
# every within-group sign IS the paradox; either way the audit emits
# the full sign table so the analyst sees reversal or consistency.
# One scan to (flag) cells + one pooled row.


@register(
    "simpson_paradox",
    """
WITH sx_r AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_discount * 1000e0) AS BIGINT) AS x,
         CAST(floor(l_quantity + 0.5e0) AS BIGINT) AS y
  FROM lineitem),
sx_g AS (
  SELECT flag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM sx_r GROUP BY 1
  UNION ALL
  SELECT '_pooled', CAST(count(*) AS BIGINT),
         CAST(sum(x) AS BIGINT), CAST(sum(y) AS BIGINT),
         CAST(sum(x * y) AS BIGINT)
  FROM sx_r)
SELECT flag, n,
       CAST(CASE WHEN n * sxy > sx * sy THEN 1
                 WHEN n * sxy < sx * sy THEN -1 ELSE 0 END AS BIGINT)
         AS cov_sign,
       CAST((1000 * sx) // n AS BIGINT) AS mean_x_milli,
       CAST((1000 * sy) // n AS BIGINT) AS mean_y_milli
FROM sx_g
""",
    doc="Simpson's-paradox audit of the discount→quantity association: "
    "exact integer covariance numerator sign per return flag AND "
    "pooled — a pooled sign contradicting every group is the paradox; "
    "the audit emits the full sign table either way. One scan to "
    "bounded cells.",
)
def q_simpson_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag AS flag",
        "CAST(floor(l_discount * 1000e0) AS BIGINT) AS x",
        "CAST(floor(l_quantity + 0.5e0) AS BIGINT) AS y",
    ).localCheckpoint(eager=False)
    g = r.groupBy("flag").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(x) AS BIGINT)").alias("sx"),
        F.expr("CAST(sum(y) AS BIGINT)").alias("sy"),
        F.expr("CAST(sum(x * y) AS BIGINT)").alias("sxy"),
    )
    pooled = r.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(x) AS BIGINT)").alias("sx"),
        F.expr("CAST(sum(y) AS BIGINT)").alias("sy"),
        F.expr("CAST(sum(x * y) AS BIGINT)").alias("sxy"),
    ).selectExpr("'_pooled' AS flag", "n", "sx", "sy", "sxy")
    return g.unionByName(pooled).selectExpr(
        "flag", "n",
        "CAST(CASE WHEN n * sxy > sx * sy THEN 1"
        " WHEN n * sxy < sx * sy THEN -1 ELSE 0 END AS BIGINT)"
        " AS cov_sign",
        "CAST((1000 * sx) DIV n AS BIGINT) AS mean_x_milli",
        "CAST((1000 * sy) DIV n AS BIGINT) AS mean_y_milli",
    )


# --- R274: arc price elasticity ladder -----------------------------------------------------
#
# The economist's unit-free demand-response measure without logs: arc
# (midpoint) elasticity between ADJACENT discount buckets, epsilon =
# ((q2-q1)/(q2+q1)) / ((p2-p1)/(p2+p1)) with p = mean net price milli
# and q = mean quantity milli per bucket, both floored — signed exact
# rational emitted as sign + abs milli via full cross-multiplication
# (no negative division anywhere). The 11-value discount dimension is
# bounded; everything after one scan is arithmetic.


@register(
    "arc_elasticity",
    """
WITH ae_b AS (
  SELECT CAST(floor(l_discount * 100e0) AS BIGINT) AS disc,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount)
           * 100e0) AS BIGINT)) AS BIGINT) AS cents,
         CAST(sum(CAST(floor(l_quantity + 0.5e0) AS BIGINT)) AS BIGINT)
           AS qty
  FROM lineitem GROUP BY 1),
ae_m AS (
  SELECT disc, n, (1000 * cents) // n AS p, (1000 * qty) // n AS q
  FROM ae_b),
ae_adj AS (
  SELECT a.disc AS d1, b.disc AS d2, a.n + b.n AS n_rows,
         a.p AS p1, b.p AS p2, a.q AS q1, b.q AS q2
  FROM ae_m a JOIN ae_m b ON b.disc = a.disc + 1)
SELECT CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(p1 AS BIGINT) AS p1_milli, CAST(p2 AS BIGINT) AS p2_milli,
       CAST(q1 AS BIGINT) AS q1_milli, CAST(q2 AS BIGINT) AS q2_milli,
       CAST(CASE WHEN (q2 - q1) * (p2 - p1) > 0 THEN 1
                 WHEN (q2 - q1) * (p2 - p1) < 0 THEN -1
                 ELSE 0 END AS BIGINT) AS eps_sign,
       CAST((1000 * abs(q2 - q1) * (p2 + p1))
         // (abs(p2 - p1) * (q2 + q1)) AS BIGINT) AS eps_abs_milli
FROM ae_adj
""",
    doc="Arc (midpoint) price elasticity between adjacent discount "
    "buckets: epsilon = ((q2-q1)(p2+p1)) / ((p2-p1)(q2+q1)) with "
    "floored per-bucket mean net price / quantity milli, sign via "
    "cross-multiplication (no negative DIV), on the bounded 11-value "
    "discount dimension. The unit-free demand-response ladder.",
)
def q_arc_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _t(spark, sf_dir, "lineitem").selectExpr(
        "CAST(floor(l_discount * 100e0) AS BIGINT) AS disc",
        "CAST(floor(l_extendedprice * (1e0 - l_discount) * 100e0)"
        " AS BIGINT) AS cents",
        "CAST(floor(l_quantity + 0.5e0) AS BIGINT) AS qty",
    ).groupBy("disc").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(cents) AS BIGINT)").alias("cents"),
        F.expr("CAST(sum(qty) AS BIGINT)").alias("qty"),
    )
    m = b.selectExpr(
        "disc", "n", "(1000 * cents) DIV n AS p", "(1000 * qty) DIV n AS q"
    ).localCheckpoint(eager=False)
    a = m.selectExpr("disc AS d1", "n AS na", "p AS p1", "q AS q1")
    bb = m.selectExpr("disc AS d2", "n AS nb", "p AS p2", "q AS q2")
    adj = a.join(bb, F.expr("d2 = d1 + 1"))
    return adj.selectExpr(
        "CAST(d1 AS BIGINT) AS d1", "CAST(d2 AS BIGINT) AS d2",
        "CAST(na + nb AS BIGINT) AS n_rows",
        "CAST(p1 AS BIGINT) AS p1_milli", "CAST(p2 AS BIGINT) AS p2_milli",
        "CAST(q1 AS BIGINT) AS q1_milli", "CAST(q2 AS BIGINT) AS q2_milli",
        "CAST(CASE WHEN (q2 - q1) * (p2 - p1) > 0 THEN 1"
        " WHEN (q2 - q1) * (p2 - p1) < 0 THEN -1 ELSE 0 END AS BIGINT)"
        " AS eps_sign",
        "CAST((1000 * abs(q2 - q1) * (p2 + p1))"
        " DIV (abs(p2 - p1) * (q2 + q1)) AS BIGINT) AS eps_abs_milli",
    )


# --- R275: newsvendor optimal stocking quantile --------------------------------------
#
# The canonical stochastic-inventory result (critical fractile): with
# unit sale price 3 and unit cost 1, the profit-maximizing stock is
# the 2/3 demand quantile. Demand = zero-densified daily quantity per
# return flag; the quantile is the histogram crossing (least q with
# 3*cum >= 2*N over the bounded daily-demand value dimension), and the
# expected profit at q* is EXACT from the same cumulative pass:
# E[min(D,q)] * N = sum_{d<=q} d*c_d + q*(N - cum(q)). Negative-safe:
# the per-day profit is emitted as a sign + abs milli pair.


@register(
    "newsvendor",
    f"""
WITH nv_daily AS (
  SELECT l_returnflag AS flag,
         date_diff('microsecond', TIMESTAMP '1970-01-01', l_shipdate)
           // {_DAY_US} AS day,
         CAST(sum(CAST(floor(l_quantity + 0.5e0) AS BIGINT)) AS BIGINT)
           AS d
  FROM lineitem GROUP BY 1, 2),
nv_cal AS (
  SELECT f.flag, c.day
  FROM (SELECT DISTINCT flag FROM nv_daily) f
  CROSS JOIN (SELECT unnest(range((SELECT min(day) FROM nv_daily),
    (SELECT max(day) FROM nv_daily) + 1)) AS day) c),
nv_s AS (
  SELECT c.flag, c.day, coalesce(x.d, 0) AS d
  FROM nv_cal c LEFT JOIN nv_daily x
    ON x.flag = c.flag AND x.day = c.day),
nv_h AS (
  SELECT flag, d, CAST(count(*) AS BIGINT) AS c
  FROM nv_s GROUP BY 1, 2),
nv_c AS (
  SELECT flag, d, c,
         sum(c) OVER (PARTITION BY flag ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(c * d) OVER (PARTITION BY flag ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cmass,
         sum(c) OVER (PARTITION BY flag) AS n
  FROM nv_h),
nv_q AS (
  SELECT flag, CAST(max(n) AS BIGINT) AS n,
         CAST(min(CASE WHEN 3 * cw >= 2 * n THEN d END) AS BIGINT)
           AS q_star
  FROM nv_c GROUP BY 1),
nv_e AS (
  SELECT q.flag, q.n, q.q_star,
         CAST(max(CASE WHEN c.d <= q.q_star THEN c.cmass END)
           + q.q_star * (q.n - max(CASE WHEN c.d <= q.q_star
             THEN c.cw END)) AS BIGINT) AS emin_n
  FROM nv_q q JOIN nv_c c ON c.flag = q.flag
  GROUP BY 1, 2, 3)
SELECT flag, n AS n_days, q_star, emin_n,
       CAST(CASE WHEN 3 * emin_n >= q_star * n THEN 1 ELSE -1 END
         AS BIGINT) AS profit_sign,
       CAST((1000 * abs(3 * emin_n - q_star * n)) // n AS BIGINT)
         AS profit_abs_milli
FROM nv_e
""",
    doc="Newsvendor critical fractile (price 3, cost 1 → 2/3 demand "
    "quantile) on zero-densified daily quantity per flag: histogram-"
    "crossing quantile + EXACT expected profit from the same "
    "cumulative pass (E[min(D,q)]·N = sum d·c + q·tail), sign + milli "
    "per day. The stochastic-inventory classic as one bounded "
    "histogram window.",
)
def q_newsvendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "lineitem")
        .selectExpr(
            "l_returnflag AS flag",
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" l_shipdate) DIV {_DAY_US} AS day",
            "CAST(floor(l_quantity + 0.5e0) AS BIGINT) AS q",
        )
        .groupBy("flag", "day")
        .agg(F.expr("CAST(sum(q) AS BIGINT)").alias("d"))
        .localCheckpoint(eager=False)
    )
    ext = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = (
        daily.select("flag").distinct()
        .crossJoin(F.broadcast(ext))
        .selectExpr("flag", "explode(sequence(d0, d1)) AS day")
    )
    s = cal.join(daily, ["flag", "day"], "left").selectExpr(
        "flag", "day", "coalesce(d, CAST(0 AS BIGINT)) AS d"
    )
    h = s.groupBy("flag", "d").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("c")
    )
    c = h.selectExpr(
        "flag", "d", "c",
        "sum(c) OVER (PARTITION BY flag ORDER BY d"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw",
        "sum(c * d) OVER (PARTITION BY flag ORDER BY d"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cmass",
        "sum(c) OVER (PARTITION BY flag) AS n",
    ).localCheckpoint(eager=False)
    q = c.groupBy("flag").agg(
        F.expr("CAST(max(n) AS BIGINT)").alias("nq"),
        F.expr(
            "CAST(min(CASE WHEN 3 * cw >= 2 * n THEN d END) AS BIGINT)"
        ).alias("q_star"),
    )
    e = (
        q.join(c.select("flag", "d", "cw", "cmass"), "flag")
        .groupBy("flag")
        .agg(
            F.expr("CAST(max(nq) AS BIGINT)").alias("n"),
            F.expr("CAST(max(q_star) AS BIGINT)").alias("q_star"),
            F.expr(
                "CAST(max(CASE WHEN d <= q_star THEN cmass END)"
                " + max(q_star) * (max(nq) - max(CASE WHEN d <= q_star"
                " THEN cw END)) AS BIGINT)"
            ).alias("emin_n"),
        )
    )
    return e.selectExpr(
        "flag", "n AS n_days", "q_star", "emin_n",
        "CAST(CASE WHEN 3 * emin_n >= q_star * n THEN 1 ELSE -1 END"
        " AS BIGINT) AS profit_sign",
        "CAST((1000 * abs(3 * emin_n - q_star * n)) DIV n AS BIGINT)"
        " AS profit_abs_milli",
    )


# --- R276: Laspeyres / Paasche / Fisher price index --------------------------------------
#
# The index-number triad (the CPI machinery): split the extent at the
# mid shipdate, per part and epoch compute the floored unit net price
# (milli-cents per unit), keep parts traded in BOTH epochs, and emit
# Laspeyres (base-quantity weights), Paasche (current weights), and
# Fisher (geometric mean via exact isqrt of L*P) in milli. Bounded by
# the part dimension; one scan + one part-keyed self-join.


@register(
    "price_index",
    f"""
WITH pi_mid AS (
  SELECT (min(date_diff('microsecond', TIMESTAMP '1970-01-01',
           l_shipdate) // {_DAY_US})
        + max(date_diff('microsecond', TIMESTAMP '1970-01-01',
           l_shipdate) // {_DAY_US}) + 1) // 2 AS m
  FROM lineitem),
pi_pe AS (
  SELECT l_partkey AS part,
         CASE WHEN date_diff('microsecond', TIMESTAMP '1970-01-01',
           l_shipdate) // {_DAY_US} < (SELECT m FROM pi_mid)
           THEN 0 ELSE 1 END AS ep,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount)
           * 100e0) AS BIGINT)) AS BIGINT) AS cents,
         CAST(sum(CAST(floor(l_quantity + 0.5e0) AS BIGINT)) AS BIGINT)
           AS qty
  FROM lineitem GROUP BY 1, 2),
pi_p AS (
  SELECT part, ep, qty, (1000 * cents) // qty AS p
  FROM pi_pe WHERE qty > 0),
pi_j AS (
  SELECT a.part, a.p AS p0, a.qty AS q0, b.p AS p1, b.qty AS q1
  FROM pi_p a JOIN pi_p b ON b.part = a.part
  WHERE a.ep = 0 AND b.ep = 1),
pi_s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_parts,
         CAST(sum(p1 * q0) AS BIGINT) AS l_num,
         CAST(sum(p0 * q0) AS BIGINT) AS l_den,
         CAST(sum(p1 * q1) AS BIGINT) AS p_num,
         CAST(sum(p0 * q1) AS BIGINT) AS p_den
  FROM pi_j),
pi_i AS (
  SELECT n_parts,
         (1000 * l_num) // l_den AS lasp,
         (1000 * p_num) // p_den AS paas
  FROM pi_s),
pi_f AS (
  SELECT *, lasp * paas AS v,
         CAST(floor(sqrt(CAST(lasp * paas AS DOUBLE))) AS BIGINT) AS s0
  FROM pi_i)
SELECT n_parts, CAST(lasp AS BIGINT) AS laspeyres_milli,
       CAST(paas AS BIGINT) AS paasche_milli,
       CAST((CASE WHEN (s0 + 1) * (s0 + 1) <= v THEN s0 + 1
                  WHEN s0 * s0 > v THEN s0 - 1 ELSE s0 END) AS BIGINT)
         AS fisher_milli
FROM pi_f
""",
    doc="Index-number triad between the two halves of the shipdate "
    "extent: per-part floored unit net prices (milli-cents/unit), "
    "parts traded in both epochs, Laspeyres (base weights), Paasche "
    "(current weights), Fisher via exact isqrt of L*P — the CPI "
    "machinery as one scan + one part-keyed self-join.",
)
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey AS part",
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        f" l_shipdate) DIV {_DAY_US} AS day",
        "CAST(floor(l_extendedprice * (1e0 - l_discount) * 100e0)"
        " AS BIGINT) AS cents",
        "CAST(floor(l_quantity + 0.5e0) AS BIGINT) AS qty",
    ).localCheckpoint(eager=False)
    mid = rows.agg(
        F.expr("(min(day) + max(day) + 1) DIV 2").alias("m")
    )
    pe = (
        rows.crossJoin(F.broadcast(mid))
        .selectExpr(
            "part", "CASE WHEN day < m THEN 0 ELSE 1 END AS ep",
            "cents", "qty",
        )
        .groupBy("part", "ep")
        .agg(
            F.expr("CAST(sum(cents) AS BIGINT)").alias("cents"),
            F.expr("CAST(sum(qty) AS BIGINT)").alias("qty"),
        )
        .where("qty > 0")
        .selectExpr("part", "ep", "qty", "(1000 * cents) DIV qty AS p")
        .localCheckpoint(eager=False)
    )
    a = pe.where("ep = 0").selectExpr(
        "part", "p AS p0", "qty AS q0"
    )
    b = pe.where("ep = 1").selectExpr(
        "part AS pb", "p AS p1", "qty AS q1"
    )
    j = a.join(b, F.expr("pb = part"))
    s = j.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_parts"),
        F.expr("CAST(sum(p1 * q0) AS BIGINT)").alias("l_num"),
        F.expr("CAST(sum(p0 * q0) AS BIGINT)").alias("l_den"),
        F.expr("CAST(sum(p1 * q1) AS BIGINT)").alias("p_num"),
        F.expr("CAST(sum(p0 * q1) AS BIGINT)").alias("p_den"),
    )
    i = s.selectExpr(
        "n_parts",
        "(1000 * l_num) DIV l_den AS lasp",
        "(1000 * p_num) DIV p_den AS paas",
    ).selectExpr(
        "n_parts", "lasp", "paas", "lasp * paas AS v",
        "CAST(floor(sqrt(CAST(lasp * paas AS DOUBLE))) AS BIGINT) AS s0",
    )
    return i.selectExpr(
        "n_parts", "CAST(lasp AS BIGINT) AS laspeyres_milli",
        "CAST(paas AS BIGINT) AS paasche_milli",
        "CAST((CASE WHEN (s0 + 1) * (s0 + 1) <= v THEN s0 + 1"
        " WHEN s0 * s0 > v THEN s0 - 1 ELSE s0 END) AS BIGINT)"
        " AS fisher_milli",
    )


# --- R277: Friedman blocked-rank test ------------------------------------------------------
#
# The blocked nonparametric k-treatment test (Friedman 1937 — the
# repeated-measures sibling of kruskal_wallis): blocks = customers
# holding ALL 5 order priorities, treatment value = total spend in
# exact cents, within-block ranks 1..5 (deterministic: spend ASC,
# priority ASC ties — no midranks, documented), chi2_F =
# 12/(n k (k+1)) * sum R_j^2 - 3 n (k+1) exact in milli. Complete
# blocks only, per the textbook design; one customer-keyed rank window
# over a <=5-row dimension per block.


@register(
    "friedman_test",
    """
WITH fr_cp AS (
  SELECT o_custkey AS cust, o_orderpriority AS prio,
         CAST(sum(CAST(floor(o_totalprice * 100e0) AS BIGINT))
           AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2),
fr_full AS (
  SELECT cust FROM fr_cp GROUP BY cust HAVING count(*) = 5),
fr_r AS (
  SELECT c.cust, c.prio,
         row_number() OVER (PARTITION BY c.cust
           ORDER BY c.cents, c.prio) AS rk
  FROM fr_cp c JOIN fr_full f ON f.cust = c.cust),
fr_j AS (
  SELECT prio, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rk) AS BIGINT) AS r_j
  FROM fr_r GROUP BY 1),
fr_t AS (
  SELECT CAST(max(n) AS BIGINT) AS n,
         CAST(sum(r_j * r_j) AS BIGINT) AS sr2
  FROM fr_j)
SELECT j.prio, j.r_j,
       CAST((1000 * j.r_j) // t.n AS BIGINT) AS mean_rank_milli,
       t.n AS n_blocks,
       CAST((12000 * t.sr2) // (t.n * 5 * 6) - 3000 * t.n * 6
         AS BIGINT) AS chi2_milli
FROM fr_j j CROSS JOIN fr_t t
""",
    doc="Friedman blocked-rank test across the 5 order priorities: "
    "blocks = customers holding all 5, within-block deterministic "
    "ranks of exact-cents spend (spend ASC, priority ties ASC — "
    "documented, no midranks), chi2 = 12/(nk(k+1))*sum R_j^2 - "
    "3n(k+1) exact in milli. The repeated-measures sibling of "
    "kruskal_wallis; complete blocks per the textbook design.",
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    cp = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "o_custkey AS cust", "o_orderpriority AS prio",
            "CAST(floor(o_totalprice * 100e0) AS BIGINT) AS cents",
        )
        .groupBy("cust", "prio")
        .agg(F.expr("CAST(sum(cents) AS BIGINT)").alias("cents"))
        .localCheckpoint(eager=False)
    )
    full = cp.groupBy("cust").agg(
        F.expr("count(*)").alias("k")
    ).where("k = 5").select("cust")
    r = cp.join(full, "cust").selectExpr(
        "cust", "prio",
        "row_number() OVER (PARTITION BY cust"
        " ORDER BY cents, prio) AS rk",
    )
    j = r.groupBy("prio").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(rk) AS BIGINT)").alias("r_j"),
    )
    t = j.agg(
        F.expr("CAST(max(n) AS BIGINT)").alias("nt"),
        F.expr("CAST(sum(r_j * r_j) AS BIGINT)").alias("sr2"),
    )
    return j.select("prio", "r_j").crossJoin(
        F.broadcast(t)
    ).selectExpr(
        "prio", "r_j",
        "CAST((1000 * r_j) DIV nt AS BIGINT) AS mean_rank_milli",
        "nt AS n_blocks",
        "CAST((12000 * sr2) DIV (nt * 5 * 6) - 3000 * nt * 6 AS BIGINT)"
        " AS chi2_milli",
    )


# --- R279: Page trend test (ordered alternatives) -----------------------------------------
#
# Page 1963: given friedman_test's blocked ranks, test for a MONOTONE
# trend across the naturally ordered priorities 1-URGENT..5-LOW
# (lexicographic == numeric here). L = sum j * R_j; under the null
# E[L] = n k (k+1)^2 / 4 and Var[L] = n k^2 (k+1)(k^2-1) / 144 — for
# k = 5: E = 45n, Var = 25n. z^2 in milli via the one-sided sign
# split (no negative division). Same deterministic complete-block
# ranks as friedman_test; one extra weighted sum.


@register(
    "page_trend",
    """
WITH pg_cp AS (
  SELECT o_custkey AS cust, o_orderpriority AS prio,
         CAST(sum(CAST(floor(o_totalprice * 100e0) AS BIGINT))
           AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2),
pg_full AS (
  SELECT cust FROM pg_cp GROUP BY cust HAVING count(*) = 5),
pg_r AS (
  SELECT c.cust, c.prio,
         row_number() OVER (PARTITION BY c.cust
           ORDER BY c.cents, c.prio) AS rk
  FROM pg_cp c JOIN pg_full f ON f.cust = c.cust),
pg_j AS (
  SELECT prio, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rk) AS BIGINT) AS r_j,
         CAST(CAST(substr(prio, 1, 1) AS BIGINT) AS BIGINT) AS j
  FROM pg_r GROUP BY 1)
SELECT CAST(max(n) AS BIGINT) AS n_blocks,
       CAST(sum(j * r_j) AS BIGINT) AS l_stat,
       CAST(45 * max(n) AS BIGINT) AS e_l,
       CAST(CASE WHEN sum(j * r_j) >= 45 * max(n) THEN 1 ELSE -1 END
         AS BIGINT) AS trend_sign,
       CAST((1000 * (sum(j * r_j) - 45 * max(n))
         * (sum(j * r_j) - 45 * max(n))) // (25 * max(n)) AS BIGINT)
         AS z2_milli
FROM pg_j
""",
    doc="Page's trend test for ordered alternatives across the 5 "
    "priorities: L = sum j*R_j over friedman_test's deterministic "
    "complete-block ranks, exact null moments (E=45n, Var=25n for "
    "k=5), z^2 milli with an explicit sign column (squares are "
    "sign-safe). Detects monotone spend ordering that Friedman's "
    "omnibus chi2 dilutes.",
)
def q_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    cp = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "o_custkey AS cust", "o_orderpriority AS prio",
            "CAST(floor(o_totalprice * 100e0) AS BIGINT) AS cents",
        )
        .groupBy("cust", "prio")
        .agg(F.expr("CAST(sum(cents) AS BIGINT)").alias("cents"))
        .localCheckpoint(eager=False)
    )
    full = cp.groupBy("cust").agg(F.expr("count(*)").alias("k")).where(
        "k = 5"
    ).select("cust")
    r = cp.join(full, "cust").selectExpr(
        "cust", "prio",
        "row_number() OVER (PARTITION BY cust"
        " ORDER BY cents, prio) AS rk",
    )
    j = r.groupBy("prio").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(rk) AS BIGINT)").alias("r_j"),
    ).selectExpr(
        "prio", "n", "r_j",
        "CAST(substr(prio, 1, 1) AS BIGINT) AS j",
    )
    return j.agg(
        F.expr("CAST(max(n) AS BIGINT)").alias("n_blocks"),
        F.expr("CAST(sum(j * r_j) AS BIGINT)").alias("l_stat"),
    ).selectExpr(
        "n_blocks", "l_stat",
        "CAST(45 * n_blocks AS BIGINT) AS e_l",
        "CAST(CASE WHEN l_stat >= 45 * n_blocks THEN 1 ELSE -1 END"
        " AS BIGINT) AS trend_sign",
        "CAST((1000 * (l_stat - 45 * n_blocks)"
        " * (l_stat - 45 * n_blocks)) DIV (25 * n_blocks) AS BIGINT)"
        " AS z2_milli",
    )


# --- R280: XmR (individuals + moving range) control chart ----------------------------------
#
# The Shewhart individuals chart (XmR — the SPC default when each day
# is one observation): moving range MR_t = |v_t - v_{t-1}| on
# zero-densified daily kilodollar revenue, center lines as floored
# means, control limits x_bar +- 2660*MR_bar/1000 (E2 = 2.660 for
# n = 2, the standard constant, embedded in milli) and the MR upper
# limit 3267*MR_bar/1000 (D4 = 3.267). One lag window + one agg; the
# out-of-control day counts are the chart's reading. The Shewhart
# member of the monitoring family (cusum: drift, ewma: smoothed,
# sprt: sequential decision).


@register(
    "xmr_chart",
    f"""
WITH xm_daily AS (
  SELECT date_diff('microsecond', TIMESTAMP '1970-01-01', o_orderdate)
           // {_DAY_US} AS day,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000
           AS BIGINT) AS v
  FROM orders GROUP BY 1),
xm_cal AS (
  SELECT unnest(range(min(day), max(day) + 1)) AS day FROM xm_daily),
xm_s AS (
  SELECT c.day, coalesce(d.v, 0) AS v
  FROM xm_cal c LEFT JOIN xm_daily d ON d.day = c.day),
xm_mr AS (
  SELECT day, v,
         abs(v - lag(v) OVER (ORDER BY day)) AS mr
  FROM xm_s),
xm_lim AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) // count(*) AS xbar,
         CAST(sum(mr) AS BIGINT) // (count(*) - 1) AS mrbar
  FROM xm_mr)
SELECT l.n AS n_days, l.xbar, l.mrbar,
       CAST(l.xbar + (2660 * l.mrbar) // 1000 AS BIGINT) AS ucl,
       CAST(l.xbar - (2660 * l.mrbar) // 1000 AS BIGINT) AS lcl,
       CAST(sum(CASE WHEN m.v > l.xbar + (2660 * l.mrbar) // 1000
         THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
       CAST(sum(CASE WHEN m.v < l.xbar - (2660 * l.mrbar) // 1000
         THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
       CAST(sum(CASE WHEN m.mr > (3267 * l.mrbar) // 1000
         THEN 1 ELSE 0 END) AS BIGINT) AS n_mr_above
FROM xm_mr m CROSS JOIN xm_lim l
GROUP BY 1, 2, 3, 4, 5
""",
    doc="XmR individuals control chart on zero-densified daily revenue "
    "(kilodollars): moving range via one lag window, floored center "
    "lines, E2/D4 constants in milli (2660/3267), out-of-control day "
    "counts both sides + MR breaches. The Shewhart member of the "
    "monitoring family beside cell_cusum, ewma_anomalies, and "
    "sprt_monitor.",
)
def q_xmr_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" o_orderdate) DIV {_DAY_US} AS day",
            "CAST(floor(o_totalprice) AS BIGINT) AS dollars",
        )
        .groupBy("day")
        .agg(F.expr("CAST(sum(dollars) DIV 1000 AS BIGINT)").alias("v"))
        .localCheckpoint(eager=False)
    )
    cal = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).selectExpr("explode(sequence(d0, d1)) AS day")
    s = cal.join(daily, "day", "left").selectExpr(
        "day", "coalesce(v, CAST(0 AS BIGINT)) AS v"
    )
    mr = s.selectExpr(
        "day", "v", "abs(v - lag(v) OVER (ORDER BY day)) AS mr"
    ).localCheckpoint(eager=False)
    lim = mr.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(v) AS BIGINT) DIV count(*)").alias("xbar"),
        F.expr(
            "CAST(sum(mr) AS BIGINT) DIV (count(*) - 1)"
        ).alias("mrbar"),
    )
    return (
        mr.crossJoin(F.broadcast(lim))
        .groupBy("n", "xbar", "mrbar")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN v > xbar + (2660 * mrbar) DIV 1000"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_above"),
            F.expr(
                "CAST(sum(CASE WHEN v < xbar - (2660 * mrbar) DIV 1000"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_below"),
            F.expr(
                "CAST(sum(CASE WHEN mr > (3267 * mrbar) DIV 1000"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_mr_above"),
        )
        .selectExpr(
            "n AS n_days", "xbar", "mrbar",
            "CAST(xbar + (2660 * mrbar) DIV 1000 AS BIGINT) AS ucl",
            "CAST(xbar - (2660 * mrbar) DIV 1000 AS BIGINT) AS lcl",
            "n_above", "n_below", "n_mr_above",
        )
    )


# --- R281: HHI supplier-concentration index ------------------------------------------------
#
# The antitrust concentration measure (Herfindahl-Hirschman, in basis
# points as the DOJ reports it): per nation, supplier revenue shares
# squared and summed. Exact integer staging: hhi_bp = (10000 * (sum
# r_i^2 DIV S)) DIV S — the staged double-floor (R236 discipline)
# keeps sum r^2's 10000x scale-up out of the 2^63 danger zone at any
# SF. Revenue in integer dollars (the documented rescale ladder). Two
# keyed aggs after one fact⋈supplier join.


@register(
    "hhi_concentration",
    """
WITH hh_r AS (
  SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
         CAST(sum(CAST(floor(l.l_extendedprice * (1e0 - l.l_discount))
           AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY 1, 2),
hh_n AS (
  SELECT nation, CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(rev) AS BIGINT) AS s,
         CAST(sum(rev * rev) AS BIGINT) AS sr2,
         CAST(max(rev) AS BIGINT) AS top_rev
  FROM hh_r GROUP BY 1)
SELECT CAST(nation AS BIGINT) AS nation, n_suppliers,
       CAST((10000 * (sr2 // s)) // s AS BIGINT) AS hhi_bp,
       CAST((10000 * top_rev) // s AS BIGINT) AS top_share_bp
FROM hh_n
""",
    doc="Herfindahl-Hirschman supplier-concentration index per nation "
    "in basis points (staged double-floor keeps sum r^2's scale-up "
    "under 2^63 at any SF; dollars per the rescale ladder), plus the "
    "top-supplier share. The antitrust measure beside density_gini's "
    "inequality and kind_diversity's Simpson.",
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = (
        _t(spark, sf_dir, "lineitem")
        .join(
            _t(spark, sf_dir, "supplier").selectExpr(
                "s_suppkey", "s_nationkey"
            ),
            F.expr("s_suppkey = l_suppkey"),
        )
        .selectExpr(
            "s_nationkey AS nation", "l_suppkey AS supp",
            "CAST(floor(l_extendedprice * (1e0 - l_discount)) AS BIGINT)"
            " AS d",
        )
        .groupBy("nation", "supp")
        .agg(F.expr("CAST(sum(d) AS BIGINT)").alias("rev"))
    )
    n = r.groupBy("nation").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_suppliers"),
        F.expr("CAST(sum(rev) AS BIGINT)").alias("s"),
        F.expr("CAST(sum(rev * rev) AS BIGINT)").alias("sr2"),
        F.expr("CAST(max(rev) AS BIGINT)").alias("top_rev"),
    )
    return n.selectExpr(
        "CAST(nation AS BIGINT) AS nation", "n_suppliers",
        "CAST((10000 * (sr2 DIV s)) DIV s AS BIGINT) AS hhi_bp",
        "CAST((10000 * top_rev) DIV s AS BIGINT) AS top_share_bp",
    )


# --- R282: unsold-parts coverage gap -------------------------------------------------------
#
# Dimension-keyed gap analysis on the PART side (the relational
# sibling of uncovered_zones' spatial audit): per brand, how many
# catalog parts never appear in lineitem — keyed from the dimension
# (parts) so a bug wiping all sales of a brand FLAGS instead of
# dropping the brand (CLAUDE.md audit discipline). One broadcast-able
# distinct + left anti-join.


@register(
    "unsold_parts",
    """
WITH up_sold AS (SELECT DISTINCT l_partkey FROM lineitem),
up_b AS (
  SELECT p.p_brand AS brand, CAST(count(*) AS BIGINT) AS n_parts,
         CAST(sum(CASE WHEN s.l_partkey IS NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS unsold
  FROM part p LEFT JOIN up_sold s ON s.l_partkey = p.p_partkey
  GROUP BY 1)
SELECT brand, n_parts, unsold,
       CAST((1000 * unsold) // n_parts AS BIGINT) AS unsold_milli
FROM up_b
""",
    doc="Unsold-parts coverage gap per brand: catalog parts never "
    "appearing in lineitem, keyed from the DIMENSION side so an "
    "empty-sales brand flags instead of vanishing (the audit "
    "discipline). Distinct + left anti-join semantics via LEFT JOIN "
    "null-count; broadcast-able sold-keys set.",
)
def q_unsold_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    sold = (
        _t(spark, sf_dir, "lineitem").select("l_partkey").distinct()
    )
    return (
        _t(spark, sf_dir, "part")
        .selectExpr("p_partkey", "p_brand AS brand")
        .join(
            F.broadcast(sold), F.expr("l_partkey = p_partkey"), "left"
        )
        .groupBy("brand")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_parts"),
            F.expr(
                "CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("unsold"),
        )
        .selectExpr(
            "brand", "n_parts", "unsold",
            "(1000 * unsold) DIV n_parts AS unsold_milli",
        )
    )


# --- R284: exact OLS daily-revenue trend ---------------------------------------------------
#
# Parametric least-squares trend per returnflag on the zero-densified
# daily revenue series (kilodollars, the R257 rescale ladder), EXACT in
# integers: deviations about the floored means (dx = x - Sx DIV n) with
# the exact remainder correction, so slope = Sxy/Sxx is the true OLS
# slope as a rational — n*Sxy = n*sum(dx*dy) - rx*ry where rx = sum(dx)
# in [0, n). Staged double-floor (R236/R281 discipline) for the milli
# outputs: sxy = (n*sum dxdy - rx*ry) DIV n stays ~n times smaller than
# the n-scaled numerator, so 1000x fits 2^63 at any SF. r2_milli =
# (slope_abs_milli * |sxy|) DIV syy — exact composition of the two
# floors, bounded by construction (r2 <= 1 up to floor slack). The
# parametric sibling of trend_mk (Mann-Kendall) and theil_sen.


@register(
    "ols_trend",
    f"""
WITH ot_daily AS (
  SELECT l_returnflag AS flag,
         date_diff('microsecond', TIMESTAMP '1970-01-01', l_shipdate)
           // {_DAY_US} AS day,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
           AS BIGINT)) // 1000 AS BIGINT) AS v
  FROM lineitem GROUP BY 1, 2),
ot_cal AS (
  SELECT f.flag, c.day
  FROM (SELECT DISTINCT flag FROM ot_daily) f
  CROSS JOIN (SELECT unnest(range(min(day), max(day) + 1)) AS day
              FROM ot_daily) c),
ot_s AS (
  SELECT c.flag, c.day AS x, coalesce(d.v, 0) AS y
  FROM ot_cal c LEFT JOIN ot_daily d
    ON d.flag = c.flag AND d.day = c.day),
ot_m AS (
  SELECT flag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) // count(*) AS mx,
         CAST(sum(y) AS BIGINT) // count(*) AS my
  FROM ot_s GROUP BY 1),
ot_d AS (
  SELECT s.flag, m.n, s.x - m.mx AS dx, s.y - m.my AS dy
  FROM ot_s s JOIN ot_m m ON m.flag = s.flag),
ot_a AS (
  SELECT flag, any_value(n) AS n,
         CAST(sum(dx * dy) AS BIGINT) AS sdxdy,
         CAST(sum(dx * dx) AS BIGINT) AS sdx2,
         CAST(sum(dy * dy) AS BIGINT) AS sdy2,
         CAST(sum(dx) AS BIGINT) AS rx,
         CAST(sum(dy) AS BIGINT) AS ry
  FROM ot_d GROUP BY 1),
ot_e AS (
  -- negative-DIV discipline: n*sdxdy - rx*ry is the only signed
  -- numerator; floor its |.| so Spark DIV and DuckDB // agree.
  SELECT flag, n,
         CASE WHEN n * sdxdy - rx * ry >= 0 THEN 1 ELSE -1 END AS sg,
         abs(n * sdxdy - rx * ry) // n AS sxy_abs,
         (n * sdx2 - rx * rx) // n AS sxx,
         GREATEST((n * sdy2 - ry * ry) // n, 1) AS syy
  FROM ot_a)
SELECT flag, n AS n_days,
       CAST(sg AS BIGINT) AS slope_sign,
       CAST((1000 * sxy_abs) // sxx AS BIGINT) AS slope_abs_milli,
       CAST((((1000 * sxy_abs) // sxx) * sxy_abs) // syy AS BIGINT)
         AS r2_milli
FROM ot_e
""",
    doc="Exact OLS trend of zero-densified daily revenue (kilodollars) "
    "per returnflag: floored-mean deviations with the exact remainder "
    "correction make slope = Sxy/Sxx the true OLS rational; staged "
    "double-floor milli outputs; r2 as the exact composition "
    "(slope_milli * |sxy|) DIV syy. Parametric sibling of trend_mk / "
    "theil_sen; everything lives on the bounded calendar dimension.",
)
def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "lineitem")
        .selectExpr(
            "l_returnflag AS flag",
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" l_shipdate) DIV {_DAY_US} AS day",
            "CAST(floor(l_extendedprice * (1e0 - l_discount)) AS BIGINT)"
            " AS dollars",
        )
        .groupBy("flag", "day")
        .agg(F.expr("CAST(sum(dollars) DIV 1000 AS BIGINT)").alias("v"))
        .localCheckpoint(eager=False)
    )
    cal = (
        daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .selectExpr("explode(sequence(d0, d1)) AS day")
        .crossJoin(daily.select("flag").distinct())
    )
    s = cal.join(daily, ["flag", "day"], "left").selectExpr(
        "flag", "day AS x", "coalesce(v, CAST(0 AS BIGINT)) AS y"
    )
    m = s.groupBy("flag").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(x) AS BIGINT) DIV count(*)").alias("mx"),
        F.expr("CAST(sum(y) AS BIGINT) DIV count(*)").alias("my"),
    )
    a = (
        s.join(F.broadcast(m), "flag")
        .selectExpr("flag", "n", "x - mx AS dx", "y - my AS dy")
        .groupBy("flag")
        .agg(
            F.expr("any_value(n)").alias("n"),
            F.expr("CAST(sum(dx * dy) AS BIGINT)").alias("sdxdy"),
            F.expr("CAST(sum(dx * dx) AS BIGINT)").alias("sdx2"),
            F.expr("CAST(sum(dy * dy) AS BIGINT)").alias("sdy2"),
            F.expr("CAST(sum(dx) AS BIGINT)").alias("rx"),
            F.expr("CAST(sum(dy) AS BIGINT)").alias("ry"),
        )
    )
    e = a.selectExpr(
        "flag", "n",
        "CASE WHEN n * sdxdy - rx * ry >= 0 THEN 1 ELSE -1 END AS sg",
        "abs(n * sdxdy - rx * ry) DIV n AS sxy_abs",
        "(n * sdx2 - rx * rx) DIV n AS sxx",
        "GREATEST((n * sdy2 - ry * ry) DIV n, CAST(1 AS BIGINT)) AS syy",
    )
    return e.selectExpr(
        "flag", "n AS n_days",
        "CAST(sg AS BIGINT) AS slope_sign",
        "CAST((1000 * sxy_abs) DIV sxx AS BIGINT) AS slope_abs_milli",
        "CAST((((1000 * sxy_abs) DIV sxx) * sxy_abs) DIV syy AS BIGINT)"
        " AS r2_milli",
    )


# --- R286: two-group log-rank survival test ------------------------------------------------
#
# The Mantel-Cox log-rank test beside kaplan_meier's single curve: do
# even- and odd-id user cohorts convert (first view -> first purchase)
# at the same hazard? Same censoring contract as KM (120h horizon +
# end-of-window). Exact integer per-term floors on the bounded <=121-
# row hour dimension (the R258 per-term-floor discipline):
#   e1_t  = d_t * ((1000*n1_t) DIV n_t)            [milli]
#   v_t   = p1m * p2m * (d_t*(n_t-d_t) DIV (n_t-1)) [micro; pgm = per-
#           group milli at-risk share]
#   chi2_milli = (1000*diff*diff) DIV V  with diff = 1000*O1 - E1 milli
# The inner shares are <=1000 at ANY scale, so every product is bounded
# by d_t * 1e6 — no n^2 terms ever form (realistic diff ~ sqrt(n)*1000
# documented). Group split is deterministic (user_id % 2).


@register(
    "logrank_test",
    f"""
WITH lr_fv AS (
  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS g, min(ts) AS fv
  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
lr_end AS (SELECT max(ts) AS tend FROM events),
lr_fp AS (
  SELECT e.user_id, min(e.ts) AS fp
  FROM events e JOIN lr_fv v ON v.user_id = e.user_id AND e.ts > v.fv
  WHERE e.event_type = 'purchase' GROUP BY 1),
lr_obs AS (
  SELECT v.g,
         date_diff('microsecond', v.fv, p.fp) // {_HOUR_US} AS raw_t,
         date_diff('microsecond', v.fv, x.tend) // {_HOUR_US} AS span
  FROM lr_fv v CROSS JOIN lr_end x
  LEFT JOIN lr_fp p ON p.user_id = v.user_id),
lr_tc AS (
  SELECT g,
         CASE WHEN raw_t IS NOT NULL AND raw_t <= 120 AND raw_t <= span
              THEN raw_t ELSE least(120, span) END AS t,
         CASE WHEN raw_t IS NOT NULL AND raw_t <= 120 AND raw_t <= span
              THEN 1 ELSE 0 END AS ev
  FROM lr_obs),
lr_h AS (
  SELECT t,
         CAST(sum(CASE WHEN g = 0 THEN ev ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN g = 1 THEN ev ELSE 0 END) AS BIGINT) AS d2,
         CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
         CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r2
  FROM lr_tc GROUP BY 1),
lr_r AS (
  SELECT t, d1, d2,
         sum(r1) OVER () - (sum(r1) OVER (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - r1)
           AS n1,
         sum(r2) OVER () - (sum(r2) OVER (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - r2)
           AS n2
  FROM lr_h),
lr_terms AS (
  SELECT d1, d2, n1, n2, n1 + n2 AS nt, d1 + d2 AS dt,
         (1000 * n1) // (n1 + n2) AS p1m,
         (1000 * n2) // (n1 + n2) AS p2m
  FROM lr_r WHERE n1 + n2 > 0),
lr_sum AS (
  SELECT CAST(sum(d1) AS BIGINT) AS o1, CAST(sum(d2) AS BIGINT) AS o2,
         CAST(sum(dt * p1m) AS BIGINT) AS e1_milli,
         CAST(sum(p1m * p2m * (dt * (nt - dt) // GREATEST(nt - 1, 1)))
           AS BIGINT) AS v_micro,
         CAST(max(n1) AS BIGINT) AS n1_users,
         CAST(max(n2) AS BIGINT) AS n2_users
  FROM lr_terms)
SELECT n1_users, n2_users, o1, o2, e1_milli, v_micro,
       CAST(CASE WHEN 1000 * o1 - e1_milli >= 0 THEN 1 ELSE -1 END
         AS BIGINT) AS diff_sign,
       CAST((1000 * abs(1000 * o1 - e1_milli) * abs(1000 * o1 - e1_milli))
         // GREATEST(v_micro, 1) AS BIGINT) AS chi2_milli
FROM lr_sum
""",
    doc="Mantel-Cox log-rank test: even vs odd user-id cohorts on the "
    "kaplan_meier view->purchase conversion (same 120h + window "
    "censoring). Per-term integer floors on the bounded hour dimension "
    "keep every product <= d_t*1e6 at any SF; chi2 in milli with the "
    "sign of O1-E1. The two-sample complement of kaplan_meier.",
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").localCheckpoint(eager=False)
    fv = (
        ev.where("event_type = 'view'")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fv"))
        .selectExpr("user_id", "CAST(user_id % 2 AS BIGINT) AS g", "fv")
    )
    tend = ev.agg(F.max("ts").alias("tend"))
    fp = (
        ev.where("event_type = 'purchase'")
        .join(fv.selectExpr("user_id", "fv AS fv2"), "user_id")
        .where("ts > fv2")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
    )
    obs = (
        fv.crossJoin(F.broadcast(tend))
        .join(fp, "user_id", "left")
        .selectExpr(
            "g",
            f"timestampdiff(MICROSECOND, fv, fp) DIV {_HOUR_US} AS raw_t",
            f"timestampdiff(MICROSECOND, fv, tend) DIV {_HOUR_US} AS span",
        )
    )
    tc = obs.selectExpr(
        "g",
        "CASE WHEN raw_t IS NOT NULL AND raw_t <= 120 AND raw_t <= span"
        " THEN raw_t ELSE least(120, span) END AS t",
        "CASE WHEN raw_t IS NOT NULL AND raw_t <= 120 AND raw_t <= span"
        " THEN 1 ELSE 0 END AS ev",
    )
    h = tc.groupBy("t").agg(
        F.expr("CAST(sum(CASE WHEN g = 0 THEN ev ELSE 0 END) AS BIGINT)").alias("d1"),
        F.expr("CAST(sum(CASE WHEN g = 1 THEN ev ELSE 0 END) AS BIGINT)").alias("d2"),
        F.expr("CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)").alias("r1"),
        F.expr("CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)").alias("r2"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    r = h.select(
        "t", "d1", "d2",
        (F.sum("r1").over(wall) - (F.sum("r1").over(w) - F.col("r1"))).alias("n1"),
        (F.sum("r2").over(wall) - (F.sum("r2").over(w) - F.col("r2"))).alias("n2"),
    )
    terms = r.where("n1 + n2 > 0").selectExpr(
        "d1", "d2", "n1", "n2", "n1 + n2 AS nt", "d1 + d2 AS dt",
        "(1000 * n1) DIV (n1 + n2) AS p1m",
        "(1000 * n2) DIV (n1 + n2) AS p2m",
    )
    s = terms.agg(
        F.expr("CAST(sum(d1) AS BIGINT)").alias("o1"),
        F.expr("CAST(sum(d2) AS BIGINT)").alias("o2"),
        F.expr("CAST(sum(dt * p1m) AS BIGINT)").alias("e1_milli"),
        F.expr(
            "CAST(sum(p1m * p2m * (dt * (nt - dt)"
            " DIV GREATEST(nt - 1, CAST(1 AS BIGINT)))) AS BIGINT)"
        ).alias("v_micro"),
        F.expr("CAST(max(n1) AS BIGINT)").alias("n1_users"),
        F.expr("CAST(max(n2) AS BIGINT)").alias("n2_users"),
    )
    return s.selectExpr(
        "n1_users", "n2_users", "o1", "o2", "e1_milli", "v_micro",
        "CAST(CASE WHEN 1000 * o1 - e1_milli >= 0 THEN 1 ELSE -1 END"
        " AS BIGINT) AS diff_sign",
        "CAST((1000 * abs(1000 * o1 - e1_milli)"
        " * abs(1000 * o1 - e1_milli))"
        " DIV GREATEST(v_micro, CAST(1 AS BIGINT)) AS BIGINT)"
        " AS chi2_milli",
    )


# --- R291: Yannakakis semi-join program (acyclic multi-way join) ----------------------------
#
# The classic full-reducer evaluation of an acyclic join (Yannakakis
# 1981): bottom-up semi-joins strip dangling tuples, top-down
# semi-joins finish the reduction, and only THEN does the join run —
# at 100 TB this is the difference between intermediate results
# bounded by the OUTPUT size and a chain join that materializes
# billions of dangling rows. Chain here: region('ASIA') — nation —
# customer — orders(1995H1) — lineitem(qty < 10). The audit emits the
# fully-reduced cardinality of EVERY relation (= rows that appear in
# at least one final join row — the Yannakakis guarantee) beside the
# final join count and exact revenue cents; the oracle re-derives each
# reduction with independent EXISTS subqueries.


@register(
    "yannakakis_chain",
    """
WITH yk_n AS (
  SELECT n.n_nationkey FROM nation n
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'ASIA'),
yk_c AS (
  SELECT c.c_custkey FROM customer c
  JOIN yk_n n ON n.n_nationkey = c.c_nationkey),
yk_o AS (
  SELECT o.o_orderkey FROM orders o
  JOIN yk_c c ON c.c_custkey = o.o_custkey
  WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
    AND o.o_orderdate < TIMESTAMP '1995-07-01'),
yk_l AS (
  SELECT l.l_orderkey,
         CAST(floor(l.l_extendedprice * (1e0 - l.l_discount) * 100e0)
           AS BIGINT) AS cents
  FROM lineitem l
  JOIN yk_o o ON o.o_orderkey = l.l_orderkey
  WHERE l.l_quantity < 10e0),
yk_o2 AS (
  SELECT o_orderkey FROM yk_o
  WHERE EXISTS (SELECT 1 FROM yk_l l WHERE l.l_orderkey = o_orderkey)),
yk_c2 AS (
  SELECT c_custkey FROM yk_c
  WHERE EXISTS (SELECT 1 FROM orders o JOIN yk_o2 k
                ON k.o_orderkey = o.o_orderkey
                WHERE o.o_custkey = c_custkey)),
yk_n2 AS (
  SELECT n_nationkey FROM yk_n
  WHERE EXISTS (SELECT 1 FROM customer c JOIN yk_c2 k
                ON k.c_custkey = c.c_custkey
                WHERE c.c_nationkey = n_nationkey))
SELECT (SELECT CAST(count(*) AS BIGINT) FROM yk_n2) AS n_nation_red,
       (SELECT CAST(count(*) AS BIGINT) FROM yk_c2) AS n_cust_red,
       (SELECT CAST(count(*) AS BIGINT) FROM yk_o2) AS n_orders_red,
       (SELECT CAST(count(*) AS BIGINT) FROM yk_l) AS n_lineitem_red,
       (SELECT CAST(count(*) AS BIGINT) FROM yk_l) AS join_rows,
       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM yk_l)
         AS rev_cents
""",
    doc="Yannakakis full-reducer program over the acyclic chain "
    "region(ASIA)-nation-customer-orders(1995H1)-lineitem(qty<10): "
    "bottom-up then top-down LEFT SEMI passes strip every dangling "
    "tuple BEFORE the join, so intermediates are bounded by the output "
    "— the at-scale discipline for multi-way joins. Emits each "
    "relation's fully-reduced cardinality + final count + exact "
    "revenue cents; oracle re-derives reductions via independent "
    "EXISTS subqueries.",
)
def q_yannakakis_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").where("r_name = 'ASIA'")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        "o_orderdate >= TIMESTAMP_NTZ '1995-01-01 00:00:00'"
        " AND o_orderdate < TIMESTAMP_NTZ '1995-07-01 00:00:00'"
    )
    li = _t(spark, sf_dir, "lineitem").where("l_quantity < 10e0")
    # bottom-up semi-join reduction (root = lineitem)
    n1 = nation.join(
        F.broadcast(region.select("r_regionkey")),
        F.expr("r_regionkey = n_regionkey"),
        "left_semi",
    )
    c1 = cust.join(
        F.broadcast(n1.select("n_nationkey")),
        F.expr("n_nationkey = c_nationkey"),
        "left_semi",
    )
    o1 = orders.join(
        c1.select("c_custkey"), F.expr("c_custkey = o_custkey"), "left_semi"
    )
    l1 = li.join(
        o1.select("o_orderkey"), F.expr("o_orderkey = l_orderkey"),
        "left_semi",
    )
    # top-down passes complete the full reduction
    o2 = o1.join(
        l1.select("l_orderkey"), F.expr("l_orderkey = o_orderkey"),
        "left_semi",
    )
    c2 = c1.join(
        _t(spark, sf_dir, "orders")
        .join(
            o2.select(F.col("o_orderkey").alias("k2")),
            F.expr("k2 = o_orderkey"),
            "left_semi",
        )
        .select("o_custkey"),
        F.expr("o_custkey = c_custkey"),
        "left_semi",
    )
    n2 = n1.join(
        cust.join(
            c2.select(F.col("c_custkey").alias("k3")),
            F.expr("k3 = c_custkey"),
            "left_semi",
        ).select("c_nationkey"),
        F.expr("c_nationkey = n_nationkey"),
        "left_semi",
    )
    counts = [
        n2.agg(F.expr("CAST(count(*) AS BIGINT)").alias("n_nation_red")),
        c2.agg(F.expr("CAST(count(*) AS BIGINT)").alias("n_cust_red")),
        o2.agg(F.expr("CAST(count(*) AS BIGINT)").alias("n_orders_red")),
        l1.selectExpr(
            "CAST(floor(l_extendedprice * (1e0 - l_discount) * 100e0)"
            " AS BIGINT) AS cents"
        ).agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_lineitem_red"),
            F.expr("CAST(count(*) AS BIGINT)").alias("join_rows"),
            F.expr("CAST(coalesce(sum(cents), 0) AS BIGINT)").alias(
                "rev_cents"
            ),
        ),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(c)
    return out


# --- R292: maximum-drawdown statistics -------------------------------------------------------
#
# The risk-analytics classic over the DETRENDED cumulative daily
# revenue curve (deviations from the floored mean, kilodollars — the
# raw cumulative is monotone by construction, so drawdown is only
# meaningful on the detrended equity curve): running max, drawdown = peak - cum,
# trough = argmax drawdown (min-day ties), the peak day that trough
# fell from, the first recovery day (cum back >= peak; -1 if never),
# and the peak-to-trough duration. Windows live on the bounded
# calendar dimension only — never a per-row sort at corpus scale.


@register(
    "drawdown_stats",
    f"""
WITH dd_daily AS (
  SELECT date_diff('microsecond', TIMESTAMP '1970-01-01', o_orderdate)
           // {_DAY_US} AS day,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000
           AS BIGINT) AS v
  FROM orders GROUP BY 1),
dd_cal AS (
  SELECT unnest(range(min(day), max(day) + 1)) AS day FROM dd_daily),
dd_s AS (
  SELECT c.day, coalesce(d.v, 0) AS v
  FROM dd_cal c LEFT JOIN dd_daily d ON d.day = c.day),
dd_m AS (
  SELECT CAST(sum(v) AS BIGINT) // count(*) AS mu FROM dd_s),
dd_c AS (
  SELECT day,
         sum(v - mu) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM dd_s CROSS JOIN dd_m),
dd_r AS (
  SELECT day, cum,
         max(cum) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
  FROM dd_c),
dd_t AS (
  SELECT day AS trough_day, cum AS trough_cum, runmax AS peak_cum,
         runmax - cum AS max_dd
  FROM (SELECT day, cum, runmax,
               row_number() OVER (ORDER BY runmax - cum DESC, day) AS rk
        FROM dd_r)
  WHERE rk = 1),
dd_p AS (
  SELECT CAST(min(r.day) AS BIGINT) AS peak_day
  FROM dd_r r CROSS JOIN dd_t t
  WHERE r.cum = t.peak_cum AND r.day <= t.trough_day),
dd_rec AS (
  SELECT CAST(coalesce(min(r.day), -1) AS BIGINT) AS recovery_day
  FROM dd_r r CROSS JOIN dd_t t
  WHERE r.day > t.trough_day AND r.cum >= t.peak_cum)
SELECT CAST(t.trough_day AS BIGINT) AS trough_day,
       CAST(t.max_dd AS BIGINT) AS max_dd_kd,
       CAST(t.peak_cum AS BIGINT) AS peak_cum_kd,
       p.peak_day, r.recovery_day,
       CAST(t.trough_day AS BIGINT) - p.peak_day AS dd_days
FROM dd_t t CROSS JOIN dd_p p CROSS JOIN dd_rec r
""",
    doc="Maximum drawdown of the DETRENDED cumulative daily revenue "
    "curve (floored-mean deviations, kilodollars): "
    "running-max window on the bounded calendar, trough = argmax "
    "drawdown with min-day ties, originating peak day, first recovery "
    "day (-1 if never) and peak-to-trough duration. The finance risk "
    "statistic beside xmr_chart / revenue_streaks / changepoint_split.",
)
def q_drawdown_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" o_orderdate) DIV {_DAY_US} AS day",
            "CAST(floor(o_totalprice) AS BIGINT) AS dollars",
        )
        .groupBy("day")
        .agg(F.expr("CAST(sum(dollars) DIV 1000 AS BIGINT)").alias("v"))
        .localCheckpoint(eager=False)
    )
    cal = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).selectExpr("explode(sequence(d0, d1)) AS day")
    s = cal.join(daily, "day", "left").selectExpr(
        "day", "coalesce(v, CAST(0 AS BIGINT)) AS v"
    )
    mu = s.agg(
        F.expr("CAST(sum(v) AS BIGINT) DIV count(*)").alias("mu")
    )
    s = s.crossJoin(F.broadcast(mu)).selectExpr("day", "v - mu AS v")
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    r = (
        s.withColumn("cum", F.sum("v").over(w))
        .withColumn("runmax", F.max(F.col("cum")).over(w))
        .select("day", "cum", "runmax")
        .localCheckpoint(eager=False)
    )
    wt = Window.orderBy(F.desc(F.expr("runmax - cum")), F.asc("day"))
    t = (
        r.withColumn("rk", F.row_number().over(wt))
        .where("rk = 1")
        .selectExpr(
            "day AS trough_day", "cum AS trough_cum",
            "runmax AS peak_cum", "runmax - cum AS max_dd",
        )
    )
    p = (
        r.crossJoin(F.broadcast(t))
        .where("cum = peak_cum AND day <= trough_day")
        .agg(F.expr("CAST(min(day) AS BIGINT)").alias("peak_day"))
    )
    rec = (
        r.crossJoin(F.broadcast(t))
        .where("day > trough_day AND cum >= peak_cum")
        .agg(
            F.expr("CAST(coalesce(min(day), -1) AS BIGINT)").alias(
                "recovery_day"
            )
        )
    )
    return (
        t.crossJoin(p)
        .crossJoin(rec)
        .selectExpr(
            "CAST(trough_day AS BIGINT) AS trough_day",
            "CAST(max_dd AS BIGINT) AS max_dd_kd",
            "CAST(peak_cum AS BIGINT) AS peak_cum_kd",
            "peak_day", "recovery_day",
            "CAST(trough_day AS BIGINT) - peak_day AS dd_days",
        )
    )


# --- R294: Wald-Wolfowitz runs test ----------------------------------------------------
#
# The classic randomness diagnostic on SIGNS: dichotomize the
# zero-densified daily kilodollar revenue at its exact median (the
# (n+1) DIV 2 order statistic under the unique (v, day) tie-break),
# count runs of consecutive equal signs, and compare against the
# permutation expectation E[R] = 1 + 2*n1*n2/n. Everything lives on
# the bounded calendar dimension (~2.4k days at ANY SF — the
# value-dimension histogram discipline), so the global rank window is
# scale-safe. Exact integer z^2 in milli via the staged-floor
# composition (num^2 first, variance factors after); sign(R - E) is
# the exact cross-multiplication sign((R-1)*n - 2*n1*n2). The signs
# complement of turning_points' local-extrema test and trend_mk's
# monotone-trend test.


@register(
    "runs_test",
    f"""
WITH rt_daily AS (
  SELECT date_diff('microsecond', TIMESTAMP '1970-01-01', o_orderdate)
           // {_DAY_US} AS day,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000
           AS BIGINT) AS v
  FROM orders GROUP BY 1),
rt_cal AS (
  SELECT unnest(range(min(day), max(day) + 1)) AS day FROM rt_daily),
rt_s AS (
  SELECT c.day, coalesce(d.v, 0) AS v
  FROM rt_cal c LEFT JOIN rt_daily d ON d.day = c.day),
rt_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rt_s),
rt_rk AS (
  SELECT day, v, row_number() OVER (ORDER BY v, day) AS rk FROM rt_s),
rt_med AS (
  SELECT r.v AS med FROM rt_rk r CROSS JOIN rt_n t
  WHERE r.rk = (t.n + 1) // 2),
rt_sgn AS (
  SELECT s.day, CASE WHEN s.v > m.med THEN 1 ELSE 0 END AS a
  FROM rt_s s CROSS JOIN rt_med m),
rt_ch AS (
  SELECT a, lag(a) OVER (ORDER BY day) AS pa FROM rt_sgn),
rt_agg AS (
  SELECT CAST(1 + sum(CASE WHEN pa IS NOT NULL AND a <> pa
                  THEN 1 ELSE 0 END) AS BIGINT) AS runs,
         CAST(sum(a) AS BIGINT) AS n1,
         CAST(count(*) - sum(a) AS BIGINT) AS n2,
         CAST(count(*) AS BIGINT) AS n
  FROM rt_ch)
SELECT runs, n1, n2, n,
       CAST(CASE WHEN (runs - 1) * n - 2 * n1 * n2 > 0 THEN 1
            WHEN (runs - 1) * n - 2 * n1 * n2 < 0 THEN -1
            ELSE 0 END AS BIGINT) AS z_sign,
       CAST(((1000 * ((runs - 1) * n - 2 * n1 * n2)
              * ((runs - 1) * n - 2 * n1 * n2)) // (2 * n1 * n2))
            * (n - 1) // (2 * n1 * n2 - n) AS BIGINT) AS z2_milli
FROM rt_agg
""",
    doc="Wald-Wolfowitz runs test on daily revenue signs vs the exact "
    "median: runs count, above/below splits, cross-multiplied "
    "sign(R - E) and staged-floor z^2 milli. Bounded-calendar "
    "dimension only — scale-safe at any SF; the randomness "
    "diagnostic beside trend_mk and revenue_acf.",
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" o_orderdate) DIV {_DAY_US} AS day",
            "CAST(floor(o_totalprice) AS BIGINT) AS dollars",
        )
        .groupBy("day")
        .agg(F.expr("CAST(sum(dollars) DIV 1000 AS BIGINT)").alias("v"))
        .localCheckpoint(eager=False)
    )
    cal = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).selectExpr("explode(sequence(d0, d1)) AS day")
    s = cal.join(daily, "day", "left").selectExpr(
        "day", "coalesce(v, CAST(0 AS BIGINT)) AS v"
    ).localCheckpoint(eager=False)
    n = s.agg(F.expr("CAST(count(*) AS BIGINT)").alias("n"))
    rk = s.withColumn(
        "rk", F.row_number().over(Window.orderBy("v", "day"))
    )
    med = (
        rk.crossJoin(F.broadcast(n))
        .where("rk = (n + 1) DIV 2")
        .selectExpr("v AS med")
    )
    sgn = s.crossJoin(F.broadcast(med)).selectExpr(
        "day", "CASE WHEN v > med THEN 1 ELSE 0 END AS a"
    )
    ch = sgn.withColumn("pa", F.lag("a").over(Window.orderBy("day")))
    agg = ch.agg(
        F.expr(
            "CAST(1 + sum(CASE WHEN pa IS NOT NULL AND a <> pa"
            " THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("runs"),
        F.expr("CAST(sum(a) AS BIGINT)").alias("n1"),
        F.expr("CAST(count(*) - sum(a) AS BIGINT)").alias("n2"),
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
    )
    return agg.selectExpr(
        "runs", "n1", "n2", "n",
        "CAST(CASE WHEN (runs - 1) * n - 2 * n1 * n2 > 0 THEN 1"
        " WHEN (runs - 1) * n - 2 * n1 * n2 < 0 THEN -1"
        " ELSE 0 END AS BIGINT) AS z_sign",
        "CAST(((1000 * ((runs - 1) * n - 2 * n1 * n2)"
        " * ((runs - 1) * n - 2 * n1 * n2)) DIV (2 * n1 * n2))"
        " * (n - 1) DIV (2 * n1 * n2 - n) AS BIGINT) AS z2_milli",
    )


# --- R295: turning-point test ----------------------------------------------------------
#
# The local-extrema randomness diagnostic (Kendall): count interior
# days that are strict local maxima or minima of the zero-densified
# daily series; under iid continuity E[T] = 2(n-2)/3 and
# Var[T] = (16n - 29)/90, so z^2 = 10*d^2/(16n - 29) with
# d = 3T - 2(n-2) exactly (the /3 folded into d — no intermediate
# floor at all until the final milli). Ties (zero-revenue runs at
# tiny SF) are strict-inequality non-extrema: a zero-inflated series
# HONESTLY reads as non-random (strong negative sign at sf0.001),
# while the dense sf0.01+ series sits near expectation — both outcome
# classes are real. Bounded-calendar dimension only.


@register(
    "turning_points",
    f"""
WITH tp_daily AS (
  SELECT date_diff('microsecond', TIMESTAMP '1970-01-01', o_orderdate)
           // {_DAY_US} AS day,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000
           AS BIGINT) AS v
  FROM orders GROUP BY 1),
tp_cal AS (
  SELECT unnest(range(min(day), max(day) + 1)) AS day FROM tp_daily),
tp_s AS (
  SELECT c.day, coalesce(d.v, 0) AS v
  FROM tp_cal c LEFT JOIN tp_daily d ON d.day = c.day),
tp_w AS (
  SELECT v, lag(v) OVER (ORDER BY day) AS pv,
         lead(v) OVER (ORDER BY day) AS nv
  FROM tp_s),
tp_agg AS (
  SELECT CAST(sum(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL
                  AND ((v > pv AND v > nv) OR (v < pv AND v < nv))
                  THEN 1 ELSE 0 END) AS BIGINT) AS t_points,
         CAST(count(*) AS BIGINT) AS n_days
  FROM tp_w)
SELECT n_days, t_points,
       CAST((2000 * (n_days - 2)) // 3 AS BIGINT) AS e_tp_milli,
       CAST(CASE WHEN 3 * t_points - 2 * (n_days - 2) > 0 THEN 1
            WHEN 3 * t_points - 2 * (n_days - 2) < 0 THEN -1
            ELSE 0 END AS BIGINT) AS tp_sign,
       CAST((10000 * (3 * t_points - 2 * (n_days - 2))
             * (3 * t_points - 2 * (n_days - 2)))
            // (16 * n_days - 29) AS BIGINT) AS z2_milli
FROM tp_agg
""",
    doc="Turning-point test (Kendall) on zero-densified daily revenue: "
    "strict local extrema vs E[T] = 2(n-2)/3, exact integer z^2 via "
    "d = 3T - 2(n-2) (no floor before the final milli). The "
    "local-extrema complement of runs_test; zero-inflated tiny-SF "
    "series honestly read non-random.",
)
def q_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" o_orderdate) DIV {_DAY_US} AS day",
            "CAST(floor(o_totalprice) AS BIGINT) AS dollars",
        )
        .groupBy("day")
        .agg(F.expr("CAST(sum(dollars) DIV 1000 AS BIGINT)").alias("v"))
        .localCheckpoint(eager=False)
    )
    cal = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).selectExpr("explode(sequence(d0, d1)) AS day")
    s = cal.join(daily, "day", "left").selectExpr(
        "day", "coalesce(v, CAST(0 AS BIGINT)) AS v"
    )
    w = Window.orderBy("day")
    t = s.select(
        "v",
        F.lag("v").over(w).alias("pv"),
        F.lead("v").over(w).alias("nv"),
    )
    agg = t.agg(
        F.expr(
            "CAST(sum(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL"
            " AND ((v > pv AND v > nv) OR (v < pv AND v < nv))"
            " THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("t_points"),
        F.expr("CAST(count(*) AS BIGINT)").alias("n_days"),
    )
    return agg.selectExpr(
        "n_days", "t_points",
        "CAST((2000 * (n_days - 2)) DIV 3 AS BIGINT) AS e_tp_milli",
        "CAST(CASE WHEN 3 * t_points - 2 * (n_days - 2) > 0 THEN 1"
        " WHEN 3 * t_points - 2 * (n_days - 2) < 0 THEN -1"
        " ELSE 0 END AS BIGINT) AS tp_sign",
        "CAST((10000 * (3 * t_points - 2 * (n_days - 2))"
        " * (3 * t_points - 2 * (n_days - 2)))"
        " DIV (16 * n_days - 29) AS BIGINT) AS z2_milli",
    )


# --- R297: CUPED variance reduction ----------------------------------------------------
#
# Deng et al. 2013 — THE industry experimentation primitive: shrink a
# post-period metric's variance with a pre-period covariate,
# var(Y - theta*X) = Syy - Sxy^2/Sxx, so the achievable reduction is
# exactly rho^2. Unit = customer; X = 1995-1997 revenue, Y = 1998+
# revenue, both in deca-kilodollars so the 10^12-row budget holds:
# per-customer revenue is SF-invariant (TPC-H scales customers, not
# orders-per-customer), dev <= ~10^3, dev^2 <= 10^6, and with
# customers <= 2.5*10^10 at 10^12 lineitems Sxy <= 2.5e16 —
# 1000*|Sxy| and theta_abs_milli*|Sxy| both stay under 2^63. Deviations
# against floored means (the revenue_acf estimator both engines and
# the replay share); Sxy keeps its sign through the sum (products of
# signed devs — no DIV touches a negative), then the sign/abs split.


@register(
    "cuped_adjust",
    """
WITH cu_x AS (
  SELECT o_custkey AS c,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) // 10000
           AS BIGINT) AS x
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
  GROUP BY 1),
cu_y AS (
  SELECT o_custkey AS c,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) // 10000
           AS BIGINT) AS y
  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
  GROUP BY 1),
cu_u AS (
  SELECT coalesce(x.c, y.c) AS c, coalesce(x.x, 0) AS x,
         coalesce(y.y, 0) AS y
  FROM cu_x x FULL OUTER JOIN cu_y y ON x.c = y.c),
cu_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) // count(*) AS mx,
         CAST(sum(y) AS BIGINT) // count(*) AS my
  FROM cu_u),
cu_s AS (
  SELECT m.n, m.mx, m.my,
         CAST(sum((u.x - m.mx) * (u.x - m.mx)) AS BIGINT) AS sxx,
         CAST(sum((u.y - m.my) * (u.y - m.my)) AS BIGINT) AS syy,
         CAST(sum((u.x - m.mx) * (u.y - m.my)) AS BIGINT) AS sxy
  FROM cu_u u CROSS JOIN cu_m m GROUP BY 1, 2, 3)
SELECT n, mx AS mean_pre_dkd, my AS mean_post_dkd, sxx, syy,
       CAST(CASE WHEN sxy > 0 THEN 1 WHEN sxy < 0 THEN -1 ELSE 0 END
         AS BIGINT) AS theta_sign,
       CAST(CASE WHEN sxx = 0 THEN 0
            ELSE (1000 * abs(sxy)) // sxx END AS BIGINT)
         AS theta_abs_milli,
       CAST(CASE WHEN sxx = 0 OR syy = 0 THEN 0
            ELSE (((1000 * abs(sxy)) // sxx) * abs(sxy)) // syy END
         AS BIGINT) AS var_reduction_pm
FROM cu_s
""",
    doc="CUPED variance reduction (Deng 2013): per-customer pre-period "
    "(<1998) revenue as covariate for post-period revenue, both in "
    "deca-kilodollars (the 10^12-row overflow budget); floored-mean "
    "deviations, signed Sxy with the sign/abs DIV split, theta in "
    "milli and the achievable variance reduction rho^2 in per-mille "
    "via the staged floor ((1000|Sxy|) DIV Sxx * |Sxy|) DIV Syy. Two "
    "customer-keyed aggs + one full-outer align; no per-row state. "
    "Honest null readout on this corpus: synthetic periods are "
    "independent (no activity persistence), so rho^2 ~ 0 — CUPED "
    "correctly reports nothing to gain; the two SFs land on opposite "
    "theta signs, exercising both sign paths.",
)
def q_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    x = (
        o.where("o_orderdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'")
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(o_totalprice) AS BIGINT))"
                " DIV 10000 AS BIGINT)"
            ).alias("x")
        )
    )
    y = (
        o.where("o_orderdate >= TIMESTAMP_NTZ '1998-01-01 00:00:00'")
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(o_totalprice) AS BIGINT))"
                " DIV 10000 AS BIGINT)"
            ).alias("y")
        )
    )
    u = (
        x.withColumnRenamed("c", "cx")
        .join(
            y.withColumnRenamed("c", "cy"),
            F.expr("cx = cy"),
            "full_outer",
        )
        .selectExpr(
            "coalesce(x, CAST(0 AS BIGINT)) AS x",
            "coalesce(y, CAST(0 AS BIGINT)) AS y",
        )
        .localCheckpoint(eager=False)
    )
    m = u.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(x) AS BIGINT) DIV count(*)").alias("mx"),
        F.expr("CAST(sum(y) AS BIGINT) DIV count(*)").alias("my"),
    )
    s = (
        u.crossJoin(F.broadcast(m))
        .groupBy("n", "mx", "my")
        .agg(
            F.expr(
                "CAST(sum((x - mx) * (x - mx)) AS BIGINT)"
            ).alias("sxx"),
            F.expr(
                "CAST(sum((y - my) * (y - my)) AS BIGINT)"
            ).alias("syy"),
            F.expr(
                "CAST(sum((x - mx) * (y - my)) AS BIGINT)"
            ).alias("sxy"),
        )
    )
    return s.selectExpr(
        "n", "mx AS mean_pre_dkd", "my AS mean_post_dkd", "sxx", "syy",
        "CAST(CASE WHEN sxy > 0 THEN 1 WHEN sxy < 0 THEN -1 ELSE 0 END"
        " AS BIGINT) AS theta_sign",
        "CAST(CASE WHEN sxx = 0 THEN 0"
        " ELSE (1000 * abs(sxy)) DIV sxx END AS BIGINT)"
        " AS theta_abs_milli",
        "CAST(CASE WHEN sxx = 0 OR syy = 0 THEN 0"
        " ELSE (((1000 * abs(sxy)) DIV sxx) * abs(sxy)) DIV syy END"
        " AS BIGINT) AS var_reduction_pm",
    )


# --- R307: Wilcoxon signed-rank test ----------------------------------------------------
#
# The PAIRED nonparametric location test (Wilcoxon 1945) — completes the
# rank-test family (auc_eval = two independent samples, kruskal_wallis =
# k samples, friedman_test = blocked ranks): daily revenue (kilodollars)
# of 1997 paired against 1996 by calendar (month, day) over the full
# non-leap 365-day calendar (zero-densified; Feb 29 has no partner and
# is excluded by construction). Zero differences drop (the standard
# treatment); |d| ranks use DOUBLED average ranks (2·cum + t + 1 per tie
# group) so ties stay exact integers; with W2 = Σ ranks2 of positive d,
# E[W2] = n(n+1)/2 and Var[W2]·12 = 2n(n+1)(2n+1) − Σ(t³−t), so
#   diff2 = 2·W2 − n(n+1)   (doubles away E's half)
#   z²_milli = (3000·diff2²) DIV (2n(n+1)(2n+1) − Σ(t³−t))
# — numerator a perfect square ≥ 0, denominator provably > 0, so DIV
# and // agree. Everything lives on the BOUNDED calendar dimension
# (n ≤ 365 at ANY SF): the global rank window is scale-safe.


@register(
    "wilcoxon_signed",
    """
WITH wx_daily AS (
  SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
         day(o_orderdate) AS d,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) // 1000
           AS BIGINT) AS v
  FROM orders WHERE year(o_orderdate) IN (1996, 1997) GROUP BY 1, 2, 3),
wx_mlen(m, len) AS (VALUES (1,31),(2,28),(3,31),(4,30),(5,31),(6,30),
                           (7,31),(8,31),(9,30),(10,31),(11,30),(12,31)),
wx_cal AS (SELECT m, unnest(range(1, len + 1)) AS d FROM wx_mlen),
wx_pairs AS (
  SELECT coalesce(b.v, 0) - coalesce(a.v, 0) AS dd
  FROM wx_cal c
  LEFT JOIN wx_daily a ON a.y = 1996 AND a.m = c.m AND a.d = c.d
  LEFT JOIN wx_daily b ON b.y = 1997 AND b.m = c.m AND b.d = c.d
  WHERE coalesce(b.v, 0) - coalesce(a.v, 0) != 0),
wx_g AS (
  SELECT abs(dd) AS ad, count(*) AS t,
         sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS p
  FROM wx_pairs GROUP BY 1),
wx_r AS (
  SELECT ad, t, p,
         coalesce(sum(t) OVER (ORDER BY ad
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM wx_g),
wx_a AS (
  SELECT CAST(sum(p * (2 * cum + t + 1)) AS BIGINT) AS w2,
         CAST(sum(t) AS BIGINT) AS n,
         CAST(sum(t * t * t - t) AS BIGINT) AS tie3
  FROM wx_r)
SELECT n AS n_pairs, w2, tie3,
  CAST(CASE WHEN 2 * w2 - n * (n + 1) > 0 THEN 1
            WHEN 2 * w2 - n * (n + 1) < 0 THEN -1
            ELSE 0 END AS BIGINT) AS z_sign,
  CAST((3000 * (2 * w2 - n * (n + 1)) * (2 * w2 - n * (n + 1)))
    // (2 * n * (n + 1) * (2 * n + 1) - tie3) AS BIGINT) AS z2_milli
FROM wx_a
""",
    doc="Wilcoxon signed-rank test of 1997-vs-1996 daily revenue paired "
    "by calendar day (zero-densified non-leap calendar, zero diffs "
    "dropped): doubled average ranks keep ties exact, z² milli "
    "cross-multiplied with the tie-corrected variance — all on the "
    "bounded calendar dimension, scale-safe at any SF.",
)
def q_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "orders")
        .where("year(o_orderdate) IN (1996, 1997)")
        .groupBy(
            F.expr("year(o_orderdate)").alias("y"),
            F.expr("month(o_orderdate)").alias("m"),
            F.expr("day(o_orderdate)").alias("d"),
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) DIV 1000"
                " AS BIGINT)"
            ).alias("v")
        )
        .localCheckpoint(eager=False)
    )
    mlens = [31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31]
    structs = ", ".join(
        f"struct({m + 1} AS m, {ln} AS len)" for m, ln in enumerate(mlens)
    )
    cal = (
        daily.sparkSession.range(1)
        .selectExpr(f"explode(array({structs})) AS s")
        .selectExpr("s.m AS m", "explode(sequence(1, s.len)) AS d")
    )
    y96 = daily.where("y = 1996").selectExpr("m", "d", "v AS v96")
    y97 = daily.where("y = 1997").selectExpr("m", "d", "v AS v97")
    pairs = (
        cal.join(y96, ["m", "d"], "left")
        .join(y97, ["m", "d"], "left")
        .selectExpr(
            "coalesce(v97, CAST(0 AS BIGINT))"
            " - coalesce(v96, CAST(0 AS BIGINT)) AS dd"
        )
        .where("dd != 0")
    )
    byad = pairs.selectExpr(
        "abs(dd) AS ad", "CASE WHEN dd > 0 THEN 1 ELSE 0 END AS pos"
    ).groupBy("ad").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("t"),
        F.expr("CAST(sum(pos) AS BIGINT)").alias("p"),
    )
    ranked = byad.withColumn(
        "cum",
        F.expr(
            "coalesce(sum(t) OVER (ORDER BY ad"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),"
            " CAST(0 AS BIGINT))"
        ),
    )
    agg = ranked.agg(
        F.expr("CAST(sum(p * (2 * cum + t + 1)) AS BIGINT)").alias("w2"),
        F.expr("CAST(sum(t) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(t * t * t - t) AS BIGINT)").alias("tie3"),
    )
    return agg.selectExpr(
        "n AS n_pairs", "w2", "tie3",
        "CAST(CASE WHEN 2 * w2 - n * (n + 1) > 0 THEN 1"
        " WHEN 2 * w2 - n * (n + 1) < 0 THEN -1"
        " ELSE 0 END AS BIGINT) AS z_sign",
        "CAST((3000 * (2 * w2 - n * (n + 1)) * (2 * w2 - n * (n + 1)))"
        " DIV (2 * n * (n + 1) * (2 * n + 1) - tie3) AS BIGINT) AS z2_milli",
    )


# --- R308: bill-of-materials rollup (pointer doubling) ----------------------------------

from .operators import graph as graph_ops  # noqa: E402


@register(
    "bom_rollup",
    graph_ops.bom_oracle_sql(),
    doc="Bill-of-materials explosion over the deterministic 4-ary part "
    "hierarchy (parent = p DIV 4, md5 edge quantities 1-3): pointer "
    "DOUBLING composes (ancestor, qty product, depth) in log rounds — "
    "5 rounds cover depth 32 = 4^32 parts; one part-keyed equi-join "
    "per round. Oracle: uncapped recursive CTE climbing edge-by-edge "
    "(a genuinely different algorithm agreeing at the fixpoint).",
)
def q_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_ops.bom_rollup(_t(spark, sf_dir, "part"))


# --- R309: decision stump (CART single split) --------------------------------------------
#
# The depth-1 CART tree (Breiman 1984) — "which single threshold best
# separates the classes" — recovering a PLANTED noisy rule (the
# pii_scrub/rocchio planted-signal discipline, since the synthetic
# lineitem's native columns are independent by construction): the label
# is (l_quantity >= 25) flipped with probability 1/20 on an md5 coin
# keyed by (orderkey, linenumber), identical SQL on both engines. The
# feature dimension is l_quantity (bounded 1-50 at ANY SF). Per
# candidate threshold: per-mille class rates pL = (1000·posL) DIV nL,
# binary Gini per side imp = (2·p·(1000−p)) DIV 1000 ≤ 500, weighted
# objective (nL·impL + nR·impR) DIV N — every magnitude ≤ 1000·N. The
# argmin rides ONE packed bigint (obj·100000 + q) so tie-breaks
# (smallest threshold) are engine-identical; the test pins that the
# recovered threshold is the planted 24/25 boundary and the gain is
# large. Windows live on the bounded value dimension only.

_STUMP_COIN_S = (
    "pmod(" + _md5s("concat('st_', CAST(l_orderkey AS STRING), '_',"
    " CAST(l_linenumber AS STRING))") + ", 20)"
)
_STUMP_COIN_D = (
    "(" + _md5d("'st_' || CAST(l_orderkey AS VARCHAR) || '_' ||"
    " CAST(l_linenumber AS VARCHAR)") + ") % 20"
)


def _stump_label(coin: str) -> str:
    rule = "(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END)"
    return f"(CASE WHEN {coin} = 0 THEN 1 - {rule} ELSE {rule} END)"


@register(
    "decision_stump",
    f"""
WITH st_h AS (
  SELECT CAST(l_quantity AS BIGINT) AS q, count(*) AS n,
         sum({_stump_label(_STUMP_COIN_D)}) AS pos
  FROM lineitem GROUP BY 1),
st_tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
                  CAST(sum(pos) AS BIGINT) AS tp FROM st_h),
st_c AS (
  SELECT q,
         CAST(sum(n) OVER (ORDER BY q) AS BIGINT) AS cn,
         CAST(sum(pos) OVER (ORDER BY q) AS BIGINT) AS cp
  FROM st_h),
st_obj AS (
  SELECT q, cn AS nl, cp AS pl, tn - cn AS nr, tp - cp AS pr,
         ((cn * ((2 * ((1000 * cp) // cn)
                    * (1000 - (1000 * cp) // cn)) // 1000)
          + (tn - cn) * ((2 * ((1000 * (tp - cp)) // (tn - cn))
                    * (1000 - (1000 * (tp - cp)) // (tn - cn))) // 1000))
          // tn) AS obj
  FROM st_c CROSS JOIN st_tot WHERE cn < tn),
st_best AS (
  SELECT min(obj * 100000 + q) AS packed FROM st_obj),
st_row AS (
  SELECT o.q AS split_q, o.obj AS obj_milli,
         o.nl AS n_left, o.pl AS pos_left,
         o.nr AS n_right, o.pr AS pos_right,
         t.tn AS n,
         ((2 * ((1000 * t.tp) // t.tn)
             * (1000 - (1000 * t.tp) // t.tn)) // 1000) AS imp0_milli
  FROM st_obj o CROSS JOIN st_tot t CROSS JOIN st_best b
  WHERE o.obj * 100000 + o.q = b.packed)
SELECT split_q,
       obj_milli,
       imp0_milli,
       imp0_milli - obj_milli AS gain_milli,
       n_left, pos_left, n_right, pos_right,
       CAST((1000 * (GREATEST(pos_left, n_left - pos_left)
                   + GREATEST(pos_right, n_right - pos_right))) // n
         AS BIGINT) AS acc_milli
FROM st_row
""",
    doc="CART decision stump recovering a planted noisy rule (label = "
    "quantity >= 25 flipped 1-in-20 on an md5 coin): per-mille Gini "
    "per side on the bounded 1-50 quantity dimension, weighted "
    "objective, argmin packed (obj, q) for engine-identical ties, "
    "baseline impurity + gain + stump accuracy. Scale-safe at 10^12 "
    "rows (bounded value dimension, no global sort).",
)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = (
        _t(spark, sf_dir, "lineitem")
        .selectExpr(
            "CAST(l_quantity AS BIGINT) AS q",
            f"{_stump_label(_STUMP_COIN_S)} AS y",
        )
        .groupBy("q")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n"),
            F.expr("CAST(sum(y) AS BIGINT)").alias("pos"),
        )
        .localCheckpoint(eager=False)
    )
    tot = h.agg(
        F.expr("CAST(sum(n) AS BIGINT)").alias("tn"),
        F.expr("CAST(sum(pos) AS BIGINT)").alias("tp"),
    )
    c = h.selectExpr(
        "q",
        "CAST(sum(n) OVER (ORDER BY q) AS BIGINT) AS cn",
        "CAST(sum(pos) OVER (ORDER BY q) AS BIGINT) AS cp",
    )
    obj = (
        c.crossJoin(F.broadcast(tot))
        .where("cn < tn")
        .selectExpr(
            "q", "cn AS nl", "cp AS pl", "tn - cn AS nr", "tp - cp AS pr",
            "tn", "tp",
            "((cn * ((2 * ((1000 * cp) DIV cn)"
            " * (1000 - (1000 * cp) DIV cn)) DIV 1000)"
            " + (tn - cn) * ((2 * ((1000 * (tp - cp)) DIV (tn - cn))"
            " * (1000 - (1000 * (tp - cp)) DIV (tn - cn))) DIV 1000))"
            " DIV tn) AS obj",
        )
        .localCheckpoint(eager=False)
    )
    best = obj.agg(F.expr("min(obj * 100000 + q)").alias("packed"))
    row = (
        obj.crossJoin(F.broadcast(best))
        .where("obj * 100000 + q = packed")
        .selectExpr(
            "q AS split_q", "obj AS obj_milli",
            "nl AS n_left", "pl AS pos_left",
            "nr AS n_right", "pr AS pos_right", "tn AS n",
            "((2 * ((1000 * tp) DIV tn)"
            " * (1000 - (1000 * tp) DIV tn)) DIV 1000) AS imp0_milli",
        )
    )
    return row.selectExpr(
        "split_q", "obj_milli", "imp0_milli",
        "imp0_milli - obj_milli AS gain_milli",
        "n_left", "pos_left", "n_right", "pos_right",
        "CAST((1000 * (GREATEST(pos_left, n_left - pos_left)"
        " + GREATEST(pos_right, n_right - pos_right))) DIV n"
        " AS BIGINT) AS acc_milli",
    )


# --- R315: Theil-Sen robust slope ---------------------------------------------------------
#
# The median-of-pairwise-slopes estimator (Theil 1950, Sen 1968) — the
# ROBUST sibling of ols_trend (29% breakdown vs OLS's zero) on the same
# zero-densified 1996 daily revenue (kilodollars) per returnflag: all
# C(366,2) = 66,795 day pairs per flag, slope_milli = trunc((1000·Δy)/Δx)
# spelled sign-safely (CASE on the numerator sign so Spark DIV trunc ==
# DuckDB // floor on the positive operand), LOWER MEDIAN picked as the
# smallest slope whose cumulative pair count reaches (N+1) DIV 2 over
# the value-grouped histogram — the bounded-dimension exact order
# statistic (calendar² pairs, SF-invariant). Self-join sides renamed
# per projection (shared-lineage discipline).

_TS_D96 = 9496  # days 1970-01-01 .. 1996-01-01


@register(
    "theil_sen",
    f"""
WITH tsn_daily AS (
  SELECT l_returnflag AS flag,
         date_diff('microsecond', TIMESTAMP '1970-01-01', l_shipdate)
           // {_DAY_US} - {_TS_D96} AS x,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
           AS BIGINT)) // 1000 AS BIGINT) AS v
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1, 2),
tsn_cal AS (
  SELECT f.flag, c.x
  FROM (SELECT DISTINCT flag FROM tsn_daily) f
  CROSS JOIN (SELECT unnest(range(0, 366)) AS x) c),
tsn_s AS (
  SELECT c.flag, c.x, coalesce(d.v, 0) AS y
  FROM tsn_cal c LEFT JOIN tsn_daily d ON d.flag = c.flag AND d.x = c.x),
tsn_p AS (
  SELECT a.flag,
         CASE WHEN b.y - a.y >= 0
              THEN (1000 * (b.y - a.y)) // (b.x - a.x)
              ELSE -((1000 * (a.y - b.y)) // (b.x - a.x)) END AS s
  FROM tsn_s a JOIN tsn_s b ON b.flag = a.flag AND b.x > a.x),
tsn_h AS (SELECT flag, s, CAST(count(*) AS BIGINT) AS c
          FROM tsn_p GROUP BY 1, 2),
tsn_c AS (
  SELECT flag, s, c,
         CAST(sum(c) OVER (PARTITION BY flag ORDER BY s) AS BIGINT) AS cum,
         CAST(sum(c) OVER (PARTITION BY flag) AS BIGINT) AS np
  FROM tsn_h)
SELECT flag, CAST(min(np) AS BIGINT) AS n_pairs,
       CAST(min(s) AS BIGINT) AS ts_slope_milli
FROM tsn_c WHERE cum >= (np + 1) // 2 GROUP BY 1
""",
    doc="Theil-Sen robust trend of zero-densified 1996 daily revenue "
    "(kilodollars) per returnflag: exact lower median of all C(366,2) "
    "pairwise slopes via the value-grouped cumulative histogram "
    "(bounded calendar^2 dimension); per-pair slope_milli spelled "
    "sign-safely so Spark DIV and DuckDB // agree; the 29%-breakdown "
    "robust sibling of ols_trend / trend_mk.",
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "lineitem")
        .where("year(l_shipdate) = 1996")
        .selectExpr(
            "l_returnflag AS flag",
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" l_shipdate) DIV {_DAY_US} - {_TS_D96} AS x",
            "CAST(floor(l_extendedprice * (1e0 - l_discount)) AS BIGINT)"
            " AS dollars",
        )
        .groupBy("flag", "x")
        .agg(F.expr("CAST(sum(dollars) DIV 1000 AS BIGINT)").alias("v"))
        .localCheckpoint(eager=False)
    )
    s = (
        daily.select("flag").distinct()
        .crossJoin(
            daily.sparkSession.range(366).selectExpr("CAST(id AS BIGINT) AS x")
        )
        .join(daily, ["flag", "x"], "left")
        .selectExpr("flag", "x", "coalesce(v, CAST(0 AS BIGINT)) AS y")
        .localCheckpoint(eager=False)
    )
    a = s.selectExpr("flag", "x AS ax", "y AS ay")
    b = s.selectExpr("flag AS bflag", "x AS bx", "y AS by")
    pairs = a.join(
        b, F.expr("bflag = flag AND bx > ax")
    ).selectExpr(
        "flag",
        "CASE WHEN by - ay >= 0 THEN (1000 * (by - ay)) DIV (bx - ax)"
        " ELSE -((1000 * (ay - by)) DIV (bx - ax)) END AS s",
    )
    h = pairs.groupBy("flag", "s").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("c")
    )
    cum = h.selectExpr(
        "flag", "s", "c",
        "CAST(sum(c) OVER (PARTITION BY flag ORDER BY s) AS BIGINT) AS cum",
        "CAST(sum(c) OVER (PARTITION BY flag) AS BIGINT) AS np",
    )
    return (
        cum.where("cum >= (np + 1) DIV 2")
        .groupBy("flag")
        .agg(
            F.expr("CAST(min(np) AS BIGINT)").alias("n_pairs"),
            F.expr("CAST(min(s) AS BIGINT)").alias("ts_slope_milli"),
        )
    )


# --- R317: Viterbi forward DP via PARALLEL PREFIX (tropical scan) -------------------------
#
# HMM regime decoding as a Spark job with LOG-DEPTH parallelism: the
# Viterbi forward recursion c_d[j] = min_i c_{d-1}[i] + T[i][j] +
# E[j][o_d] is a chain of (min,+) TROPICAL matrix products, which is
# ASSOCIATIVE — so all 366 daily prefixes P_d = M_1 (x) ... (x) M_d are
# computed by a Hillis-Steele scan in ceil(log2(366)) = 9 rounds of one
# day-keyed equi-join each (the Ladner-Fischer/Blelloch prefix-scan
# idea applied to Viterbi; the same doubling discipline as bom_rollup).
# Model: 3 sticky regimes (stay 0, switch 4), emission cost 2*|o-j|
# over the 1996 daily-revenue tercile symbol o in {0,1,2} (per-mille
# of max, SF-invariant thresholds). Every cost <= 366*8 — tiny ints.
# Oracle: the SEQUENTIAL 366-step recursive-CTE DP (a genuinely
# different evaluation order agreeing at every prefix).

_VT_SWITCH = 4


def _vt_obs_duck() -> str:
    return f"""
vt_daily AS (
  SELECT date_diff('microsecond', TIMESTAMP '1970-01-01', l_shipdate)
           // {_DAY_US} - {_TS_D96} + 1 AS d,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
           AS BIGINT)) AS BIGINT) AS v
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1),
vt_cal AS (SELECT unnest(range(1, 367)) AS d),
vt_z AS (
  SELECT c.d, coalesce(v.v, 0) AS v
  FROM vt_cal c LEFT JOIN vt_daily v ON v.d = c.d),
vt_obs AS (
  SELECT d, CASE WHEN z < 250 THEN 0 WHEN z < 750 THEN 1 ELSE 2 END AS o
  FROM (SELECT d, (1000 * v) // (SELECT max(v) FROM vt_z) AS z FROM vt_z))"""


def _vt_best(c0: str, c1: str, c2: str) -> tuple[str, str]:
    best = f"LEAST({c0}, {c1}, {c2})"
    state = (
        f"(CASE WHEN {c0} <= {c1} AND {c0} <= {c2} THEN 0"
        f" WHEN {c1} <= {c2} THEN 1 ELSE 2 END)"
    )
    return best, state


def _vt_oracle() -> str:
    s = _VT_SWITCH
    steps = []
    for j in range(3):
        ts = [0 if i == j else s for i in range(3)]
        steps.append(
            f"LEAST(w.c0 + {ts[0]}, w.c1 + {ts[1]}, w.c2 + {ts[2]})"
            f" + 2 * abs(o.o - {j})"
        )
    best, state = _vt_best("c0", "c1", "c2")
    return f"""
WITH RECURSIVE {_vt_obs_duck()},
vt_walk(d, c0, c1, c2) AS (
  SELECT 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
  UNION ALL
  SELECT w.d + 1, {steps[0]}, {steps[1]}, {steps[2]}
  FROM vt_walk w JOIN vt_obs o ON o.d = w.d + 1
)
SELECT CAST(d AS BIGINT) AS day, c0, c1, c2,
       CAST({state} AS BIGINT) AS best_state,
       CAST({best} AS BIGINT) AS best_cost
FROM vt_walk"""


@register(
    "viterbi_scan",
    _vt_oracle(),
    doc="Viterbi forward DP (3 sticky regimes over 1996 daily-revenue "
    "terciles) computed by a Hillis-Steele PARALLEL-PREFIX scan on the "
    "(min,+) tropical semiring: 9 doubling rounds of one day-keyed "
    "equi-join replace the 366-step sequential recursion — the "
    "log-depth shape for sequence DP at scale. Oracle: the sequential "
    "recursive-CTE DP, a genuinely different evaluation order "
    "agreeing at EVERY prefix day.",
)
def q_viterbi_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _VT_SWITCH
    daily = (
        _t(spark, sf_dir, "lineitem")
        .where("year(l_shipdate) = 1996")
        .selectExpr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" l_shipdate) DIV {_DAY_US} - {_TS_D96} + 1 AS d",
            "CAST(floor(l_extendedprice * (1e0 - l_discount)) AS BIGINT)"
            " AS dollars",
        )
        .groupBy("d")
        .agg(F.expr("CAST(sum(dollars) AS BIGINT)").alias("v"))
    )
    z = (
        spark.range(1, 367).selectExpr("CAST(id AS BIGINT) AS d")
        .join(daily, "d", "left")
        .selectExpr("d", "coalesce(v, CAST(0 AS BIGINT)) AS v")
    )
    vmax = z.agg(F.max("v").alias("vmax"))
    obs = z.crossJoin(F.broadcast(vmax)).selectExpr(
        "d",
        "CASE WHEN (1000 * v) DIV vmax < 250 THEN 0"
        " WHEN (1000 * v) DIV vmax < 750 THEN 1 ELSE 2 END AS o",
    )
    cells = ", ".join(
        f"struct({i} AS i, {j} AS j, {0 if i == j else s} AS t)"
        for i in range(3) for j in range(3)
    )
    p = obs.withColumn("m", F.explode(F.expr(f"array({cells})"))).selectExpr(
        "d", "m.i AS i", "m.j AS j",
        "CAST(m.t + 2 * abs(o - m.j) AS BIGINT) AS c",
    ).localCheckpoint(eager=False)
    for k in range(9):
        shift = 1 << k
        upper = p.where(f"d > {shift}")
        lower = p.where(f"d <= {shift}")
        left = p.selectExpr("d AS ld", "i AS li", "j AS lm", "c AS lc")
        comp = (
            upper.join(
                left, F.expr(f"ld = d - {shift} AND lm = i")
            )
            .groupBy("d", F.col("li").alias("gi"), "j")
            .agg(F.expr("CAST(min(lc + c) AS BIGINT)").alias("c"))
            .selectExpr("d", "gi AS i", "j", "c")
        )
        p = comp.unionByName(lower.select("d", "i", "j", "c"))
        if k % 2 == 1:
            p = p.localCheckpoint(eager=True)
    vec = p.groupBy("d").agg(
        *[
            F.expr(f"CAST(min(CASE WHEN j = {j} THEN c END) AS BIGINT)")
            .alias(f"c{j}")
            for j in range(3)
        ]
    )
    best, state = _vt_best("c0", "c1", "c2")
    day0 = spark.range(1).selectExpr(
        "CAST(0 AS BIGINT) AS day",
        "CAST(0 AS BIGINT) AS c0", "CAST(0 AS BIGINT) AS c1",
        "CAST(0 AS BIGINT) AS c2",
        "CAST(0 AS BIGINT) AS best_state", "CAST(0 AS BIGINT) AS best_cost",
    )
    return day0.unionByName(
        vec.selectExpr(
            "d AS day", "c0", "c1", "c2",
            f"CAST({state} AS BIGINT) AS best_state",
            f"CAST({best} AS BIGINT) AS best_cost",
        )
    )


# --- R318: EOQ inventory policy with exact optimality certificate -------------------------
#
# The economic order quantity (Harris 1913 / Wilson lot size) per part
# sold in 1996: q* = sqrt(2DS/H) with D = annual demand, S = $100
# fixed order cost, H = 20% of retail price per unit-year — but made
# INTEGER-EXACT end to end: qf = exact isqrt((2DS) DIV h) (floor(sqrt)
# + one-step Newton correction, the R248 discipline), then the true
# integer optimum of TRC(q) = DS/q + qH/2 picked by the EXACT rational
# comparison TRC(q) <= TRC(q+1) <=> 2DS <= q(q+1)h — no floating TRC
# is ever formed, and the emitted certificate (q-1 side AND q+1 side)
# PROVES per row that q_opt is the argmin (provably q_opt is qf or
# qf+1; tests replay the full argmin). Every magnitude <= 2DS < 2^63
# at 10^12 rows.

_EOQ_S_CENTS = 10000


@register(
    "eoq_policy",
    f"""
WITH eq_d AS (
  SELECT l_partkey AS part, CAST(sum(CAST(l_quantity AS BIGINT))
           AS BIGINT) AS d_annual
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1),
eq_h AS (
  SELECT p_partkey AS part,
         GREATEST(CAST(floor(p_retailprice * 100e0) AS BIGINT) // 5,
                  CAST(1 AS BIGINT)) AS h_cents
  FROM part),
eq_j AS (
  SELECT d.part, d.d_annual, h.h_cents,
         2 * d.d_annual * {_EOQ_S_CENTS} AS n2ds
  FROM eq_d d JOIN eq_h h ON h.part = d.part),
eq_s AS (
  SELECT *, CAST(floor(sqrt(CAST(n2ds // h_cents AS DOUBLE)))
             AS BIGINT) AS s0
  FROM eq_j),
eq_f AS (
  SELECT part, d_annual, h_cents, n2ds,
         GREATEST(CASE WHEN (s0 + 1) * (s0 + 1) <= n2ds // h_cents
                       THEN s0 + 1
                       WHEN s0 * s0 > n2ds // h_cents THEN s0 - 1
                       ELSE s0 END, CAST(1 AS BIGINT)) AS qf
  FROM eq_s),
eq_q AS (
  SELECT part, d_annual, h_cents, n2ds,
         CASE WHEN n2ds > qf * (qf + 1) * h_cents THEN qf + 1
              ELSE qf END AS eoq_q
  FROM eq_f)
SELECT part, d_annual, h_cents, eoq_q,
       (d_annual + eoq_q - 1) // eoq_q AS orders_yr,
       CAST((eoq_q = 1 OR n2ds >= eoq_q * (eoq_q - 1) * h_cents)
            AND n2ds <= eoq_q * (eoq_q + 1) * h_cents AS BIGINT) AS opt_ok
FROM eq_q
""",
    doc="EOQ inventory policy per 1996-sold part (Harris-Wilson lot "
    "size): exact isqrt of (2DS) DIV h with Newton correction, then "
    "the TRUE integer argmin of DS/q + qh/2 picked by the exact "
    "rational comparison 2DS vs q(q+1)h (no floating TRC ever "
    "formed); the emitted opt_ok column is a per-row optimality "
    "CERTIFICATE (both neighbors weakly worse). ceil orders/yr.",
)
def q_eoq_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "lineitem")
        .where("year(l_shipdate) = 1996")
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.expr("CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)")
            .alias("d_annual")
        )
    )
    h = _t(spark, sf_dir, "part").selectExpr(
        "p_partkey AS part",
        "GREATEST(CAST(floor(p_retailprice * 100e0) AS BIGINT) DIV 5,"
        " CAST(1 AS BIGINT)) AS h_cents",
    )
    j = d.join(h, "part").selectExpr(
        "part", "d_annual", "h_cents",
        f"2 * d_annual * {_EOQ_S_CENTS} AS n2ds",
    )
    f = j.selectExpr(
        "*",
        "CAST(floor(sqrt(CAST(n2ds DIV h_cents AS DOUBLE))) AS BIGINT)"
        " AS s0",
    ).selectExpr(
        "part", "d_annual", "h_cents", "n2ds",
        "GREATEST(CASE WHEN (s0 + 1) * (s0 + 1) <= n2ds DIV h_cents"
        " THEN s0 + 1"
        " WHEN s0 * s0 > n2ds DIV h_cents THEN s0 - 1 ELSE s0 END,"
        " CAST(1 AS BIGINT)) AS qf",
    )
    q = f.selectExpr(
        "part", "d_annual", "h_cents", "n2ds",
        "CASE WHEN n2ds > qf * (qf + 1) * h_cents THEN qf + 1 ELSE qf END"
        " AS eoq_q",
    )
    return q.selectExpr(
        "part", "d_annual", "h_cents", "eoq_q",
        "(d_annual + eoq_q - 1) DIV eoq_q AS orders_yr",
        "CAST((eoq_q = 1 OR n2ds >= eoq_q * (eoq_q - 1) * h_cents)"
        " AND n2ds <= eoq_q * (eoq_q + 1) * h_cents AS BIGINT) AS opt_ok",
    )


# --- R320: one-way ANOVA F (floored-mean integer form) -----------------------------------
#
# The classic k-sample location test (Fisher 1925) on per-mille daily
# revenue across the three returnflag groups over the zero-densified
# 1996 leap calendar (366 days x 3 groups = 1098 bounded observations
# at ANY SF). Per-day group revenue is normalized to per-mille of the
# global daily max (the viterbi_scan trick: values 0..1000, SF-
# invariant thresholds), means are FLOORED integers (the revenue_acf
# discipline — deterministic, engine-identical), so SSB / SSW are exact
# integers and F_milli = (1000*SSB*(n-k)) DIV (SSW*(k-1)) stays < 2^52
# with every intermediate bounded by the calendar dimension. Completes
# the location-test ladder: auc_eval (2 samples, rank), kruskal_wallis
# (k samples, rank), friedman_test (blocked rank) — this is the
# parametric k-sample rung, and levene_bf (R321) its variance sibling.


def _anova_core_sql(val: str) -> str:
    """Shared ANOVA machinery over av_z(g, doy, {val}) — floored-mean
    integer sums of squares + F_milli. Used by anova_f and levene_bf."""
    return f"""
av_g AS (
  SELECT g, CAST(count(*) AS BIGINT) AS ng,
         CAST(sum({val}) AS BIGINT) AS sg
  FROM av_v GROUP BY 1),
av_t AS (
  SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(sg) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS k
  FROM av_g),
av_m AS (
  SELECT g, ng, sg, sg // ng AS mg, n, k, s // n AS m
  FROM av_g, av_t),
av_w AS (
  SELECT CAST(sum((v.{val} - m.mg) * (v.{val} - m.mg)) AS BIGINT) AS ssw
  FROM av_v v JOIN av_m m ON m.g = v.g),
av_b AS (
  SELECT CAST(sum(ng * (mg - m) * (mg - m)) AS BIGINT) AS ssb,
         max(n) AS n, max(k) AS k
  FROM av_m)
SELECT b.n AS n_obs, b.k AS k_groups, b.ssb, w.ssw,
       CAST(CASE WHEN w.ssw = 0 THEN CAST(0 AS BIGINT)
            ELSE (1000 * b.ssb * (b.n - b.k)) // (w.ssw * (b.k - 1))
            END AS BIGINT) AS f_milli
FROM av_b b, av_w w
"""


_ANOVA_Z_SQL = """
av_daily AS (
  SELECT l_returnflag AS g,
         dayofyear(CAST(l_shipdate AS DATE)) AS doy,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
           AS BIGINT)) AS BIGINT) AS v
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1, 2),
av_cal AS (
  SELECT t.g, unnest(range(1, 367)) AS doy
  FROM (VALUES ('A'), ('N'), ('R')) t(g)),
av_mx AS (SELECT GREATEST(max(v), CAST(1 AS BIGINT)) AS vmax
          FROM av_daily),
av_z AS (
  SELECT c.g, c.doy,
         (1000 * coalesce(d.v, CAST(0 AS BIGINT))) // vmax AS z
  FROM av_cal c
  LEFT JOIN av_daily d ON d.g = c.g AND d.doy = c.doy, av_mx)
"""


@register(
    "anova_f",
    "WITH " + _ANOVA_Z_SQL + ",\nav_v AS (SELECT g, doy, z FROM av_z),"
    + _anova_core_sql("z"),
    doc="One-way ANOVA F across the three returnflag groups on per-mille "
    "daily 1996 revenue (zero-densified 366-day leap calendar, 1098 "
    "bounded observations at any SF): floored-mean integer sums of "
    "squares, F_milli cross-multiplied — the parametric k-sample rung "
    "beside kruskal_wallis; every intermediate bounded by the calendar "
    "dimension.",
)
def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    z = _anova_z_frame(spark, sf_dir)
    return _anova_core_spark(z.selectExpr("g", "doy", "z AS v"))


def _anova_z_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "lineitem")
        .where("year(l_shipdate) = 1996")
        .groupBy(
            F.col("l_returnflag").alias("g"),
            F.expr("dayofyear(CAST(l_shipdate AS DATE))").alias("doy"),
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))"
                " AS BIGINT)) AS BIGINT)"
            ).alias("v")
        )
    )
    cal = (
        spark.range(1)
        .selectExpr("explode(array('A', 'N', 'R')) AS g")
        .selectExpr("g", "explode(sequence(1, 366)) AS doy")
    )
    mx = daily.agg(
        F.expr("GREATEST(max(v), CAST(1 AS BIGINT))").alias("vmax")
    )
    return (
        cal.join(daily, ["g", "doy"], "left")
        .crossJoin(F.broadcast(mx))
        .selectExpr(
            "g", "doy",
            "(1000 * coalesce(v, CAST(0 AS BIGINT))) DIV vmax AS z",
        )
    )


def _anova_core_spark(v: DataFrame) -> DataFrame:
    """Floored-mean ANOVA over v(g, doy, v) — mirrors _anova_core_sql."""
    grp = v.groupBy("g").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("ng"),
        F.expr("CAST(sum(v) AS BIGINT)").alias("sg"),
    )
    tot = grp.agg(
        F.expr("CAST(sum(ng) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(sg) AS BIGINT)").alias("s"),
        F.expr("CAST(count(*) AS BIGINT)").alias("k"),
    )
    m = grp.crossJoin(F.broadcast(tot)).selectExpr(
        "g AS mg_g", "ng", "sg", "sg DIV ng AS mg", "n", "k",
        "s DIV n AS m",
    )
    ssw = (
        v.join(F.broadcast(m), F.expr("g = mg_g"))
        .agg(F.expr("CAST(sum((v - mg) * (v - mg)) AS BIGINT)").alias("ssw"))
    )
    ssb = m.agg(
        F.expr("CAST(sum(ng * (mg - m) * (mg - m)) AS BIGINT)").alias("ssb"),
        F.expr("max(n)").alias("n"),
        F.expr("max(k)").alias("k"),
    )
    return ssb.crossJoin(F.broadcast(ssw)).selectExpr(
        "n AS n_obs", "k AS k_groups", "ssb", "ssw",
        "CAST(CASE WHEN ssw = 0 THEN CAST(0 AS BIGINT)"
        " ELSE (1000 * ssb * (n - k)) DIV (ssw * (k - 1))"
        " END AS BIGINT) AS f_milli",
    )


# --- R321: Brown-Forsythe (robust Levene) variance-homogeneity test -----------------------
#
# Levene 1960 with the Brown-Forsythe 1974 median centering — "do the
# three returnflag groups have the SAME daily-revenue spread?" — the
# variance sibling of anova_f: per group the DOUBLED lower-median pair
# (ranks 183+184 of the fixed 366-day column, so the even-n median
# stays an exact integer), deviations w = |2z - m2|, then the same
# floored-mean integer ANOVA machinery on w. Both outcomes reachable
# (equal-spread vs heteroskedastic); deterministic ties via (z, doy).


@register(
    "levene_bf",
    "WITH " + _ANOVA_Z_SQL + """,
av_r AS (
  SELECT g, doy, z,
         row_number() OVER (PARTITION BY g ORDER BY z, doy) AS rn
  FROM av_z),
av_md AS (
  SELECT g AS md_g,
         CAST(sum(CASE WHEN rn IN (183, 184) THEN z ELSE 0 END)
           AS BIGINT) AS m2
  FROM av_r GROUP BY 1),
av_v AS (
  SELECT z.g, z.doy, abs(2 * z.z - m.m2) AS w
  FROM av_z z JOIN av_md m ON m.md_g = z.g),
""" + _anova_core_sql("w"),
    doc="Brown-Forsythe robust variance-homogeneity test across "
    "returnflag groups on per-mille daily 1996 revenue: per-group "
    "DOUBLED lower-median pair (ranks 183+184 of the fixed 366-day "
    "column) keeps the even-n median an exact integer, deviations "
    "|2z - m2| feed the same floored-mean integer ANOVA machinery as "
    "anova_f — the spread rung of the k-sample family.",
)
def q_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    z = _anova_z_frame(spark, sf_dir).localCheckpoint(eager=False)
    med = (
        z.withColumn(
            "rn",
            F.expr(
                "row_number() OVER (PARTITION BY g ORDER BY z, doy)"
            ),
        )
        .groupBy(F.col("g").alias("md_g"))
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN rn IN (183, 184) THEN z ELSE 0 END)"
                " AS BIGINT)"
            ).alias("m2")
        )
    )
    w = z.join(F.broadcast(med), F.expr("g = md_g")).selectExpr(
        "g", "doy", "abs(2 * z - m2) AS v"
    )
    return _anova_core_spark(w)


# --- R322: instrumental-variable (Wald) estimator ---------------------------------------
#
# The simplest causal-inference estimator beyond OLS (Wald 1940;
# Angrist-Krueger instruments): beta_IV = Cov(z,y) / Cov(z,x) where the
# daily high-tax-band share z instruments the mean discount level x
# against the return rate y — completing the causal ladder did_estimator
# (parallel trends) / cuped_adjust (variance reduction) / iv_wald
# (endogeneity). Everything on the BOUNDED daily dimension: per 1996
# shipping day, z/x/y are per-mille integer shares, deviations use
# floored means (revenue_acf discipline), and the three slopes (IV,
# OLS, first stage) are emitted sign-safely (CASE on the sign, DIV on
# the positive operand) so Spark DIV == DuckDB // exactly. The OLS-vs-
# IV gap in the output is the endogeneity diagnostic.


@register(
    "iv_wald",
    """
WITH iv_d AS (
  SELECT dayofyear(CAST(l_shipdate AS DATE)) AS doy,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN l_tax >= 0.04e0 THEN 1 ELSE 0 END)
      AS BIGINT) AS na,
    CAST(sum(CAST(floor(l_discount * 1000e0) AS BIGINT))
      AS BIGINT) AS sdelay,
    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      AS BIGINT) AS nr
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1),
iv_z AS (
  SELECT doy, (1000 * na) // n AS z, (1000 * sdelay) // n AS x,
         (1000 * nr) // n AS y
  FROM iv_d),
iv_m AS (
  SELECT CAST(count(*) AS BIGINT) AS nd,
         CAST(sum(z) AS BIGINT) // CAST(count(*) AS BIGINT) AS mz,
         CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS mx,
         CAST(sum(y) AS BIGINT) // CAST(count(*) AS BIGINT) AS my
  FROM iv_z),
iv_s AS (
  SELECT nd,
    CAST(sum((z - mz) * (x - mx)) AS BIGINT) AS szx,
    CAST(sum((z - mz) * (y - my)) AS BIGINT) AS szy,
    CAST(sum((x - mx) * (y - my)) AS BIGINT) AS sxy,
    CAST(sum((x - mx) * (x - mx)) AS BIGINT) AS sxx,
    CAST(sum((z - mz) * (z - mz)) AS BIGINT) AS szz
  FROM iv_z, iv_m GROUP BY nd)
SELECT nd AS n_days, szx, szy, sxy, sxx, szz,
  CAST(CASE WHEN szx = 0 THEN 0
       WHEN (szy > 0) = (szx > 0) AND szy != 0 THEN 1
       WHEN szy = 0 THEN 0 ELSE -1 END AS BIGINT) AS iv_sign,
  CAST(CASE WHEN szx = 0 THEN 0
       ELSE (1000 * abs(szy)) // abs(szx) END AS BIGINT)
    AS iv_abs_milli,
  CAST(CASE WHEN sxy > 0 THEN 1 WHEN sxy < 0 THEN -1 ELSE 0 END
    AS BIGINT) AS ols_sign,
  CAST((1000 * abs(sxy)) // GREATEST(sxx, 1) AS BIGINT)
    AS ols_abs_milli,
  CAST(CASE WHEN szx > 0 THEN 1 WHEN szx < 0 THEN -1 ELSE 0 END
    AS BIGINT) AS fs_sign,
  CAST((1000 * abs(szx)) // GREATEST(szz, 1) AS BIGINT)
    AS fs_abs_milli
FROM iv_s
""",
    doc="Instrumental-variable Wald estimator on the bounded 1996 daily "
    "dimension: per-mille high-tax-band share instruments the mean "
    "discount level against the return rate; floored-mean deviations, all three "
    "slopes (IV, OLS, first stage) emitted sign-safely in milli — the "
    "endogeneity rung of the causal family beside did_estimator and "
    "cuped_adjust.",
)
def q_iv_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "lineitem")
        .where("year(l_shipdate) = 1996")
        .groupBy(
            F.expr("dayofyear(CAST(l_shipdate AS DATE))").alias("doy")
        )
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n"),
            F.expr(
                "CAST(sum(CASE WHEN l_tax >= 0.04e0 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("na"),
            F.expr(
                "CAST(sum(CAST(floor(l_discount * 1000e0) AS BIGINT))"
                " AS BIGINT)"
            ).alias("sdelay"),
            F.expr(
                "CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("nr"),
        )
        .selectExpr(
            "doy", "(1000 * na) DIV n AS z", "(1000 * sdelay) DIV n AS x",
            "(1000 * nr) DIV n AS y",
        )
        .localCheckpoint(eager=False)
    )
    m = d.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("nd"),
        F.expr(
            "CAST(sum(z) AS BIGINT) DIV CAST(count(*) AS BIGINT)"
        ).alias("mz"),
        F.expr(
            "CAST(sum(x) AS BIGINT) DIV CAST(count(*) AS BIGINT)"
        ).alias("mx"),
        F.expr(
            "CAST(sum(y) AS BIGINT) DIV CAST(count(*) AS BIGINT)"
        ).alias("my"),
    )
    s = d.crossJoin(F.broadcast(m)).groupBy("nd").agg(
        F.expr("CAST(sum((z - mz) * (x - mx)) AS BIGINT)").alias("szx"),
        F.expr("CAST(sum((z - mz) * (y - my)) AS BIGINT)").alias("szy"),
        F.expr("CAST(sum((x - mx) * (y - my)) AS BIGINT)").alias("sxy"),
        F.expr("CAST(sum((x - mx) * (x - mx)) AS BIGINT)").alias("sxx"),
        F.expr("CAST(sum((z - mz) * (z - mz)) AS BIGINT)").alias("szz"),
    )
    return s.selectExpr(
        "nd AS n_days", "szx", "szy", "sxy", "sxx", "szz",
        "CAST(CASE WHEN szx = 0 THEN 0"
        " WHEN (szy > 0) = (szx > 0) AND szy != 0 THEN 1"
        " WHEN szy = 0 THEN 0 ELSE -1 END AS BIGINT) AS iv_sign",
        "CAST(CASE WHEN szx = 0 THEN 0"
        " ELSE (1000 * abs(szy)) DIV abs(szx) END AS BIGINT)"
        " AS iv_abs_milli",
        "CAST(CASE WHEN sxy > 0 THEN 1 WHEN sxy < 0 THEN -1 ELSE 0 END"
        " AS BIGINT) AS ols_sign",
        "CAST((1000 * abs(sxy)) DIV GREATEST(sxx, 1) AS BIGINT)"
        " AS ols_abs_milli",
        "CAST(CASE WHEN szx > 0 THEN 1 WHEN szx < 0 THEN -1 ELSE 0 END"
        " AS BIGINT) AS fs_sign",
        "CAST((1000 * abs(szx)) DIV GREATEST(szz, 1) AS BIGINT)"
        " AS fs_abs_milli",
    )


# --- R326: exact DFT power at the weekly frequency --------------------------------------
#
# Frequency-domain analysis enters the time-series family (acf = lag
# domain, seasonal_decomposition = additive components): the discrete
# Fourier power of per-mille daily 1996 revenue at the weekly period,
# harmonics k = 1..3, with cos/sin as MILLI INTEGER LITERALS baked at
# codegen (the hough_lines zero-runtime-trig discipline — identical
# text both engines). Phase index (doy*k) % 7 folds every harmonic
# through ONE 7-row trig table; C = sum z*cos_milli, S = sum z*sin_milli,
# power = C^2 + S^2 <= 1.3e17 < 2^63 at the bounded 366-day dimension.
# A strong weekly rhythm shows as power(k=1) far above the higher
# harmonics.

_DFT_COS7 = [1000, 623, -223, -901, -901, -223, 623]
_DFT_SIN7 = [0, 782, 975, 434, -434, -975, -782]


def _dft_trig_rows() -> str:
    return ", ".join(
        f"({j}, {_DFT_COS7[j]}, {_DFT_SIN7[j]})" for j in range(7)
    )


@register(
    "dft_weekly_power",
    f"""
WITH df_daily AS (
  SELECT dayofyear(CAST(l_shipdate AS DATE)) AS doy,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
           AS BIGINT)) AS BIGINT) AS v
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1),
df_mx AS (SELECT GREATEST(max(v), CAST(1 AS BIGINT)) AS vmax FROM df_daily),
df_z AS (
  SELECT doy, (1000 * v) // vmax AS z FROM df_daily, df_mx),
df_trig(j, c_milli, s_milli) AS (VALUES {_dft_trig_rows()}),
df_k(k) AS (VALUES (1), (2), (3)),
df_terms AS (
  SELECT k.k, z.z, t.c_milli, t.s_milli
  FROM df_z z CROSS JOIN df_k k
  JOIN df_trig t ON t.j = (z.doy * k.k) % 7)
SELECT k, CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(z * c_milli) AS BIGINT) AS c_sum,
       CAST(sum(z * s_milli) AS BIGINT) AS s_sum,
       CAST(sum(z * c_milli) * sum(z * c_milli)
            + sum(z * s_milli) * sum(z * s_milli) AS BIGINT) AS power
FROM df_terms GROUP BY 1
""",
    doc="Exact DFT power of per-mille daily 1996 revenue at the weekly "
    "period, harmonics k=1..3: cos/sin are milli integer literals "
    "(hough_lines zero-runtime-trig discipline), phase (doy*k) % 7 "
    "folds all harmonics through one 7-row trig table; power = C^2 + "
    "S^2 exact on the bounded calendar dimension — the frequency-"
    "domain rung of the time-series family.",
)
def q_dft_weekly_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "lineitem")
        .where("year(l_shipdate) = 1996")
        .groupBy(
            F.expr("dayofyear(CAST(l_shipdate AS DATE))").alias("doy")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))"
                " AS BIGINT)) AS BIGINT)"
            ).alias("v")
        )
    )
    mx = daily.agg(
        F.expr("GREATEST(max(v), CAST(1 AS BIGINT))").alias("vmax")
    )
    z = daily.crossJoin(F.broadcast(mx)).selectExpr(
        "doy", "(1000 * v) DIV vmax AS z"
    )
    trig_structs = ", ".join(
        f"struct({j} AS j, {_DFT_COS7[j]} AS c_milli,"
        f" {_DFT_SIN7[j]} AS s_milli)"
        for j in range(7)
    )
    trig = spark.range(1).selectExpr(
        f"inline(array({trig_structs}))"
    )
    terms = (
        z.selectExpr("doy", "z", "explode(array(1, 2, 3)) AS k")
        .join(F.broadcast(trig), F.expr("j = (doy * k) % 7"))
    )
    return terms.groupBy("k").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_days"),
        F.expr("CAST(sum(z * c_milli) AS BIGINT)").alias("c_sum"),
        F.expr("CAST(sum(z * s_milli) AS BIGINT)").alias("s_sum"),
        F.expr(
            "CAST(sum(z * c_milli) * sum(z * c_milli)"
            " + sum(z * s_milli) * sum(z * s_milli) AS BIGINT)"
        ).alias("power"),
    )


# --- R328: 7-day rolling LOWER-median smoother ------------------------------------------
#
# The robust rung of the rolling-window family (rolling_order_activity
# = RANGE sums, ewma_anomalies = exponential smoothing): per day the
# exact LOWER MEDIAN (4th of the 7 sorted values) of daily revenue in
# kilodollars over the trailing week — computed by sorting the
# collected 7-element window array (array_sort / list_sort: a total
# order on bigints, engine-identical; no percentile function whose tie
# rule could differ). Only full windows emit (doy >= 7 over the
# densified calendar). The residual |v - med7| column is the
# outlier-score output. Bounded calendar dimension -> scale-safe.


@register(
    "rolling_median7",
    """
WITH rm_daily AS (
  SELECT dayofyear(CAST(l_shipdate AS DATE)) AS doy,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
           AS BIGINT)) // 1000 AS BIGINT) AS v
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1),
rm_cal AS (SELECT unnest(range(1, 367)) AS doy),
rm_z AS (
  SELECT c.doy, coalesce(d.v, CAST(0 AS BIGINT)) AS v
  FROM rm_cal c LEFT JOIN rm_daily d ON d.doy = c.doy),
rm_w AS (
  SELECT doy, v,
         list(v) OVER (ORDER BY doy
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS win
  FROM rm_z)
SELECT doy, v, list_sort(win)[4] AS med7,
       abs(v - list_sort(win)[4]) AS resid
FROM rm_w WHERE doy >= 7
""",
    doc="7-day rolling LOWER median of daily 1996 revenue "
    "(kilodollars) over the densified calendar: exact 4th of the 7 "
    "sorted trailing values via array sort (no engine percentile tie "
    "rules), residual |v - med7| as the robust outlier score; full "
    "windows only. The robust smoother beside ewma_anomalies.",
)
def q_rolling_median7(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "lineitem")
        .where("year(l_shipdate) = 1996")
        .groupBy(
            F.expr("dayofyear(CAST(l_shipdate AS DATE))").alias("doy")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))"
                " AS BIGINT)) DIV 1000 AS BIGINT)"
            ).alias("v")
        )
    )
    cal = spark.range(1).selectExpr(
        "explode(sequence(1, 366)) AS doy"
    )
    z = cal.join(daily, ["doy"], "left").selectExpr(
        "doy", "coalesce(v, CAST(0 AS BIGINT)) AS v"
    )
    w = z.withColumn(
        "win",
        F.expr(
            "collect_list(v) OVER (ORDER BY doy"
            " ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"
        ),
    )
    return w.where("doy >= 7").selectExpr(
        "doy", "v",
        "element_at(array_sort(win), 4) AS med7",
        "abs(v - element_at(array_sort(win), 4)) AS resid",
    )


# --- R330: exact 2-feature ridge regression (Cramer closed form) -------------------------
#
# Multivariate regression enters the family (ols_trend is univariate):
# ridge normal equations (X'X + lambda*I) w = X'y for TWO features on
# the bounded 1996 daily dimension — y = per-CENT daily revenue,
# x1 = per-cent order-line count, x2 = per-cent mean discount (per-
# cent, not per-mille, so every Cramer product stays < 2^55). Floored
# means center the deviations (revenue_acf discipline); the 2x2 solve
# is CRAMER'S RULE on exact integers:
#   det = (S11 + L)(S22 + L) - S12^2   (> 0: Cauchy-Schwarz + L > 0)
#   w1_num = b1 (S22 + L) - b2 S12 ; w2_num = (S11 + L) b2 - S12 b1
# and the weights leave sign-safely in milli. No matrix library, no
# floats, one aggregation pass.

_RIDGE_L = 100


@register(
    "ridge_2f",
    f"""
WITH rg_d AS (
  SELECT dayofyear(CAST(l_shipdate AS DATE)) AS doy,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
      AS BIGINT)) AS BIGINT) AS rev,
    CAST(sum(CAST(floor(l_discount * 100e0) AS BIGINT)) AS BIGINT) AS sd
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1),
rg_mx AS (
  SELECT GREATEST(max(rev), CAST(1 AS BIGINT)) AS rmax,
         GREATEST(max(n), CAST(1 AS BIGINT)) AS nmax
  FROM rg_d),
rg_z AS (
  SELECT doy, (100 * rev) // rmax AS y, (100 * n) // nmax AS x1,
         sd // n AS x2
  FROM rg_d, rg_mx),
rg_m AS (
  SELECT CAST(count(*) AS BIGINT) AS nd,
         CAST(sum(y) AS BIGINT) // CAST(count(*) AS BIGINT) AS my,
         CAST(sum(x1) AS BIGINT) // CAST(count(*) AS BIGINT) AS m1,
         CAST(sum(x2) AS BIGINT) // CAST(count(*) AS BIGINT) AS m2
  FROM rg_z),
rg_s AS (
  SELECT nd,
    CAST(sum((x1 - m1) * (x1 - m1)) AS BIGINT) + {_RIDGE_L} AS a11,
    CAST(sum((x1 - m1) * (x2 - m2)) AS BIGINT) AS a12,
    CAST(sum((x2 - m2) * (x2 - m2)) AS BIGINT) + {_RIDGE_L} AS a22,
    CAST(sum((x1 - m1) * (y - my)) AS BIGINT) AS b1,
    CAST(sum((x2 - m2) * (y - my)) AS BIGINT) AS b2
  FROM rg_z, rg_m GROUP BY nd)
SELECT nd AS n_days, a11, a12, a22, b1, b2,
  a11 * a22 - a12 * a12 AS det,
  CAST(CASE WHEN b1 * a22 - b2 * a12 > 0 THEN 1
       WHEN b1 * a22 - b2 * a12 < 0 THEN -1 ELSE 0 END AS BIGINT)
    AS w1_sign,
  CAST((1000 * abs(b1 * a22 - b2 * a12)) // (a11 * a22 - a12 * a12)
    AS BIGINT) AS w1_abs_milli,
  CAST(CASE WHEN a11 * b2 - a12 * b1 > 0 THEN 1
       WHEN a11 * b2 - a12 * b1 < 0 THEN -1 ELSE 0 END AS BIGINT)
    AS w2_sign,
  CAST((1000 * abs(a11 * b2 - a12 * b1)) // (a11 * a22 - a12 * a12)
    AS BIGINT) AS w2_abs_milli
FROM rg_s
""",
    doc="Exact 2-feature ridge regression on the bounded 1996 daily "
    "dimension (y = per-cent revenue, x1 = per-cent line count, x2 = "
    "mean discount in per-cent): floored-mean deviations, Cramer's "
    "rule on exact integers (det > 0 by Cauchy-Schwarz + lambda), "
    "weights emitted sign-safely in milli — multivariate regression "
    "with no matrix library and no floats.",
)
def q_ridge_2f(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "lineitem")
        .where("year(l_shipdate) = 1996")
        .groupBy(
            F.expr("dayofyear(CAST(l_shipdate AS DATE))").alias("doy")
        )
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n"),
            F.expr(
                "CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))"
                " AS BIGINT)) AS BIGINT)"
            ).alias("rev"),
            F.expr(
                "CAST(sum(CAST(floor(l_discount * 100e0) AS BIGINT))"
                " AS BIGINT)"
            ).alias("sd"),
        )
    )
    mx = d.agg(
        F.expr("GREATEST(max(rev), CAST(1 AS BIGINT))").alias("rmax"),
        F.expr("GREATEST(max(n), CAST(1 AS BIGINT))").alias("nmax"),
    )
    z = d.crossJoin(F.broadcast(mx)).selectExpr(
        "doy", "(100 * rev) DIV rmax AS y", "(100 * n) DIV nmax AS x1",
        "sd DIV n AS x2",
    ).localCheckpoint(eager=False)
    m = z.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("nd"),
        F.expr(
            "CAST(sum(y) AS BIGINT) DIV CAST(count(*) AS BIGINT)"
        ).alias("my"),
        F.expr(
            "CAST(sum(x1) AS BIGINT) DIV CAST(count(*) AS BIGINT)"
        ).alias("m1"),
        F.expr(
            "CAST(sum(x2) AS BIGINT) DIV CAST(count(*) AS BIGINT)"
        ).alias("m2"),
    )
    s = z.crossJoin(F.broadcast(m)).groupBy("nd").agg(
        F.expr(
            f"CAST(sum((x1 - m1) * (x1 - m1)) AS BIGINT) + {_RIDGE_L}"
        ).alias("a11"),
        F.expr("CAST(sum((x1 - m1) * (x2 - m2)) AS BIGINT)").alias("a12"),
        F.expr(
            f"CAST(sum((x2 - m2) * (x2 - m2)) AS BIGINT) + {_RIDGE_L}"
        ).alias("a22"),
        F.expr("CAST(sum((x1 - m1) * (y - my)) AS BIGINT)").alias("b1"),
        F.expr("CAST(sum((x2 - m2) * (y - my)) AS BIGINT)").alias("b2"),
    )
    return s.selectExpr(
        "nd AS n_days", "a11", "a12", "a22", "b1", "b2",
        "a11 * a22 - a12 * a12 AS det",
        "CAST(CASE WHEN b1 * a22 - b2 * a12 > 0 THEN 1"
        " WHEN b1 * a22 - b2 * a12 < 0 THEN -1 ELSE 0 END AS BIGINT)"
        " AS w1_sign",
        "CAST((1000 * abs(b1 * a22 - b2 * a12))"
        " DIV (a11 * a22 - a12 * a12) AS BIGINT) AS w1_abs_milli",
        "CAST(CASE WHEN a11 * b2 - a12 * b1 > 0 THEN 1"
        " WHEN a11 * b2 - a12 * b1 < 0 THEN -1 ELSE 0 END AS BIGINT)"
        " AS w2_sign",
        "CAST((1000 * abs(a11 * b2 - a12 * b1))"
        " DIV (a11 * a22 - a12 * a12) AS BIGINT) AS w2_abs_milli",
    )


# --- R331: Little's law self-audit (L = lambda * W) --------------------------------------
#
# The fundamental queueing identity audited the engine's audit-op way:
# an order is "in system" from o_orderdate to its last line's shipdate
# (clipped to the 1996 window). The total order-day mass is computed
# by TWO independent methods in the same row — (a) the direct per-
# order sum of clipped durations, and (b) a +1/-1 day-sweepline over
# the bounded calendar (cumsum of boundary events, then sum of the
# per-day concurrency) — and exact_match certifies they agree, which
# is precisely Little's law in integer form: L*366 = lambda*366 * W
# both count order-days. l_milli / w_milli / lambda_milli leave as
# floored milli rates for the human reader.


@register(
    "littles_law",
    """
WITH ll_o AS (
  SELECT o.o_orderkey,
         dayofyear(CAST(o.o_orderdate AS DATE)) AS s,
         LEAST(CAST(date_diff('day', DATE '1996-01-01',
                 CAST(max(l.l_shipdate) AS DATE)) AS BIGINT) + 1,
               CAST(366 AS BIGINT)) AS e_raw
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) = 1996
  GROUP BY 1, 2),
ll_iv AS (
  SELECT o_orderkey, s, GREATEST(e_raw, CAST(s AS BIGINT)) AS e
  FROM ll_o),
ll_direct AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(e - s + 1) AS BIGINT) AS od_direct
  FROM ll_iv),
ll_b AS (
  SELECT s AS d, CAST(count(*) AS BIGINT) AS delta FROM ll_iv GROUP BY 1
  UNION ALL
  SELECT CAST(e + 1 AS INT) AS d, CAST(-count(*) AS BIGINT) AS delta
  FROM ll_iv GROUP BY e),
ll_cal AS (SELECT unnest(range(1, 367)) AS d),
ll_conc AS (
  SELECT c.d,
         CAST(sum(coalesce(b.delta, 0)) OVER (ORDER BY c.d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS open_orders
  FROM ll_cal c
  LEFT JOIN (SELECT d, CAST(sum(delta) AS BIGINT) AS delta
             FROM ll_b GROUP BY 1) b ON b.d = c.d),
ll_sweep AS (
  SELECT CAST(sum(open_orders) AS BIGINT) AS od_sweep,
         CAST(max(open_orders) AS BIGINT) AS peak_open
  FROM ll_conc)
SELECT d.n_orders, d.od_direct, s.od_sweep, s.peak_open,
       CAST(d.od_direct = s.od_sweep AS BIGINT) AS exact_match,
       CAST((1000 * d.od_direct) // 366 AS BIGINT) AS l_milli,
       CAST((1000 * d.od_direct) // d.n_orders AS BIGINT) AS w_milli,
       CAST((1000 * d.n_orders) // 366 AS BIGINT) AS lambda_milli
FROM ll_direct d, ll_sweep s
""",
    doc="Little's law L = lambda*W audited in integer form: order "
    "in-system intervals (orderdate -> last line shipdate, clipped to "
    "the 1996 window), order-day mass computed TWO independent ways "
    "in one row — direct clipped-duration sum vs a +1/-1 day-"
    "sweepline cumsum over the bounded calendar — with an exact_match "
    "certificate; floored milli L, W, lambda for the reader. The "
    "queueing rung of the audit-op family.",
)
def q_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = (
        _t(spark, sf_dir, "orders")
        .where("year(o_orderdate) = 1996")
        .join(
            _t(spark, sf_dir, "lineitem"),
            F.expr("l_orderkey = o_orderkey"),
        )
        .groupBy(
            "o_orderkey",
            F.expr("dayofyear(CAST(o_orderdate AS DATE))").alias("s"),
        )
        .agg(
            F.expr(
                "LEAST(CAST(datediff(max(l_shipdate), DATE '1996-01-01')"
                " AS BIGINT) + 1, CAST(366 AS BIGINT)) AS e_raw"
            )
        )
        .selectExpr(
            "o_orderkey", "s",
            "GREATEST(e_raw, CAST(s AS BIGINT)) AS e",
        )
        .localCheckpoint(eager=False)
    )
    direct = iv.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_orders"),
        F.expr("CAST(sum(e - s + 1) AS BIGINT)").alias("od_direct"),
    )
    starts = iv.groupBy(F.col("s").alias("d")).agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("delta")
    )
    ends = iv.groupBy(F.expr("CAST(e + 1 AS INT)").alias("d")).agg(
        F.expr("CAST(-count(*) AS BIGINT)").alias("delta")
    )
    bounds = (
        starts.unionByName(ends)
        .groupBy("d")
        .agg(F.expr("CAST(sum(delta) AS BIGINT)").alias("delta"))
    )
    cal = iv.sparkSession.range(1).selectExpr(
        "explode(sequence(1, 366)) AS d"
    )
    conc = cal.join(bounds, ["d"], "left").selectExpr(
        "d",
        "CAST(sum(coalesce(delta, CAST(0 AS BIGINT))) OVER (ORDER BY d"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        " AS open_orders",
    )
    sweep = conc.agg(
        F.expr("CAST(sum(open_orders) AS BIGINT)").alias("od_sweep"),
        F.expr("CAST(max(open_orders) AS BIGINT)").alias("peak_open"),
    )
    return direct.crossJoin(F.broadcast(sweep)).selectExpr(
        "n_orders", "od_direct", "od_sweep", "peak_open",
        "CAST(od_direct = od_sweep AS BIGINT) AS exact_match",
        "CAST((1000 * od_direct) DIV 366 AS BIGINT) AS l_milli",
        "CAST((1000 * od_direct) DIV n_orders AS BIGINT) AS w_milli",
        "CAST((1000 * n_orders) DIV 366 AS BIGINT) AS lambda_milli",
    )


# --- R333: rescaled-range (R/S) ladder --------------------------------------------------
#
# The Hurst/Mandelbrot long-memory diagnostic as a LADDER (the
# msd_ladder / lacunarity shape — one scan, several scales, the
# reader fits the log-log slope): the 1996 per-mille daily revenue
# series is cut into consecutive blocks of w in {30, 60, 90, 180}
# days; per block the RANGE of cumulative floored-mean deviations
# R = max C_t - min C_t and the integer dispersion S2 = sum (z-m)^2;
# per scale the block means leave in milli. Random-walk series show
# R growing ~ w^0.5, trending/persistent series faster — the ladder
# ordering itself is the diagnostic. Every window is PARTITIONED BY
# (scale, block) over the bounded calendar: scale-safe at any SF.


@register(
    "rs_ladder",
    """
WITH rs_daily AS (
  SELECT dayofyear(CAST(l_shipdate AS DATE)) AS doy,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
           AS BIGINT)) AS BIGINT) AS v
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1),
rs_mx AS (SELECT GREATEST(max(v), CAST(1 AS BIGINT)) AS vmax FROM rs_daily),
rs_cal AS (SELECT unnest(range(1, 367)) AS doy),
rs_z AS (
  SELECT c.doy, (1000 * coalesce(d.v, CAST(0 AS BIGINT))) // vmax AS z
  FROM rs_cal c LEFT JOIN rs_daily d ON d.doy = c.doy, rs_mx),
rs_w(w) AS (VALUES (30), (60), (90), (180)),
rs_blk AS (
  SELECT w.w, (z.doy - 1) // w.w AS blk, z.doy, z.z
  FROM rs_z z CROSS JOIN rs_w w
  WHERE z.doy <= (366 // w.w) * w.w),
rs_m AS (
  SELECT w, blk, CAST(sum(z) AS BIGINT) // CAST(count(*) AS BIGINT) AS m
  FROM rs_blk GROUP BY 1, 2),
rs_c AS (
  SELECT b.w, b.blk, b.z, m.m,
         CAST(sum(b.z - m.m) OVER (PARTITION BY b.w, b.blk ORDER BY b.doy
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS c
  FROM rs_blk b JOIN rs_m m ON m.w = b.w AND m.blk = b.blk),
rs_r AS (
  SELECT w, blk,
         CAST(max(c) - min(c) AS BIGINT) AS r,
         CAST(sum((z - m) * (z - m)) AS BIGINT) AS s2
  FROM rs_c GROUP BY 1, 2)
SELECT w, CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(r) AS BIGINT) AS sum_r,
       CAST(sum(s2) AS BIGINT) AS sum_s2,
       CAST((1000 * sum(r)) // count(*) AS BIGINT) AS mean_r_milli,
       CAST(sum(s2) // count(*) AS BIGINT) AS mean_s2
FROM rs_r GROUP BY 1
""",
    doc="Rescaled-range (R/S) ladder over per-mille daily 1996 revenue: "
    "consecutive blocks of 30/60/90/180 days, per block the range of "
    "cumulative floored-mean deviations and the integer dispersion; "
    "per-scale block means in milli — the Hurst long-memory "
    "diagnostic as a one-scan ladder, windows partitioned by (scale, "
    "block) on the bounded calendar.",
)
def q_rs_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "lineitem")
        .where("year(l_shipdate) = 1996")
        .groupBy(
            F.expr("dayofyear(CAST(l_shipdate AS DATE))").alias("doy")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))"
                " AS BIGINT)) AS BIGINT)"
            ).alias("v")
        )
    )
    mx = daily.agg(
        F.expr("GREATEST(max(v), CAST(1 AS BIGINT))").alias("vmax")
    )
    cal = spark.range(1).selectExpr("explode(sequence(1, 366)) AS doy")
    z = (
        cal.join(daily, ["doy"], "left")
        .crossJoin(F.broadcast(mx))
        .selectExpr(
            "doy",
            "(1000 * coalesce(v, CAST(0 AS BIGINT))) DIV vmax AS z",
        )
    )
    blk = z.selectExpr(
        "doy", "z", "explode(array(30, 60, 90, 180)) AS w"
    ).where("doy <= (366 DIV w) * w").selectExpr(
        "w", "(doy - 1) DIV w AS blk", "doy", "z"
    )
    m = blk.groupBy("w", "blk").agg(
        F.expr(
            "CAST(sum(z) AS BIGINT) DIV CAST(count(*) AS BIGINT)"
        ).alias("m")
    ).selectExpr("w AS mw", "blk AS mblk", "m")
    c = blk.join(
        m, F.expr("mw = w AND mblk = blk")
    ).selectExpr(
        "w", "blk", "z", "m",
        "CAST(sum(z - m) OVER (PARTITION BY w, blk ORDER BY doy"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        " AS c",
    )
    r = c.groupBy("w", "blk").agg(
        F.expr("CAST(max(c) - min(c) AS BIGINT)").alias("r"),
        F.expr("CAST(sum((z - m) * (z - m)) AS BIGINT)").alias("s2"),
    )
    return r.groupBy("w").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_blocks"),
        F.expr("CAST(sum(r) AS BIGINT)").alias("sum_r"),
        F.expr("CAST(sum(s2) AS BIGINT)").alias("sum_s2"),
        F.expr(
            "CAST((1000 * sum(r)) DIV count(*) AS BIGINT)"
        ).alias("mean_r_milli"),
        F.expr("CAST(sum(s2) DIV count(*) AS BIGINT)").alias("mean_s2"),
    )


# --- R334: md5-seeded randomization (permutation) test ----------------------------------
#
# Distribution-free inference by RESAMPLING, made engine-exact the
# poisson_bootstrap way: the weekend-vs-weekday daily-revenue shift is
# tested against 64 md5-seeded relabelings of the calendar. The
# statistic is the CROSS-MULTIPLIED mean difference
# T = s_we * n_wd - s_wd * n_we (no division, sign carries direction);
# each draw b relabels day d as "weekend" iff md5('pt:b:d') % 7 < 2
# (matching the 2/7 weekend mass), and p_milli is the share of draws
# with |T_b| >= |T_obs|. Every quantity is an exact integer on the
# bounded calendar x 64-draw dimension; 1996-01-01 is a Monday, so
# weekend = doy % 7 IN (6, 0).


@register(
    "permutation_test",
    """
WITH pt_daily AS (
  SELECT dayofyear(CAST(l_shipdate AS DATE)) AS doy,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
           AS BIGINT)) AS BIGINT) AS v
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1),
pt_mx AS (SELECT GREATEST(max(v), CAST(1 AS BIGINT)) AS vmax FROM pt_daily),
pt_cal AS (SELECT unnest(range(1, 367)) AS doy),
pt_z AS (
  SELECT c.doy, (1000 * coalesce(d.v, CAST(0 AS BIGINT))) // vmax AS z
  FROM pt_cal c LEFT JOIN pt_daily d ON d.doy = c.doy, pt_mx),
pt_obs AS (
  SELECT CAST(sum(CASE WHEN doy % 7 IN (6, 0) THEN z ELSE 0 END)
           AS BIGINT) AS s_we,
         CAST(sum(CASE WHEN doy % 7 IN (6, 0) THEN 1 ELSE 0 END)
           AS BIGINT) AS n_we,
         CAST(sum(CASE WHEN doy % 7 IN (6, 0) THEN 0 ELSE z END)
           AS BIGINT) AS s_wd,
         CAST(sum(CASE WHEN doy % 7 IN (6, 0) THEN 0 ELSE 1 END)
           AS BIGINT) AS n_wd
  FROM pt_z),
pt_b(b) AS (SELECT unnest(range(1, 65))),
pt_draw AS (
  SELECT b.b,
    CAST(sum(CASE WHEN CAST(('0x' || substr(md5('pt:' ||
      CAST(b.b AS VARCHAR) || ':' || CAST(z.doy AS VARCHAR)), 1, 8))
      AS BIGINT) % 7 < 2 THEN z.z ELSE 0 END) AS BIGINT) AS s_we,
    CAST(sum(CASE WHEN CAST(('0x' || substr(md5('pt:' ||
      CAST(b.b AS VARCHAR) || ':' || CAST(z.doy AS VARCHAR)), 1, 8))
      AS BIGINT) % 7 < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_we,
    CAST(sum(z.z) AS BIGINT) AS s_all,
    CAST(count(*) AS BIGINT) AS n_all
  FROM pt_z z CROSS JOIN pt_b b GROUP BY 1),
pt_t AS (
  SELECT b, s_we * (n_all - n_we) - (s_all - s_we) * n_we AS t
  FROM pt_draw)
SELECT o.n_we, o.n_wd,
       o.s_we * o.n_wd - o.s_wd * o.n_we AS t_obs,
       CAST(64 AS BIGINT) AS n_draws,
       CAST(sum(CASE WHEN abs(t.t) >=
         abs(o.s_we * o.n_wd - o.s_wd * o.n_we) THEN 1 ELSE 0 END)
         AS BIGINT) AS n_ge,
       CAST((1000 * sum(CASE WHEN abs(t.t) >=
         abs(o.s_we * o.n_wd - o.s_wd * o.n_we) THEN 1 ELSE 0 END))
         // 64 AS BIGINT) AS p_milli
FROM pt_t t, pt_obs o
GROUP BY 1, 2, 3, 4
""",
    doc="md5-seeded randomization test of the weekend-vs-weekday daily "
    "revenue shift: cross-multiplied mean-difference statistic (no "
    "division), 64 deterministic md5 relabelings at the 2/7 weekend "
    "mass, p_milli = share of draws at least as extreme — "
    "distribution-free inference, engine-exact on the bounded "
    "calendar x draw dimension.",
)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import md5int_spark

    daily = (
        _t(spark, sf_dir, "lineitem")
        .where("year(l_shipdate) = 1996")
        .groupBy(
            F.expr("dayofyear(CAST(l_shipdate AS DATE))").alias("doy")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))"
                " AS BIGINT)) AS BIGINT)"
            ).alias("v")
        )
    )
    mx = daily.agg(
        F.expr("GREATEST(max(v), CAST(1 AS BIGINT))").alias("vmax")
    )
    cal = spark.range(1).selectExpr("explode(sequence(1, 366)) AS doy")
    z = (
        cal.join(daily, ["doy"], "left")
        .crossJoin(F.broadcast(mx))
        .selectExpr(
            "doy",
            "(1000 * coalesce(v, CAST(0 AS BIGINT))) DIV vmax AS z",
        )
        .localCheckpoint(eager=False)
    )
    obs = z.agg(
        F.expr(
            "CAST(sum(CASE WHEN doy % 7 IN (6, 0) THEN z ELSE 0 END)"
            " AS BIGINT)"
        ).alias("s_we"),
        F.expr(
            "CAST(sum(CASE WHEN doy % 7 IN (6, 0) THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_we"),
        F.expr(
            "CAST(sum(CASE WHEN doy % 7 IN (6, 0) THEN 0 ELSE z END)"
            " AS BIGINT)"
        ).alias("s_wd"),
        F.expr(
            "CAST(sum(CASE WHEN doy % 7 IN (6, 0) THEN 0 ELSE 1 END)"
            " AS BIGINT)"
        ).alias("n_wd"),
    )
    h = md5int_spark(
        "concat('pt:', CAST(b AS STRING), ':', CAST(doy AS STRING))"
    )
    draw = (
        z.selectExpr("doy", "z", "explode(sequence(1, 64)) AS b")
        .groupBy("b")
        .agg(
            F.expr(
                f"CAST(sum(CASE WHEN {h} % 7 < 2 THEN z ELSE 0 END)"
                " AS BIGINT)"
            ).alias("s_we_b"),
            F.expr(
                f"CAST(sum(CASE WHEN {h} % 7 < 2 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_we_b"),
            F.expr("CAST(sum(z) AS BIGINT)").alias("s_all"),
            F.expr("CAST(count(*) AS BIGINT)").alias("n_all"),
        )
        .selectExpr(
            "b",
            "s_we_b * (n_all - n_we_b) - (s_all - s_we_b) * n_we_b AS t",
        )
    )
    return (
        draw.crossJoin(F.broadcast(obs))
        .groupBy(
            "n_we", "n_wd",
            F.expr("s_we * n_wd - s_wd * n_we").alias("t_obs"),
        )
        .agg(
            F.expr("CAST(64 AS BIGINT)").alias("n_draws"),
            F.expr(
                "CAST(sum(CASE WHEN abs(t) >="
                " abs(s_we * n_wd - s_wd * n_we) THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_ge"),
            F.expr(
                "CAST((1000 * sum(CASE WHEN abs(t) >="
                " abs(s_we * n_wd - s_wd * n_we) THEN 1 ELSE 0 END))"
                " DIV 64 AS BIGINT)"
            ).alias("p_milli"),
        )
    )


# --- R336: absorbing Markov chain — expected steps to purchase ---------------------------
#
# The absorbing-chain calculation (Kemeny-Snell 1960) closes the
# Markov family (event_transitions = the matrix, markov_stationary =
# the ergodic limit): with 'purchase' absorbing and the four other
# event types transient, the expected number of steps to absorption
# is t = (I - Q)^-1 * 1. The 4x4 inverse is computed EXACTLY by a
# GENERATED cofactor expansion (24-term determinant, 6-term minors —
# the same SQL text in both engines): M = 1000*I - Q_milli has
# entries <= 1000, so det <= 4!*1000^4 < 2^45 and every product is
# exact; t_milli = 10^6 * (adj(M) * 1)_s DIV det, sign-safe. The
# det > 0 column is the absorbing-chain certificate (M is an
# M-matrix; a nonpositive det would mean the chain lost absorption
# after milli flooring).

_AC_STATES = ["view", "click", "signup", "error"]


def _ac_perm_sign(perm: tuple) -> int:
    inv = sum(
        1
        for a in range(len(perm))
        for b in range(a + 1, len(perm))
        if perm[a] > perm[b]
    )
    return -1 if inv % 2 else 1


def _ac_det4(m) -> str:
    from itertools import permutations

    terms = []
    for perm in permutations(range(4)):
        sgn = "+" if _ac_perm_sign(perm) > 0 else "-"
        prod = " * ".join(m[i][perm[i]] for i in range(4))
        terms.append(f"{sgn} {prod}")
    return "(" + " ".join(terms) + ")"


def _ac_minor3(m, dr: int, dc: int) -> str:
    from itertools import permutations

    rows = [i for i in range(4) if i != dr]
    cols = [j for j in range(4) if j != dc]
    terms = []
    for perm in permutations(range(3)):
        sgn = "+" if _ac_perm_sign(perm) > 0 else "-"
        prod = " * ".join(m[rows[i]][cols[perm[i]]] for i in range(3))
        terms.append(f"{sgn} {prod}")
    return "(" + " ".join(terms) + ")"


def _ac_rowsum_adj(m, i: int) -> str:
    """(adj(M) * 1)_i = sum_j (-1)^(i+j) minor(j, i)."""
    terms = []
    for j in range(4):
        sgn = "+" if (i + j) % 2 == 0 else "-"
        terms.append(f"{sgn} {_ac_minor3(m, j, i)}")
    return "(" + " ".join(terms) + ")"


def _ac_sql(div: str) -> str:
    """Shared query text; div is ' DIV ' (Spark) or ' // ' (DuckDB)."""
    st = _AC_STATES
    cnt = ",\n    ".join(
        f"CAST(sum(CASE WHEN cur = '{a}' AND nxt = '{b}' THEN n ELSE 0"
        f" END) AS BIGINT) AS c{i}{j}"
        for i, a in enumerate(st)
        for j, b in enumerate(st)
    )
    tot = ",\n    ".join(
        f"GREATEST(CAST(sum(CASE WHEN cur = '{a}' THEN n ELSE 0 END)"
        f" AS BIGINT), CAST(1 AS BIGINT)) AS t{i}"
        for i, a in enumerate(st)
    )
    q = ",\n    ".join(
        f"(1000 * c{i}{j}){div}t{i} AS q{i}{j}"
        for i in range(4)
        for j in range(4)
    )
    m = [
        [
            f"({1000 if i == j else 0} - q{i}{j})"
            for j in range(4)
        ]
        for i in range(4)
    ]
    det = _ac_det4(m)
    rowsums = ",\n    ".join(
        f"{_ac_rowsum_adj(m, i)} AS adj1_{i}" for i in range(4)
    )
    outs = []
    for i, a in enumerate(st):
        outs.append(
            f"SELECT '{a}' AS state, t{i} AS n_out,"
            f" 1000 - (q{i}0 + q{i}1 + q{i}2 + q{i}3) AS p_leave_milli,"
            f" CAST(CASE WHEN det = 0 THEN 0"
            f" WHEN (adj1_{i} >= 0) = (det >= 0)"
            f" THEN (1000000 * abs(adj1_{i})){div}abs(det)"
            f" ELSE -((1000000 * abs(adj1_{i})){div}abs(det)) END"
            f" AS BIGINT) AS t_milli,"
            f" CAST(det > 0 AS BIGINT) AS det_pos"
            f" FROM ac_fin"
        )
    union = "\nUNION ALL\n".join(outs)
    return f"""
WITH ac_seq AS (
  SELECT user_id, event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS nxt
  FROM events),
ac_pairs AS (
  SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
  FROM ac_seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
ac_wide AS (
  SELECT
    {cnt},
    {tot}
  FROM ac_pairs),
ac_q AS (
  SELECT *,
    {q}
  FROM ac_wide),
ac_fin AS (
  SELECT *, {det} AS det,
    {rowsums}
  FROM ac_q)
{union}"""


@register(
    "absorbing_chain",
    _ac_sql(" // "),
    doc="Expected steps to purchase (absorbing Markov chain, Kemeny-"
    "Snell): 'purchase' absorbs, the other four event types are "
    "transient; Q in exact per-mille from per-user consecutive pairs, "
    "and t = (I-Q)^-1 * 1 computed EXACTLY via a generated 4x4 "
    "cofactor expansion (24-term determinant, 6-term minors, every "
    "product < 2^45) — no matrix library; t_milli sign-safe, det > 0 "
    "as the absorbing-chain certificate.",
)
def q_absorbing_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _ac_sql(" DIV "), "events")


# --- R335: greedy materialized-view selection (Harinarayan cube lattice) -----------------
#
# The classic physical-design algorithm (Harinarayan-Rajaraman-Ullman
# 1996, "Implementing Data Cubes Efficiently"): over the 2^3 group-by
# lattice of (returnflag, linestatus, ship-year), greedily pick the 2
# views (beyond the always-materialized top view) that maximize
# benefit = sum over covered queries of the cost drop. View sizes are
# exact distinct counts computed NUMERICALLY (dim codes packed into
# one integer — no string casts whose spelling differs by engine);
# the greedy rounds, the per-query cost vector, and the tie rule
# (smaller mask) are all on the BOUNDED 8-row lattice. One shared SQL
# text drives both engines (only DIV spelling differs).


def _vs_sql(div: str) -> str:
    return f"""
WITH vs_base AS (
  SELECT DISTINCT
    CASE l_returnflag WHEN 'A' THEN 0 WHEN 'N' THEN 1 ELSE 2 END AS rc,
    CASE l_linestatus WHEN 'F' THEN 0 ELSE 1 END AS sc,
    year(l_shipdate) - 1992 AS yc
  FROM lineitem),
vs_masks AS (
  SELECT 0 AS mask UNION ALL SELECT 1 UNION ALL SELECT 2
  UNION ALL SELECT 3 UNION ALL SELECT 4 UNION ALL SELECT 5
  UNION ALL SELECT 6 UNION ALL SELECT 7),
vs_sz AS (
  SELECT m.mask,
    CAST(count(DISTINCT
      (CASE WHEN m.mask & 4 > 0 THEN b.rc + 1 ELSE 0 END) * 64
      + (CASE WHEN m.mask & 2 > 0 THEN b.sc + 1 ELSE 0 END) * 8
      + (CASE WHEN m.mask & 1 > 0 THEN b.yc + 1 ELSE 0 END))
      AS BIGINT) AS sz
  FROM vs_base b CROSS JOIN vs_masks m GROUP BY 1),
vs_c0 AS (
  SELECT mask AS w, (SELECT sz FROM vs_sz WHERE mask = 7) AS cost
  FROM vs_masks),
vs_ben1 AS (
  SELECT v.mask AS v, v.sz AS vsz,
    CAST(sum(CASE WHEN (c.w & v.mask) = c.w AND c.cost > v.sz
             THEN c.cost - v.sz ELSE 0 END) AS BIGINT) AS benefit
  FROM vs_sz v CROSS JOIN vs_c0 c WHERE v.mask != 7 GROUP BY 1, 2),
vs_pick1 AS (
  SELECT v, vsz, benefit FROM vs_ben1
  ORDER BY benefit DESC, v LIMIT 1),
vs_c1 AS (
  SELECT c.w,
    LEAST(c.cost, CASE WHEN (c.w & p.v) = c.w THEN p.vsz
                  ELSE c.cost END) AS cost
  FROM vs_c0 c CROSS JOIN vs_pick1 p),
vs_ben2 AS (
  SELECT v.mask AS v, v.sz AS vsz,
    CAST(sum(CASE WHEN (c.w & v.mask) = c.w AND c.cost > v.sz
             THEN c.cost - v.sz ELSE 0 END) AS BIGINT) AS benefit
  FROM vs_sz v CROSS JOIN vs_c1 c
  WHERE v.mask != 7 AND v.mask != (SELECT v FROM vs_pick1)
  GROUP BY 1, 2),
vs_pick2 AS (
  SELECT v, vsz, benefit FROM vs_ben2
  ORDER BY benefit DESC, v LIMIT 1),
vs_c2 AS (
  SELECT c.w,
    LEAST(c.cost, CASE WHEN (c.w & p.v) = c.w THEN p.vsz
                  ELSE c.cost END) AS cost
  FROM vs_c1 c CROSS JOIN vs_pick2 p)
SELECT CAST(1 AS BIGINT) AS round, CAST(p.v AS BIGINT) AS view_mask,
       p.vsz AS view_size, p.benefit,
       (SELECT CAST(sum(cost) AS BIGINT) FROM vs_c1) AS total_cost_after
FROM vs_pick1 p
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(p.v AS BIGINT), p.vsz, p.benefit,
       (SELECT CAST(sum(cost) AS BIGINT) FROM vs_c2)
FROM vs_pick2 p"""


@register(
    "view_selection",
    _vs_sql(" // "),
    doc="Greedy materialized-view selection over the (returnflag, "
    "linestatus, ship-year) cube lattice (Harinarayan-Rajaraman-"
    "Ullman 1996): exact distinct-count view sizes packed "
    "numerically, two greedy rounds maximizing the summed cost drop "
    "across all 8 lattice queries, smaller-mask ties — the physical-"
    "design rung of the systems family beside zonemap_prune and "
    "compaction_plan. Everything on the bounded 8-row lattice.",
)
def q_view_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _vs_sql(" DIV "), "lineitem")


# --- R338: Benjamini-Hochberg FDR over monthly randomization tests ------------------------
#
# Multiple-testing control joins the inference family: twelve per-month
# weekend-effect randomization tests (the permutation_test statistic,
# 32 md5 draws each) are corrected with the Benjamini-Hochberg 1995
# step-up procedure at FDR alpha = 0.2. Everything stays integer:
# p-values live in 1/32 units (n_ge), the BH comparison
# p_(i) <= alpha*i/m cross-multiplies to 60*n_ge <= 32*rank, the
# step-up cutoff k = max qualifying rank is a window max on the
# BOUNDED 12-row frame, and ties rank deterministically by month.


@register(
    "bh_fdr",
    """
WITH bh_daily AS (
  SELECT dayofyear(CAST(l_shipdate AS DATE)) AS doy,
         month(CAST(l_shipdate AS DATE)) AS mon,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
           AS BIGINT)) AS BIGINT) AS v
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1, 2),
bh_mx AS (SELECT GREATEST(max(v), CAST(1 AS BIGINT)) AS vmax
          FROM bh_daily),
bh_z AS (
  SELECT doy, mon, (1000 * v) // vmax AS z FROM bh_daily, bh_mx),
bh_obs AS (
  SELECT mon,
    CAST(sum(CASE WHEN doy % 7 IN (6, 0) THEN z ELSE 0 END)
      AS BIGINT) AS s_we,
    CAST(sum(CASE WHEN doy % 7 IN (6, 0) THEN 1 ELSE 0 END)
      AS BIGINT) AS n_we,
    CAST(sum(CASE WHEN doy % 7 IN (6, 0) THEN 0 ELSE z END)
      AS BIGINT) AS s_wd,
    CAST(sum(CASE WHEN doy % 7 IN (6, 0) THEN 0 ELSE 1 END)
      AS BIGINT) AS n_wd
  FROM bh_z GROUP BY 1),
bh_b(b) AS (SELECT unnest(range(1, 33))),
bh_draw AS (
  SELECT z.mon, b.b,
    CAST(sum(CASE WHEN CAST(('0x' || substr(md5('bh:' ||
      CAST(b.b AS VARCHAR) || ':' || CAST(z.doy AS VARCHAR)), 1, 8))
      AS BIGINT) % 7 < 2 THEN z.z ELSE 0 END) AS BIGINT) AS s_we,
    CAST(sum(CASE WHEN CAST(('0x' || substr(md5('bh:' ||
      CAST(b.b AS VARCHAR) || ':' || CAST(z.doy AS VARCHAR)), 1, 8))
      AS BIGINT) % 7 < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_we,
    CAST(sum(z.z) AS BIGINT) AS s_all,
    CAST(count(*) AS BIGINT) AS n_all
  FROM bh_z z CROSS JOIN bh_b b GROUP BY 1, 2),
bh_t AS (
  SELECT mon, b,
         s_we * (n_all - n_we) - (s_all - s_we) * n_we AS t
  FROM bh_draw),
bh_p AS (
  SELECT o.mon, o.s_we * o.n_wd - o.s_wd * o.n_we AS t_obs,
    CAST(sum(CASE WHEN abs(t.t) >=
      abs(o.s_we * o.n_wd - o.s_wd * o.n_we) THEN 1 ELSE 0 END)
      AS BIGINT) AS n_ge
  FROM bh_obs o JOIN bh_t t ON t.mon = o.mon
  GROUP BY 1, 2),
bh_r AS (
  SELECT mon, t_obs, n_ge,
         CAST(row_number() OVER (ORDER BY n_ge, mon) AS BIGINT) AS rnk
  FROM bh_p),
bh_k AS (
  SELECT coalesce(max(CASE WHEN 60 * n_ge <= 32 * rnk THEN rnk END),
                  CAST(0 AS BIGINT)) AS k
  FROM bh_r)
SELECT r.mon, r.t_obs, r.n_ge,
       CAST((1000 * r.n_ge) // 32 AS BIGINT) AS p_milli, r.rnk,
       CAST(r.rnk <= k.k AS BIGINT) AS bh_reject
FROM bh_r r, bh_k k
""",
    doc="Benjamini-Hochberg step-up FDR (alpha = 0.2) over twelve "
    "per-month weekend-effect randomization tests (32 md5 draws "
    "each): p-values in exact 1/32 units, the BH comparison cross-"
    "multiplied to 60*n_ge <= 32*rank, deterministic month ties — "
    "multiple-testing control on the bounded month dimension.",
)
def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import md5int_spark

    daily = (
        _t(spark, sf_dir, "lineitem")
        .where("year(l_shipdate) = 1996")
        .groupBy(
            F.expr("dayofyear(CAST(l_shipdate AS DATE))").alias("doy"),
            F.expr("month(CAST(l_shipdate AS DATE))").alias("mon"),
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))"
                " AS BIGINT)) AS BIGINT)"
            ).alias("v")
        )
    )
    mx = daily.agg(
        F.expr("GREATEST(max(v), CAST(1 AS BIGINT))").alias("vmax")
    )
    z = (
        daily.crossJoin(F.broadcast(mx))
        .selectExpr("doy", "mon", "(1000 * v) DIV vmax AS z")
        .localCheckpoint(eager=False)
    )
    obs = z.groupBy("mon").agg(
        F.expr(
            "CAST(sum(CASE WHEN doy % 7 IN (6, 0) THEN z ELSE 0 END)"
            " AS BIGINT)"
        ).alias("s_we"),
        F.expr(
            "CAST(sum(CASE WHEN doy % 7 IN (6, 0) THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_we"),
        F.expr(
            "CAST(sum(CASE WHEN doy % 7 IN (6, 0) THEN 0 ELSE z END)"
            " AS BIGINT)"
        ).alias("s_wd"),
        F.expr(
            "CAST(sum(CASE WHEN doy % 7 IN (6, 0) THEN 0 ELSE 1 END)"
            " AS BIGINT)"
        ).alias("n_wd"),
    ).selectExpr(
        "mon AS omon", "s_we", "n_we", "s_wd", "n_wd",
        "s_we * n_wd - s_wd * n_we AS t_obs",
    )
    h = md5int_spark(
        "concat('bh:', CAST(b AS STRING), ':', CAST(doy AS STRING))"
    )
    draw = (
        z.selectExpr("doy", "mon", "z", "explode(sequence(1, 32)) AS b")
        .groupBy("mon", "b")
        .agg(
            F.expr(
                f"CAST(sum(CASE WHEN {h} % 7 < 2 THEN z ELSE 0 END)"
                " AS BIGINT)"
            ).alias("s_we_b"),
            F.expr(
                f"CAST(sum(CASE WHEN {h} % 7 < 2 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_we_b"),
            F.expr("CAST(sum(z) AS BIGINT)").alias("s_all"),
            F.expr("CAST(count(*) AS BIGINT)").alias("n_all"),
        )
        .selectExpr(
            "mon", "b",
            "s_we_b * (n_all - n_we_b) - (s_all - s_we_b) * n_we_b AS t",
        )
    )
    p = (
        obs.join(draw, F.expr("mon = omon"))
        .groupBy("omon", "t_obs")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN abs(t) >= abs(t_obs)"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_ge")
        )
        .selectExpr("omon AS mon", "t_obs", "n_ge")
    )
    r = p.selectExpr(
        "mon", "t_obs", "n_ge",
        "CAST(row_number() OVER (ORDER BY n_ge, mon) AS BIGINT) AS rnk",
    )
    k = r.agg(
        F.expr(
            "coalesce(max(CASE WHEN 60 * n_ge <= 32 * rnk THEN rnk END),"
            " CAST(0 AS BIGINT))"
        ).alias("k")
    )
    return r.crossJoin(F.broadcast(k)).selectExpr(
        "mon", "t_obs", "n_ge",
        "CAST((1000 * n_ge) DIV 32 AS BIGINT) AS p_milli", "rnk",
        "CAST(rnk <= k AS BIGINT) AS bh_reject",
    )


# --- R339: distance covariance (Székely) on the weekly dimension --------------------------
#
# The modern all-dependence test (Székely-Rizzo-Bakirov 2007): dCov
# detects ANY dependence between weekly revenue and weekly line
# count, not just linear (Pearson) or monotone (Kendall/Spearman)
# association. Exact integer form: per-cent weekly values on the
# BOUNDED 52-week dimension, pairwise |x_j - x_k| distance matrices
# double-centered with the n^2 CROSS-MULTIPLICATION (A*n^2 =
# n^2*a_jk - n*row_j - n*col_k + grand — all integers), then
# dCov2_n6 = sum (A n^2)(B n^2) <= 2.7e15 exact. The squared
# distance correlation leaves via the HHI staged double-floor:
# r1 = (1000*dcov2) DIV dvarx, dcor4_milli = (r1*dcov2) DIV dvary
# = floor-composed 1000*dCov^4/(dVarX*dVarY), every stage < 2^62.


@register(
    "distance_cov",
    """
WITH dc_w AS (
  SELECT (dayofyear(CAST(l_shipdate AS DATE)) - 1) // 7 AS wk,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
           AS BIGINT)) AS BIGINT) AS rev,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem
  WHERE year(l_shipdate) = 1996
    AND dayofyear(CAST(l_shipdate AS DATE)) <= 364
  GROUP BY 1),
dc_mx AS (
  SELECT GREATEST(max(rev), CAST(1 AS BIGINT)) AS rmax,
         GREATEST(max(cnt), CAST(1 AS BIGINT)) AS cmax
  FROM dc_w),
dc_z AS (
  SELECT wk, (100 * rev) // rmax AS x, (100 * cnt) // cmax AS y
  FROM dc_w, dc_mx),
dc_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dc_z),
dc_pairs AS (
  SELECT a.wk AS j, b.wk AS k,
         abs(a.x - b.x) AS ax, abs(a.y - b.y) AS ay
  FROM dc_z a CROSS JOIN dc_z b),
dc_row AS (
  SELECT j, CAST(sum(ax) AS BIGINT) AS rx, CAST(sum(ay) AS BIGINT) AS ry
  FROM dc_pairs GROUP BY 1),
dc_g AS (
  SELECT CAST(sum(ax) AS BIGINT) AS gx, CAST(sum(ay) AS BIGINT) AS gy
  FROM dc_pairs),
dc_c AS (
  SELECT p.j, p.k,
         n.n * n.n * p.ax - n.n * rj.rx - n.n * rk.rx + g.gx AS axc,
         n.n * n.n * p.ay - n.n * rj.ry - n.n * rk.ry + g.gy AS ayc
  FROM dc_pairs p
  JOIN dc_row rj ON rj.j = p.j
  JOIN dc_row rk ON rk.j = p.k, dc_g g, dc_n n),
dc_s AS (
  SELECT CAST(sum(axc * ayc) AS BIGINT) AS dcov2,
         CAST(sum(axc * axc) AS BIGINT) AS dvarx,
         CAST(sum(ayc * ayc) AS BIGINT) AS dvary,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM dc_c)
SELECT n_pairs, dcov2, dvarx, dvary,
       CAST(CASE WHEN dcov2 <= 0 OR dvarx = 0 OR dvary = 0 THEN 0
            ELSE (((1000 * dcov2) // dvarx) * dcov2) // dvary END
            AS BIGINT) AS dcor4_milli
FROM dc_s
""",
    doc="Distance covariance (Székely 2007) between weekly 1996 revenue "
    "and weekly line count on the bounded 52-week dimension: per-cent "
    "values, pairwise distance matrices double-centered via the n^2 "
    "cross-multiplication (all integers), dCov2/dVar exact, squared "
    "distance correlation^2 via the staged double-floor — detects ANY "
    "dependence, not just linear or monotone.",
)
def q_distance_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        _t(spark, sf_dir, "lineitem")
        .where(
            "year(l_shipdate) = 1996"
            " AND dayofyear(CAST(l_shipdate AS DATE)) <= 364"
        )
        .groupBy(
            F.expr(
                "(dayofyear(CAST(l_shipdate AS DATE)) - 1) DIV 7"
            ).alias("wk")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))"
                " AS BIGINT)) AS BIGINT)"
            ).alias("rev"),
            F.expr("CAST(count(*) AS BIGINT)").alias("cnt"),
        )
    )
    mx = w.agg(
        F.expr("GREATEST(max(rev), CAST(1 AS BIGINT))").alias("rmax"),
        F.expr("GREATEST(max(cnt), CAST(1 AS BIGINT))").alias("cmax"),
    )
    z = (
        w.crossJoin(F.broadcast(mx))
        .selectExpr(
            "wk", "(100 * rev) DIV rmax AS x", "(100 * cnt) DIV cmax AS y"
        )
        .localCheckpoint(eager=False)
    )
    n = z.agg(F.expr("CAST(count(*) AS BIGINT)").alias("n"))
    pairs = (
        z.selectExpr("wk AS j", "x AS xa", "y AS ya")
        .crossJoin(z.selectExpr("wk AS k", "x AS xb", "y AS yb"))
        .selectExpr(
            "j", "k", "abs(xa - xb) AS ax", "abs(ya - yb) AS ay"
        )
        .localCheckpoint(eager=False)
    )
    row = pairs.groupBy("j").agg(
        F.expr("CAST(sum(ax) AS BIGINT)").alias("rx"),
        F.expr("CAST(sum(ay) AS BIGINT)").alias("ry"),
    )
    g = pairs.agg(
        F.expr("CAST(sum(ax) AS BIGINT)").alias("gx"),
        F.expr("CAST(sum(ay) AS BIGINT)").alias("gy"),
    )
    c = (
        pairs
        .join(F.broadcast(row.selectExpr("j AS rj", "rx AS rjx",
                                         "ry AS rjy")),
              F.expr("rj = j"))
        .join(F.broadcast(row.selectExpr("j AS rk", "rx AS rkx",
                                         "ry AS rky")),
              F.expr("rk = k"))
        .crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "n * n * ax - n * rjx - n * rkx + gx AS axc",
            "n * n * ay - n * rjy - n * rky + gy AS ayc",
        )
    )
    s = c.agg(
        F.expr("CAST(sum(axc * ayc) AS BIGINT)").alias("dcov2"),
        F.expr("CAST(sum(axc * axc) AS BIGINT)").alias("dvarx"),
        F.expr("CAST(sum(ayc * ayc) AS BIGINT)").alias("dvary"),
        F.expr("CAST(count(*) AS BIGINT)").alias("n_pairs"),
    )
    return s.selectExpr(
        "n_pairs", "dcov2", "dvarx", "dvary",
        "CAST(CASE WHEN dcov2 <= 0 OR dvarx = 0 OR dvary = 0 THEN 0"
        " ELSE (((1000 * dcov2) DIV dvarx) * dcov2) DIV dvary END"
        " AS BIGINT) AS dcor4_milli",
    )


# --- R340: Gumbel block-maxima fit via L-moments ------------------------------------------
#
# Extreme-value theory joins the family: the twelve monthly maxima of
# per-mille daily 1996 revenue are fit to a Gumbel distribution by
# L-MOMENTS (Hosking 1990 — linear in order statistics, so exact
# integers on the bounded 12-block frame): b1_num = sum (i-1)*x_(i)
# over ascending ranks, L2*n(n-1) = 2*b1_num - (n-1)*S, then the
# Gumbel closed form with MILLI CONSTANT LITERALS (ln2 = 693,
# Euler-Mascheroni = 577, and the 12-month Gumbel quantile
# -ln(-ln(11/12)) = 2442): scale = L2/ln2, loc = L1 - 0.5772*scale,
# 12-month return level = loc + 2.442*scale. Zero runtime
# transcendentals — the hough_lines discipline applied to EVT.


@register(
    "gumbel_maxima",
    """
WITH gm_daily AS (
  SELECT month(CAST(l_shipdate AS DATE)) AS mon,
         dayofyear(CAST(l_shipdate AS DATE)) AS doy,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
           AS BIGINT)) AS BIGINT) AS v
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1, 2),
gm_mx AS (SELECT GREATEST(max(v), CAST(1 AS BIGINT)) AS vmax
          FROM gm_daily),
gm_m AS (
  SELECT mon, CAST(max((1000 * v) // vmax) AS BIGINT) AS mx
  FROM gm_daily, gm_mx GROUP BY 1),
gm_r AS (
  SELECT mon, mx,
         CAST(row_number() OVER (ORDER BY mx, mon) AS BIGINT) AS i
  FROM gm_m),
gm_s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(mx) AS BIGINT) AS s,
         CAST(sum((i - 1) * mx) AS BIGINT) AS b1num
  FROM gm_r),
gm_f AS (
  SELECT n, s, b1num,
         2 * b1num - (n - 1) * s AS l2num,
         (1000 * s) // n AS l1_mz,
         (1000000 * (2 * b1num - (n - 1) * s))
           // (n * (n - 1) * 693) AS scale_mz
  FROM gm_s)
SELECT n AS n_blocks, s AS sum_max, b1num, l2num, l1_mz, scale_mz,
       l1_mz - (577 * scale_mz) // 1000 AS loc_mz,
       l1_mz - (577 * scale_mz) // 1000
         + (2442 * scale_mz) // 1000 AS rl12_mz
FROM gm_f
""",
    doc="Gumbel block-maxima fit by L-moments over the twelve monthly "
    "maxima of per-mille daily 1996 revenue: probability-weighted "
    "moments exact on the bounded 12-block frame, Gumbel closed form "
    "with milli constant literals (ln2 = 693, Euler gamma = 577, "
    "12-month quantile 2442) — extreme-value analysis with zero "
    "runtime transcendentals.",
)
def q_gumbel_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "lineitem")
        .where("year(l_shipdate) = 1996")
        .groupBy(
            F.expr("month(CAST(l_shipdate AS DATE))").alias("mon"),
            F.expr("dayofyear(CAST(l_shipdate AS DATE))").alias("doy"),
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))"
                " AS BIGINT)) AS BIGINT)"
            ).alias("v")
        )
    )
    mx = daily.agg(
        F.expr("GREATEST(max(v), CAST(1 AS BIGINT))").alias("vmax")
    )
    m = (
        daily.crossJoin(F.broadcast(mx))
        .groupBy("mon")
        .agg(
            F.expr("CAST(max((1000 * v) DIV vmax) AS BIGINT)").alias("mx")
        )
    )
    r = m.selectExpr(
        "mon", "mx",
        "CAST(row_number() OVER (ORDER BY mx, mon) AS BIGINT) AS i",
    )
    s = r.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(mx) AS BIGINT)").alias("s"),
        F.expr("CAST(sum((i - 1) * mx) AS BIGINT)").alias("b1num"),
    )
    f = s.selectExpr(
        "n", "s", "b1num",
        "2 * b1num - (n - 1) * s AS l2num",
        "(1000 * s) DIV n AS l1_mz",
        "(1000000 * (2 * b1num - (n - 1) * s))"
        " DIV (n * (n - 1) * 693) AS scale_mz",
    )
    return f.selectExpr(
        "n AS n_blocks", "s AS sum_max", "b1num", "l2num", "l1_mz",
        "scale_mz",
        "l1_mz - (577 * scale_mz) DIV 1000 AS loc_mz",
        "l1_mz - (577 * scale_mz) DIV 1000"
        " + (2442 * scale_mz) DIV 1000 AS rl12_mz",
    )


# --- R343: Selinger join-order audit ------------------------------------------------------
#
# The System R optimizer move (Selinger 1979) audited the engine's
# audit-op way: the two connected left-deep orders for the
# customer-orders-lineitem chain are costed with the TEXTBOOK
# estimator |A JOIN B| = |A|*|B| DIV max(ndv_A(k), ndv_B(k)), then
# the TRUE intermediate sizes are computed exactly and the q-error
# (max/min of est vs actual, in milli) is emitted per plan, plus a
# chose_right certificate: does picking the cheaper ESTIMATE also
# pick the cheaper ACTUAL plan? Statistics are exact counts and
# distinct counts — the same numbers a real catalog would hold.


@register(
    "join_order_audit",
    """
WITH jo_stats AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_c,
    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_o,
    (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_l,
    (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer)
      AS ndv_c_ck,
    (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders)
      AS ndv_o_ck,
    (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) FROM orders)
      AS ndv_o_ok,
    (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem)
      AS ndv_l_ok,
    (SELECT CAST(count(*) AS BIGINT) FROM customer c
       JOIN orders o ON o.o_custkey = c.c_custkey) AS act_co,
    (SELECT CAST(count(*) AS BIGINT) FROM orders o
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey) AS act_ol),
jo_plans AS (
  SELECT 'co_then_l' AS plan,
         (n_c * n_o) // GREATEST(ndv_c_ck, ndv_o_ck, 1) AS est_mid,
         act_co AS act_mid
  FROM jo_stats
  UNION ALL
  SELECT 'ol_then_c',
         (n_o * n_l) // GREATEST(ndv_o_ok, ndv_l_ok, 1),
         act_ol
  FROM jo_stats),
jo_q AS (
  SELECT plan, est_mid, act_mid,
         CAST((1000 * GREATEST(est_mid, act_mid))
           // GREATEST(LEAST(est_mid, act_mid), 1) AS BIGINT)
           AS qerror_milli
  FROM jo_plans),
jo_pick AS (
  SELECT
    (SELECT plan FROM jo_q ORDER BY est_mid, plan LIMIT 1) AS est_pick,
    (SELECT plan FROM jo_q ORDER BY act_mid, plan LIMIT 1) AS act_pick)
SELECT q.plan, q.est_mid, q.act_mid, q.qerror_milli,
       CAST(q.plan = p.est_pick AS BIGINT) AS est_chosen,
       CAST(p.est_pick = p.act_pick AS BIGINT) AS chose_right
FROM jo_q q, jo_pick p
""",
    doc="Selinger join-order audit for the customer-orders-lineitem "
    "chain: the two connected left-deep plans costed with the "
    "textbook |A||B|/max(ndv) estimator, true intermediate sizes "
    "computed exactly, per-plan q-error in milli, and a chose_right "
    "certificate (does the estimate pick the truly cheaper plan) — "
    "cardinality estimation auditing with real catalog statistics.",
)
def q_join_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    sql = _REG["join_order_audit"].oracle.replace(" // ", " DIV ")
    return _sql_tables(spark, sf_dir, sql, "customer", "orders", "lineitem")


# --- R346: skyline depth (onion peeling ladder) -------------------------------------------
#
# Data depth via Pareto peeling (the convex "onion" idea applied to
# the dominance order): peel the part skyline three times — layer 1 =
# the skyline, layer 2 = the skyline of what remains, layer 3 ditto —
# and report each layer's size and extent plus the remaining interior
# mass. Each peel reuses the part_skyline trick: dominance thresholds
# live on the <= 50-row per-size frame (suffix minima over sizes), so
# NO self-join of the data ever happens and the plan shape is
# unchanged at 10^12 rows (one size-keyed agg per peel). Oracle: the
# quadratic NOT EXISTS peeled three times over shrinking CTEs.


def _sky_peel_sql(src: str, out: str) -> str:
    return f"""{out} AS (
  SELECT q.p_partkey, q.p_size, q.price_cents
  FROM {src} q
  WHERE NOT EXISTS (
    SELECT 1 FROM {src} p
    WHERE p.p_size >= q.p_size AND p.price_cents <= q.price_cents
      AND (p.p_size > q.p_size OR p.price_cents < q.price_cents)))"""


@register(
    "skyline_depth",
    f"""
WITH sd0 AS (
  SELECT p_partkey, p_size,
         CAST(floor(p_retailprice * 100e0) AS BIGINT) AS price_cents
  FROM part),
{_sky_peel_sql('sd0', 'sd_l1')},
sd1 AS (SELECT * FROM sd0 WHERE p_partkey NOT IN
        (SELECT p_partkey FROM sd_l1)),
{_sky_peel_sql('sd1', 'sd_l2')},
sd2 AS (SELECT * FROM sd1 WHERE p_partkey NOT IN
        (SELECT p_partkey FROM sd_l2)),
{_sky_peel_sql('sd2', 'sd_l3')}
SELECT CAST(1 AS BIGINT) AS layer, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(min(price_cents) AS BIGINT) AS min_price_cents,
       CAST(max(p_size) AS BIGINT) AS max_size FROM sd_l1
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(min(price_cents) AS BIGINT), CAST(max(p_size) AS BIGINT)
FROM sd_l2
UNION ALL
SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(min(price_cents) AS BIGINT), CAST(max(p_size) AS BIGINT)
FROM sd_l3
UNION ALL
SELECT CAST(0 AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(min(price_cents) AS BIGINT), CAST(max(p_size) AS BIGINT)
FROM sd2 WHERE p_partkey NOT IN (SELECT p_partkey FROM sd_l3)
""",
    doc="Skyline depth by onion peeling: three successive Pareto peels "
    "of the (size up, price down) part frontier, each peel via the "
    "part_skyline bounded per-size threshold trick (suffix minima on "
    "a <= 50-row frame — never a data self-join), plus the interior "
    "remainder as layer 0; per layer size and extent. Data depth for "
    "the dominance order.",
)
def q_skyline_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    sk = _t(spark, sf_dir, "part").selectExpr(
        "p_partkey", "p_size",
        "CAST(floor(p_retailprice * 100e0) AS BIGINT) AS price_cents",
    ).localCheckpoint(eager=False)

    def peel(frame: DataFrame):
        per_size = frame.groupBy(F.col("p_size").alias("sz")).agg(
            F.min("price_cents").alias("m")
        )
        w_gt = Window.orderBy(F.desc("sz")).rowsBetween(
            Window.unboundedPreceding, -1
        )
        w_ge = Window.orderBy(F.desc("sz")).rowsBetween(
            Window.unboundedPreceding, 0
        )
        thr = per_size.select(
            "sz",
            F.min("m").over(w_gt).alias("min_gt"),
            F.min("m").over(w_ge).alias("min_ge"),
        )
        j = frame.join(F.broadcast(thr), frame.p_size == F.col("sz"))
        sky = j.where(
            "(min_gt IS NULL OR min_gt > price_cents)"
            " AND min_ge >= price_cents"
        ).select("p_partkey", "p_size", "price_cents")
        rest = j.where(
            "NOT ((min_gt IS NULL OR min_gt > price_cents)"
            " AND min_ge >= price_cents)"
        ).select("p_partkey", "p_size", "price_cents")
        return sky, rest

    rows = []
    cur = sk
    for layer in (1, 2, 3):
        sky, cur = peel(cur)
        cur = cur.localCheckpoint(eager=False)
        rows.append(
            sky.agg(
                F.expr(f"CAST({layer} AS BIGINT)").alias("layer"),
                F.expr("CAST(count(*) AS BIGINT)").alias("n_parts"),
                F.expr(
                    "CAST(min(price_cents) AS BIGINT)"
                ).alias("min_price_cents"),
                F.expr("CAST(max(p_size) AS BIGINT)").alias("max_size"),
            )
        )
    rows.append(
        cur.agg(
            F.expr("CAST(0 AS BIGINT)").alias("layer"),
            F.expr("CAST(count(*) AS BIGINT)").alias("n_parts"),
            F.expr(
                "CAST(min(price_cents) AS BIGINT)"
            ).alias("min_price_cents"),
            F.expr("CAST(max(p_size) AS BIGINT)").alias("max_size"),
        )
    )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --- R347: UCB1 bandit replay over order priorities ---------------------------------------
#
# Adaptive decision-making joins the policy family (newsvendor / EOQ
# are static; the bandit LEARNS): five arms = order priorities, each
# arm's true reward rate = the exact per-mille share of its orders
# above $150k (data-derived), and a deterministic UCB1 replay runs 6
# rounds of 50 md5-coin pulls after a 20-pull warm start. The UCB
# index is integer-exact: exploitation (1000*wins) DIV pulls plus
# exploration isqrt((2 * ln(round)_micro) DIV pulls) with ln literals
# (the zero-transcendentals discipline; isqrt Newton-corrected);
# argmax ties break to the smaller arm index. One generated SQL text
# drives both engines; every round's 5-arm state is a chained CTE.

_UCB_LNT_MICRO = [0, 0, 693147, 1098612, 1386294, 1609438, 1791759]
_UCB_ROUNDS = 6
_UCB_WARM = 20
_UCB_BATCH = 50


def _ucb_isqrt(x: str) -> str:
    s0 = f"CAST(floor(sqrt(CAST({x} AS DOUBLE))) AS BIGINT)"
    return (
        f"(CASE WHEN ({s0} + 1) * ({s0} + 1) <= {x} THEN {s0} + 1"
        f" WHEN {s0} * {s0} > {x} THEN {s0} - 1 ELSE {s0} END)"
    )


def _ucb_sql(spark_side: bool) -> str:
    div = " DIV " if spark_side else " // "

    def md5i(parts: list) -> str:
        if spark_side:
            arg = "concat(" + ", ".join(parts) + ")"
            return f"CAST(conv(substr(md5({arg}),1,8),16,10) AS BIGINT)"
        arg = " || ".join(parts)
        return f"CAST(('0x' || substr(md5({arg}),1,8)) AS BIGINT)"

    cast_s = "STRING" if spark_side else "VARCHAR"
    rng = (
        "SELECT explode(sequence(1, {n})) AS i"
        if spark_side
        else "SELECT unnest(range(1, {n} + 1)) AS i"
    )

    def coin(arm: str, rnd: str) -> str:
        return md5i(
            [f"'ucb:'", f"CAST({arm} AS {cast_s})", "':'",
             f"CAST({rnd} AS {cast_s})", "':'",
             f"CAST(i AS {cast_s})"]
        )

    ctes = [f"""ucb_bias AS (
  SELECT CASE substr(o_orderpriority, 1, 1)
           WHEN '1' THEN 0 WHEN '2' THEN 1 WHEN '3' THEN 2
           WHEN '4' THEN 3 ELSE 4 END AS arm,
         CAST((1000 * sum(CASE WHEN o_totalprice > 150000e0
                 THEN 1 ELSE 0 END)){div}count(*) AS BIGINT) AS bias
  FROM orders GROUP BY 1),
ucb_warm_i AS ({rng.format(n=_UCB_WARM)}),
ucb_s0 AS (
  SELECT b.arm, CAST({_UCB_WARM} AS BIGINT) AS pulls,
         CAST(sum(CASE WHEN {coin('b.arm', '0')} % 1000 < b.bias
                  THEN 1 ELSE 0 END) AS BIGINT) AS wins
  FROM ucb_bias b CROSS JOIN ucb_warm_i GROUP BY 1),
ucb_batch_i AS ({rng.format(n=_UCB_BATCH)})"""]
    for r in range(1, _UCB_ROUNDS + 1):
        lnt = _UCB_LNT_MICRO[r]
        expl = _ucb_isqrt(f"(2 * {lnt}){div}pulls")
        ctes.append(f"""ucb_u{r} AS (
  SELECT arm, pulls, wins,
         (1000 * wins){div}pulls + {expl} AS ucb
  FROM ucb_s{r - 1}),
ucb_c{r} AS (
  SELECT arm AS carm FROM ucb_u{r} ORDER BY ucb DESC, arm LIMIT 1),
ucb_w{r} AS (
  SELECT c.carm,
         CAST(sum(CASE WHEN {coin('c.carm', str(r))} % 1000 < b.bias
                  THEN 1 ELSE 0 END) AS BIGINT) AS dw
  FROM ucb_c{r} c
  JOIN ucb_bias b ON b.arm = c.carm
  CROSS JOIN ucb_batch_i GROUP BY 1),
ucb_s{r} AS (
  SELECT s.arm,
         s.pulls + CASE WHEN s.arm = w.carm
                   THEN CAST({_UCB_BATCH} AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END AS pulls,
         s.wins + CASE WHEN s.arm = w.carm THEN w.dw
                  ELSE CAST(0 AS BIGINT) END AS wins
  FROM ucb_s{r - 1} s, ucb_w{r} w)""")
    out = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round, u.arm, u.pulls, u.wins,"
        f" CAST(u.ucb AS BIGINT) AS ucb_milli,"
        f" CAST(u.arm = c.carm AS BIGINT) AS chosen"
        f" FROM ucb_u{r} u, ucb_c{r} c"
        for r in range(1, _UCB_ROUNDS + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + out


@register(
    "ucb_bandit",
    _ucb_sql(spark_side=False),
    doc="Deterministic UCB1 bandit replay over the five order "
    "priorities: arm reward rates are the exact per-mille shares of "
    "high-value orders (data-derived), pulls are md5 coins, the UCB "
    "index is integer-exact (milli exploitation + Newton-corrected "
    "isqrt exploration with ln literals), smaller-arm ties; 6 rounds "
    "x 50 pulls after a 20-pull warm start, per-round 5-arm state as "
    "chained CTEs — adaptive decision-making beside the static "
    "newsvendor/EOQ policies.",
)
def q_ucb_bandit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _ucb_sql(spark_side=True), "orders")


# --- R349: distribution-free median confidence interval -----------------------------------
#
# Interval estimation joins the inference family the order-statistic
# way (no distributional assumption, no resampling): for the n = 366
# daily revenues, the ~95% CI for the median is [x_(l), x_(u)] with
# ranks from the binomial normal approximation l = (n - z*sqrt(n))/2,
# u = (n + z*sqrt(n))/2 + 1. Integer-exact because 1.96^2 * 10^4 =
# 38416 = 196^2: z*sqrt(n) in centi units IS isqrt(38416 * n)
# (Newton-corrected), so l = (100n - zs) DIV 200 and u = (100n + zs)
# DIV 200 + 1 involve no floats at all. Ranks select via the bounded
# calendar window (ties by doy); the certificate counts days below/
# above the interval (they must be < l and < n - u + 1 respectively).


@register(
    "median_ci",
    """
WITH mc_daily AS (
  SELECT dayofyear(CAST(l_shipdate AS DATE)) AS doy,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
           AS BIGINT)) // 1000 AS BIGINT) AS v
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1),
mc_cal AS (SELECT unnest(range(1, 367)) AS doy),
mc_z AS (
  SELECT c.doy, coalesce(d.v, CAST(0 AS BIGINT)) AS v
  FROM mc_cal c LEFT JOIN mc_daily d ON d.doy = c.doy),
mc_r AS (
  SELECT doy, v,
         CAST(row_number() OVER (ORDER BY v, doy) AS BIGINT) AS rn
  FROM mc_z),
mc_k AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(floor(sqrt(CAST(38416 * count(*) AS DOUBLE)))
           AS BIGINT) AS s0
  FROM mc_r),
mc_b AS (
  SELECT n,
         CASE WHEN (s0 + 1) * (s0 + 1) <= 38416 * n THEN s0 + 1
              WHEN s0 * s0 > 38416 * n THEN s0 - 1 ELSE s0 END AS zs
  FROM mc_k),
mc_lu AS (
  SELECT n, zs, (100 * n - zs) // 200 AS l_rank,
         (100 * n + zs) // 200 + 1 AS u_rank
  FROM mc_b)
SELECT u.n, u.l_rank, u.u_rank,
       (SELECT v FROM mc_r, mc_lu WHERE rn = (n + 1) // 2)
         AS median_lo,
       (SELECT v FROM mc_r, mc_lu WHERE rn = l_rank) AS ci_lo,
       (SELECT v FROM mc_r, mc_lu WHERE rn = u_rank) AS ci_hi,
       (SELECT v FROM mc_r, mc_lu WHERE rn = u_rank)
         - (SELECT v FROM mc_r, mc_lu WHERE rn = l_rank) AS ci_width,
       (SELECT CAST(count(*) AS BIGINT) FROM mc_r, mc_lu
        WHERE rn < l_rank) AS n_below,
       (SELECT CAST(count(*) AS BIGINT) FROM mc_r, mc_lu
        WHERE rn > u_rank) AS n_above
FROM mc_lu u
""",
    doc="Distribution-free ~95% confidence interval for the median "
    "daily revenue via order statistics: binomial-normal rank bounds "
    "made integer-exact because 196^2 = 38416 (z*sqrt(n) in centi "
    "units IS a Newton-corrected isqrt — no floats anywhere), ranks "
    "selected on the bounded densified calendar with doy ties — "
    "interval estimation without distributions or resampling.",
)
def q_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    sql = _REG["median_ci"].oracle
    sql = sql.replace(" // ", " DIV ").replace(
        "SELECT unnest(range(1, 367)) AS doy",
        "SELECT explode(sequence(1, 366)) AS doy",
    )
    return _sql_tables(spark, sf_dir, sql, "lineitem")


# --- R351: Huffman coding cost via the merge-sum identity ---------------------------------
#
# Source-coding joins the systems family: the optimal prefix-code cost
# for the five event-type symbols, computed WITHOUT building a tree —
# Huffman's total weighted code length equals the SUM OF ALL MERGE
# SUMS (each merge's combined weight is paid once per level it spans),
# so four chained smallest-two picks (ORDER BY weight, then a stable
# id tie-break) on the bounded 5-symbol frame produce the exact cost.
# avg_len_milli = (1000 * cost) DIV total is compared against the
# 3-bit fixed-length code for the savings certificate (Huffman can
# never lose to fixed length: savings >= 0 is a theorem and a pin).


def _huff_sql(div: str) -> str:
    ctes = ["""hf_w0 AS (
  SELECT CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS id,
         CAST(count(*) AS BIGINT) AS w
  FROM events GROUP BY event_type)"""]
    nid = 5
    for step in (1, 2, 3, 4):
        nid += 1
        ctes.append(f"""hf_p{step} AS (
  SELECT id, w FROM hf_w{step - 1} ORDER BY w, id LIMIT 2),
hf_w{step} AS (
  SELECT id, w FROM hf_w{step - 1}
  WHERE id NOT IN (SELECT id FROM hf_p{step})
  UNION ALL
  SELECT CAST({nid} AS BIGINT), CAST(sum(w) AS BIGINT)
  FROM hf_p{step}),
hf_m{step} AS (
  SELECT CAST(sum(w) AS BIGINT) AS msum FROM hf_p{step})""")
    return f"""
WITH {",".join(ctes)},
hf_tot AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM hf_w0),
hf_cost AS (
  SELECT (SELECT msum FROM hf_m1) + (SELECT msum FROM hf_m2)
       + (SELECT msum FROM hf_m3) + (SELECT msum FROM hf_m4) AS cost)
SELECT t.total AS n_events, c.cost AS huffman_cost,
       CAST((1000 * c.cost){div}t.total AS BIGINT) AS avg_len_milli,
       CAST(3000 AS BIGINT) AS fixed_len_milli,
       CAST(3000 - (1000 * c.cost){div}t.total AS BIGINT)
         AS savings_milli,
       CAST((1000 * c.cost){div}t.total <= 3000 AS BIGINT)
         AS never_worse
FROM hf_tot t, hf_cost c
"""


@register(
    "huffman_cost",
    _huff_sql(" // "),
    doc="Optimal prefix-code cost for the five event-type symbols via "
    "the Huffman merge-sum identity (total weighted code length = sum "
    "of all merge sums — no tree ever built): four chained smallest-"
    "two picks on the bounded symbol frame, average code length in "
    "milli vs the 3-bit fixed code, with the never-worse theorem as a "
    "pin — compression planning beside rle_profile and "
    "encoding_audit.",
)
def q_huffman_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _huff_sql(" DIV "), "events")


# --- R352: exact minimum-variance two-stream portfolio ------------------------------------
#
# Portfolio theory joins the finance family (drawdown_stats = risk
# realized; this is risk PLANNED): treating the daily 1996 revenues
# of returnflags A and R as two return streams, the minimum-variance
# mix w* = (s22 - s12) / (s11 + s22 - 2*s12) is an exact rational of
# floored-mean deviation sums on the bounded calendar; w* leaves
# clamped to [0, 1000] milli with the unclamped numerator/denominator
# beside it, plus the variance-reduction certificate: the mixed
# variance at w* (cross-multiplied, integer) never exceeds the better
# single stream's variance (denominator > 0 unless perfectly
# correlated — emitted as a guard column).


@register(
    "min_var_portfolio",
    """
WITH mv_d AS (
  SELECT dayofyear(CAST(l_shipdate AS DATE)) AS doy,
    CAST(sum(CASE WHEN l_returnflag = 'A'
      THEN CAST(floor(l_extendedprice * (1e0 - l_discount)) AS BIGINT)
      ELSE 0 END) // 1000 AS BIGINT) AS va,
    CAST(sum(CASE WHEN l_returnflag = 'R'
      THEN CAST(floor(l_extendedprice * (1e0 - l_discount)) AS BIGINT)
      ELSE 0 END) // 1000 AS BIGINT) AS vr
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1),
mv_cal AS (SELECT unnest(range(1, 367)) AS doy),
mv_z AS (
  SELECT c.doy, coalesce(d.va, CAST(0 AS BIGINT)) AS x,
         coalesce(d.vr, CAST(0 AS BIGINT)) AS y
  FROM mv_cal c LEFT JOIN mv_d d ON d.doy = c.doy),
mv_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS mx,
         CAST(sum(y) AS BIGINT) // CAST(count(*) AS BIGINT) AS my
  FROM mv_z),
mv_s AS (
  SELECT n,
    CAST(sum((x - mx) * (x - mx)) AS BIGINT) AS s11,
    CAST(sum((y - my) * (y - my)) AS BIGINT) AS s22,
    CAST(sum((x - mx) * (y - my)) AS BIGINT) AS s12
  FROM mv_z, mv_m GROUP BY n)
SELECT n AS n_days, s11, s22, s12,
  s22 - s12 AS w_num, s11 + s22 - 2 * s12 AS w_den,
  CAST(CASE WHEN s11 + s22 - 2 * s12 <= 0 THEN 500
       ELSE GREATEST(CAST(0 AS BIGINT), LEAST(CAST(1000 AS BIGINT),
         (1000 * (s22 - s12)) // (s11 + s22 - 2 * s12))) END
       AS BIGINT) AS w_milli,
  CAST(s11 + s22 - 2 * s12 > 0 AS BIGINT) AS den_pos,
  CAST(LEAST(s11, s22) AS BIGINT) AS best_single_var
FROM mv_s
""",
    doc="Exact minimum-variance mix of the A-flag and R-flag daily "
    "revenue streams (Markowitz two-asset closed form): floored-mean "
    "deviation sums on the bounded calendar, w* = (s22 - s12) / "
    "(s11 + s22 - 2 s12) as an exact rational clamped to [0, 1000] "
    "milli with raw numerator/denominator beside it — risk planning "
    "beside drawdown_stats (risk realized).",
)
def q_min_var_portfolio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "lineitem")
        .where("year(l_shipdate) = 1996")
        .groupBy(
            F.expr("dayofyear(CAST(l_shipdate AS DATE))").alias("doy")
        )
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN l_returnflag = 'A'"
                " THEN CAST(floor(l_extendedprice * (1e0 - l_discount))"
                " AS BIGINT) ELSE 0 END) DIV 1000 AS BIGINT)"
            ).alias("va"),
            F.expr(
                "CAST(sum(CASE WHEN l_returnflag = 'R'"
                " THEN CAST(floor(l_extendedprice * (1e0 - l_discount))"
                " AS BIGINT) ELSE 0 END) DIV 1000 AS BIGINT)"
            ).alias("vr"),
        )
    )
    cal = spark.range(1).selectExpr("explode(sequence(1, 366)) AS doy")
    z = cal.join(d, ["doy"], "left").selectExpr(
        "doy", "coalesce(va, CAST(0 AS BIGINT)) AS x",
        "coalesce(vr, CAST(0 AS BIGINT)) AS y",
    ).localCheckpoint(eager=False)
    m = z.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr(
            "CAST(sum(x) AS BIGINT) DIV CAST(count(*) AS BIGINT)"
        ).alias("mx"),
        F.expr(
            "CAST(sum(y) AS BIGINT) DIV CAST(count(*) AS BIGINT)"
        ).alias("my"),
    )
    s = z.crossJoin(F.broadcast(m)).groupBy("n").agg(
        F.expr("CAST(sum((x - mx) * (x - mx)) AS BIGINT)").alias("s11"),
        F.expr("CAST(sum((y - my) * (y - my)) AS BIGINT)").alias("s22"),
        F.expr("CAST(sum((x - mx) * (y - my)) AS BIGINT)").alias("s12"),
    )
    return s.selectExpr(
        "n AS n_days", "s11", "s22", "s12",
        "s22 - s12 AS w_num", "s11 + s22 - 2 * s12 AS w_den",
        "CAST(CASE WHEN s11 + s22 - 2 * s12 <= 0 THEN 500"
        " ELSE GREATEST(CAST(0 AS BIGINT), LEAST(CAST(1000 AS BIGINT),"
        " (1000 * (s22 - s12)) DIV (s11 + s22 - 2 * s12))) END"
        " AS BIGINT) AS w_milli",
        "CAST(s11 + s22 - 2 * s12 > 0 AS BIGINT) AS den_pos",
        "CAST(LEAST(s11, s22) AS BIGINT) AS best_single_var",
    )


# --- R353: distributed ALS half-step (recommender training as a Spark job) ---------------
#
# One exact alternating-least-squares half-step over the implicit
# customer x part rating matrix (r = capped summed quantity): item
# factors are FIXED md5-seeded integer 2-vectors in [-3,3]; each user's
# optimal factor pair solves the 2x2 ridge normal equations
# (Q'Q + lambda I) x = Q'r in closed form by Cramer's rule — all-bigint
# numerators/denominator (det > 0 because lambda > 0), quantized to
# milli by truncating division (Spark DIV == DuckDB int //, probed) and
# clamped to +/-200000 milli. The quantized ridge objective is
# re-expressed purely in the SAME per-user aggregates
# (1e6*sse0 + x'Sx - 2000*x'b), so no second join over ratings is ever
# needed — per-user groupBy with map-side partial agg is the entire
# plan, the exact shape distributed ALS takes at 10^12 ratings.
# Mirrors the reference's iterative refinement loops
# (tree_sitter_analyzer/core/query_service.py analysis passes) as a
# numeric training operator.

_ALS_LAM = 4


def _als_sql(engine: str) -> str:
    from .functions import md5int_duck, md5int_spark

    md5 = md5int_spark if engine == "spark" else md5int_duck
    div = " DIV " if engine == "spark" else " // "
    cat1 = (
        "concat('alsq1_', CAST(item AS STRING))"
        if engine == "spark"
        else "'alsq1_' || CAST(item AS VARCHAR)"
    )
    cat2 = cat1.replace("alsq1_", "alsq2_")
    lam = _ALS_LAM
    return f"""
WITH als_r AS (
  SELECT o.o_custkey AS cust, l.l_partkey AS item,
         LEAST(CAST(floor(sum(l.l_quantity)) AS BIGINT),
               CAST(100 AS BIGINT)) AS r
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2),
als_q AS (
  SELECT cust, r,
         ({md5(cat1)} % 7) - 3 AS q1,
         ({md5(cat2)} % 7) - 3 AS q2
  FROM als_r),
als_u AS (
  SELECT cust, CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(q1 * q1) AS BIGINT) AS s11,
         CAST(sum(q2 * q2) AS BIGINT) AS s22,
         CAST(sum(q1 * q2) AS BIGINT) AS s12,
         CAST(sum(q1 * r) AS BIGINT) AS b1,
         CAST(sum(q2 * r) AS BIGINT) AS b2,
         CAST(sum(r * r) AS BIGINT) AS sse0
  FROM als_q GROUP BY 1),
als_x AS (
  SELECT cust, n_items, s11, s22, s12, b1, b2, sse0,
         (s11 + {lam}) * (s22 + {lam}) - s12 * s12 AS det,
         GREATEST(CAST(-200000 AS BIGINT), LEAST(CAST(200000 AS BIGINT),
           (1000 * (b1 * (s22 + {lam}) - s12 * b2))
             {div} ((s11 + {lam}) * (s22 + {lam}) - s12 * s12)))
           AS x1_milli,
         GREATEST(CAST(-200000 AS BIGINT), LEAST(CAST(200000 AS BIGINT),
           (1000 * ((s11 + {lam}) * b2 - s12 * b1))
             {div} ((s11 + {lam}) * (s22 + {lam}) - s12 * s12)))
           AS x2_milli
  FROM als_u)
SELECT cust, n_items, det, x1_milli, x2_milli, sse0,
       1000000 * sse0 + x1_milli * x1_milli * s11
         + x2_milli * x2_milli * s22 + 2 * x1_milli * x2_milli * s12
         - 2000 * (x1_milli * b1 + x2_milli * b2) AS fit_scaled
FROM als_x
"""


@register(
    "als_halfstep",
    _als_sql("duck"),
    doc="Exact ALS half-step over the implicit customer x part rating "
    "matrix: fixed md5-seeded integer item factors, per-user 2x2 ridge "
    "normal equations solved in closed form (Cramer, all-bigint, "
    "det > 0 by lambda), factors quantized to clamped milli and the "
    "quantized ridge objective re-expressed in the SAME per-user "
    "aggregates so the whole training step is one groupBy with "
    "map-side partial agg — distributed recommender training beside "
    "perceptron_train (SGD) and decision_stump (trees).",
)
def q_als_halfstep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _als_sql("spark"), "lineitem", "orders")


# --- R354: regression-discontinuity estimate with placebo ---------------------------------
#
# Sharp RDD on the densified 1996 daily-revenue calendar: a known jump
# (20000 kilocents, planted in the query TEXT so both engines see the
# same synthetic discontinuity at doy 183) is recovered by two exact
# side-local OLS fits (60-day bandwidth, integer normal equations on
# the bounded calendar — the ols_trend machinery localized), tau =
# intercept difference at the cutoff in milli-kilocents; a placebo
# cutoff at doy 153 (30-day windows inside the untreated half) is
# fitted by the same formula as the falsification row every applied
# RDD reports.

_RDD_CUT, _RDD_JUMP, _RDD_PLACEBO = 183, 20000, 153


def _rdd_fit(name: str, lo: int, hi: int, cut: int) -> str:
    return f"""{name} AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(doy - {cut}) AS BIGINT) AS st,
         CAST(sum((doy - {cut}) * (doy - {cut})) AS BIGINT) AS st2,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum((doy - {cut}) * y) AS BIGINT) AS sty
  FROM rdd_y WHERE doy BETWEEN {lo} AND {hi})"""


def _rdd_sql(engine: str) -> str:
    div = " DIV " if engine == "spark" else " // "
    cal = (
        "SELECT explode(sequence(123, 242)) AS doy"
        if engine == "spark"
        else "SELECT unnest(range(123, 243)) AS doy"
    )
    c, j, p = _RDD_CUT, _RDD_JUMP, _RDD_PLACEBO

    def a(t: str) -> str:
        return (
            f"(1000 * ({t}.sy * {t}.st2 - {t}.st * {t}.sty))"
            f"{div}({t}.n * {t}.st2 - {t}.st * {t}.st)"
        )

    def b(t: str) -> str:
        return (
            f"(1000 * ({t}.n * {t}.sty - {t}.st * {t}.sy))"
            f"{div}({t}.n * {t}.st2 - {t}.st * {t}.st)"
        )

    return f"""
WITH rdd_d AS (
  SELECT dayofyear(CAST(l_shipdate AS DATE)) AS doy,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
                       AS BIGINT)){div}1000 AS BIGINT) AS y
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1),
rdd_cal AS ({cal}),
rdd_y AS (
  SELECT cc.doy,
         coalesce(d.y, CAST(0 AS BIGINT))
           + CASE WHEN cc.doy >= {c} THEN {j} ELSE 0 END AS y
  FROM rdd_cal cc LEFT JOIN rdd_d d ON d.doy = cc.doy),
{_rdd_fit("rdd_l", 123, c - 1, c)},
{_rdd_fit("rdd_r", c, 242, c)},
{_rdd_fit("rdd_pl", 123, p - 1, p)},
{_rdd_fit("rdd_pr", p, c - 1, p)}
SELECT l.n AS n_l, r.n AS n_r,
       CAST({a('l')} AS BIGINT) AS a_left_milli,
       CAST({a('r')} AS BIGINT) AS a_right_milli,
       CAST({b('l')} AS BIGINT) AS slope_left_milli,
       CAST({b('r')} AS BIGINT) AS slope_right_milli,
       CAST({a('r')} - ({a('l')}) AS BIGINT) AS tau_milli,
       CAST({a('pr')} - ({a('pl')}) AS BIGINT) AS placebo_milli,
       CAST({1000 * j} AS BIGINT) AS jump_milli
FROM rdd_l l, rdd_r r, rdd_pl pl, rdd_pr pr
"""


@register(
    "rdd_estimate",
    _rdd_sql("duck"),
    doc="Sharp regression discontinuity on the densified 1996 daily "
    "revenue calendar with a query-text-planted jump at doy 183: two "
    "exact side-local integer OLS fits (60-day bandwidth) give the "
    "intercept gap tau in milli, with slopes per side and a placebo "
    "cutoff inside the untreated half as the falsification row — the "
    "causal-inference rung beside did_estimator (parallel trends) and "
    "iv_wald (instruments); all arithmetic on the bounded calendar.",
)
def q_rdd_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _rdd_sql("spark"), "lineitem")


# --- R355: process-mining conformance replay ----------------------------------------------
#
# Token-replay conformance of observed per-(user, day) event traces
# against a declared process model (the intended funnel DAG, an
# allowed-transition literal set): every consecutive transition inside
# a trace — lead() over the UNIQUE (ts, event_id) order within the
# bounded (user, day) partition, the event_transitions shape — is
# classified allowed/violating; the 5x5 pair frame carries observation
# counts, shares, and the model verdict, with the global micro-fitness
# (allowed transitions per mille) as the envelope. The model lives in
# the query text so both engines replay the same specification.

_CF_ALLOWED = (
    "'signup>view'", "'view>view'", "'view>click'",
    "'click>view'", "'click>purchase'", "'purchase>view'",
)


def _cf_sql(engine: str) -> str:
    div = " DIV " if engine == "spark" else " // "
    eday = (_EPOCH_DAY_SPARK if engine == "spark" else _EPOCH_DAY_DUCK).format(
        c="ts"
    )
    return f"""
WITH cf_tr AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (
           PARTITION BY user_id, {eday}
           ORDER BY ts, event_id) AS nxt
  FROM events),
cf_p AS (
  SELECT cur, nxt,
         CASE WHEN (cur || '>' || nxt)
                IN ({', '.join(_CF_ALLOWED)}) THEN 1 ELSE 0 END AS ok
  FROM cf_tr WHERE nxt IS NOT NULL),
cf_pair AS (
  SELECT cur, nxt, CAST(max(ok) AS BIGINT) AS allowed,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM cf_p GROUP BY 1, 2),
cf_g AS (
  SELECT CAST(sum(n_obs) AS BIGINT) AS n_total,
         CAST((1000 * sum(allowed * n_obs)){div}sum(n_obs) AS BIGINT)
           AS fitness_milli
  FROM cf_pair)
SELECT p.cur, p.nxt, p.n_obs, p.allowed,
       CAST((1000 * p.n_obs){div}g.n_total AS BIGINT) AS share_milli,
       g.n_total, g.fitness_milli
FROM cf_pair p CROSS JOIN cf_g g
"""


@register(
    "conformance_replay",
    _cf_sql("duck"),
    doc="Process-mining conformance: per-(user, day) event traces "
    "replayed against the intended funnel DAG declared as an "
    "allowed-transition literal set in the query text; every observed "
    "transition (unique (ts, event_id) order inside the bounded trace "
    "partition) is classified, the pair frame carries counts + shares "
    "+ the model verdict, and the global micro-fitness per mille is "
    "the envelope — the conformance-checking rung of the process "
    "family (event_transitions = discovery, funnel_stages = one path, "
    "this = specification vs reality).",
)
def q_conformance_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _cf_sql("spark"), "events")


# --- R356: Johnson two-machine flow-shop schedule -----------------------------------------
#
# Scheduling-theory joins the operations family: the 25 part brands are
# jobs on a two-machine flow shop (fabrication time a = scaled summed
# quantity, packaging time b = scaled revenue), sequenced by Johnson's
# rule — a < b jobs first by a ascending, the rest by b descending,
# brand tie-break — which is PROVABLY makespan-optimal for two
# machines. The makespan of a sequence needs no simulation: Cmax =
# max_k (prefix_a(k) + suffix_b(k)), two window sums on the bounded
# 25-job frame. The FIFO (alphabetical) makespan and the classic lower
# bound max(sum_a + min_b, sum_b + min_a) are computed the same way,
# so the row carries Johnson's optimality certificate (lb <= opt <=
# fifo); the pytest replay re-derives both makespans by DIRECT machine
# simulation — a different algorithm agreeing exactly.


def _johnson_sql(engine: str) -> str:
    div = " DIV " if engine == "spark" else " // "
    return f"""
WITH js_j AS (
  SELECT p.p_brand AS brand,
         CAST(floor(sum(l.l_quantity)) AS BIGINT){div}50 + 1 AS a_time,
         CAST(sum(CAST(floor(l.l_extendedprice) AS BIGINT))
              AS BIGINT){div}50000 + 1 AS b_time
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1),
js_seq AS (
  SELECT brand, a_time, b_time,
         CAST(row_number() OVER (ORDER BY
           CASE WHEN a_time < b_time THEN 0 ELSE 1 END,
           CASE WHEN a_time < b_time THEN a_time ELSE -b_time END,
           brand) AS BIGINT) AS pos_johnson,
         CAST(row_number() OVER (ORDER BY brand) AS BIGINT) AS pos_fifo
  FROM js_j),
js_mj AS (
  SELECT CAST(max(term) AS BIGINT) AS makespan_johnson FROM (
    SELECT sum(a_time) OVER (ORDER BY pos_johnson
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         + sum(b_time) OVER (ORDER BY pos_johnson
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS term
    FROM js_seq) t),
js_mf AS (
  SELECT CAST(max(term) AS BIGINT) AS makespan_fifo FROM (
    SELECT sum(a_time) OVER (ORDER BY pos_fifo
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         + sum(b_time) OVER (ORDER BY pos_fifo
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS term
    FROM js_seq) t),
js_lb AS (
  SELECT CAST(GREATEST(sum(a_time) + min(b_time),
                       sum(b_time) + min(a_time)) AS BIGINT)
           AS lower_bound
  FROM js_j)
SELECT s.brand, s.a_time, s.b_time, s.pos_johnson,
       j.makespan_johnson, f.makespan_fifo, b.lower_bound,
       CAST((1000 * (f.makespan_fifo - j.makespan_johnson))
            {div}f.makespan_fifo AS BIGINT) AS savings_milli
FROM js_seq s CROSS JOIN js_mj j CROSS JOIN js_mf f CROSS JOIN js_lb b
"""


@register(
    "johnson_schedule",
    _johnson_sql("duck"),
    doc="Johnson's two-machine flow-shop rule over the 25 part-brand "
    "jobs (fabrication = scaled quantity, packaging = scaled revenue): "
    "the provably optimal sequence, with makespans computed WITHOUT "
    "simulation via Cmax = max_k (prefix_a + suffix_b) window sums on "
    "the bounded job frame; FIFO makespan and the classical lower "
    "bound ride along as the optimality certificate (lb <= opt <= "
    "fifo) — scheduling beside critical_path (precedence) and "
    "eoq_policy (lot sizing).",
)
def q_johnson_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(
        spark, sf_dir, _johnson_sql("spark"), "lineitem", "part"
    )


# --- R357: hourly Lindley queue-depth replay ----------------------------------------------
#
# Exact queue simulation at the 10^12-row-correct shape: per-day event
# arrivals are first collapsed to the bounded (day, hour) histogram
# (map-side partial agg — the only pass over the raw rows), the
# per-day service capacity is the mean floor n_day DIV 24, and the
# FIFO queue depth follows the Lindley recurrence Q_h = max(0,
# Q_{h-1} + A_h - C). No iteration is needed: with P_h the prefix sum
# of (A_h - C), Q_h = P_h - min(0, running_min(P)) exactly — one
# window pair on the bounded 24-hour frame per day. Emits per-day
# depth/backlog/busy/delay stats; the pytest replay iterates the
# recurrence DIRECTLY hour by hour — a different algorithm agreeing
# exactly.


def _queue_sql(engine: str) -> str:
    div = " DIV " if engine == "spark" else " // "
    eday = (_EPOCH_DAY_SPARK if engine == "spark" else _EPOCH_DAY_DUCK).format(
        c="ts"
    )
    ehour = (
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        " ts) DIV 3600000000"
        if engine == "spark"
        else "date_diff('microsecond', TIMESTAMP '1970-01-01', ts)"
        " // 3600000000"
    )
    return f"""
WITH qd_a AS (
  SELECT {eday} AS day, ({ehour}) % 24 AS hour,
         CAST(count(*) AS BIGINT) AS arr
  FROM events GROUP BY 1, 2),
qd_c AS (
  SELECT day, CAST(sum(arr) AS BIGINT) AS n_events,
         CAST(sum(arr) AS BIGINT){div}24 AS cap
  FROM qd_a GROUP BY 1),
qd_h AS (
  SELECT c.day, h.hour, coalesce(a.arr, CAST(0 AS BIGINT)) AS arr,
         c.cap, c.n_events
  FROM qd_c c
  CROSS JOIN (SELECT {('explode(sequence(0, 23))'
                       if engine == 'spark'
                       else 'unnest(range(0, 24))')} AS hour) h
  LEFT JOIN qd_a a ON a.day = c.day AND a.hour = h.hour),
qd_p AS (
  SELECT day, hour, arr, cap, n_events,
         sum(arr - cap) OVER (PARTITION BY day ORDER BY hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM qd_h),
qd_q AS (
  SELECT day, hour, arr, cap, n_events,
         p - LEAST(CAST(0 AS BIGINT), min(p) OVER (PARTITION BY day
               ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS q
  FROM qd_p)
SELECT day, CAST(max(n_events) AS BIGINT) AS n_events,
       CAST(max(cap) AS BIGINT) AS cap_per_hour,
       CAST(max(q) AS BIGINT) AS max_depth,
       CAST(max(CASE WHEN hour = 23 THEN q END) AS BIGINT)
         AS end_backlog,
       CAST(sum(CASE WHEN q > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS busy_hours,
       CAST(sum(q) AS BIGINT) AS total_delay
FROM qd_q GROUP BY day
"""


@register(
    "queue_depth_replay",
    _queue_sql("duck"),
    doc="Exact FIFO queue replay per day: raw events collapse to the "
    "bounded (day, hour) arrival histogram in one map-side pass, "
    "capacity = daily mean floor, and the Lindley recurrence is "
    "solved in closed form (Q = P - min(0, running_min P), one window "
    "pair on the bounded 24-hour frame) — queue dynamics REPLAYED "
    "beside littles_law (steady-state counting) and rate_policer "
    "(admission); per-day max depth, end backlog, busy hours and "
    "total event-hours of delay.",
)
def q_queue_depth_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _queue_sql("spark"), "events")


# --- R358: chain-ladder reserving triangle ------------------------------------------------
#
# Actuarial reserving joins the cohort family: 1995 H1 order months
# are accident cohorts, the development offset is the month lag from
# order to line shipment (clamped to 4), and only cells observed at
# the 1995-08 valuation (cohort + offset <= 8) enter the triangle.
# Volume-weighted age-to-age factors f_k = sum C_k / sum C_{k-1} over
# cohorts observing both columns (the Mack chain-ladder estimator) are
# held in milli; young cohorts roll forward through the remaining
# factors (bounded CASE unroll, truncating milli product per step) to
# ultimates, reserve = ultimate - latest cumulative. The replay
# rebuilds the triangle from raw rows in python.


def _chainladder_sql(engine: str) -> str:
    div = " DIV " if engine == "spark" else " // "
    return f"""
WITH cl_x AS (
  SELECT month(o.o_orderdate) AS cohort,
         LEAST((year(l.l_shipdate) - 1995) * 12 + month(l.l_shipdate)
               - month(o.o_orderdate), 4) AS k,
         CAST(sum(CAST(floor(l.l_extendedprice * (1e0 - l.l_discount))
                       AS BIGINT)){div}1000 AS BIGINT) AS x
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) = 1995 AND month(o.o_orderdate) <= 6
    AND year(l.l_shipdate) = 1995
    AND month(l.l_shipdate) <= 8 - 0
    AND (year(l.l_shipdate) - 1995) * 12 + month(l.l_shipdate)
        - month(o.o_orderdate) >= 0
  GROUP BY 1, 2
  HAVING month(o.o_orderdate) + LEAST((year(l.l_shipdate) - 1995) * 12
         + month(l.l_shipdate) - month(o.o_orderdate), 4) <= 8),
cl_c AS (
  SELECT cohort, k,
         CAST(sum(x) OVER (PARTITION BY cohort ORDER BY k
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS c
  FROM cl_x),
cl_f AS (
  SELECT k, CAST((1000 * sum(c)){div}sum(prev) AS BIGINT) AS f_milli
  FROM (
    SELECT cohort, k, c,
           lag(c) OVER (PARTITION BY cohort ORDER BY k) AS prev,
           lag(k) OVER (PARTITION BY cohort ORDER BY k) AS prev_k
    FROM cl_c) t
  WHERE prev IS NOT NULL AND prev_k = k - 1 AND cohort + k <= 8
  GROUP BY k),
cl_fp AS (
  SELECT coalesce(CAST(max(CASE WHEN k = 1 THEN f_milli END) AS BIGINT),
                  CAST(1000 AS BIGINT)) AS f1,
         coalesce(CAST(max(CASE WHEN k = 2 THEN f_milli END) AS BIGINT),
                  CAST(1000 AS BIGINT)) AS f2,
         coalesce(CAST(max(CASE WHEN k = 3 THEN f_milli END) AS BIGINT),
                  CAST(1000 AS BIGINT)) AS f3,
         coalesce(CAST(max(CASE WHEN k = 4 THEN f_milli END) AS BIGINT),
                  CAST(1000 AS BIGINT)) AS f4
  FROM cl_f),
cl_last AS (
  SELECT cohort, CAST(max(k) AS BIGINT) AS k_last,
         CAST(max_by(c, k) AS BIGINT) AS cum_last
  FROM cl_c GROUP BY cohort)
SELECT l.cohort, l.k_last, l.cum_last,
       CAST(CASE
         WHEN l.k_last >= 4 THEN l.cum_last
         WHEN l.k_last = 3 THEN (l.cum_last * p.f4){div}1000
         WHEN l.k_last = 2 THEN
           (((l.cum_last * p.f3){div}1000) * p.f4){div}1000
         WHEN l.k_last = 1 THEN
           (((((l.cum_last * p.f2){div}1000)
                * p.f3){div}1000) * p.f4){div}1000
         ELSE (((((((l.cum_last * p.f1){div}1000) * p.f2){div}1000)
                * p.f3){div}1000) * p.f4){div}1000
       END AS BIGINT) AS ultimate,
       CAST(CASE
         WHEN l.k_last >= 4 THEN l.cum_last
         WHEN l.k_last = 3 THEN (l.cum_last * p.f4){div}1000
         WHEN l.k_last = 2 THEN
           (((l.cum_last * p.f3){div}1000) * p.f4){div}1000
         WHEN l.k_last = 1 THEN
           (((((l.cum_last * p.f2){div}1000)
                * p.f3){div}1000) * p.f4){div}1000
         ELSE (((((((l.cum_last * p.f1){div}1000) * p.f2){div}1000)
                * p.f3){div}1000) * p.f4){div}1000
       END - l.cum_last AS BIGINT) AS reserve,
       p.f2 AS f2_milli, p.f3 AS f3_milli, p.f4 AS f4_milli
FROM cl_last l CROSS JOIN cl_fp p
"""


@register(
    "chain_ladder",
    _chainladder_sql("duck"),
    doc="Mack chain-ladder reserving on the 1995-H1 order cohorts: "
    "month-lag development triangle (clamped offset, 1995-08 "
    "valuation cut), volume-weighted age-to-age factors in milli over "
    "cohorts observing both columns, young cohorts rolled to "
    "ultimates through the remaining factors (bounded unroll, "
    "truncating milli products), reserve = ultimate - latest "
    "cumulative — the actuarial counterpart of cohort_retention's "
    "triangle and forecast_eval's scorecard.",
)
def q_chain_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(
        spark, sf_dir, _chainladder_sql("spark"), "orders", "lineitem"
    )


# --- R362: consistent-hash ring audit ------------------------------------------------------
#
# Distributed-systems partitioning joins rendezvous_audit (HRW): the
# classic Chord/Dynamo RING — 8 servers x 16 md5 virtual nodes on the
# 32-bit circle, every part key assigned to its clockwise successor
# vnode (wraparound = global minimum point). Assignment is computed
# against the BOUNDED vnode frame (keys come from the part dimension,
# vnodes are 128/144 literals-by-construction), so the fan-out is
# dimension x vnodes, never fact-table-sized. The audit then adds a
# 9th server and re-assigns: consistent hashing's minimal-disruption
# theorem says every key that moves must land on the NEW server — the
# query emits that certificate (n_moved == n_moved_to_new) plus
# per-server load shares and the movement fraction vs the 1/(S+1)
# ideal.

_RING_S, _RING_V = 8, 16


def _ring_sql(engine: str) -> str:
    from .functions import md5int_duck, md5int_spark

    md5 = md5int_spark if engine == "spark" else md5int_duck
    div = " DIV " if engine == "spark" else " // "
    gen = (
        f"SELECT explode(sequence(0, {(_RING_S + 1) * _RING_V - 1})) AS i"
        if engine == "spark"
        else f"SELECT unnest(range(0, {(_RING_S + 1) * _RING_V})) AS i"
    )
    scat = (
        "concat('ring_srv', CAST(i DIV 16 AS STRING), '_v',"
        " CAST(i % 16 AS STRING))"
        if engine == "spark"
        else "'ring_srv' || CAST(i // 16 AS VARCHAR) || '_v'"
        " || CAST(i % 16 AS VARCHAR)"
    )
    kcat = (
        "concat('ringkey_', CAST(p_partkey AS STRING))"
        if engine == "spark"
        else "'ringkey_' || CAST(p_partkey AS VARCHAR)"
    )
    return f"""
WITH rg_pts AS (
  SELECT i{div}{_RING_V} AS srv, {md5(scat)} AS h,
         {md5(scat)} * 256 + i AS ho
  FROM ({gen}) g),
rg_keys AS (
  SELECT p_partkey AS k, {md5(kcat)} AS hk,
         CAST(floor(p_retailprice * 100e0) AS BIGINT) AS load_cents
  FROM part),
rg_a8 AS (
  SELECT k.k, k.hk, k.load_cents,
         coalesce(min_by(p.srv, CASE WHEN p.h >= k.hk THEN p.ho END),
                  min_by(p.srv, p.ho)) AS srv8
  FROM rg_keys k CROSS JOIN (SELECT * FROM rg_pts
                             WHERE srv < {_RING_S}) p
  GROUP BY 1, 2, 3),
rg_a9 AS (
  SELECT k.k,
         coalesce(min_by(p.srv, CASE WHEN p.h >= k.hk THEN p.ho END),
                  min_by(p.srv, p.ho)) AS srv9
  FROM rg_keys k CROSS JOIN rg_pts p
  GROUP BY 1),
rg_j AS (
  SELECT a.k, a.load_cents, a.srv8, b.srv9,
         CASE WHEN a.srv8 <> b.srv9 THEN 1 ELSE 0 END AS moved
  FROM rg_a8 a JOIN rg_a9 b ON b.k = a.k),
rg_g AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys_total,
         CAST(sum(moved) AS BIGINT) AS n_moved,
         CAST(sum(CASE WHEN moved = 1 AND srv9 = {_RING_S}
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_to_new,
         CAST(sum(load_cents) AS BIGINT) AS load_total
  FROM rg_j)
SELECT j.srv8 AS srv, CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(j.load_cents) AS BIGINT) AS load_cents,
       CAST((1000 * sum(j.load_cents)){div}g.load_total AS BIGINT)
         AS load_milli,
       CAST(sum(j.moved) AS BIGINT) AS n_lost,
       CAST((1000 * g.n_moved){div}g.n_keys_total AS BIGINT)
         AS movement_milli,
       CAST({1000 // (_RING_S + 1)} AS BIGINT) AS ideal_milli,
       CAST(CASE WHEN g.n_moved = g.n_moved_to_new THEN 1 ELSE 0 END
            AS BIGINT) AS minimality_ok
FROM rg_j j CROSS JOIN rg_g g
GROUP BY j.srv8, g.n_moved, g.n_keys_total, g.load_total,
         g.n_moved_to_new
"""


@register(
    "hash_ring_audit",
    _ring_sql("duck"),
    doc="Consistent-hash ring audit (Chord/Dynamo shape): 8 servers x "
    "16 md5 vnodes on the 32-bit circle, part keys assigned to the "
    "clockwise successor against the BOUNDED vnode frame; adding a "
    "9th server re-assigns, and the minimal-disruption theorem — "
    "every moved key lands on the new server — is emitted as a "
    "certificate column beside per-server load shares and the "
    "movement fraction vs the 1/(S+1) ideal; the ring's vnode-driven "
    "balance complements rendezvous_audit's HRW placement.",
)
def q_hash_ring_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _ring_sql("spark"), "part")


# --- R363: A-priori frequent brand triples -------------------------------------------------
#
# Frequent-itemset mining at the 3-itemset rung (covisit_topk /
# repeat_purchase_pairs stop at pairs; seq_patterns is ordered): order
# baskets over the 25-brand item space, support-pruned in the exact
# A-priori cascade — frequent items first, frequent pairs from
# item-pruned baskets, candidate triples ONLY where all three sub-pairs
# are frequent (two pair-joins + one semi-join on the bounded pair
# frame), then true triple support counted from pair-pruned baskets.
# minsup is data-derived (0.1% of baskets, floor 2) so the result is
# non-vacuous at every sf; the downward-closure prune is the reason
# the triple fan never explodes at 10^12 baskets.


def _apriori_ctes(div: str, materialized: bool = False) -> str:
    # Spark inlines every CTE reference; ap_b feeds four downstream
    # consumers, so the Spark side pre-materializes it (localCheckpoint,
    # see _apriori_prepare) and binds it as ``ap_b`` instead of
    # re-running the join+distinct per consumer. The oracle keeps the
    # inline CTE.
    base = (
        ""
        if materialized
        else """ap_b AS (
  SELECT DISTINCT l.l_orderkey AS oid, p.p_brand AS item
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),"""
    )
    return f"""{base}
ap_n AS (
  SELECT CAST(count(DISTINCT oid) AS BIGINT) AS n_baskets FROM ap_b),
ap_f1 AS (
  SELECT b.item FROM ap_b b CROSS JOIN ap_n m
  GROUP BY b.item, m.n_baskets
  HAVING count(*) >= GREATEST(CAST(2 AS BIGINT),
                              m.n_baskets{div}1000)),
ap_bf AS (
  SELECT b.oid, b.item FROM ap_b b
  WHERE b.item IN (SELECT item FROM ap_f1)),
ap_sz AS (
  SELECT oid, CAST(count(*) AS BIGINT) AS k FROM ap_bf GROUP BY oid),
ap_ms AS (
  SELECT GREATEST(CAST(2 AS BIGINT),
           CAST(sum(k * (k - 1)) AS BIGINT){div}600) AS minsup2,
         GREATEST(CAST(2 AS BIGINT),
           CAST(sum(k * (k - 1) * (k - 2)) AS BIGINT){div}13800)
           AS minsup,
         (SELECT n_baskets FROM ap_n) AS n_baskets
  FROM ap_sz),
ap_f2 AS (
  SELECT a.item AS i1, b.item AS i2
  FROM ap_bf a JOIN ap_bf b
    ON b.oid = a.oid AND b.item > a.item
  CROSS JOIN ap_ms m
  GROUP BY a.item, b.item, m.minsup2
  HAVING count(*) >= m.minsup2),
ap_c3 AS (
  SELECT p.i1, p.i2, q.i2 AS i3
  FROM ap_f2 p JOIN ap_f2 q ON q.i1 = p.i1 AND q.i2 > p.i2
  WHERE EXISTS (SELECT 1 FROM ap_f2 r
                WHERE r.i1 = p.i2 AND r.i2 = q.i2)),
ap_s3 AS (
  SELECT c.i1, c.i2, c.i3, CAST(count(*) AS BIGINT) AS support
  FROM ap_c3 c
  JOIN ap_bf a ON a.item = c.i1
  JOIN ap_bf b ON b.oid = a.oid AND b.item = c.i2
  JOIN ap_bf d ON d.oid = a.oid AND d.item = c.i3
  GROUP BY 1, 2, 3)"""


def _apriori_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct (order, brand) basket frame, materialized once."""
    return _sql_tables(
        spark, sf_dir,
        "SELECT DISTINCT l.l_orderkey AS oid, p.p_brand AS item"
        " FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey",
        "lineitem", "part",
    ).localCheckpoint(eager=True)


def _apriori_sql(engine: str) -> str:
    div = " DIV " if engine == "spark" else " // "
    return f"""
WITH {_apriori_ctes(div, materialized=engine == "spark")}
SELECT s.i1, s.i2, s.i3, s.support,
       CAST((1000000 * s.support){div}m.n_baskets AS BIGINT)
         AS support_ppm,
       m.minsup, m.n_baskets
FROM ap_s3 s CROSS JOIN ap_ms m
WHERE s.support >= m.minsup
"""


@register(
    "apriori_triples",
    _apriori_sql("duck"),
    doc="A-priori frequent 3-itemsets over order baskets in the "
    "25-brand item space: MEAN-ANCHORED minsup (expected support "
    "from exact basket-size incidence sums, floor 2 — keeps the "
    "above-average half of the triple space at EVERY scale instead "
    "of saturating or going vacuous as absolute thresholds do), "
    "downward-closure candidate generation (triples only "
    "where ALL three sub-pairs are frequent — two joins + an EXISTS "
    "on the bounded pair frame), support counted from item-pruned "
    "baskets; support ppm + the minsup/n_baskets envelope. The "
    "3-itemset rung above covisit_topk and repeat_purchase_pairs, "
    "unordered counterpart of seq_patterns.",
)
def q_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(
        spark, _apriori_sql("spark"), ap_b=_apriori_prepare(spark, sf_dir)
    )


# --- R365: range-partition planner ---------------------------------------------------------
#
# The planner behind repartitionByRange, audited end-to-end: order
# totals collapse to a bounded $1000-bin histogram (the bounded
# value-dimension shape — one map-side agg over the fact table), the
# 16 range-shard boundaries fall out of the exact prefix sums
# (shard(bin) = 16 * cum_before DIV total), and the resulting
# contiguous shard loads are compared against md5-hash sharding of the
# same rows. Range shards admit zone-map pruning (each shard spans a
# closed bin interval, emitted as lo/hi); the deviation columns price
# the balance cost of that orderedness.


def _rpp_sql(engine: str) -> str:
    from .functions import md5int_duck, md5int_spark

    md5 = md5int_spark if engine == "spark" else md5int_duck
    div = " DIV " if engine == "spark" else " // "
    kcat = (
        "concat('rps_', CAST(o_orderkey AS STRING))"
        if engine == "spark"
        else "'rps_' || CAST(o_orderkey AS VARCHAR)"
    )
    return f"""
WITH rp_b AS (
  SELECT CAST(floor(o_totalprice * 100e0) AS BIGINT){div}100000 AS bin,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1),
rp_t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM rp_b),
rp_s AS (
  SELECT b.bin, b.n,
         LEAST(CAST(15 AS BIGINT),
           (16 * (sum(b.n) OVER (ORDER BY b.bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - b.n)){div}t.total) AS shard
  FROM rp_b b CROSS JOIN rp_t t),
rp_r AS (
  SELECT shard, CAST(sum(n) AS BIGINT) AS n_range,
         CAST(min(bin) AS BIGINT) AS lo_bin,
         CAST(max(bin) AS BIGINT) AS hi_bin
  FROM rp_s GROUP BY 1),
rp_h AS (
  SELECT ({md5(kcat)}) % 16 AS shard, CAST(count(*) AS BIGINT) AS n_hash
  FROM orders GROUP BY 1),
rp_g AS (
  SELECT t.total, t.total{div}16 AS ideal,
         (SELECT max(n_range) FROM rp_r) AS max_range,
         (SELECT max(n_hash) FROM rp_h) AS max_hash
  FROM rp_t t)
SELECT r.shard, r.lo_bin, r.hi_bin, r.n_range,
       coalesce(h.n_hash, CAST(0 AS BIGINT)) AS n_hash,
       CAST((1000 * r.n_range){div}g.ideal AS BIGINT)
         AS range_load_milli,
       CAST((1000 * coalesce(h.n_hash, CAST(0 AS BIGINT))){div}g.ideal
            AS BIGINT) AS hash_load_milli,
       CAST((1000 * g.max_range){div}g.ideal AS BIGINT)
         AS range_skew_milli,
       CAST((1000 * g.max_hash){div}g.ideal AS BIGINT)
         AS hash_skew_milli
FROM rp_r r
LEFT JOIN rp_h h ON h.shard = r.shard
CROSS JOIN rp_g g
"""


@register(
    "range_partition_plan",
    _rpp_sql("duck"),
    doc="repartitionByRange planner audit: order totals collapse to a "
    "bounded $1000-bin histogram (one map-side agg), exact prefix "
    "sums place the 16 range-shard boundaries (shard = 16*cum_before "
    "DIV total), and the contiguous shard loads — each with its "
    "zone-map-prunable [lo, hi] bin interval — are priced against "
    "md5-hash sharding of the same rows; per-shard load and global "
    "skew in milli of the ideal. The planner the engine's own "
    "zorder/hilbert writers rely on, made auditable.",
)
def q_range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _rpp_sql("spark"), "orders")

# --- R366: parallel Gale-Shapley stable matching -------------------------------------------
#
# Two-sided matching joins the market-design family: 8 supplier groups
# (proposers) and 8 brand groups with ASYMMETRIC data-derived
# preferences — suppliers rank brands by shipped quantity, brands rank
# suppliers by revenue, md5 tie-breaks, densified to all 64 pairs.
# Round-SYNCHRONOUS deferred acceptance: every free proposer proposes
# to the preference slot his POINTER addresses, each brand keeps the
# best of fiancé + proposers, and every loser advances his pointer to
# rank+1. State per round is FIXED-SIZE (8 pointers + <=8 engagements;
# never a growing rejection union — the frontier-checkpoint
# discipline), so 24 rounds of tiny localCheckpointed joins implement
# it Spark-side; the DuckDB oracle unrolls the same 24 rounds as
# MATERIALIZED CTEs (plain CTEs re-inline the round chain
# exponentially — the same trap Catalyst has, solved there by the
# checkpoint loop). By McVitie-Wilson, proposal order cannot change
# the outcome: the pytest replay runs SEQUENTIAL Gale-Shapley and
# agrees exactly; the query emits the stability certificate in-result
# (blocking_pairs counted against the full preference frame must be
# 0).

_GS_ROUNDS = 24


def _gs_setup_sql(engine: str) -> str:
    from .functions import md5int_duck, md5int_spark

    md5 = md5int_spark if engine == "spark" else md5int_duck
    gen8 = (
        "SELECT explode(sequence(0, 7))"
        if engine == "spark"
        else "SELECT unnest(range(0, 8))"
    )
    wcat = (
        "concat('gsw_', p.p_brand)"
        if engine == "spark"
        else "'gsw_' || p.p_brand"
    )
    tcat = (
        "concat('gst_', CAST(p.m AS STRING), '_', CAST(p.w AS STRING))"
        if engine == "spark"
        else "'gst_' || CAST(p.m AS VARCHAR) || '_' || CAST(p.w AS VARCHAR)"
    )
    return f"""
gs_sc AS (
  SELECT l.l_suppkey % 8 AS m, ({md5(wcat)}) % 8 AS w,
         CAST(floor(sum(l.l_quantity)) AS BIGINT) AS qty,
         CAST(sum(CAST(floor(l.l_extendedprice) AS BIGINT)) AS BIGINT)
           AS rev
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2),
gs_p AS (
  SELECT p.m, p.w,
         coalesce(s.qty, CAST(0 AS BIGINT)) AS qty,
         coalesce(s.rev, CAST(0 AS BIGINT)) AS rev,
         {md5(tcat)} AS tb
  FROM (SELECT mm.m, ww.w FROM ({gen8} AS m) mm
        CROSS JOIN ({gen8.replace(' AS m', '')} AS w) ww) p
  LEFT JOIN gs_sc s ON s.m = p.m AND s.w = p.w),
gs_r AS (
  SELECT m, w,
         CAST(row_number() OVER (PARTITION BY m
           ORDER BY qty DESC, tb, w) AS BIGINT) AS rm,
         CAST(row_number() OVER (PARTITION BY w
           ORDER BY rev DESC, tb, m) AS BIGINT) AS rw
  FROM gs_p)"""


def _gs_oracle_sql() -> str:
    rounds = []
    for r in range(1, _GS_ROUNDS + 1):
        q = r - 1
        rounds.append(f"""gs_pr{r} AS MATERIALIZED (
  SELECT s.m, r1.w, r1.rm FROM gs_st{q} s
  JOIN gs_r r1 ON r1.m = s.m AND r1.rm = s.ptr
  WHERE s.m NOT IN (SELECT m FROM gs_eng{q})),
gs_pool{r} AS MATERIALIZED (
  SELECT w, m FROM gs_eng{q}
  UNION ALL
  SELECT w, m FROM gs_pr{r}),
gs_eng{r} AS MATERIALIZED (
  SELECT pl.w, min_by(pl.m, r2.rw) AS m
  FROM gs_pool{r} pl JOIN gs_r r2 ON r2.m = pl.m AND r2.w = pl.w
  GROUP BY pl.w),
gs_rj{r} AS MATERIALIZED (
  SELECT r3.m, r3.rm + 1 AS np
  FROM gs_pool{r} pl
  LEFT JOIN gs_eng{r} e ON e.w = pl.w AND e.m = pl.m
  JOIN gs_r r3 ON r3.m = pl.m AND r3.w = pl.w
  WHERE e.w IS NULL),
gs_st{r} AS MATERIALIZED (
  SELECT s.m, coalesce(x.np, s.ptr) AS ptr
  FROM gs_st{q} s LEFT JOIN gs_rj{r} x ON x.m = s.m)""")
    rounds_sql = ",\n".join(rounds)
    R = _GS_ROUNDS
    return f"""
WITH {_gs_setup_sql('duck')},
gs_st0 AS (SELECT DISTINCT m, CAST(1 AS BIGINT) AS ptr FROM gs_r),
gs_eng0 AS (SELECT m, w FROM gs_r WHERE 1 = 0),
{rounds_sql},
gs_m AS (
  SELECT e.m, e.w, r.rm AS his_rank, r.rw AS her_rank
  FROM gs_eng{R} e JOIN gs_r r ON r.m = e.m AND r.w = e.w),
gs_bp AS (
  SELECT CAST(count(*) AS BIGINT) AS blocking_pairs
  FROM gs_r x
  JOIN gs_m mm ON mm.m = x.m
  JOIN gs_m ww ON ww.w = x.w
  WHERE x.rm < mm.his_rank AND x.rw < ww.her_rank),
gs_n AS (SELECT CAST(count(*) AS BIGINT) AS n_matched FROM gs_m)
SELECT m.m AS supplier_grp, m.w AS brand_grp,
       m.his_rank, m.her_rank,
       n.n_matched, b.blocking_pairs,
       CAST(CASE WHEN n.n_matched = 8 AND b.blocking_pairs = 0
            THEN 1 ELSE 0 END AS BIGINT) AS stable_ok
FROM gs_m m CROSS JOIN gs_bp b CROSS JOIN gs_n n
"""


@register(
    "gale_shapley",
    _gs_oracle_sql(),
    doc="Round-synchronous Gale-Shapley deferred acceptance between 8 "
    "supplier groups and 8 brand groups with ASYMMETRIC data-derived "
    "preferences (quantity vs revenue, md5 tie-breaks, densified "
    "64-pair frame): 24 rounds of fixed-size pointer state — free "
    "proposers hit their pointer slot, brands keep the best of "
    "fiance + proposers, losers advance — localCheckpointed "
    "Spark-side, MATERIALIZED-CTE-unrolled oracle-side. Emits each "
    "match with both sides' ranks and the STABILITY certificate "
    "(blocking_pairs counted in-query must be 0); the sequential-GS "
    "pytest replay agrees via McVitie-Wilson order-independence — "
    "two-sided market design beside bradley_terry.",
)
def q_gale_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    gs_r = _sql_tables(
        spark, sf_dir, f"WITH {_gs_setup_sql('spark')} SELECT * FROM gs_r",
        "lineitem", "part",
    ).localCheckpoint(eager=True)
    men = gs_r.select("m").distinct()
    st = men.selectExpr("m", "CAST(1 AS BIGINT) AS ptr").localCheckpoint(
        eager=True
    )
    eng = gs_r.selectExpr("w", "m").where("1 = 0").localCheckpoint(
        eager=True
    )
    for _ in range(_GS_ROUNDS):
        free = st.join(eng.select("m"), "m", "left_anti")
        prop = free.join(gs_r, ["m"]).where("rm = ptr").select("w", "m")
        pool = eng.unionByName(prop)
        poolr = pool.join(gs_r.select("m", "w", "rm", "rw"), ["m", "w"])
        eng2 = poolr.groupBy("w").agg(
            F.expr("min_by(m, rw)").alias("m")
        )
        rejected = poolr.join(eng2, ["w", "m"], "left_anti").selectExpr(
            "m", "rm + 1 AS np"
        )
        st = (
            st.join(rejected, "m", "left")
            .selectExpr("m", "coalesce(np, ptr) AS ptr")
            .localCheckpoint(eager=True)
        )
        eng = eng2.select("w", "m").localCheckpoint(eager=True)
        # scalar fixpoint probe (the graph-suite discipline): a perfect
        # matching means no free proposer, so every later round is the
        # identity — the 24-round oracle unroll reaches the same state.
        if eng.count() == 8:
            break
    match = eng.join(gs_r, ["m", "w"]).selectExpr(
        "m", "w", "rm AS his_rank", "rw AS her_rank"
    )
    mm = match.selectExpr("m AS bm", "his_rank AS m_rank")
    ww = match.selectExpr("w AS bw", "her_rank AS w_rank")
    bp = (
        gs_r.join(F.broadcast(mm), gs_r.m == mm.bm)
        .join(F.broadcast(ww), gs_r.w == ww.bw)
        .where("rm < m_rank AND rw < w_rank")
        .agg(F.count("*").cast("bigint").alias("blocking_pairs"))
    )
    nm = match.agg(F.count("*").cast("bigint").alias("n_matched"))
    return (
        match.crossJoin(F.broadcast(bp))
        .crossJoin(F.broadcast(nm))
        .selectExpr(
            "m AS supplier_grp", "w AS brand_grp", "his_rank",
            "her_rank", "n_matched", "blocking_pairs",
            "CAST(CASE WHEN n_matched = 8 AND blocking_pairs = 0"
            " THEN 1 ELSE 0 END AS BIGINT) AS stable_ok",
        )
    )


# --- R367: densest-subgraph peeling (Bahmani et al.) --------------------------------------
#
# Graph density mining joins the suite: Charikar's greedy is
# sequential (one vertex per step), but the Bahmani-Kumar-
# Vassilvitskii variant removes EVERY vertex of degree <= (1+eps) *
# density in one synchronized round and still guarantees a
# 2(1+eps)-approximation in O(log n) rounds — the log-depth shape
# this engine uses everywhere (eps = 1/2 here: threshold 3E DIV 2N).
# Runs on the planted-core fixture (300-node dense block inside 2000
# background nodes) so the ladder actually CLIMBS: peeling strips the
# sparse background and the density maximum isolates the core.
# Spark-side: six rounds of degree-groupBy + semi-join with the edge
# set localCheckpointed per round and a scalar census probe (the
# BFS-loop discipline); oracle-side: the same six rounds as
# MATERIALIZED CTEs. Per-round node/edge census, exact density in
# milli, the threshold used, and the best-round answer flag.

_DSP_ROUNDS = 6


def _dsp_oracle_sql() -> str:
    from .operators import graph as _g

    rounds = []
    for r in range(1, _DSP_ROUNDS + 1):
        q = r - 1
        rounds.append(f"""dsp_d{r} AS MATERIALIZED (
  SELECT u, CAST(count(*) AS BIGINT) AS deg
  FROM dsp_e{q} GROUP BY u),
dsp_s{r} AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(deg) AS BIGINT) // 2 AS e
  FROM dsp_d{r}),
dsp_k{r} AS MATERIALIZED (
  SELECT d.u FROM dsp_d{r} d CROSS JOIN dsp_s{r} s
  WHERE s.n > 0 AND d.deg > (3 * s.e) // (2 * s.n)),
dsp_e{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM dsp_e{q} e
  WHERE e.u IN (SELECT u FROM dsp_k{r})
    AND e.v IN (SELECT u FROM dsp_k{r}))""")
    rounds_sql = ",\n".join(rounds)
    stats = "\n  UNION ALL\n  ".join(
        f"SELECT {r} AS round, s.n, s.e,"
        f" (SELECT (3 * s2.e) // (2 * s2.n) FROM dsp_s{r} s2"
        f"  WHERE s2.n > 0) AS threshold"
        f" FROM dsp_s{r} s" for r in range(1, _DSP_ROUNDS + 1)
    )
    return f"""
WITH dsp_raw AS ({_g._core_edges_sql()}),
dsp_e0 AS MATERIALIZED (
  SELECT u, v FROM (
    SELECT src AS u, dst AS v FROM dsp_raw WHERE src <> dst
    UNION
    SELECT dst AS u, src AS v FROM dsp_raw WHERE src <> dst) t),
{rounds_sql},
dsp_all AS (
  {stats})
SELECT round, n AS n_nodes, e AS n_edges, threshold,
       CAST((1000 * e) // n AS BIGINT) AS density_milli,
       CAST(CASE WHEN (1000 * e) // n
                   = max((1000 * e) // n) OVER () THEN 1 ELSE 0 END
            AS BIGINT) AS is_best
FROM dsp_all WHERE n > 0
"""


@register(
    "densest_peel",
    _dsp_oracle_sql(),
    doc="Densest-subgraph mining by parallel peeling (Bahmani-Kumar-"
    "Vassilvitskii, eps=1/2): six rounds over the symmetrized "
    "planted-core graph (the ktruss/kcore fixture), each removing EVERY vertex of degree <= 1.5x density in "
    "one degree-groupBy + semi-join — the O(log n)-round "
    "3-approximation whose synchronized-removal shape is what a "
    "10^12-edge graph permits (Charikar's one-vertex-per-step greedy "
    "is not parallelizable); per-round census, exact density milli, "
    "threshold used, and the best-round answer flag. Spark side runs "
    "the checkpoint-loop, the oracle unrolls MATERIALIZED CTEs.",
)
def q_densest_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the synthetic planted-core graph is sf-independent (like
    # ktruss_edges / kcore_community); sf_dir is signature-uniform only.
    from .operators import graph as _g

    raw = _g.core_edges_df(spark).where("src <> dst")
    e = (
        raw.selectExpr("src AS u", "dst AS v")
        .union(raw.selectExpr("dst AS u", "src AS v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rows = []
    for r in range(1, _DSP_ROUNDS + 1):
        deg = e.groupBy("u").agg(F.count("*").cast("bigint").alias("deg"))
        st = deg.agg(
            F.count("*").cast("bigint"), F.sum("deg").cast("bigint")
        ).first()
        n, two_e = int(st[0] or 0), int(st[1] or 0)
        if n == 0:
            break
        ecnt = two_e // 2
        th = (3 * ecnt) // (2 * n)
        rows.append((r, n, ecnt, th, (1000 * ecnt) // n))
        keep = deg.where(F.col("deg") > th).select("u").localCheckpoint(
            eager=True
        )
        e = (
            e.join(keep, "u", "semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    best = max(d for _, _, _, _, d in rows)
    out = [
        (r, n, ecnt, th, d, 1 if d == best else 0)
        for r, n, ecnt, th, d in rows
    ]
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField(c, LongType())
            for c in (
                "round", "n_nodes", "n_edges", "threshold",
                "density_milli", "is_best",
            )
        ]
    )
    return spark.createDataFrame(out, schema)


# --- R369: Erlang staffing ladder ----------------------------------------------------------
#
# Queueing-theory PLANNING beside queue_depth_replay (simulation) and
# littles_law (conservation): the offered load a = lambda/mu in
# Erlangs comes from the data (arrivals over the observed span; mu =
# 30 jobs/hour per server, a literal), and the Erlang-B blocking
# probability follows the numerically exact recurrence B_k =
# a*B_{k-1} / (k + a*B_{k-1}), held in milli with truncating integer
# division at each of the 8 unrolled steps (engine-identical, no
# factorials, no overflow). Erlang-C waiting probability derives from
# each B_c when the system is stable (c > a); the ladder emits one
# row per server count with blocking, waiting, stability, and the
# min-servers-meeting-SLA verdict (wait prob <= 20%).

_ERL_MU, _ERL_C_MAX, _ERL_SLA_MILLI = 30, 8, 200


def _erlang_sql(engine: str) -> str:
    div = " DIV " if engine == "spark" else " // "
    ehour = (
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        " ts) DIV 3600000000"
        if engine == "spark"
        else "date_diff('microsecond', TIMESTAMP '1970-01-01', ts)"
        " // 3600000000"
    )
    ctes = [f"""erl_a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_events,
         max({ehour}) - min({ehour}) + 1 AS n_hours,
         (1000 * CAST(count(*) AS BIGINT))
           {div}((max({ehour}) - min({ehour}) + 1) * {_ERL_MU})
           AS a_milli
  FROM events)"""]
    prev = None
    for k in range(1, _ERL_C_MAX + 1):
        bprev = "1000" if k == 1 else f"(SELECT b FROM erl_b{k - 1})"
        ctes.append(f"""erl_b{k} AS (
  SELECT (1000 * (a_milli * {bprev}))
           {div}(1000000 * {k} + a_milli * {bprev}) AS b
  FROM erl_a)""")
        prev = f"erl_b{k}"
    ladder = "\n  UNION ALL\n  ".join(
        f"SELECT {k} AS c, (SELECT b FROM erl_b{k}) AS b_milli"
        for k in range(1, _ERL_C_MAX + 1)
    )
    return f"""
WITH {','.join(ctes)},
erl_l AS (
  {ladder}),
erl_c AS (
  SELECT l.c, a.a_milli, a.n_events, a.n_hours, l.b_milli,
         CAST(CASE WHEN 1000 * l.c > a.a_milli THEN 1 ELSE 0 END
              AS BIGINT) AS stable,
         CAST(CASE WHEN 1000 * l.c > a.a_milli
              THEN (1000 * (l.c * l.b_milli))
                   {div}(l.c * 1000 - a.a_milli
                         + ((a.a_milli * l.b_milli){div}1000))
              ELSE 1000 END AS BIGINT) AS wait_milli
  FROM erl_l l CROSS JOIN erl_a a)
SELECT c, a_milli, n_events, n_hours, b_milli, stable, wait_milli,
       CAST(min(CASE WHEN wait_milli <= {_ERL_SLA_MILLI} THEN c END)
            OVER () AS BIGINT) AS min_c_sla
FROM erl_c
"""


@register(
    "erlang_audit",
    _erlang_sql("duck"),
    doc="Erlang staffing ladder: offered load in milli-Erlangs from "
    "the observed arrival span (mu = 30/hour literal), Erlang-B "
    "blocking via the exact 8-step recurrence B_k = aB/(k + aB) in "
    "truncating milli (no factorials, engine-identical), Erlang-C "
    "waiting probability where stable (c > a), and the min-servers "
    "SLA verdict — queueing PLANNING beside queue_depth_replay "
    "(simulation) and littles_law (conservation).",
)
def q_erlang_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _erlang_sql("spark"), "events")


# --- R370: Soundex phonetic blocking -------------------------------------------------------
#
# The phonetic rung of the entity-resolution blocking family
# (fs_linkage = likelihood weighting, fuzzy_dup_pairs = edit
# distance): simplified American Soundex — first letter + consonant
# class digits, runs collapsed, vowels dropped, zero-padded to 4 —
# spelled entirely in portable SQL (translate + SIX chained
# run-collapse regexp_replaces, one per digit class, because DuckDB's
# RE2 has no pattern backreferences; Spark replaces globally by
# default, DuckDB needs the 'g' flag — both CLAUDE.md spellings).
# Applied to the first word of part names; emits each block with its
# sizes and example words plus the blocking-quality envelope: the
# pair-reduction ratio (candidate pairs inside blocks vs all pairs)
# every ER pipeline reports.

_SDX_MAP = "01230120022455012623010202"


def _sdx_expr(engine: str, w: str) -> str:
    up = f"upper({w})"
    first = f"substr({up}, 1, 1)"
    code = f"translate({up}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '{_SDX_MAP}')"
    flag = ", 'g'" if engine == "duck" else ""
    for d in "123456":
        code = f"regexp_replace({code}, '{d}{d}+', '{d}'{flag})"
    # drop the leading code digit when it repeats the first letter's class,
    # then strip vowel zeros and pad
    tail = (
        f"CASE WHEN substr({code}, 1, 1) = substr(translate({first},"
        f" 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '{_SDX_MAP}'), 1, 1)"
        f" THEN substr({code}, 2) ELSE {code} END"
    )
    tail = f"replace({tail}, '0', '')"
    return f"(({first}) || substr(({tail}) || '000', 1, 3))"


def _soundex_sql(engine: str) -> str:
    div = " DIV " if engine == "spark" else " // "
    word = (
        "split(p_name, ' ')[0]"
        if engine == "spark"
        else "string_split(p_name, ' ')[1]"
    )
    return f"""
WITH sdx_w AS (
  SELECT {_sdx_expr(engine, 'w')} AS code, w, CAST(n AS BIGINT) AS n
  FROM (SELECT {word} AS w, count(*) AS n FROM part GROUP BY 1) t),
sdx_b AS (
  SELECT code, CAST(sum(n) AS BIGINT) AS n_parts,
         CAST(count(*) AS BIGINT) AS n_words,
         min(w) AS word_a, max(w) AS word_b
  FROM sdx_w GROUP BY code),
sdx_g AS (
  SELECT CAST(sum(n_parts) AS BIGINT) AS total,
         CAST(sum(n_parts * (n_parts - 1)) AS BIGINT) AS block_pairs2,
         CAST(count(*) AS BIGINT) AS n_blocks
  FROM sdx_b)
SELECT b.code, b.n_parts, b.n_words, b.word_a, b.word_b,
       CAST(CASE WHEN b.n_words > 1 THEN 1 ELSE 0 END AS BIGINT)
         AS collision,
       g.n_blocks,
       CAST((1000 * g.block_pairs2)
            {div}GREATEST(g.total * (g.total - 1), CAST(1 AS BIGINT))
            AS BIGINT) AS pair_ratio_milli
FROM sdx_b b CROSS JOIN sdx_g g
"""


@register(
    "soundex_blocks",
    _soundex_sql("duck"),
    doc="Simplified American Soundex over first words of part names, "
    "spelled in portable SQL (translate + six chained run-collapse "
    "regexp_replaces — RE2 has no pattern backrefs — with the "
    "global-flag spelling difference handled per engine): each "
    "phonetic block with sizes, example words and collision flag, "
    "plus the ER blocking-quality envelope — candidate-pair "
    "reduction ratio vs all-pairs — the phonetic rung beside "
    "fs_linkage and fuzzy_dup_pairs.",
)
def q_soundex_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _soundex_sql("spark"), "part")

# --- R373: Young-Daly checkpoint-interval ladder -------------------------------------------
#
# The engine ships checkpoint/resume machinery (streaming/checkpoint,
# I6/I7); this op PLANS it. Checkpoint write cost delta comes from the
# data (total raster payload bytes at a 200 MB/s writer literal), MTBF
# is a 1-hour literal, and the first-order expected waste rate
# waste(W) = delta/W + W/(2M) is evaluated in exact ppm over a
# geometric 16-step interval ladder anchored at delta (which brackets
# the Young-Daly optimum W* = sqrt(2*delta*M) whenever 2M >= delta —
# no square root ever computed; the power-of-two multipliers are a
# VALUES literal table, no float power). The best rung and the
# not-at-the-edge bracket certificate are emitted in-result.

_YD_MTBF_MS, _YD_WRITE_BPMS, _YD_STEPS = 3600000, 200000, 16


def _yd_body(div: str) -> str:
    vals = ", ".join(f"({k}, {1 << k})" for k in range(_YD_STEPS))
    return f"""yd_d AS (
  SELECT GREATEST(CAST(1 AS BIGINT),
           CAST(sum(CAST(w AS BIGINT) * CAST(h AS BIGINT) * 3)
                AS BIGINT){div}{_YD_WRITE_BPMS}) AS delta_ms
  FROM tiles),
yd_l AS (
  SELECT g.k, g.p2, d.delta_ms, d.delta_ms * g.p2 AS w_ms
  FROM (SELECT * FROM (VALUES {vals}) AS t(k, p2)) g
  CROSS JOIN yd_d d),
yd_w AS (
  SELECT k, delta_ms, w_ms,
         (1000000 * delta_ms){div}w_ms
           + (1000000 * w_ms){div}(2 * {_YD_MTBF_MS}) AS waste_ppm
  FROM yd_l),
yd_m AS (
  SELECT k, delta_ms, w_ms, waste_ppm,
         min(waste_ppm) OVER () AS minwaste
  FROM yd_w),
yd_f AS (
  SELECT k, delta_ms, w_ms, waste_ppm, minwaste,
         min(CASE WHEN waste_ppm = minwaste THEN k END) OVER ()
           AS best_k
  FROM yd_m)
SELECT k, delta_ms, w_ms, waste_ppm,
       CAST(CASE WHEN waste_ppm = minwaste THEN 1 ELSE 0 END AS BIGINT)
         AS is_best,
       CAST(CASE WHEN best_k NOT IN (0, {_YD_STEPS - 1})
            THEN 1 ELSE 0 END AS BIGINT) AS bracket_ok
FROM yd_f"""


def _yd_oracle() -> str:
    from . import synth as _synth

    return f"WITH tiles AS (\n{_synth.tiles_sql()}\n),\n{_yd_body(' // ')}"


@register(
    "youngdaly_checkpoint",
    _yd_oracle(),
    doc="Young-Daly checkpoint-interval planner: write cost delta from "
    "the data (total raster payload at a 200 MB/s writer literal), "
    "1-hour MTBF, first-order waste rate delta/W + W/(2M) in exact "
    "ppm over a 16-rung power-of-two ladder anchored at delta (VALUES "
    "literal multipliers — no float power, no square root; the ladder "
    "brackets W* = sqrt(2 delta M) by construction, certified by the "
    "not-at-the-edge flag) — the planning op for the engine's own "
    "checkpoint/resume machinery (I6/I7) beside compaction_plan and "
    "snapshot_expiry.",
)
def q_youngdaly_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(
        spark, f"WITH {_yd_body(' DIV ')}",
        tiles=synth.tiles_df(spark, sf_dir),
    )


# --- R374: association rules from frequent triples -----------------------------------------
#
# The rule-mining rung above apriori_triples (itemsets say WHAT
# co-occurs; rules say WHICH WAY the implication is useful): every
# frequent triple {a,b,c} yields its three pair->item rules, scored
# with exact integer confidence (s3/s_pair) and lift
# (s3*N / (s_pair*s_item)) in milli — lift > 1000 means the
# antecedent genuinely raises the consequent's probability. Pair and
# item supports come from the same pruned-basket frames the triples
# were counted on, so the whole derivation shares one A-priori
# cascade.


def _rules_sql(engine: str) -> str:
    div = " DIV " if engine == "spark" else " // "
    return f"""
WITH {_apriori_ctes(div, materialized=engine == "spark")},
ar_t AS (
  SELECT s.i1, s.i2, s.i3, s.support FROM ap_s3 s CROSS JOIN ap_ms m
  WHERE s.support >= m.minsup),
ar_ps AS (
  SELECT a.item AS i1, b.item AS i2, CAST(count(*) AS BIGINT) AS sp
  FROM ap_bf a JOIN ap_bf b ON b.oid = a.oid AND b.item > a.item
  GROUP BY 1, 2),
ar_is AS (
  SELECT item, CAST(count(*) AS BIGINT) AS si FROM ap_bf GROUP BY 1),
ar_r AS (
  SELECT t.i1 AS ante1, t.i2 AS ante2, t.i3 AS cons, t.support,
         p.sp AS pair_support, i.si AS cons_support
  FROM ar_t t
  JOIN ar_ps p ON p.i1 = t.i1 AND p.i2 = t.i2
  JOIN ar_is i ON i.item = t.i3
  UNION ALL
  SELECT t.i1, t.i3, t.i2, t.support, p.sp, i.si
  FROM ar_t t
  JOIN ar_ps p ON p.i1 = t.i1 AND p.i2 = t.i3
  JOIN ar_is i ON i.item = t.i2
  UNION ALL
  SELECT t.i2, t.i3, t.i1, t.support, p.sp, i.si
  FROM ar_t t
  JOIN ar_ps p ON p.i1 = t.i2 AND p.i2 = t.i3
  JOIN ar_is i ON i.item = t.i1)
SELECT r.ante1, r.ante2, r.cons, r.support,
       CAST((1000 * r.support){div}r.pair_support AS BIGINT)
         AS conf_milli,
       CAST((1000 * r.support * m.n_baskets)
            {div}(r.pair_support * r.cons_support) AS BIGINT)
         AS lift_milli
FROM ar_r r CROSS JOIN ap_ms m
"""


@register(
    "assoc_rules",
    _rules_sql("duck"),
    doc="Association rules from the frequent brand triples: each "
    "triple's three pair->item rules with exact integer confidence "
    "(triple/pair support) and lift (does the antecedent RAISE the "
    "consequent's probability — milli, 1000 = independence), pair "
    "and item supports shared with the same A-priori cascade — the "
    "directional rung above apriori_triples, completing the "
    "market-basket story (itemsets -> rules).",
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(
        spark, _rules_sql("spark"), ap_b=_apriori_prepare(spark, sf_dir)
    )


# --- R375: historical VaR / expected shortfall ---------------------------------------------
#
# Risk measurement completes the finance triad (drawdown_stats = risk
# realized path-wise, min_var_portfolio = risk planned, this = risk
# QUANTIFIED distributionally): day-over-day revenue changes on the
# bounded densified 1996 calendar, exact order statistics by window
# rank (365 deltas — a bounded frame, no histogram detour needed),
# historical VaR at 95/99 as the k-th worst delta with
# k = ceil(alpha*n), and expected shortfall as the exact mean of the
# tail at-or-below VaR. The coherence property ES <= VaR (ES is a
# tail MEAN) is emitted as a certificate column.


def _var_sql(engine: str) -> str:
    div = " DIV " if engine == "spark" else " // "
    cal = (
        "SELECT explode(sequence(1, 366)) AS doy"
        if engine == "spark"
        else "SELECT unnest(range(1, 367)) AS doy"
    )
    return f"""
WITH vr_d AS (
  SELECT dayofyear(CAST(l_shipdate AS DATE)) AS doy,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
                       AS BIGINT)){div}1000 AS BIGINT) AS y
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1),
vr_y AS (
  SELECT c.doy, coalesce(d.y, CAST(0 AS BIGINT)) AS y
  FROM ({cal}) c LEFT JOIN vr_d d ON d.doy = c.doy),
vr_dl AS (
  SELECT doy, y - lag(y) OVER (ORDER BY doy) AS dl
  FROM vr_y),
vr_r AS (
  SELECT doy, dl,
         CAST(row_number() OVER (ORDER BY dl, doy) AS BIGINT) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM vr_dl WHERE dl IS NOT NULL),
vr_k AS (
  SELECT n, (5 * n + 99){div}100 AS k95, (1 * n + 99){div}100 AS k99
  FROM vr_r LIMIT 1),
vr_v AS (
  SELECT k.n,
         max(CASE WHEN r.rk = k.k95 THEN r.dl END) AS var95,
         max(CASE WHEN r.rk = k.k99 THEN r.dl END) AS var99,
         CAST(sum(CASE WHEN r.rk <= k.k95 THEN r.dl END)
              AS BIGINT){div}k.k95 AS es95,
         CAST(sum(CASE WHEN r.rk <= k.k99 THEN r.dl END)
              AS BIGINT){div}k.k99 AS es99,
         min(r.dl) AS worst_delta
  FROM vr_r r CROSS JOIN vr_k k
  GROUP BY k.n, k.k95, k.k99)
SELECT n AS n_deltas, var95, es95, var99, es99, worst_delta,
       CAST(CASE WHEN es95 <= var95 AND es99 <= var99
                  AND es99 <= es95 THEN 1 ELSE 0 END AS BIGINT)
         AS coherent_ok
FROM vr_v
"""


@register(
    "var_es_risk",
    _var_sql("duck"),
    doc="Historical VaR and expected shortfall of day-over-day 1996 "
    "revenue changes: exact order statistics by rank on the bounded "
    "densified calendar (365 deltas), VaR95/99 as the ceil(alpha*n)-"
    "th worst delta, ES as the exact integer tail mean, with the "
    "coherence certificate ES <= VaR and ES99 <= ES95 in-result — "
    "risk QUANTIFIED beside drawdown_stats (realized) and "
    "min_var_portfolio (planned).",
)
def q_var_es_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _var_sql("spark"), "lineitem")


# --- R376: Denning working-set ladder ------------------------------------------------------
#
# Temporal-locality analysis in the bounded shape (Denning 1968): the
# (brand, day) presence matrix of 1996 shipments is a bounded 25x366
# frame; for each window size tau the working set W(tau) = number of
# distinct brands touched in the trailing tau days, computed as one
# windowed max-of-presence pass per tau over the DENSIFIED frame
# (never a per-access reuse-distance scan — at 10^12 accesses only
# the collapsed presence matrix is affordable). Emits mean/min/max
# working set per tau (post-warmup) and the marginal gain over the
# previous rung — the curve a cache/prefetch planner reads.

_WS_TAUS = (1, 7, 14, 30)


def _ws_sql(engine: str) -> str:
    div = " DIV " if engine == "spark" else " // "
    cal = (
        "SELECT explode(sequence(1, 366)) AS doy"
        if engine == "spark"
        else "SELECT unnest(range(1, 367)) AS doy"
    )
    taus = ", ".join(str(t) for t in _WS_TAUS)
    tgen = (
        f"SELECT explode(array({taus})) AS tau"
        if engine == "spark"
        else f"SELECT unnest([{taus}]) AS tau"
    )
    return f"""
WITH ws_p AS (
  SELECT p.p_brand AS b, dayofyear(CAST(l.l_shipdate AS DATE)) AS doy,
         CAST(1 AS BIGINT) AS pres
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE year(l.l_shipdate) = 1996
  GROUP BY 1, 2),
ws_d AS (
  SELECT b.b, c.doy, coalesce(p.pres, CAST(0 AS BIGINT)) AS pres
  FROM (SELECT DISTINCT b FROM ws_p) b
  CROSS JOIN ({cal}) c
  LEFT JOIN ws_p p ON p.b = b.b AND p.doy = c.doy),
ws_t AS ({tgen}),
ws_w AS (
  SELECT t.tau, d.doy,
         CAST(sum(CASE t.tau WHEN 1 THEN d.pres WHEN 7 THEN d.s7
                  WHEN 14 THEN d.s14 ELSE d.s30 END) AS BIGINT) AS ws
  FROM ws_t t CROSS JOIN (
    SELECT b, doy, pres,
           max(pres) OVER (PARTITION BY b ORDER BY doy
             ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS s30,
           max(pres) OVER (PARTITION BY b ORDER BY doy
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS s14,
           max(pres) OVER (PARTITION BY b ORDER BY doy
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS s7
    FROM ws_d) d
  WHERE d.doy >= t.tau
  GROUP BY t.tau, d.doy)
SELECT tau,
       CAST((1000 * sum(ws)){div}count(*) AS BIGINT) AS mean_ws_milli,
       CAST(min(ws) AS BIGINT) AS min_ws,
       CAST(max(ws) AS BIGINT) AS max_ws,
       CAST(count(*) AS BIGINT) AS n_days
FROM ws_w GROUP BY tau
"""


@register(
    "working_set_model",
    _ws_sql("duck"),
    doc="Denning working-set ladder over the bounded (brand, day) "
    "presence matrix of 1996 shipments: W(tau) = distinct brands "
    "touched in the trailing tau days, one windowed max-of-presence "
    "pass per rung on the DENSIFIED 25x366 frame (never a per-access "
    "reuse-distance scan — only the collapsed presence matrix is "
    "affordable at 10^12 accesses); mean/min/max working set per tau "
    "post-warmup — the temporal-locality curve a cache or prefetch "
    "planner reads, beside topk_churn (set turnover) and "
    "seasonal_decomposition (cyclic structure).",
)
def q_working_set_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _ws_sql("spark"), "lineitem", "part")


# --- R377: bullwhip-effect ratio -----------------------------------------------------------
#
# Supply-chain signal amplification (Lee et al. 1997): the variance of
# what flows UPSTREAM (weekly shipment revenue, batched and lagged)
# over the variance of the demand signal (weekly order totals), each
# as a squared coefficient of variation so the ratio is unit- and
# volume-free. Weekly values are SELF-NORMALIZED before squaring —
# v = (5200 * weekly) DIV yearly puts every week near 100 regardless
# of SF, so all squares stay tiny at any data scale (the magnitude
# discipline); CV^2 in ppm, bullwhip ratio in milli (>1000 = the
# chain amplifies noise). Emits the 52 normalized week pairs plus the
# envelope.


def _bw_sql(engine: str) -> str:
    div = " DIV " if engine == "spark" else " // "
    cal = (
        "SELECT explode(sequence(0, 51)) AS wk"
        if engine == "spark"
        else "SELECT unnest(range(0, 52)) AS wk"
    )
    return f"""
WITH bw_o AS (
  SELECT (dayofyear(CAST(o_orderdate AS DATE)) - 1){div}7 AS wk,
         CAST(sum(CAST(floor(o_totalprice * 100e0) AS BIGINT))
              AS BIGINT) AS v
  FROM orders WHERE year(o_orderdate) = 1996
  GROUP BY 1 HAVING (dayofyear(CAST(o_orderdate AS DATE)) - 1){div}7
                    <= 51),
bw_s AS (
  SELECT (dayofyear(CAST(l_shipdate AS DATE)) - 1){div}7 AS wk,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
              AS BIGINT)) AS BIGINT) AS v
  FROM lineitem WHERE year(l_shipdate) = 1996
  GROUP BY 1 HAVING (dayofyear(CAST(l_shipdate AS DATE)) - 1){div}7
                    <= 51),
bw_t AS (
  SELECT (SELECT CAST(sum(v) AS BIGINT) FROM bw_o) AS tot_o,
         (SELECT CAST(sum(v) AS BIGINT) FROM bw_s) AS tot_s),
bw_n AS (
  SELECT c.wk,
         (5200 * coalesce(o.v, CAST(0 AS BIGINT))){div}t.tot_o AS vo,
         (5200 * coalesce(s.v, CAST(0 AS BIGINT))){div}t.tot_s AS vs
  FROM ({cal}) c
  LEFT JOIN bw_o o ON o.wk = c.wk
  LEFT JOIN bw_s s ON s.wk = c.wk
  CROSS JOIN bw_t t),
bw_cv AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(vo) AS BIGINT) AS so,
         CAST(sum(vo * vo) AS BIGINT) AS qo,
         CAST(sum(vs) AS BIGINT) AS ss,
         CAST(sum(vs * vs) AS BIGINT) AS qs
  FROM bw_n),
bw_r AS (
  SELECT n,
         (1000000 * (n * qo - so * so)){div}(so * so) AS cv2_o_ppm,
         (1000000 * (n * qs - ss * ss)){div}(ss * ss) AS cv2_s_ppm
  FROM bw_cv)
SELECT b.wk, b.vo AS demand_norm, b.vs AS upstream_norm,
       r.cv2_o_ppm, r.cv2_s_ppm,
       CAST((1000 * r.cv2_s_ppm){div}GREATEST(r.cv2_o_ppm,
            CAST(1 AS BIGINT)) AS BIGINT) AS bullwhip_milli
FROM bw_n b CROSS JOIN bw_r r
"""


@register(
    "bullwhip_ratio",
    _bw_sql("duck"),
    doc="Bullwhip-effect measurement: CV^2 of weekly upstream shipment "
    "revenue over CV^2 of weekly order demand (1996, 52 full weeks), "
    "each week SELF-NORMALIZED to ~100 via (5200*weekly) DIV yearly "
    "so every square stays tiny at any SF; CV^2 in exact ppm, "
    "bullwhip ratio in milli (>1000 = the chain amplifies demand "
    "noise) — supply-chain dynamics beside forecast_eval and "
    "excess_stock_suppliers.",
)
def q_bullwhip_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _bw_sql("spark"), "orders", "lineitem")


# --- R380: Markov removal-effect attribution -----------------------------------------------
#
# The data-driven attribution model that completes the triad
# (linear_attribution = position-agnostic, shapley_attribution =
# cooperative-game, this = Markov removal effect, Anderl et al. 2014):
# with 'purchase' absorbing, sequence-end the NULL absorber and the
# four other event types transient, the conversion probability from
# the 'view' start state is b = ((I-Q)^-1 R)_view — computed EXACTLY
# by the generated 4x4 cofactor expansion (the absorbing_chain
# machinery, R-weighted adjugate). Each removable channel is then
# DELETED (its row/col dropped -> a generated 3x3 cofactor system)
# and its removal effect is 1 - b_removed/b_base; attribution shares
# renormalize the effects. All integer, sign-safe, det > 0
# certificates for every system.

_MA_STATES = ["view", "click", "signup", "error"]  # view = start
_MA_REMOVABLE = [1, 2, 3]


def _ma_det(m, idx) -> str:
    from itertools import permutations

    n = len(idx)
    terms = []
    for perm in permutations(range(n)):
        sgn = "+" if _ac_perm_sign(perm) > 0 else "-"
        prod = " * ".join(m[idx[i]][idx[perm[i]]] for i in range(n))
        terms.append(f"{sgn} {prod}")
    return "(" + " ".join(terms) + ")"


def _ma_adjr(m, r, idx, i: int) -> str:
    """((adj(M) R)_i for the subsystem on rows/cols idx; i is a member
    of idx. (adj(M) R)_i = sum_j (-1)^(pos_i+pos_j) minor(j, i) R_j."""
    pi = idx.index(i)
    terms = []
    for pj, j in enumerate(idx):
        sub = [k for k in idx if k != j]
        subc = [k for k in idx if k != i]
        sgn = "+" if (pi + pj) % 2 == 0 else "-"
        terms.append(f"{sgn} {_ma_det_rect(m, sub, subc)} * {r[j]}")
    return "(" + " ".join(terms) + ")"


def _ma_det_rect(m, rows, cols) -> str:
    from itertools import permutations

    n = len(rows)
    if n == 0:
        return "1"
    terms = []
    for perm in permutations(range(n)):
        sgn = "+" if _ac_perm_sign(perm) > 0 else "-"
        prod = " * ".join(m[rows[i]][cols[perm[i]]] for i in range(n))
        terms.append(f"{sgn} {prod}")
    return "(" + " ".join(terms) + ")"


def _ma_sql(div: str) -> str:
    st = _MA_STATES
    cnt = ",\n    ".join(
        f"CAST(sum(CASE WHEN cur = '{a}' AND nxt = '{b}' THEN n ELSE 0"
        f" END) AS BIGINT) AS c{i}{j}"
        for i, a in enumerate(st)
        for j, b in enumerate(st)
    )
    cpur = ",\n    ".join(
        f"CAST(sum(CASE WHEN cur = '{a}' AND nxt = 'purchase' THEN n"
        f" ELSE 0 END) AS BIGINT) AS p{i}"
        for i, a in enumerate(st)
    )
    tot = ",\n    ".join(
        f"GREATEST(CAST(sum(CASE WHEN cur = '{a}' THEN n ELSE 0 END)"
        f" AS BIGINT), CAST(1 AS BIGINT)) AS t{i}"
        for i, a in enumerate(st)
    )
    q = ",\n    ".join(
        f"(1000 * c{i}{j}){div}t{i} AS q{i}{j}"
        for i in range(4)
        for j in range(4)
    )
    r = ",\n    ".join(f"(1000 * p{i}){div}t{i} AS r{i}" for i in range(4))
    m = [
        [f"({1000 if i == j else 0} - q{i}{j})" for j in range(4)]
        for i in range(4)
    ]
    rv = [f"r{i}" for i in range(4)]
    full = list(range(4))
    base_det = _ma_det(m, full)
    base_num = _ma_adjr(m, rv, full, 0)
    systems = [("'(none)'", base_det, base_num)]
    for k in _MA_REMOVABLE:
        idx = [i for i in range(4) if i != k]
        systems.append(
            (f"'{st[k]}'", _ma_det(m, idx), _ma_adjr(m, rv, idx, 0))
        )
    sels = ",\n  ".join(
        f"{d} AS det_{i}, {n} AS num_{i}"
        for i, (_, d, n) in enumerate(systems)
    )
    outs = []
    for i, (name, _, _) in enumerate(systems):
        outs.append(
            f"SELECT {name} AS removed,"
            f" CAST(CASE WHEN det_{i} = 0 THEN 0"
            f" ELSE (1000000 * num_{i}){div}det_{i} END AS BIGINT)"
            f" AS p_conv_micro,"
            f" CAST(det_{i} > 0 AS BIGINT) AS det_pos FROM ma_fin"
        )
    union = "\nUNION ALL\n".join(outs)
    return f"""
WITH ma_seq AS (
  SELECT user_id, event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS nxt
  FROM events),
ma_pairs AS (
  SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
  FROM ma_seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
ma_wide AS (
  SELECT
    {cnt},
    {cpur},
    {tot}
  FROM ma_pairs),
ma_q AS (
  SELECT *,
    {q},
    {r}
  FROM ma_wide),
ma_fin AS (
  SELECT
  {sels}
  FROM ma_q),
ma_p AS (
  {union}),
ma_base AS (
  SELECT p_conv_micro AS base_micro FROM ma_p
  WHERE removed = '(none)'),
ma_eff AS (
  SELECT p.removed, p.p_conv_micro, p.det_pos, b.base_micro,
         CASE WHEN p.removed = '(none)' THEN 0
              ELSE GREATEST(CAST(0 AS BIGINT),
                1000 - (1000 * p.p_conv_micro)
                       {div}GREATEST(b.base_micro, CAST(1 AS BIGINT)))
         END AS effect_milli
  FROM ma_p p CROSS JOIN ma_base b),
ma_t AS (
  SELECT CAST(sum(effect_milli) AS BIGINT) AS eff_total FROM ma_eff)
SELECT e.removed, e.p_conv_micro, e.base_micro, e.effect_milli,
       CAST(CASE WHEN e.removed = '(none)' OR t.eff_total = 0 THEN 0
            ELSE (1000 * e.effect_milli){div}t.eff_total END AS BIGINT)
         AS share_milli,
       e.det_pos
FROM ma_eff e CROSS JOIN ma_t t
"""


@register(
    "markov_attribution",
    _ma_sql(" // "),
    doc="Markov removal-effect attribution (Anderl et al.): conversion "
    "probability from the 'view' start via the EXACT R-weighted 4x4 "
    "cofactor adjugate (purchase absorbs, sequence-end is the NULL "
    "absorber), then each removable channel's row/col is deleted — a "
    "generated 3x3 cofactor system — and its removal effect "
    "1 - b'/b renormalizes into attribution shares; det > 0 "
    "certificates per system. Completes the attribution triad with "
    "linear_attribution and shapley_attribution.",
)
def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _ma_sql(" DIV "), "events")


# --- R382: learned-index audit (RMI-lite) --------------------------------------------------
#
# The learned-index question (Kraska et al. 2018) asked against this
# data: within each of the 16 range shards (the R365 boundaries), how
# well does a LINEAR model predict a key's position? Positions are
# normalized to ppm of the table (SF-proof magnitudes), the per-shard
# OLS runs on the bounded $1000-bin histogram (never per-row), and
# the payoff column is the max absolute residual in ppm — the error
# window a learned index would binary-search inside, vs the shard's
# own span. A shard where max_err << span is where the model replaces
# the tree level; the fit is exact integer normal equations with
# cross-multiplied residuals (no float slope ever materialized).


def _li_sql(engine: str) -> str:
    div = " DIV " if engine == "spark" else " // "
    return f"""
WITH li_b AS (
  SELECT CAST(floor(o_totalprice * 100e0) AS BIGINT){div}100000 AS bin,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1),
li_t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM li_b),
li_s AS (
  SELECT b.bin, b.n,
         (1000000 * (sum(b.n) OVER (ORDER BY b.bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - b.n)){div}t.total AS pos_ppm,
         LEAST(CAST(15 AS BIGINT),
           (16 * (sum(b.n) OVER (ORDER BY b.bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - b.n)){div}t.total) AS shard
  FROM li_b b CROSS JOIN li_t t),
li_f AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS nb,
         CAST(sum(bin) AS BIGINT) AS sx,
         CAST(sum(bin * bin) AS BIGINT) AS sxx,
         CAST(sum(pos_ppm) AS BIGINT) AS sy,
         CAST(sum(bin * pos_ppm) AS BIGINT) AS sxy,
         CAST(min(pos_ppm) AS BIGINT) AS lo_ppm,
         CAST(max(pos_ppm) AS BIGINT) AS hi_ppm
  FROM li_s GROUP BY shard),
li_r AS (
  SELECT s.shard, f.nb, f.lo_ppm, f.hi_ppm,
         f.nb * f.sxx - f.sx * f.sx AS den,
         f.nb * f.sxy - f.sx * f.sy AS bnum,
         f.sy * f.sxx - f.sx * f.sxy AS anum,
         CAST(max(abs((f.sy * f.sxx - f.sx * f.sxy)
                      + (f.nb * f.sxy - f.sx * f.sy) * s.bin
                      - s.pos_ppm * (f.nb * f.sxx - f.sx * f.sx)))
              AS BIGINT) AS maxr_scaled
  FROM li_s s JOIN li_f f ON f.shard = s.shard
  WHERE f.nb * f.sxx - f.sx * f.sx > 0
  GROUP BY s.shard, f.nb, f.lo_ppm, f.hi_ppm, f.sxx, f.sx, f.sxy,
           f.sy)
SELECT shard, nb AS n_bins, lo_ppm, hi_ppm,
       hi_ppm - lo_ppm AS span_ppm,
       CAST(CASE WHEN den >= 0 THEN (1000000 * bnum){div}den
            ELSE -((1000000 * bnum){div}(-den)) END AS BIGINT)
         AS slope_micro,
       CAST(maxr_scaled{div}den AS BIGINT) AS max_err_ppm,
       CAST(CASE WHEN hi_ppm > lo_ppm
            THEN (1000 * (maxr_scaled{div}den))
                 {div}GREATEST(hi_ppm - lo_ppm, CAST(1 AS BIGINT))
            ELSE 0 END AS BIGINT) AS err_vs_span_milli
FROM li_r
"""


@register(
    "learned_index_audit",
    _li_sql("duck"),
    doc="RMI-lite learned-index audit: within each of the 16 range "
    "shards a linear model predicts normalized key position (ppm of "
    "table — SF-proof); exact integer normal equations on the "
    "bounded $1000-bin histogram with cross-multiplied residuals (no "
    "float slope), and the payoff column max_err_ppm — the window a "
    "learned index binary-searches inside — against the shard's own "
    "span; err_vs_span << 1000 is where the model replaces a tree "
    "level. Joins zonemap_prune and range_partition_plan in the "
    "physical-design family.",
)
def q_learned_index_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _li_sql("spark"), "orders")


# --- R383: RANSAC consensus trend fit ------------------------------------------------------
#
# Robust model fitting by CONSENSUS — the third robustness paradigm
# beside theil_sen (median of slopes) and huber_location
# (M-estimation): 64 md5-deterministic minimal samples (day pairs,
# j forced distinct from i) each propose a line through their two
# points, every candidate is scored by its exact inlier count over
# the densified 1996 calendar with a cross-multiplied band test
# (|dy*den - num*dx| <= T*|den| — no float slope, sign-safe), and
# the max-consensus model wins (min candidate id on ties). The
# threshold is data-derived (a fifth of the mean absolute level) so
# the operator is SF-invariant. 64 x 366 bounded fan — the
# embarrassingly parallel shape RANSAC takes at scale.

_RANSAC_B = 64


def _ransac_sql(engine: str) -> str:
    from .functions import md5int_duck, md5int_spark

    md5 = md5int_spark if engine == "spark" else md5int_duck
    div = " DIV " if engine == "spark" else " // "
    cal = (
        "SELECT explode(sequence(1, 366)) AS doy"
        if engine == "spark"
        else "SELECT unnest(range(1, 367)) AS doy"
    )
    gen = (
        f"SELECT explode(sequence(0, {_RANSAC_B - 1})) AS cand"
        if engine == "spark"
        else f"SELECT unnest(range(0, {_RANSAC_B})) AS cand"
    )
    acat = (
        "concat('ransac_a', CAST(cand AS STRING))"
        if engine == "spark"
        else "'ransac_a' || CAST(cand AS VARCHAR)"
    )
    bcat = acat.replace("ransac_a", "ransac_b")
    return f"""
WITH rs_d AS (
  SELECT dayofyear(CAST(l_shipdate AS DATE)) AS doy,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
                       AS BIGINT)){div}1000 AS BIGINT) AS y
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1),
rs_y AS (
  SELECT c.doy, coalesce(d.y, CAST(0 AS BIGINT)) AS y
  FROM ({cal}) c LEFT JOIN rs_d d ON d.doy = c.doy),
rs_t AS (
  SELECT GREATEST(CAST(sum(abs(y)) AS BIGINT){div}(366 * 5),
                  CAST(1 AS BIGINT)) AS thr
  FROM rs_y),
rs_c AS (
  SELECT cand, 1 + ({md5(acat)}) % 366 AS i,
         1 + (({md5(acat)}) % 366
              + 1 + ({md5(bcat)}) % 365) % 366 AS j
  FROM ({gen}) g),
rs_m AS (
  SELECT c.cand, c.i, c.j, yi.y AS yi, yj.y AS yj,
         yj.y - yi.y AS num, c.j - c.i AS den
  FROM rs_c c
  JOIN rs_y yi ON yi.doy = c.i
  JOIN rs_y yj ON yj.doy = c.j),
rs_s AS (
  SELECT m.cand, m.i, m.j, m.num, m.den,
         CAST(sum(CASE WHEN abs((p.y - m.yi) * m.den
                                - m.num * (p.doy - m.i))
                         <= t.thr * abs(m.den)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers,
         max(t.thr) AS thr
  FROM rs_m m CROSS JOIN rs_y p CROSS JOIN rs_t t
  GROUP BY m.cand, m.i, m.j, m.num, m.den),
rs_b AS (
  SELECT max(n_inliers) AS best_n FROM rs_s),
rs_w AS (
  SELECT min(cand) AS best_cand FROM rs_s s CROSS JOIN rs_b b
  WHERE s.n_inliers = b.best_n)
SELECT s.cand, s.i, s.j,
       CAST(CASE WHEN s.den >= 0 THEN (1000 * s.num){div}s.den
            ELSE -((1000 * (-s.num)){div}s.den) END AS BIGINT)
         AS slope_milli,
       s.n_inliers, s.thr,
       CAST(CASE WHEN s.cand = w.best_cand THEN 1 ELSE 0 END
            AS BIGINT) AS is_best,
       b.best_n
FROM rs_s s CROSS JOIN rs_b b CROSS JOIN rs_w w
"""


@register(
    "ransac_trend",
    _ransac_sql("duck"),
    doc="RANSAC consensus trend over densified 1996 daily revenue: 64 "
    "md5-deterministic minimal day-pair samples propose lines, each "
    "scored by its exact inlier count with a cross-multiplied band "
    "test (no float slope, sign-safe), data-derived SF-invariant "
    "threshold, max-consensus winner with min-id tie-break — the "
    "consensus rung of the robust-fitting family beside theil_sen "
    "(median of slopes) and huber_location (M-estimation); a 64x366 "
    "bounded fan, embarrassingly parallel at any scale.",
)
def q_ransac_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _ransac_sql("spark"), "lineitem")


# --- R384: energy distance two-sample test -------------------------------------------------
#
# The modern two-sample distance beside ks_test (sup of CDF gap) and
# wasserstein_drift (area between CDFs): energy distance D^2 =
# 2E|X-Y| - E|X-X'| - E|Y-Y'| over the A-flag vs R-flag daily revenue
# distributions, computed EXACTLY from bounded value histograms (daily
# kilocents bucketed to $100k bins) — every pairwise expectation is a
# bins x bins double sum of count-weighted absolute differences, the
# scale-correct shape for any sample size. Szekely's theorem makes
# D^2 >= 0 with equality iff the distributions match; the certificate
# rides along (>= -3 micro for the three truncating divisions).


def _energy_sql(engine: str) -> str:
    div = " DIV " if engine == "spark" else " // "
    cal = (
        "SELECT explode(sequence(1, 366)) AS doy"
        if engine == "spark"
        else "SELECT unnest(range(1, 367)) AS doy"
    )

    def hist(flag: str, name: str) -> str:
        return f"""{name} AS (
  SELECT v, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT c.doy, coalesce(d.y, CAST(0 AS BIGINT)){div}100 AS v
    FROM ({cal}) c LEFT JOIN (
      SELECT dayofyear(CAST(l_shipdate AS DATE)) AS doy,
             CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
                           AS BIGINT)){div}1000 AS BIGINT) AS y
      FROM lineitem WHERE year(l_shipdate) = 1996
        AND l_returnflag = '{flag}' GROUP BY 1) d ON d.doy = c.doy) t
  GROUP BY v)"""

    return f"""
WITH {hist('A', 'en_x')},
{hist('R', 'en_y')},
en_nx AS (SELECT CAST(sum(n) AS BIGINT) AS nx FROM en_x),
en_ny AS (SELECT CAST(sum(n) AS BIGINT) AS ny FROM en_y),
en_xy AS (
  SELECT CAST(sum(x.n * y.n * abs(x.v - y.v)) AS BIGINT) AS s,
         (SELECT nx FROM en_nx) * (SELECT ny FROM en_ny) AS cnt
  FROM en_x x CROSS JOIN en_y y),
en_xx AS (
  SELECT CAST(sum(a.n * b.n * abs(a.v - b.v)) AS BIGINT) AS s,
         (SELECT nx FROM en_nx) * (SELECT nx FROM en_nx) AS cnt
  FROM en_x a CROSS JOIN en_x b),
en_yy AS (
  SELECT CAST(sum(a.n * b.n * abs(a.v - b.v)) AS BIGINT) AS s,
         (SELECT ny FROM en_ny) * (SELECT ny FROM en_ny) AS cnt
  FROM en_y a CROSS JOIN en_y b),
en_e AS (
  SELECT (1000000 * xy.s){div}xy.cnt AS exy_micro,
         (1000000 * xx.s){div}xx.cnt AS exx_micro,
         (1000000 * yy.s){div}yy.cnt AS eyy_micro
  FROM en_xy xy CROSS JOIN en_xx xx CROSS JOIN en_yy yy)
SELECT exy_micro, exx_micro, eyy_micro,
       2 * exy_micro - exx_micro - eyy_micro AS d2_micro,
       CAST(CASE WHEN 2 * exy_micro - exx_micro - eyy_micro >= -3
            THEN 1 ELSE 0 END AS BIGINT) AS nonneg_ok
FROM en_e
"""


@register(
    "energy_distance",
    _energy_sql("duck"),
    doc="Szekely energy distance between the A-flag and R-flag daily "
    "revenue distributions: D^2 = 2E|X-Y| - E|X-X'| - E|Y-Y'| exact "
    "from bounded value histograms (bins x bins count-weighted "
    "absolute differences — the any-sample-size shape), expectations "
    "in micro, with the D^2 >= 0 theorem as a certificate (slack 3 "
    "micro for the three truncations) — the modern two-sample rung "
    "beside ks_test and wasserstein_drift.",
)
def q_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _energy_sql("spark"), "lineitem")


# --- R385: SLO burn-rate windows -----------------------------------------------------------
#
# SRE error-budget monitoring (the Google multi-window multi-burn-rate
# policy) over the event stream: error share per hour from the bounded
# densified hour histogram, budget = 250 milli SLO, and the burn rate
# over trailing 1h/6h/24h windows as exact milli ratios — alerts fire
# only when the SHORT and the MEDIUM window both exceed their
# thresholds (fast-burn: 1h AND 6h over 2x budget), which is what
# keeps single noisy hours from paging. One map-side histogram pass;
# all windows live on the bounded hour frame.

_SLO_MILLI = 250


def _slo_sql(engine: str) -> str:
    div = " DIV " if engine == "spark" else " // "
    ehour = (
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        " ts) DIV 3600000000"
        if engine == "spark"
        else "date_diff('microsecond', TIMESTAMP '1970-01-01', ts)"
        " // 3600000000"
    )
    # Calendar sized from the ACTUAL event span (round-4 ADVICE: the old
    # fixed 744-entry generator silently dropped hours past h0+743 once
    # the span exceeded 31 days — a no-silent-caps violation).  Both
    # engines generate 0..(h1-h0) laterally from the one-row range frame.
    cal = (
        "SELECT r.h0 + g.k AS h FROM sl_r r LATERAL VIEW "
        "explode(sequence(0, CAST(r.h1 - r.h0 AS INT))) g AS k"
        if engine == "spark"
        else "SELECT r.h0 + g.k AS h FROM sl_r r, LATERAL "
        "(SELECT unnest(range(0, r.h1 - r.h0 + 1)) AS k) g"
    )
    return f"""
WITH sl_a AS (
  SELECT {ehour} AS h,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS e
  FROM events GROUP BY 1),
sl_r AS (SELECT min(h) AS h0, max(h) AS h1 FROM sl_a),
sl_cal AS ({cal}),
sl_d AS (
  SELECT c.h, coalesce(a.n, CAST(0 AS BIGINT)) AS n,
         coalesce(a.e, CAST(0 AS BIGINT)) AS e
  FROM sl_cal c LEFT JOIN sl_a a ON a.h = c.h),
sl_w AS (
  SELECT h, n, e,
         CAST(sum(n) OVER (ORDER BY h
           ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS n6,
         CAST(sum(e) OVER (ORDER BY h
           ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS e6,
         CAST(sum(n) OVER (ORDER BY h
           ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n24,
         CAST(sum(e) OVER (ORDER BY h
           ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS e24
  FROM sl_d),
sl_b AS (
  SELECT h, n, e,
         CAST(CASE WHEN n = 0 THEN 0
              ELSE (1000 * ((1000 * e){div}n)){div}{_SLO_MILLI} END
              AS BIGINT) AS burn1_milli,
         CAST(CASE WHEN n6 = 0 THEN 0
              ELSE (1000 * ((1000 * e6){div}n6)){div}{_SLO_MILLI} END
              AS BIGINT) AS burn6_milli,
         CAST(CASE WHEN n24 = 0 THEN 0
              ELSE (1000 * ((1000 * e24){div}n24)){div}{_SLO_MILLI} END
              AS BIGINT) AS burn24_milli
  FROM sl_w)
SELECT h AS hour, n AS n_events, e AS n_errors,
       burn1_milli, burn6_milli, burn24_milli,
       CAST(CASE WHEN burn1_milli >= 2000 AND burn6_milli >= 2000
            THEN 1 ELSE 0 END AS BIGINT) AS fast_burn_alert,
       CAST(CASE WHEN burn6_milli >= 1500 AND burn24_milli >= 1000
            THEN 1 ELSE 0 END AS BIGINT) AS slow_burn_alert
FROM sl_b
"""


@register(
    "slo_burn_rate",
    _slo_sql("duck"),
    doc="SRE error-budget burn-rate monitor (multi-window multi-burn "
    "policy): hourly error share from the bounded densified hour "
    "histogram, 250-milli SLO, exact burn ratios over trailing "
    "1h/6h/24h windows, alerts only when short AND medium windows "
    "agree (fast-burn 1h+6h over 2x, slow-burn 6h+24h) — single "
    "noisy hours cannot page; the SRE rung of the monitoring family "
    "beside rate_policer, xmr_chart and sprt_monitor.",
)
def q_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _slo_sql("spark"), "events")


# --- R386: Neyman optimal stratified allocation --------------------------------------------
#
# Survey-sampling DESIGN beside stratified_sample (execution): for a
# budget of 1000 sampled lineitems stratified by the 25 brands, the
# Neyman-optimal allocation n_h ~ N_h * sd_h is computed exactly —
# per-stratum variance of floored price cents by the one-pass sum
# formula, sd by the exact-isqrt discipline (floor(sqrt) + one-step
# correction), shares in milli, and integer allocations by largest
# remainder so the budget is hit EXACTLY (rank on the bounded stratum
# frame, remainder ties by brand). The variance-reduction payoff
# (Var_prop - Var_neyman >= 0, a Cauchy-Schwarz theorem) is emitted
# scaled as the certificate.

_NEY_BUDGET = 1000


def _ney_sql(engine: str) -> str:
    div = " DIV " if engine == "spark" else " // "
    B = _NEY_BUDGET
    return f"""
WITH ny_s AS (
  SELECT p.p_brand AS brand, CAST(count(*) AS BIGINT) AS nh,
         CAST(sum(CAST(floor(l.l_extendedprice) AS BIGINT){div}100)
              AS BIGINT) AS sx,
         CAST(sum((CAST(floor(l.l_extendedprice) AS BIGINT){div}100)
                  * (CAST(floor(l.l_extendedprice) AS BIGINT){div}100))
              AS BIGINT) AS sxx
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1),
ny_v AS (
  SELECT brand, nh,
         (nh * sxx - sx * sx){div}(nh * nh) AS v
  FROM ny_s),
ny_sd AS (
  SELECT brand, nh, v,
         CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT) AS s0
  FROM ny_v),
ny_d AS (
  SELECT brand, nh, v,
         CASE WHEN (s0 + 1) * (s0 + 1) <= v THEN s0 + 1
              WHEN s0 * s0 > v THEN s0 - 1 ELSE s0 END AS sd
  FROM ny_sd),
ny_t AS (
  SELECT CAST(sum(nh * sd) AS BIGINT) AS w_total,
         CAST(sum(nh) AS BIGINT) AS n_total
  FROM ny_d),
ny_a AS (
  SELECT d.brand, d.nh, d.v, d.sd,
         ({B} * d.nh * d.sd){div}t.w_total AS floor_alloc,
         ({B} * d.nh * d.sd) % t.w_total AS rem,
         (1000 * d.nh * d.sd){div}t.w_total AS share_milli,
         ({B} * d.nh){div}t.n_total AS prop_alloc
  FROM ny_d d CROSS JOIN ny_t t),
ny_r AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY rem DESC, brand) AS BIGINT)
           AS rem_rank,
         {B} - CAST(sum(floor_alloc) OVER () AS BIGINT) AS shortfall
  FROM ny_a),
ny_f AS (
  SELECT brand, nh, v, sd, share_milli, prop_alloc,
         CAST(floor_alloc
              + CASE WHEN rem_rank <= shortfall THEN 1 ELSE 0 END
              AS BIGINT) AS neyman_alloc
  FROM ny_r),
ny_pay AS (
  SELECT CAST(sum((f.nh * f.nh * f.v){div}
                  GREATEST(f.neyman_alloc, CAST(1 AS BIGINT)))
              AS BIGINT) AS var_ney_scaled,
         CAST(sum((f.nh * f.nh * f.v){div}
                  GREATEST(f.prop_alloc, CAST(1 AS BIGINT)))
              AS BIGINT) AS var_prop_scaled
  FROM ny_f f)
SELECT f.brand, f.nh, f.v AS var_cents2, f.sd AS sd_cents,
       f.share_milli, f.prop_alloc, f.neyman_alloc,
       p.var_prop_scaled, p.var_ney_scaled,
       CAST(sum(f.neyman_alloc) OVER () AS BIGINT) AS alloc_total
FROM ny_f f CROSS JOIN ny_pay p
"""


@register(
    "neyman_allocation",
    _ney_sql("duck"),
    doc="Neyman-optimal stratified allocation of a 1000-row sample "
    "budget over the 25 brand strata: exact per-stratum variance and "
    "isqrt sd, shares in milli, integer allocations by largest "
    "remainder (budget hit EXACTLY, pinned), and the Cauchy-Schwarz "
    "payoff Var_prop >= Var_neyman emitted scaled — sampling DESIGN "
    "beside stratified_sample (execution) and dsir_weights "
    "(importance reweighting).",
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _ney_sql("spark"), "lineitem", "part")


# --- R387: mean-excess ladder (POT diagnostic) ---------------------------------------------
#
# The peaks-over-threshold side of extreme-value theory beside
# gumbel_maxima (block maxima): the mean-excess function e(u) =
# E[X - u | X > u] evaluated exactly on a ladder of thresholds (the
# deciles of the positive daily-revenue distribution, themselves
# exact order statistics on the bounded calendar). For a GPD tail
# e(u) is LINEAR in u with slope xi/(1-xi); the ladder's exact
# integer OLS slope therefore estimates the tail shape: slope <= 0
# light tail, slope > 0 heavy tail. Everything is bounded-frame
# arithmetic — 366 days, 9 thresholds.


def _mex_sql(engine: str) -> str:
    div = " DIV " if engine == "spark" else " // "
    cal = (
        "SELECT explode(sequence(1, 366)) AS doy"
        if engine == "spark"
        else "SELECT unnest(range(1, 367)) AS doy"
    )
    return f"""
WITH mx_d AS (
  SELECT dayofyear(CAST(l_shipdate AS DATE)) AS doy,
         CAST(sum(CAST(floor(l_extendedprice * (1e0 - l_discount))
                       AS BIGINT)){div}1000 AS BIGINT) AS y
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1),
mx_y AS (
  SELECT c.doy, coalesce(d.y, CAST(0 AS BIGINT)) AS y
  FROM ({cal}) c LEFT JOIN mx_d d ON d.doy = c.doy),
mx_r AS (
  SELECT y, CAST(row_number() OVER (ORDER BY y, doy) AS BIGINT) AS rk
  FROM mx_y),
mx_u AS (
  SELECT k, max(CASE WHEN rk = (k * 366){div}10 THEN y END) AS u
  FROM mx_r CROSS JOIN (
    {'SELECT explode(sequence(1, 9)) AS k' if engine == 'spark'
     else 'SELECT unnest(range(1, 10)) AS k'}) g
  GROUP BY k),
mx_e AS (
  SELECT u.k, u.u, CAST(count(*) AS BIGINT) AS n_exceed,
         CAST(sum(y.y - u.u) AS BIGINT){div}
           GREATEST(CAST(count(*) AS BIGINT), CAST(1 AS BIGINT))
           AS mean_excess
  FROM mx_u u JOIN mx_y y ON y.y > u.u
  GROUP BY u.k, u.u),
mx_f AS (
  SELECT CAST(count(*) AS BIGINT) AS nl,
         CAST(sum(u) AS BIGINT) AS su,
         CAST(sum(u * u) AS BIGINT) AS suu,
         CAST(sum(mean_excess) AS BIGINT) AS se,
         CAST(sum(u * mean_excess) AS BIGINT) AS sue
  FROM mx_e)
SELECT e.k, e.u AS threshold, e.n_exceed, e.mean_excess,
       CAST(CASE WHEN f.nl * f.suu - f.su * f.su > 0
            THEN (1000 * (f.nl * f.sue - f.su * f.se))
                 {div}(f.nl * f.suu - f.su * f.su)
            ELSE 0 END AS BIGINT) AS me_slope_milli,
       CAST(CASE WHEN f.nl * f.sue - f.su * f.se > 0
            THEN 1 ELSE 0 END AS BIGINT) AS heavy_tail
FROM mx_e e CROSS JOIN mx_f f
"""


@register(
    "mean_excess_ladder",
    _mex_sql("duck"),
    doc="Peaks-over-threshold diagnostic: exact mean-excess function "
    "over the decile-threshold ladder of densified 1996 daily "
    "revenue (order statistics on the bounded calendar), with the "
    "ladder's integer OLS slope as the GPD tail-shape readout "
    "(e(u) linear with slope xi/(1-xi); positive = heavy tail) — "
    "the POT side of extreme-value theory beside gumbel_maxima's "
    "block maxima.",
)
def q_mean_excess_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _mex_sql("spark"), "lineitem")


# --- R388: hash-collision capacity audit ---------------------------------------------------
#
# A meta-audit of the md5 bucketing every banded join in this engine
# rests on: among the part keys hashed into the 32-bit md5int space,
# the OBSERVED number of colliding keys is compared with the birthday
# expectation n(n-1)/2^{b+1} (exact integer in micro-collisions).
# Also audited at 16 bits (where collisions are plentiful at any sf)
# so the expectation-vs-observation comparison is never vacuous. The
# certificate is honesty about hash-space headroom: ratio far from
# 1000 milli at 16 bits would mean md5int is NOT behaving uniformly
# and every LSH band in the repo would be suspect.


def _hc_sql(engine: str) -> str:
    from .functions import md5int_duck, md5int_spark

    md5 = md5int_spark if engine == "spark" else md5int_duck
    div = " DIV " if engine == "spark" else " // "
    kcat = (
        "concat('hcol_', CAST(o_orderkey AS STRING))"
        if engine == "spark"
        else "'hcol_' || CAST(o_orderkey AS VARCHAR)"
    )
    parts = []
    for bits in (16, 24, 32):
        parts.append(f"""
  SELECT {bits} AS bits, CAST(sum(c) AS BIGINT) AS n_keys,
         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
           AS keys_in_collision,
         CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
           AS excess_keys
  FROM (SELECT ({md5(kcat)}) % {1 << bits} AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1) t{bits}""")
    union = "\n  UNION ALL\n".join(parts)
    return f"""
WITH hc_u AS ({union}),
-- Divide BEFORE the 1e6 scaling (round-4 ADVICE): 1000000*n*(n-1) wraps
-- BIGINT once orders pass ~3M keys (sf~2) — Spark (ANSI off) wraps
-- silently while DuckDB raises.  quotient/remainder split keeps every
-- intermediate under 2^63 up to ~1e9 keys; both engines truncate
-- identically on the non-negative operands.
hc_q AS (
  SELECT bits, n_keys, keys_in_collision, excess_keys,
         2 * CAST(power(2e0, bits) AS BIGINT) AS denom,
         (n_keys * (n_keys - 1))
           {div}(2 * CAST(power(2e0, bits) AS BIGINT)) AS pairs_q,
         (n_keys * (n_keys - 1))
           % (2 * CAST(power(2e0, bits) AS BIGINT)) AS pairs_rem
  FROM hc_u)
SELECT bits, n_keys, keys_in_collision, excess_keys,
       CAST(1000000 * pairs_q + (1000000 * pairs_rem) {div}denom
            AS BIGINT) AS expected_excess_micro,
       CAST(CASE WHEN pairs_q > 0
            THEN (1000 * excess_keys)
                 {div}GREATEST(pairs_q, CAST(1 AS BIGINT))
            ELSE 0 END AS BIGINT) AS obs_vs_expected_milli
FROM hc_q
"""


@register(
    "hash_collision_audit",
    _hc_sql("duck"),
    doc="Birthday audit of the md5int hash space every banded join "
    "rests on: observed colliding order keys vs the exact n(n-1)/2^"
    "(b+1) birthday expectation at 16/24/32 bits (16 bits is never "
    "vacuous at any sf); an obs/expected ratio far from 1000 milli "
    "at the dense level would convict md5int of non-uniformity and "
    "with it every LSH band in the repo — the meta-audit beside "
    "bloom_filter_audit and f2_sketch_audit.",
)
def q_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_tables(spark, sf_dir, _hc_sql("spark"), "orders")
