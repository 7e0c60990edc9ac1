"""Driver-style correctness gate, run locally: every registered query's
Spark result must match its DuckDB oracle (row count + schema + values).

This is the old-path/new-path parity harness the reference uses across its
migration (tests/unit/test_b1_reader_edge_parity.py) — here "old path" is
the naive exact oracle, "new path" the scale-designed Spark plan.
"""

from __future__ import annotations

import pytest

from tree_sitter_analyzer_spark.registry import load_all

from .conftest import SF_TINY, assert_frames_match, register_views
from .oracle_dtype_audit import landing_violations

QUERIES = load_all()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    q = QUERIES[name]
    views = spark.catalog.listTables()
    frame = q.spark_fn(spark, SF_TINY)
    # Builders bind their inputs per statement (functions.sql_over), so
    # none may add or drop a session view.
    assert spark.catalog.listTables() == views
    if q.oracle is None:
        assert len(frame.toPandas()) >= 0  # rows-only check (non-SQL-expressible op)
        return
    register_views(duck, SF_TINY)
    rel = duck.sql(q.oracle)
    # The external gate hashes pandas values WITHOUT dtype coercion, so the
    # planned Spark dtypes and the bound oracle types must land as the same
    # pandas dtypes (HUGEINT/DECIMAL never do) — checked before either runs.
    bad = landing_violations(name, frame.dtypes, rel)
    assert not bad, (
        "oracle output dtypes diverge from Spark (value-hash hazard); "
        "add CASTs in the oracle SQL or registry._ORACLE_CASTS: "
        + "; ".join(f"{c} spark={s} duckdb={o}" for _, c, s, o in bad)
    )
    assert_frames_match(frame.toPandas(), rel.df(), name)


def test_vacuous_at_gate_queries_have_signal_somewhere(spark, duck):
    """Queries legitimately empty at the sf0.01 gate must be shown
    non-vacuous at a sf where signal exists (the interval_join lesson):
    dedup_exact finds the 8 exact-dup groups present at sf0.1."""
    q = QUERIES["dedup_exact"]
    sdf = q.spark_fn(spark, "/root/testdata/sf0.1").toPandas()
    register_views(duck, "/root/testdata/sf0.1")
    odf = duck.sql(q.oracle).df()
    assert len(sdf) == len(odf) == 8


def test_event_time_queries_are_session_tz_robust(spark, duck):
    """The driver's SparkSession may not pin UTC: event-time queries must
    match their oracles under any session timezone (NTZ discipline — no
    TIMESTAMP_NTZ -> TIMESTAMP casts in compared results)."""
    register_views(duck, SF_TINY)
    original = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            for name in (
                "event_hopping_counts",
                "interval_join",
                "event_sessions",
                "rolling_order_activity",
                "monthly_order_stats",
                "asof_attribution",
                "session_window_stats",
                # trajectory ops derive day buckets + per-user ordering
                # from NTZ ts — must be session-TZ-free too
                "traj_stats",
                "colocation_pairs",
                # continuation-2 event-time queries: epoch-day semi join,
                # year() calendar field, CUSUM day buckets, funnel epochs
                "order_priority_check",
                "volume_shipping",
                "cell_cusum",
                "funnel_stages",
                "cohort_retention",
                "event_transitions",
                "dow_profile",
                # continuation-3 event-time queries: NTZ ship-date range
                # scan, year() calendar field, day-difference bands
                "forecast_revenue",
                "market_share",
                "shipping_delay_priority",
                # R186: per-second buckets from the NTZ epoch helper
                "rate_policer",
                # R188: day buckets from the NTZ epoch helper
                "forecast_eval",
                # R195: o_orderdate profiled as NTZ epoch days
                "data_profile",
                # R198: (epoch day+4)%7 weekday buckets
                "chi2_dow",
                # R395: night/day hour buckets from NTZ epoch-micros
                "home_work_commute",
            ):
                q = QUERIES[name]
                sdf = q.spark_fn(spark, SF_TINY).toPandas()
                odf = duck.sql(q.oracle).df()
                assert_frames_match(sdf, odf, f"{name}@{tz}")
    finally:
        spark.conf.set("spark.sql.session.timeZone", original)
