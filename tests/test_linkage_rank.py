"""Invariants for the R114-R118 batch (convoy, gravity, diameter, BM25,
fuzzy dedup).

Oracle parity (tests/test_oracle_parity.py + the sweep) proves both
engines compute the same thing; these pin the SEMANTIC contracts both
could get identically wrong — each against an INDEPENDENT reference
(numpy/pandas recompute or an unblocked brute force), never against the
operator's own oracle SQL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from tree_sitter_analyzer_spark import synth
from tree_sitter_analyzer_spark.operators import dedup, search as search_ops
from tree_sitter_analyzer_spark.operators import trajectory as traj
from tree_sitter_analyzer_spark.operators import zonal

from .conftest import SF_TINY, register_views


def _docs_pdf() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_TINY}/documents.parquet")


# ---------------------------------------------------------------------------
# R117 BM25: pure-python recompute of the integer rational formula from the
# raw corpus — NOT derived from the Spark plan or the DuckDB oracle.
# ---------------------------------------------------------------------------


def test_bm25_python_reference(spark):
    query = "dup filter window join"
    got = (
        search_ops.bm25_search(
            spark.read.parquet(f"{SF_TINY}/documents.parquet"), query, 10
        )
        .toPandas()
        .sort_values("rank", ignore_index=True)
    )

    docs = _docs_pdf()
    tf: dict[int, dict[str, int]] = {}
    for doc_id, text in zip(docs.doc_id, docs.text):
        cnt: dict[str, int] = {}
        for t in text.split(" "):
            if t:
                cnt[t] = cnt.get(t, 0) + 1
        tf[int(doc_id)] = cnt
    dl = {d: sum(c.values()) for d, c in tf.items()}
    n_docs = len(dl)
    avgdl_milli = (1000 * sum(dl.values())) // n_docs
    df_cap = int(np.floor(search_ops.MAX_DOC_FREQ * n_docs))
    dfreq: dict[str, int] = {}
    for c in tf.values():
        for t in c:
            dfreq[t] = dfreq.get(t, 0) + 1
    q_terms = sorted(set(query.split()))
    scored = []
    for d, c in tf.items():
        n_matched, s = 0, 0
        for t in q_terms:
            if t in c and dfreq[t] <= df_cap:
                n_matched += 1
                s += ((1000000 // dfreq[t]) * (22 * c[t] * avgdl_milli)) // (
                    10 * c[t] * avgdl_milli + 3 * avgdl_milli + 9000 * dl[d]
                )
        if n_matched:
            scored.append((d, n_matched, s))
    scored.sort(key=lambda r: (-r[2], r[0]))
    want = scored[:10]
    assert len(got) == len(want)
    for rank, (d, nm, s) in enumerate(want, start=1):
        row = got.iloc[rank - 1]
        assert (row["rank"], row.doc_id, row.n_matched, row.bm25_micro) == (
            rank, d, nm, s,
        ), f"rank {rank}: {tuple(row)} != {(rank, d, nm, s)}"


def test_bm25_saturation_bound(spark):
    """Each term's contribution is bounded by idf·(k1+1)/1 — i.e.
    term_micro < 2.2·(10^6 DIV df) — so bm25_micro can never exceed
    2.2·Σ idf over matched terms (the saturation contract tf→∞)."""
    query = "dup filter window join"
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    got = search_ops.bm25_search(docs, query, 10).toPandas()
    pdf = _docs_pdf()
    dfreq: dict[str, int] = {}
    for text in pdf.text:
        for t in set(x for x in text.split(" ") if x):
            dfreq[t] = dfreq.get(t, 0) + 1
    cap = sum(
        (22 * (1000000 // dfreq[t])) // 10
        for t in set(query.split())
        if t in dfreq
    )
    assert (got.bm25_micro <= cap).all()
    assert (got.n_matched <= len(set(query.split()))).all()


# ---------------------------------------------------------------------------
# R118 fuzzy dedup: recall against the UNBLOCKED brute force (python DP) —
# blocking is recall-oriented; on this corpus it must find every pair.
# ---------------------------------------------------------------------------


def _lev(a: str, b: str, cap: int = dedup.FUZZY_LEV_MAX) -> int:
    """Levenshtein distance, exact whenever it is <= cap; any larger
    distance comes back as cap + 1. Plain DP restricted to the diagonal
    band |i - j| <= cap (cells outside it are > cap by the length
    bound) with every cell clamped at cap + 1, and an early exit once a
    whole row exceeds cap (every alignment path crosses every row)."""
    if len(a) < len(b):
        a, b = b, a
    n, m = len(a), len(b)
    big = cap + 1
    if n - m > cap:
        return big
    prev = [min(j, big) for j in range(m + 1)]
    for i in range(1, n + 1):
        lo, hi = max(1, i - cap), min(m, i + cap)
        cur = [big] * (m + 1)
        cur[0] = min(i, big)
        ca = a[i - 1]
        for j in range(lo, hi + 1):
            v = prev[j - 1] + (ca != b[j - 1])
            if prev[j] + 1 < v:
                v = prev[j] + 1
            if cur[j - 1] + 1 < v:
                v = cur[j - 1] + 1
            cur[j] = v if v < big else big
        if min(cur[lo - 1:hi + 1]) > cap:
            return big
        prev = cur
    return prev[m]


def test_fuzzy_recall_vs_unblocked_brute(spark):
    got = (
        dedup.fuzzy_pairs(spark.read.parquet(f"{SF_TINY}/documents.parquet"))
        .toPandas()
        .sort_values(["a_id", "b_id"], ignore_index=True)
    )
    docs = _docs_pdf()
    # Length band first so the python DP only runs on plausible pairs
    # (lossless: ed <= 8 implies |len diff| <= 8).
    rows = sorted(zip(docs.doc_id, docs.text, docs.n_chars))
    brute = []
    for i in range(len(rows)):
        ai, at, al = rows[i]
        for j in range(i + 1, len(rows)):
            bi, bt, bl = rows[j]
            if abs(int(al) - int(bl)) <= dedup.FUZZY_LEV_MAX:
                d = _lev(at, bt)
                if d <= dedup.FUZZY_LEV_MAX:
                    brute.append((min(ai, bi), max(ai, bi), d))
    brute.sort()
    assert [tuple(r) for r in got.itertuples(index=False)] == brute
    assert len(brute) > 0  # non-vacuous


def test_fuzzy_block_spread(spark):
    """Bucket-spread audit (the banded-join lesson): no prefix/suffix block
    may hold a disproportionate share of the corpus, else the 'blocked'
    join is secretly all-pairs."""
    docs = _docs_pdf()
    k = dedup.FUZZY_KEY_LEN
    for keyed in (docs.text.str[:k], docs.text.str[-k:]):
        pops = keyed.value_counts()
        assert len(pops) > len(docs) // 10, "degenerate blocking key"
        assert pops.max() <= dedup.FUZZY_MAX_BLOCK
        assert pops.max() < len(docs) // 4, "one block dominates"


def test_fuzzy_repartition_invariance(spark):
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    a = dedup.fuzzy_pairs(docs).toPandas().sort_values(
        ["a_id", "b_id"], ignore_index=True
    )
    b = dedup.fuzzy_pairs(docs.repartition(13)).toPandas().sort_values(
        ["a_id", "b_id"], ignore_index=True
    )
    pd.testing.assert_frame_equal(a, b)


# ---------------------------------------------------------------------------
# R114 convoy: pandas gaps-and-islands recompute from the raw occupancy.
# ---------------------------------------------------------------------------


def test_convoy_pandas_reference(spark):
    pings = traj.pings_df(spark, SF_TINY)
    got = (
        traj.convoy_pairs(pings)
        .toPandas()
        .sort_values(["user_a", "user_b"], ignore_index=True)
    )
    s = traj._shift(traj.CONVOY_RES)
    occ = (
        pings.selectExpr(
            "user_id",
            f"(ix DIV {s}) * {traj._PACK} + (iy DIV {s}) AS cell",
            "day",
        )
        .toPandas()
        .drop_duplicates()
    )
    meet = occ.merge(occ, on=["cell", "day"], suffixes=("_a", "_b"))
    meet = meet[meet.user_id_a < meet.user_id_b][
        ["user_id_a", "user_id_b", "day"]
    ].drop_duplicates()
    want_rows = []
    for (ua, ub), g in meet.groupby(["user_id_a", "user_id_b"]):
        days = sorted(g.day)
        runs, run = [], 1
        for p, c in zip(days, days[1:]):
            if c == p + 1:
                run += 1
            else:
                runs.append(run)
                run = 1
        runs.append(run)
        if max(runs) >= traj.CONVOY_MIN_RUN:
            want_rows.append((ua, ub, len(days), max(runs)))
    want_rows.sort()
    assert [tuple(r) for r in got.itertuples(index=False)] == want_rows
    assert len(want_rows) > 0


# ---------------------------------------------------------------------------
# R116 zone diameter: numpy all-pairs brute over the collected cell sets —
# independently proves the scanline-extreme reduction lossless — plus the
# extreme-count bound that makes it scale.
# ---------------------------------------------------------------------------


def test_zone_diameter_brute_and_bounds(spark):
    tiles = synth.tiles_df(spark, SF_TINY)
    zones = synth.zones_df(spark)
    got = zonal.zone_diameter(tiles, zones, res=9).toPandas().set_index(
        "polygon_id"
    )
    from tree_sitter_analyzer_spark import grid
    from tree_sitter_analyzer_spark.operators.pip_join import pip_join

    cells = (
        pip_join(tiles, zones, res=9)
        .selectExpr(
            "polygon_id",
            f"{grid.ix_sql('lon', 9)} AS ix",
            f"{grid.iy_sql('lat', 9)} AS iy",
        )
        .distinct()
        .toPandas()
    )
    assert set(cells.polygon_id) == set(got.index)
    for pid, g in cells.groupby("polygon_id"):
        pts = g[["ix", "iy"]].to_numpy(dtype=np.int64)
        d = pts[:, None, :] - pts[None, :, :]
        diam2 = int((d * d).sum(axis=2).max())
        row = got.loc[pid]
        assert row.diam2 == diam2, f"zone {pid}: {row.diam2} != {diam2}"
        assert row.n_cells == len(pts)
        # scanline extremes: <= 2 per distinct row of the zone
        assert row.n_extremes <= 2 * g.iy.nunique()


# ---------------------------------------------------------------------------
# R115 gravity: exact marginal identities recomputed in pandas.
# ---------------------------------------------------------------------------


def test_od_gravity_identities(spark):
    pings = traj.pings_df(spark, SF_TINY)
    got = traj.od_gravity(pings).toPandas()
    od = traj.od_flows(pings, res=7).toPandas()
    t_all = int(od.n_users.sum())
    o_out = od.groupby("origin_cell").n_users.sum()
    d_in = od.groupby("dest_cell").n_users.sum()
    assert len(got) == len(od)
    assert int(got.n_obs.sum()) == t_all
    for r in got.itertuples(index=False):
        assert r.o_out == o_out[r.origin_cell]
        assert r.d_in == d_in[r.dest_cell]
        assert r.exp_micro == (1000000 * r.o_out * r.d_in) // t_all
        assert r.ratio_milli == (1000 * r.n_obs * t_all) // (r.o_out * r.d_in)
    # the null model redistributes the SAME total mass: sum of expected
    # flows over the full O×D product equals T (up to DIV truncation per
    # pair) — check the one-sided bound on the observed support.
    assert (got.exp_micro > 0).all()


def test_register_views_smoke(duck):
    register_views(duck, SF_TINY)
    assert duck.sql("SELECT count(*) FROM documents").fetchone()[0] > 0
