"""kNN exactness on adversarial inputs, and its fixed Spark job count.

Every case compares ``knn_join`` with the naive DuckDB oracle
(``knn_oracle_sql``: cross join + window) over the same rows, exactly:
ranks, ids and integer distances.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from tree_sitter_analyzer_spark import synth
from tree_sitter_analyzer_spark.operators import knn

from .conftest import SF_TINY

TILE_SCHEMA = "image_id string, lon double, lat double"
QUERY_SCHEMA = "query_id bigint, qlon double, qlat double"
CELL = 1.0 / 128  # res-7 cell edge, the default kNN grid


def _tiles() -> pd.DataFrame:
    rng = np.random.default_rng(7)
    pts = [
        # a dense cluster and a sparse background
        np.column_stack([rng.normal(139.7, 0.05, 300), rng.normal(35.6, 0.05, 300)]),
        np.column_stack([rng.uniform(139.0, 140.5, 100), rng.uniform(35.0, 36.2, 100)]),
        # duplicate coordinates: ties at the k-th distance
        np.tile([139.70, 35.60], (6, 1)),
        np.tile([139.71, 35.61], (4, 1)),
        # exactly equidistant pair around (139.8125, 35.6875)
        np.array([[139.8125 - CELL, 35.6875], [139.8125 + CELL, 35.6875]]),
    ]
    xy = np.vstack(pts)
    return pd.DataFrame({
        "image_id": [f"t{i:04d}" for i in rng.permutation(len(xy))],
        "lon": xy[:, 0],
        "lat": xy[:, 1],
    })


def _queries() -> pd.DataFrame:
    rng = np.random.default_rng(11)
    fixed = [
        (139.70, 35.60),      # on the duplicates
        (139.6875, 35.5),     # on a cell boundary at every pyramid level
        (139.8125, 35.6875),  # midway between the equidistant pair
        (141.5, 35.6),        # beside the extent: outside the bounding box
        (-120.0, -40.0),      # far outside the extent: no level reaches k
    ]
    rand = np.column_stack([rng.uniform(139.2, 140.2, 10), rng.uniform(35.2, 36.0, 10)])
    xy = np.vstack([np.array(fixed), rand])
    return pd.DataFrame({"query_id": np.arange(len(xy), dtype=np.int64),
                         "qlon": xy[:, 0], "qlat": xy[:, 1]})


def _oracle(tiles: pd.DataFrame, queries: pd.DataFrame, k: int) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        con.register("tiles", tiles)
        con.register("qpoints", queries)
        return con.execute(knn.knn_oracle_sql(k)).df()
    finally:
        con.close()


def _frame(spark, pdf: pd.DataFrame, schema: str):
    return spark.createDataFrame(pdf, schema)


def _assert_exact(spark, tiles: pd.DataFrame, queries: pd.DataFrame, k: int,
                  **kw) -> pd.DataFrame:
    got = knn.knn_join(_frame(spark, tiles, TILE_SCHEMA),
                       _frame(spark, queries, QUERY_SCHEMA), k=k, **kw).toPandas()
    want = _oracle(tiles, queries, k)
    cols = ["query_id", "rank", "image_id", "dist2_nano"]
    assert list(got.columns) == cols
    got = got.sort_values(["query_id", "rank"], ignore_index=True)
    want = want[cols].sort_values(["query_id", "rank"], ignore_index=True)
    assert len(got) == len(want)
    for c in cols:
        assert got[c].tolist() == want[c].tolist(), c
    return got


@pytest.mark.parametrize("max_radius", [1, 64])
@pytest.mark.parametrize("k", [1, 5, 12])
def test_knn_exact_on_adversarial_points(spark, k, max_radius):
    """Ties, duplicates, a cell-boundary query, a query beside and one far
    outside the extent; ``max_radius=1`` leaves one index level, so most
    queries take the every-tile fallback."""
    tiles, queries = _tiles(), _queries()
    got = _assert_exact(spark, tiles, queries, k, max_radius=max_radius)
    assert (got.groupby("query_id").size() == k).all()
    assert got["query_id"].nunique() == len(queries)


@pytest.mark.parametrize("k", [1, 5, 12])
def test_knn_exact_when_k_exceeds_tiles(spark, k):
    tiles = _tiles().head(7)
    got = _assert_exact(spark, tiles, _queries(), k)
    assert (got.groupby("query_id").size() == min(k, 7)).all()


def test_knn_empty_sides(spark):
    empty_tiles = _tiles().head(0)
    got = _assert_exact(spark, empty_tiles, _queries(), 5)
    assert got.empty
    got = _assert_exact(spark, _tiles(), _queries().head(0), 5)
    assert got.empty
    out = knn.knn_join(_frame(spark, _tiles(), TILE_SCHEMA),
                       _frame(spark, _queries().head(0), QUERY_SCHEMA))
    assert out.schema.simpleString() == (
        "struct<query_id:bigint,rank:bigint,image_id:string,dist2_nano:bigint>")


def test_knn_rejects_empty_pyramid(spark):
    with pytest.raises(ValueError):
        knn.knn_join(_frame(spark, _tiles(), TILE_SCHEMA),
                     _frame(spark, _queries(), QUERY_SCHEMA), max_radius=0)


def _jobs(spark, group: str, tiles, queries) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, "kNN job count")
    try:
        knn.knn_join(tiles, queries, k=5).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _job_cases(q: pd.DataFrame) -> dict[str, pd.DataFrame]:
    return {
        "near": q[q.query_id >= 5],
        "mixed": q,
        "far": q.assign(qlon=q.qlon - 200.0, qlat=-q.qlat),
    }


def test_knn_job_count_is_bounded(spark):
    """One static plan: stragglers far from every tile cost no extra
    Spark jobs (the replaced ring loop added checkpoints and emptiness
    probes per round). On a frame that is not a tiles snapshot the
    index is an inline subplan; the bound counts the plan's query
    stages — the index's two aggregate shuffles, two broadcasts, the
    top-k shuffle — and the result job."""
    tiles = _frame(spark, _tiles(), TILE_SCHEMA)
    jobs = {name: _jobs(spark, f"knn-{name}", tiles, _frame(spark, pdf, QUERY_SCHEMA))
            for name, pdf in _job_cases(_queries()).items()}
    assert max(jobs.values()) <= 7, jobs


def test_knn_warm_snapshot_call_runs_at_most_four_jobs(spark):
    """On a ``synth.tiles_df`` leaf the index is resident after the
    first call: a warm call runs the lookup broadcast, the fetch
    broadcast, the top-k shuffle and the result job, near or far."""
    tiles = synth.tiles_df(spark, SF_TINY)
    knn.knn_join(tiles, synth.qpoints_df(spark), k=5).collect()  # warm
    jobs = {name: _jobs(spark, f"knn-warm-{name}", tiles, _frame(spark, pdf, QUERY_SCHEMA))
            for name, pdf in _job_cases(_queries()).items()}
    assert max(jobs.values()) <= 4, jobs
