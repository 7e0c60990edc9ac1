"""The materialized tiles table: ``synth.tiles_df`` serves one shallow,
locally checkpointed leaf per source snapshot and variant, rebuilds it
when ``orders.parquet`` changes, and releases evicted blocks — the
snapshot's lazily built kNN index with them. The zone layer
(``synth.zones_df``) is one leaf per context, outside that LRU, and
keeps its PIP covers (``pip_join.zone_cover``) with it."""

from __future__ import annotations

import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tree_sitter_analyzer_spark import synth
from tree_sitter_analyzer_spark.operators import ingest, knn, pip_join

from .conftest import SF_TINY


def write_orders(path, keys) -> str:
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"o_orderkey": pa.array(keys, pa.int64())}),
                   path / "orders.parquet")
    return str(path)


def persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


@pytest.fixture
def fresh(spark):
    synth.drop_tiles_cache()
    yield
    synth.drop_tiles_cache()


@pytest.fixture
def fresh_zones(spark, monkeypatch):
    """A zone layer built inside the test (the session's own is set
    aside and restored), released after it."""
    monkeypatch.setattr(synth, "_zones_cache", {})
    yield
    for snap in synth._zones_cache.values():
        snap.release()


def count_calls(monkeypatch, owner, name: str) -> list[int]:
    """Patch ``owner.name`` to record the thread of each call."""
    calls = []
    fn = getattr(owner, name)

    def counting(*a, **kw):
        calls.append(threading.get_ident())
        return fn(*a, **kw)

    monkeypatch.setattr(owner, name, counting)
    return calls


def run_threads(n_threads, target) -> None:
    """``target()`` on ``n_threads`` threads released together, with
    frequent thread switches; re-raises the first error."""
    barrier = threading.Barrier(n_threads)
    errors = []

    def call():
        try:
            barrier.wait(timeout=60)
            target()
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=call) for _ in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors


def test_same_snapshot_shares_one_materialization(spark, fresh):
    before = persisted(spark)
    a = synth.tiles_df(spark, SF_TINY)
    after_first = persisted(spark)
    b = synth.tiles_df(spark, SF_TINY)
    assert a is b
    assert len(after_first - before) == 1
    assert persisted(spark) == after_first
    assert a.count() == 1500


def test_downstream_plan_has_no_lcg_expressions(spark, fresh):
    q = synth.tiles_df(spark, SF_TINY).where("tile_kind = 'park'").groupBy("fmt").count()
    analyzed = q._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in analyzed
    assert str(synth.M31) not in analyzed and "69621" not in analyzed
    assert "o_orderkey" not in analyzed
    # the plan it was materialized from is the LCG projection
    source = synth.tiles_plan(spark, SF_TINY)._jdf.queryExecution().analyzed().toString()
    assert str(synth.M31) in source
    # the zone layer is one leaf too, and a PIP plan over it reads it
    zones = synth.zones_df(spark)
    assert synth.zones_df(spark) is zones
    pip = pip_join.pip_join(synth.tiles_df(spark, SF_TINY), zones)
    analyzed = pip._jdf.queryExecution().analyzed().toString()
    assert str(synth.M31) not in analyzed and "48271" not in analyzed
    source = synth.zones_plan(spark)._jdf.queryExecution().analyzed().toString()
    assert str(synth.M31) in source and "48271" in source


def test_in_place_rewrite_returns_new_rows(spark, fresh, tmp_path):
    sf = write_orders(tmp_path, range(100))
    old = synth.tiles_df(spark, sf)
    assert old.count() == 100
    held = persisted(spark)
    sf = write_orders(tmp_path, range(1000, 1250))
    new = synth.tiles_df(spark, sf)
    assert new is not old
    got = sorted(r["i"] for r in new.select("i").collect())
    assert got == list(range(1000, 1250))
    # the stale snapshot's blocks are released, not left for the LRU
    assert len(persisted(spark)) == len(held)


def test_variants_never_collide(spark, fresh, monkeypatch):
    plain = synth.tiles_df(spark, SF_TINY)
    monkeypatch.setenv("SPARK_GRAFT_DENSE", "1")
    dense = synth.tiles_df(spark, SF_TINY)
    monkeypatch.delenv("SPARK_GRAFT_DENSE")
    wb = synth.tiles_df(spark, SF_TINY, with_bytes=True)

    assert (plain.count(), dense.count()) == (1500, 1500)
    assert dense is not plain
    lon = {r["i"]: r["lon"] for r in plain.select("i", "lon").collect()}
    dlon = {r["i"]: r["lon"] for r in dense.select("i", "lon").collect()}
    assert lon != dlon
    # bytes are attached on top of the shared leaf, never cached with it
    assert "bytes" in wb.columns and "bytes" not in plain.columns
    assert synth.tiles_df(spark, SF_TINY) is plain
    assert "bytes" not in synth.tiles_df(spark, SF_TINY).columns
    assert wb.where("bytes IS NULL").count() == 0


def test_eviction_returns_persistent_rdds_to_baseline(spark, fresh, tmp_path):
    """Each snapshot holds its leaf and, once kNN has run on it, the
    index's two frames; eviction releases all three."""
    base = persisted(spark)
    slots = synth.TILES_CACHE_SLOTS
    first = None
    for n in range(slots + 2):
        df = synth.tiles_df(spark, write_orders(tmp_path / f"s{n}", range(10 + n)))
        if n == 0:
            first = df
        assert len(persisted(spark) - base) == min(n + 1, slots) + 2 * min(n, slots - 1)
        assert knn.knn_join(df, synth.qpoints_df(spark), k=3).count() == 3 * 50
        assert len(persisted(spark) - base) == 3 * min(n + 1, slots)
    assert df.count() == 10 + slots + 1
    # the evicted first snapshot rebuilds as a new materialization
    rebuilt = synth.tiles_df(spark, str(tmp_path / "s0"))
    assert rebuilt is not first and rebuilt.count() == 10
    synth.drop_tiles_cache()
    assert persisted(spark) == base


def test_knn_index_is_built_once_per_snapshot(spark, fresh, tmp_path, monkeypatch):
    builds = count_calls(monkeypatch, knn, "_index")
    q = synth.qpoints_df(spark)
    leaf = synth.tiles_df(spark, SF_TINY)
    first = knn.knn_join(leaf, q, k=5).collect()
    assert knn.knn_join(leaf, q, k=9).count() == 9 * 50
    assert knn.knn_index(leaf, 7, 7) is knn.knn_index(leaf, 7, 7)
    assert len(builds) == 1
    # the resident answer is the inline one
    assert sorted(first) == sorted(knn.knn_join(leaf.where("w > 0"), q, k=5).collect())
    # another index shape and another snapshot each build their own
    knn.knn_join(leaf, q, k=5, max_radius=8)
    other = synth.tiles_df(spark, write_orders(tmp_path, range(300)))
    knn.knn_join(other, q, k=5)
    assert len(builds) == 4  # the inline call above counts as one


def test_concurrent_first_knn_calls_build_index_once(spark, fresh, monkeypatch):
    """More first kNN callers than cores, with frequent thread switches:
    one index build, and every caller gets that build."""
    builds = count_calls(monkeypatch, knn, "_index")
    leaf = synth.tiles_df(spark, SF_TINY)
    got = []
    run_threads(8, lambda: got.append(knn.knn_index(leaf, 7, 7)))
    assert len(builds) == 1
    assert len(got) == 8 and all(g is got[0] for g in got)
    assert knn.knn_join(leaf, synth.qpoints_df(spark), k=5).count() == 250


def test_concurrent_first_zone_cover_calls_build_once(spark, fresh_zones, monkeypatch):
    """More first callers than cores, with frequent thread switches: one
    zone layer, one res-9 cover, and every caller gets that build; later
    PIP joins on the leaf reuse it."""
    layers = count_calls(monkeypatch, synth, "zones_plan")
    builds = count_calls(monkeypatch, pip_join, "_zone_cover")
    got = []
    run_threads(8, lambda: got.append(pip_join.zone_cover(synth.zones_df(spark), 9)))
    assert len(layers) == 1 and len(builds) == 1
    assert len(got) == 8 and all(c is got[0] for c in got)
    zones = synth.zones_df(spark)
    tiles = synth.tiles_df(spark, SF_TINY)
    for how in ("inner", "semi", "anti"):
        pip_join.pip_join(tiles, zones, 9, how).count()
    assert len(builds) == 1
    # another res is its own build; a derived zones frame inlines its cover
    pip_join.zone_cover(zones, 8)
    pip_join.zone_cover(zones.where("zkind = 'park'"), 9)
    assert len(builds) == 3


@pytest.mark.parametrize("res", [8, 9])
def test_resident_cover_equals_inline_cover(spark, res):
    resident = pip_join.zone_cover(synth.zones_df(spark), res)
    inline = pip_join.zone_cover(synth.zones_plan(spark), res)
    assert resident.columns == inline.columns
    assert resident.count() == inline.count() > 0
    assert resident.exceptAll(inline).count() == 0
    assert inline.exceptAll(resident).count() == 0


def test_tiles_builds_leave_zone_layer_cached(spark, fresh, tmp_path):
    zones = synth.zones_df(spark)
    cover = pip_join.zone_cover(zones, 9)
    held = persisted(spark)
    for n in range(synth.TILES_CACHE_SLOTS + 2):
        synth.tiles_df(spark, write_orders(tmp_path / f"s{n}", range(10 + n)))
    assert synth.zones_df(spark) is zones
    assert pip_join.zone_cover(zones, 9) is cover
    assert held <= persisted(spark)
    assert zones.count() == synth.N_ZONES and cover.count() == 78645


def test_extractions_leave_serving_snapshot_cached(spark, fresh, tmp_path):
    """Ingest's extraction reads the lazy plan: however many batches it
    extracts, a held serving snapshot stays cached and answerable."""
    leaf = synth.tiles_df(spark, SF_TINY)
    held = persisted(spark)
    for n in range(synth.TILES_CACHE_SLOTS + 1):
        sf = write_orders(tmp_path / f"changed_{n}", range(100 * n, 100 * n + 7))
        assert ingest.extract_tiles(spark, sf).count() == 7
    assert persisted(spark) == held
    assert synth.tiles_df(spark, SF_TINY) is leaf
    assert leaf.count() == 1500


@pytest.mark.parametrize("n_threads", [4, 8])
def test_concurrent_first_calls_build_once(spark, fresh, tmp_path, monkeypatch, n_threads):
    """More first callers than cores, with frequent thread switches: one
    build, and every caller gets that build."""
    sf = write_orders(tmp_path, range(300))
    builds = count_calls(monkeypatch, synth, "tiles_plan")
    got = []
    run_threads(n_threads, lambda: got.append(synth.tiles_df(spark, sf)))
    assert len(builds) == 1
    assert len(got) == n_threads and all(d is got[0] for d in got)
    assert got[0].count() == 300
