"""Per-subscriber standing-query registry (I2/VERDICT missing-#5):
(session, selector) pairs, changed-only delta push, min_interval
coalescing, dead-session cleanup, foreachBatch integration."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from tree_sitter_analyzer_spark import synth
from tree_sitter_analyzer_spark.plans.chain import Chain
from tree_sitter_analyzer_spark.plans.selector import apply_selector
from tree_sitter_analyzer_spark.streaming.subscriptions import (
    DeadSession,
    SubscriptionRegistry,
)

from .conftest import SF_TINY


def _tiles(spark):
    return synth.tiles_df(spark, SF_TINY)


def test_push_only_when_result_moves(spark):
    reg = SubscriptionRegistry()
    got_a, got_b = [], []
    reg.subscribe("sess-a", "fmt=png", got_a.append)
    reg.subscribe("sess-b", "kind=aerial fmt=jpeg", got_b.append)

    tiles = _tiles(spark)
    pushed = reg.drive(tiles, now=0.0)
    assert set(pushed) == {("sess-a", "fmt=png"), ("sess-b", "kind=aerial fmt=jpeg")}
    assert got_a[0]["removed"] == [] and len(got_a[0]["added"]) > 0
    assert got_a[0]["total_matches"] == tiles.where("fmt = 'png'").count()

    # same snapshot → results didn't move → zero pushes
    assert reg.drive(tiles, now=1.0) == []
    assert len(got_a) == 1 and len(got_b) == 1

    # drop the jpeg tiles: only sess-b's selector result moves
    png_only = tiles.where("fmt = 'png'")
    pushed = reg.drive(png_only, now=2.0)
    assert pushed == [("sess-b", "kind=aerial fmt=jpeg")]
    assert got_b[1]["added"] == [] and len(got_b[1]["removed"]) > 0


def test_min_interval_coalesces_bursts(spark):
    reg = SubscriptionRegistry()
    got = []
    reg.subscribe("s", "fmt=png", got.append, min_interval=10.0)
    tiles = _tiles(spark)
    assert reg.drive(tiles, now=0.0) == [("s", "fmt=png")]
    # burst: result changed but inside the throttle window → coalesced
    assert reg.drive(tiles.where("fmt = 'png'").limit(0), now=5.0) == []
    # window passed → the coalesced change ships exactly once
    empty = tiles.where("1 = 0")
    assert reg.drive(empty, now=15.0) == [("s", "fmt=png")]
    assert got[1]["removed"] == got[0]["added"]


def test_failed_push_redelivers_and_empty_first_eval_is_silent(spark):
    """A transient (non-DeadSession) push failure must NOT commit the
    snapshot — the delta is redelivered on the next drive; a first
    evaluation with an empty result pushes nothing (the result never
    moved). Evaluation errors are isolated per subscription."""
    reg = SubscriptionRegistry()
    calls = []

    def flaky(delta):
        calls.append(delta)
        if len(calls) == 1:
            raise RuntimeError("transient")

    reg.subscribe("s", "fmt=png", flaky)
    reg.subscribe("s-empty", "caption=nomatchever", calls.append)
    tiles = _tiles(spark)
    assert reg.drive(tiles, now=0.0) == []  # push failed -> not "pushed"
    assert reg._subs[("s", "fmt=png")].last_error.startswith("push failed")
    # empty first eval: snapshot established silently, no push
    assert reg._subs[("s-empty", "caption=nomatchever")].last_keys == frozenset()
    assert len(calls) == 1  # only the flaky attempt; no empty-delta push
    pushed = reg.drive(tiles, now=1.0)
    assert pushed == [("s", "fmt=png")]  # same delta redelivered
    assert calls[1]["added"] == calls[0]["added"]

    # a semantically-bad selector errors in isolation, not across the batch
    reg.subscribe("s-bad", "fmt=png sort bogus", calls.append)
    ok_before = len(calls)
    reg.drive(tiles, now=2.0)
    assert reg._subs[("s-bad", "fmt=png sort bogus")].last_error
    assert len(calls) == ok_before  # nothing else pushed spuriously


def test_batched_drive_job_count_is_constant_in_subscribers(spark):
    """VERDICT r2 #7: drive() evaluates ALL subscribers against one shared
    cached snapshot in two batched actions. For these filter+take
    subscribers the job count does not grow from 2 to 8 subscribers (the
    r2 serial loop ran 2 jobs per subscriber); sorted and :within
    subscribers do add jobs per subscriber."""

    def jobs_for_one_drive(n_subs: int) -> int:
        reg = SubscriptionRegistry()
        sink: list = []
        fmts = ["png", "jpeg"]
        for i in range(n_subs):
            reg.subscribe(f"s{i}", f"fmt={fmts[i % 2]} take {10 + i}", sink.append)
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup("subs-drive"))
        assert len(reg.drive(_tiles(spark), now=0.0)) == n_subs
        return len(tracker.getJobIdsForGroup("subs-drive")) - before

    two, eight = jobs_for_one_drive(2), jobs_for_one_drive(8)
    assert two >= 1  # the batched path actually ran (job group tagged)
    assert eight == two  # O(1) in subscriber count, not O(n)


def test_batch_failure_isolates_the_poisoned_subscriber(spark, monkeypatch):
    """A runtime failure of the batched evaluation re-runs each plan
    alone: healthy subscribers still get their deltas, the poisoned one
    records its error, gets no push, and is evaluated again next drive."""
    real = SubscriptionRegistry._eval_batch
    poisoned = {"fmt=jpeg take 5"}
    seen: list[list[str]] = []

    def flaky(table, plans):
        selectors = [sub.selector for sub, _plan in plans]
        seen.append(selectors)
        if len(plans) > 1 or poisoned & set(selectors):
            raise RuntimeError("poisoned plan")
        return real(table, plans)

    monkeypatch.setattr(SubscriptionRegistry, "_eval_batch", staticmethod(flaky))
    reg = SubscriptionRegistry()
    got: dict[str, list] = {"png": [], "jpeg": [], "kind": []}
    reg.subscribe("a", "fmt=png take 5", got["png"].append)
    reg.subscribe("b", "fmt=jpeg take 5", got["jpeg"].append)
    reg.subscribe("c", "kind=aerial take 5", got["kind"].append)
    tiles = _tiles(spark)

    pushed = reg.drive(tiles, now=0.0)
    assert set(pushed) == {("a", "fmt=png take 5"), ("c", "kind=aerial take 5")}
    assert len(got["png"][0]["added"]) == 5 and len(got["kind"][0]["added"]) == 5
    bad = reg._subs[("b", "fmt=jpeg take 5")]
    assert bad.last_error == "poisoned plan"
    assert got["jpeg"] == [] and bad.last_keys is None

    poisoned.clear()
    seen.clear()
    assert reg.drive(tiles, now=1.0) == [("b", "fmt=jpeg take 5")]
    assert "fmt=jpeg take 5" in seen[0]
    assert bad.last_error is None and len(got["jpeg"][0]["added"]) == 5


@pytest.mark.parametrize("selector", [
    "fmt=png",
    "kind=aerial :within(park) take 17",
    "fmt=jpeg sort phash desc take 9",
    "take 30 fmt=png",
    "kind=urban :not(fmt=png) take 11",
    "fmt=png :first-per(cell) take 25",
    "fmt=png sort w take 7",
])
def test_drive_matches_chain_answer(spark, selector):
    """A standing query pushes exactly what an ad-hoc answer() returns
    for the same selector: the same capped keys, the same true total."""
    tiles = _tiles(spark)
    want = apply_selector(Chain(spark, tiles), selector).answer()
    reg = SubscriptionRegistry()
    got: list = []
    reg.subscribe("s", selector, got.append)
    assert reg.drive(tiles, now=0.0) == [("s", selector)]
    assert got[0]["added"] == sorted(str(r["image_id"]) for r in want["results"])
    assert got[0]["total_matches"] == want["stats"]["total_matches"]


def test_drive_keeps_callers_job_group(spark):
    """drive() tags its own jobs "subs-drive" but hands the caller's job
    group and description back unchanged."""
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller description")
    try:
        reg = SubscriptionRegistry()
        reg.subscribe("s", "fmt=png", [].append)
        assert reg.drive(_tiles(spark), now=0.0) == [("s", "fmt=png")]
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        for p in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(p, None)


def test_drive_keeps_callers_cache(spark):
    """A snapshot the caller persisted stays cached across ``drive``, also
    when the caller hands in another frame of the same plan: the batch
    caches, and releases, only a table nobody else has cached."""
    table = synth.tiles_df(spark, SF_TINY).where("w > 0").persist()
    try:
        reg = SubscriptionRegistry()
        reg.subscribe("s1", "fmt=png take 3", lambda d: None)
        reg.drive(table, now=0.0)
        assert table.is_cached
        reg.drive(synth.tiles_df(spark, SF_TINY).where("w > 0"), now=1.0)
        assert table.storageLevel != StorageLevel.NONE
        plain = synth.tiles_df(spark, SF_TINY).where("h > 0")
        reg.drive(plain, now=2.0)
        assert plain.storageLevel == StorageLevel.NONE
    finally:
        table.unpersist()


def test_dead_session_cleanup_and_unsubscribe(spark):
    reg = SubscriptionRegistry()

    def dead_push(_delta):
        raise DeadSession()

    kept = []
    reg.subscribe("dead", "fmt=png", dead_push)
    reg.subscribe("dead", "fmt=jpeg", dead_push)
    reg.subscribe("live", "fmt=png", kept.append)
    pushed = reg.drive(_tiles(spark), now=0.0)
    assert pushed == [("live", "fmt=png")]
    # ALL of the dead session's subscriptions were removed
    assert reg.active() == [("live", "fmt=png")]
    assert reg.unsubscribe("live") == 1
    assert reg.active() == []


def test_registry_drives_from_foreach_batch(spark, tmp_path):
    """The registry plugs into a foreachBatch standing query: each
    micro-batch re-evaluates the selectors against the accumulated table
    and pushes per-subscriber deltas (watch_push_bridge analog)."""
    import os

    src = str(tmp_path / "tiles_src")
    os.makedirs(src)
    cols = ["image_id", "lon", "lat", "fmt", "tile_kind", "caption", "w", "h"]
    tiles = _tiles(spark).select(*cols)
    half = tiles.where(F.expr("pmod(crc32(image_id), 2) = 0"))
    rest = tiles.join(half.select("image_id"), "image_id", "left_anti")

    reg = SubscriptionRegistry()
    deltas = []
    reg.subscribe("agent-1", "fmt=png take 2000", deltas.append)

    half.write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def on_batch(_df, epoch_id):
        # standing queries see the full accumulated snapshot, not just
        # the micro-batch rows (the delta is vs the LAST pushed result)
        reg.drive(spark.read.parquet(src), now=float(epoch_id))

    for _ in range(2):
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(on_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if len(deltas) == 1:
            rest.write.mode("append").parquet(src)

    assert len(deltas) == 2
    n_png = tiles.where("fmt = 'png'").count()
    assert deltas[1]["total_matches"] == n_png
    assert len(deltas[0]["added"]) + len(deltas[1]["added"]) == n_png
    assert deltas[1]["removed"] == []
