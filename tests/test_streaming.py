"""Structured Streaming tests: standing queries (SURVEY.md I2), watermarked
tumbling windows (I3/I4), incremental MERGE classification (I1).

The standing-query test mirrors hyphae_subscribe (watch_push_bridge.py:
30-99): a registered query re-evaluated per change batch, emitting deltas.
File source + memory sink drive it synchronously (processAllAvailable).
"""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from tree_sitter_analyzer_spark import synth
from tree_sitter_analyzer_spark.streaming.incremental import (
    classify_changes,
    merge_delta,
)

from .conftest import SF_TINY


def test_streaming_windowed_counts_match_batch(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    # FileStreamSource requires a directory of files
    import os

    os.makedirs(src)
    shutil.copy(f"{SF_TINY}/events.parquet", f"{src}/part-0.parquet")
    schema = spark.read.parquet(f"{SF_TINY}/events.parquet").schema

    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window"]["start"], r["event_type"]): r["n"]
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
    finally:
        q.stop()

    batch = (
        spark.read.parquet(f"{SF_TINY}/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    expected = {(r["window"]["start"], r["event_type"]): r["n"] for r in batch}
    assert got == expected and len(got) > 0


def test_standing_query_emits_deltas(spark, tmp_path):
    """Two micro-batches of tile rows; the standing zonal count is
    recomputed per batch via foreachBatch and deltas accumulate — the
    subscription push loop, batch-driven."""
    import glob
    import os

    src = str(tmp_path / "tiles_src")
    os.makedirs(src)
    tiles = synth.tiles_df(spark, SF_TINY).select("image_id", "lon", "lat")
    # batch 1 = a deterministic half of the tiles; batch 2 = the rest
    half = tiles.where(F.expr("pmod(crc32(image_id), 2) = 0"))
    rest = tiles.join(half.select("image_id"), "image_id", "left_anti")

    half.write.mode("append").parquet(src)
    snapshots = []

    def on_batch(df, epoch_id):
        # standing query: tiles per res-7 cell (compiled plan re-run)
        from tree_sitter_analyzer_spark import grid

        counts = (
            df.withColumn("cell", grid.cell_col("lon", "lat", 7))
            .groupBy("cell")
            .count()
            .collect()
        )
        snapshots.append({r["cell"]: r["count"] for r in counts})

    schema = spark.read.parquet(src).schema
    q = (
        spark.readStream.schema(schema)
        .parquet(src)
        .writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rest.write.mode("append").parquet(src)
    q2 = (
        spark.readStream.schema(schema)
        .parquet(src)
        .writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)

    assert len(snapshots) >= 2
    total_last = sum(snapshots[-1].values())
    assert total_last == tiles.count()  # final standing result sees all rows
    assert len(glob.glob(f"{src}/*.parquet")) >= 2


def test_incremental_classify_and_merge(spark):
    t = synth.tiles_df(spark, SF_TINY).select("i", "image_id", "phash")
    v2 = (
        t.where(F.expr("i % 50 <> 7"))
        .withColumn("phash", F.expr(
            "CASE WHEN i % 20 = 3 THEN phash + 1 ELSE phash END"))
    )
    classes = {
        r["change"]: r["n"]
        for r in classify_changes(t, v2, "image_id", "phash")
        .groupBy("change").agg(F.count("*").alias("n")).collect()
    }
    n = t.count()
    assert classes["deleted"] == n - v2.count()
    assert classes.get("new", 0) == 0
    assert classes["modified"] > 0
    assert classes["modified"] + classes["unchanged"] == v2.count()

    # upserts alone keep the keys v2 dropped: every old key survives
    no_dels = t.select("image_id").where("1 = 0")
    merged = merge_delta(t.select("image_id", "phash"),
                         v2.select("image_id", "phash"), no_dels, "image_id")
    assert merged.count() == n
    # full sync: the dropped keys are applied as explicit deletes
    dels = t.join(v2.select("image_id"), "image_id", "left_anti").select("image_id")
    synced = merge_delta(t.select("image_id", "phash"),
                         v2.select("image_id", "phash"), dels, "image_id")
    assert synced.count() == v2.count()
    assert (
        synced.exceptAll(v2.select("image_id", "phash")).count() == 0
    )


def test_stateful_grade_regression_alerts(spark, tmp_path):
    """I5 homeostasis: per-zone grade state across micro-batches —
    regression emits an alert; cooldown suppresses an immediate repeat."""
    import os

    from tree_sitter_analyzer_spark.streaming.homeostasis import grade_regressions

    src = str(tmp_path / "grades")
    os.makedirs(src)
    schema = "zone_id string, grade int"

    def write_batch(rows, n):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    alerts = []

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            grade_regressions(stream)
            .writeStream.foreachBatch(
                lambda df, eid: alerts.extend(
                    r.asDict() for r in df.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch([("z1", 80), ("z2", 90)], 1)
    run_once()  # establishes baseline state, no alerts
    baseline_alerts = len(alerts)

    write_batch([("z1", 60), ("z2", 90)], 2)
    run_once()  # z1 regressed 80 → 60
    assert len(alerts) == baseline_alerts + 1
    assert alerts[-1]["zone_id"] == "z1"
    assert alerts[-1]["prev_grade"] == 80 and alerts[-1]["new_grade"] == 60

    write_batch([("z1", 50)], 3)
    run_once()  # still in cooldown → suppressed
    assert len(alerts) == baseline_alerts + 1


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream watermarked interval join (click→purchase
    attribution): the streaming result over file-sourced micro-batches
    must equal the identical predicate joined as static frames — and the
    join must carry watermarks on BOTH sides so its state is bounded."""
    import os

    from tree_sitter_analyzer_spark.streaming.join import (
        click_attribution_join,
        watermarked,
    )

    src = str(tmp_path / "ss_src")
    os.makedirs(src)
    shutil.copy(f"{SF_TINY}/events.parquet", f"{src}/part-0.parquet")
    schema = spark.read.parquet(f"{SF_TINY}/events.parquet").schema

    stream = spark.readStream.schema(schema).parquet(src)
    joined = click_attribution_join(
        watermarked(stream, "click"), watermarked(stream, "purchase")
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("attributed")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["click_id"], r["purchase_id"])
            for r in spark.sql("SELECT * FROM attributed").collect()
        }
    finally:
        q.stop()

    batch_events = spark.read.parquet(f"{SF_TINY}/events.parquet")
    expected = {
        (r["click_id"], r["purchase_id"])
        for r in click_attribution_join(
            watermarked(batch_events, "click"),
            watermarked(batch_events, "purchase"),
        ).collect()
    }
    assert got == expected
    assert len(expected) > 50  # non-vacuous: dense user×hour overlap


def test_ivm_zonal_counts_match_batch_recompute(spark, tmp_path):
    """Incremental view maintenance: the zonal-count view maintained from
    per-micro-batch deltas must equal the batch recompute over everything
    ever ingested (counts are a monoid; the maintenance cost per batch is
    O(batch), never O(corpus))."""
    import os

    from tree_sitter_analyzer_spark.streaming.ivm import ZonalCountIVM

    tiles = synth.tiles_df(spark, SF_TINY)
    src = str(tmp_path / "ivm_src")
    os.makedirs(src)
    # two micro-batches: disjoint halves of the tile table, flattened to
    # single files (the file stream source lists the top level only)
    import glob

    for b, pred in ((0, "i % 2 = 0"), (1, "i % 2 = 1")):
        out = str(tmp_path / f"half{b}")
        tiles.where(pred).coalesce(1).write.parquet(out)
        shutil.copy(glob.glob(f"{out}/part-*.parquet")[0], f"{src}/batch{b}.parquet")

    zones = synth.zones_df(spark)
    ivm = ZonalCountIVM(spark, zones, res=9)
    schema = tiles.schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force ≥2 separate deltas
        .parquet(src)
        .writeStream.foreachBatch(ivm.on_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["polygon_id"]: r["n"] for r in ivm.state.collect()}
    from tree_sitter_analyzer_spark.streaming.ivm import delta_zonal_counts

    want = {
        r["polygon_id"]: r["n"]
        for r in delta_zonal_counts(tiles, zones, res=9).collect()
    }
    assert got == want and len(want) > 10


def test_geofence_transitions_match_batch(spark, tmp_path):
    """R47 streaming geofence: enter/exit/hand-off transitions across
    micro-batch boundaries (state carries each user's tail fix) must
    equal the batch lag() reference over the full fix history — batches
    deliberately split trajectories mid-way and arrive unordered."""
    import os

    from tree_sitter_analyzer_spark.operators import trajectory as traj
    from tree_sitter_analyzer_spark.streaming.geofence import (
        geofence_transitions,
        geofence_transitions_batch,
    )

    # real trajectory pings, zone = coarse cell band (forces transitions)
    from pyspark.sql import functions as F

    fixes = (
        traj.pings_df(spark, SF_TINY)
        .where(F.col("user_id") < 6)
        .select(
            "user_id",
            F.col("seq").cast("long").alias("seq"),
            F.expr(
                "CASE (ix DIV 64) % 3 WHEN 0 THEN 'none' "
                "WHEN 1 THEN 'zone_a' ELSE 'zone_b' END"
            ).alias("zone"),
        )
    )
    pdf = fixes.toPandas()
    expected = geofence_transitions_batch(fixes).toPandas()

    src = str(tmp_path / "fixes")
    os.makedirs(src)
    schema = "user_id long, seq long, zone string"
    got = []

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            geofence_transitions(stream)
            .writeStream.foreachBatch(
                lambda df, eid: got.extend(r.asDict() for r in df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # three mid-trajectory splits, each delivered UNORDERED within batch
    cuts = [pdf.seq.quantile(0.33), pdf.seq.quantile(0.66)]
    parts = [
        pdf[pdf.seq <= cuts[0]],
        pdf[(pdf.seq > cuts[0]) & (pdf.seq <= cuts[1])],
        pdf[pdf.seq > cuts[1]],
    ]
    for part in parts:
        shuffled = part.sample(frac=1.0, random_state=7)
        spark.createDataFrame(shuffled, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run_once()

    import pandas as pd

    got_df = pd.DataFrame(got, columns=expected.columns)
    key = ["user_id", "at_seq"]
    got_df = got_df.sort_values(key).reset_index(drop=True)
    expected = expected.sort_values(key).reset_index(drop=True)
    assert got_df.astype(expected.dtypes.to_dict()).equals(expected)
    assert len(expected) > 5  # non-vacuous: transitions actually happened


def test_stream_dedup_within_watermark_matches_batch(spark, tmp_path):
    """Streaming exact-dedup (I1 ∘ A9): dropDuplicatesWithinWatermark on
    the event key must yield exactly the batch dropDuplicates result when
    every duplicate arrives inside the watermark window — the streaming
    face of the dedup_exact family, state bounded by the watermark
    instead of the full key history."""
    import os

    src = str(tmp_path / "dedup_src")
    os.makedirs(src)
    ev = spark.read.parquet(f"{SF_TINY}/events.parquet")
    # duplicate every 3rd event to make dedup non-vacuous
    dup = ev.where(F.col("event_id") % 3 == 0)
    ev.unionByName(dup).coalesce(1).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_sink"
    ).collect()[0]
    want = ev.select("event_id").distinct().count()
    assert got.n == got.d == want
