"""End-to-end ingest/extraction pipeline — the engine's ``index_project``.

Mirrors the reference's bulk-index path (``ast_cache.py:327-424``): walk →
parallel per-file extraction workers → single commit → post-index
backfills. Here: tiles table → Arrow-batched decode+verify+phash
extraction (sources/codec.py) → grid-cell encode → per-zone assignment →
summary/audit rows.

Per-row vectorized pixel compute dominates, so throughput scales with
cores; ``perfbench``'s ``incremental_sync`` workload runs it on every
delta batch. It is also the only pipeline that touches ``bytes``; per-row
invariants (PSNR ≥ 40 dB lossy, exact for lossless, caption untouched)
are enforced as *columns*, so a violation is a queryable fact, not a
buried assertion (the miswire-audit pattern, SURVEY.md §5.9 — target
violation count: 0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import grid, synth
from ..sources import codec

PSNR_GATE_DB = 40.0


def extract_tiles(spark: SparkSession, sf_dir: str, res: int = 9) -> DataFrame:
    """tiles(+bytes) → decoded pixel stats + cell index, one map-side pass.

    No shuffle past the seed spread: synth → encode → decode → phash →
    cell are all narrow. On a real cluster this is the scan-time
    extraction pass over the trillion-row Iceberg table. A one-shot
    read: it runs ``synth.tiles_plan`` directly, so extracting a batch
    of changed tiles neither builds a snapshot nor evicts a serving one
    from ``synth.tiles_df``'s cache.
    """
    # Fused synth→encode→decode→verify (one Arrow pass); stored bytes
    # would change only the row function's first two lines.
    t = codec.synth_decode_stats_fused(synth.tiles_plan(spark, sf_dir))
    return (
        t.withColumn("cell", grid.cell_col("lon", "lat", res))
        .withColumn(
            "psnr_ok",
            F.when(F.col("fmt") == "png", F.col("psnr_db") == float("inf"))
            .otherwise(F.col("psnr_db") >= PSNR_GATE_DB),
        )
        .withColumn(
            "caption_ok",
            F.col("caption") == F.concat(
                F.lit("tile "), F.col("i").cast("string"),
                F.lit(" kind="), F.col("tile_kind"),
            ),
        )
    )


def ingest_summary(extracted: DataFrame) -> DataFrame:
    """Audit roll-up of the extraction pass (SURVEY.md A2 conditional counts):
    per fmt — row count, decode failures, invariant violations, psnr floor."""
    return extracted.groupBy("fmt").agg(
        F.count("*").alias("n_tiles"),
        F.sum(F.when(~F.col("decoded_ok"), 1).otherwise(0)).alias("n_decode_fail"),
        F.sum(F.when(~F.col("psnr_ok"), 1).otherwise(0)).alias("n_psnr_violations"),
        F.sum(F.when(~F.col("caption_ok"), 1).otherwise(0)).alias(
            "n_caption_violations"
        ),
        F.min(F.when(F.col("fmt") == "jpeg", F.col("psnr_db"))).alias(
            "min_psnr_db"
        ),
        F.countDistinct("pixel_phash").alias("n_distinct_pixel_phash"),
    )
