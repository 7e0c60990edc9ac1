"""Incremental sync (CDC) + standing queries.

Re-expresses the reference's incremental machinery:
- ``IncrementalSync`` (incremental_sync.py:78-330): diff indexed rows vs
  current state by mtime-then-hash, classify new/modified/deleted/
  unchanged, re-extract only changed → here ``classify_changes`` plus one
  delta-mode MERGE (``merge_delta``: upserts + explicit deletes) keyed on
  image_id — emulated with anti-join + union since no Delta/Iceberg jars
  ship in this image (``table_format.IcebergFormat.merge_delta_sql`` is
  the MERGE INTO it becomes on a real catalog).
- ``hyphae_subscribe`` standing queries (watch_push_bridge.py:30-99):
  a selector re-evaluated on change, deltas pushed → here a Structured
  Streaming query re-running a compiled aggregation per micro-batch
  (tests/test_streaming.py drives it with file sources + memory sink).

Scale: the MERGE classifies with ONE full-outer join keyed on image_id —
at 10^12 rows this is the one unavoidable co-partitioned shuffle; Iceberg
bucketing on image_id makes it storage-partitioned (no exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def classify_changes(current: DataFrame, incoming: DataFrame, key: str,
                     fingerprint: str) -> DataFrame:
    """Full-outer diff → change class per key (incremental_sync.py:29-53
    classes: new/modified/deleted/unchanged)."""
    a = current.select(F.col(key).alias("k"), F.col(fingerprint).alias("fp_old"))
    b = incoming.select(F.col(key).alias("k"), F.col(fingerprint).alias("fp_new"))
    j = a.join(b, "k", "full_outer")
    return j.select(
        F.col("k").alias(key),
        F.when(F.col("fp_old").isNull(), "new")
        .when(F.col("fp_new").isNull(), "deleted")
        .when(F.col("fp_old") != F.col("fp_new"), "modified")
        .otherwise("unchanged")
        .alias("change"),
    )


def merge_delta(current: DataFrame, upserts: DataFrame,
                deletes: DataFrame, key: str) -> DataFrame:
    """Delta-mode MERGE: apply upserts + deletes to the current snapshot.
    Equivalent to Iceberg MERGE INTO ... WHEN MATCHED UPDATE / WHEN NOT
    MATCHED INSERT / (separate) DELETE."""
    survivors = current.join(
        upserts.select(key).unionByName(deletes.select(key)), key, "left_anti"
    )
    return survivors.unionByName(upserts)


# ---------------------------------------------------------------------------
# R178: merkle partition diff — the anti-entropy repair planner (Dynamo/
# Cassandra merkle trees; Iceberg manifest-level diffing): roll every
# partition of two snapshots up to an order-independent digest
# (bit_xor of row hashes — XOR is associative/commutative/idempotent-
# free, so the digest is partition- and order-invariant and merges
# map-side), compare digests, and emit exactly WHICH partitions an
# incremental sync must touch. The snapshots never join row-by-row —
# the compare happens on the partition-count-sized digest frames, which
# is the entire point at 100 TB (row-level classify_changes is what you
# run ONLY on the flagged partitions).
# Snapshot B is a same-SQL deterministic mutation of A (doc_id % 97
# rows get a revision suffix), so both engines build both snapshots
# identically.
# ---------------------------------------------------------------------------

MERKLE_PART = 64   # docs per sub-partition
MERKLE_MOD = 97    # doc_id % MOD == 0 rows differ in snapshot B


def _merkle_hash_spark(text_expr: str) -> str:
    from ..functions import md5int_spark

    return md5int_spark(f"CAST(doc_id AS STRING) || '#' || {text_expr}")


def merkle_diff(docs: DataFrame) -> DataFrame:
    """(source, part, n_rows, digest_a, digest_b, changed): partition
    digests of snapshot A (as stored) vs B (deterministic revision)."""
    hb = _merkle_hash_spark(
        f"(CASE WHEN doc_id % {MERKLE_MOD} = 0 THEN text || ' rev2'"
        " ELSE text END)"
    )
    ha = _merkle_hash_spark("text")
    return (
        docs.selectExpr(
            "source",
            f"doc_id DIV {MERKLE_PART} AS part",
            f"{ha} AS ha",
            f"{hb} AS hb",
        )
        .groupBy("source", "part")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.expr("bit_xor(ha)").cast("bigint").alias("digest_a"),
            F.expr("bit_xor(hb)").cast("bigint").alias("digest_b"),
        )
        .selectExpr(
            "source", "part", "n_rows", "digest_a", "digest_b",
            "CAST(digest_a <> digest_b AS BIGINT) AS changed",
        )
    )


def merkle_diff_oracle() -> str:
    from ..functions import md5int_duck

    ha = md5int_duck("CAST(doc_id AS VARCHAR) || '#' || text")
    hb = md5int_duck(
        f"CAST(doc_id AS VARCHAR) || '#' || (CASE WHEN doc_id % {MERKLE_MOD}"
        " = 0 THEN text || ' rev2' ELSE text END)"
    )
    return f"""
WITH mk_h AS (
  SELECT source, doc_id // {MERKLE_PART} AS part,
         {ha} AS ha, {hb} AS hb
  FROM documents)
SELECT source, part, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(ha) AS BIGINT) AS digest_a,
       CAST(bit_xor(hb) AS BIGINT) AS digest_b,
       CAST(bit_xor(ha) <> bit_xor(hb) AS BIGINT) AS changed
FROM mk_h GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# R206: optimistic-concurrency conflict audit — the snapshot-isolation
# validation every lakehouse commit protocol runs (Iceberg/Delta
# optimistic writers): two deterministic concurrent "transactions"
# (A edits doc_id % 13 rows, B edits doc_id % 17 rows) are reduced to
# their PARTITION TOUCH-SETS (8-doc partitions — finer than merkle's
# 64 so the audit reads real variation, not all-conflict),
# and the commit check is pure set algebra on the partition-count-
# sized frames: partitions touched by both writers conflict, and the
# second committer must retry iff any exist. Row-level edits never
# join — the validation cost is O(partitions), which is the entire
# point of partition-level conflict detection at 100 TB.
# ---------------------------------------------------------------------------

OCC_MOD_A = 13
OCC_MOD_B = 17
OCC_PART = 8   # finer than merkle's 64: an 8-doc partition is touched
               # by writer A with prob ~0.47, by both with ~0.2 — the
               # audit reads real variation instead of all-conflict


def occ_conflict_audit(docs: DataFrame) -> DataFrame:
    """One row: (parts_total, parts_a, parts_b, n_conflict,
    conflict_pm, must_retry)."""
    parts = docs.selectExpr(
        f"doc_id DIV {OCC_PART} AS part",
        f"CAST(doc_id % {OCC_MOD_A} = 0 AS BIGINT) AS ta",
        f"CAST(doc_id % {OCC_MOD_B} = 0 AS BIGINT) AS tb",
    ).groupBy("part").agg(
        F.expr("CAST(max(ta) AS BIGINT) AS touched_a"),
        F.expr("CAST(max(tb) AS BIGINT) AS touched_b"),
    )
    return parts.groupBy().agg(
        F.expr("CAST(count(*) AS BIGINT) AS parts_total"),
        F.expr("CAST(sum(touched_a) AS BIGINT) AS parts_a"),
        F.expr("CAST(sum(touched_b) AS BIGINT) AS parts_b"),
        F.expr(
            "CAST(sum(touched_a * touched_b) AS BIGINT) AS n_conflict"
        ),
    ).selectExpr(
        "parts_total", "parts_a", "parts_b", "n_conflict",
        "(1000 * n_conflict) DIV parts_total AS conflict_pm",
        "CAST(n_conflict > 0 AS BIGINT) AS must_retry",
    )


def occ_conflict_oracle() -> str:
    return f"""
WITH occ_p AS (
  SELECT doc_id // {OCC_PART} AS part,
         max(CAST(doc_id % {OCC_MOD_A} = 0 AS INT)) AS touched_a,
         max(CAST(doc_id % {OCC_MOD_B} = 0 AS INT)) AS touched_b
  FROM documents GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS parts_total,
       CAST(sum(touched_a) AS BIGINT) AS parts_a,
       CAST(sum(touched_b) AS BIGINT) AS parts_b,
       CAST(sum(touched_a * touched_b) AS BIGINT) AS n_conflict,
       CAST((1000 * sum(touched_a * touched_b)) // count(*) AS BIGINT)
         AS conflict_pm,
       CAST(sum(touched_a * touched_b) > 0 AS BIGINT) AS must_retry
FROM occ_p"""
