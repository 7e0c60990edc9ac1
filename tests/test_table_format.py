"""Iceberg-readiness contract (round-4 verdict #8): golden-test the
exact SQL the IcebergFormat emits for every engine write/merge/read
call, and pin that the sandbox ParquetMarkerFormat executes the same
semantics that SQL declares — so the real-cluster swap is mechanical."""

from __future__ import annotations

import pytest

from tree_sitter_analyzer_spark.streaming.table_format import (
    IcebergFormat, ParquetMarkerFormat,
)


def test_iceberg_merge_upsert_sql_golden():
    fmt = IcebergFormat()
    assert fmt.merge_upsert_sql("tiles", "incoming_v", "image_id") == (
        "MERGE INTO lake.engine.tiles t USING incoming_v s "
        "ON t.image_id = s.image_id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def test_iceberg_merge_delta_sql_golden():
    fmt = IcebergFormat()
    assert fmt.merge_delta_sql("tiles", "changes_v", "image_id") == (
        "MERGE INTO lake.engine.tiles t USING changes_v s "
        "ON t.image_id = s.image_id "
        "WHEN MATCHED AND s._op = 'D' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED AND s._op != 'D' THEN INSERT *"
    )


def test_iceberg_snapshot_and_changelog_golden():
    fmt = IcebergFormat(catalog="prod", namespace="vision")
    assert fmt.snapshot_read_sql("tiles", 4242) == (
        "SELECT * FROM prod.vision.tiles VERSION AS OF 4242"
    )
    assert fmt.changelog_read_options("tiles", 4242) == {
        "format": "iceberg",
        "path": "prod.vision.tiles",
        "start-snapshot-id": "4242",
    }
    assert fmt.audit_overwrite_sql("tiles", "s1", "metrics_v") == (
        "INSERT OVERWRITE prod.vision.tiles_audit PARTITION (stage = 's1') "
        "SELECT _pid, rows, committed_at FROM metrics_v"
    )
    assert "PARTITION (stage = 'it''s')" in fmt.audit_overwrite_sql(
        "tiles", "it's", "metrics_v")


def test_iceberg_execute_refuses_in_sandbox():
    with pytest.raises(EnvironmentError):
        IcebergFormat().execute()


def test_parquet_marker_merge_matches_declared_semantics(spark, tmp_path):
    """The emulation must realize exactly what the emitted MERGE SQL
    declares: matched keys take incoming values, unmatched current rows
    survive, delta deletes remove, delta upserts insert-or-update."""
    fmt = ParquetMarkerFormat(str(tmp_path))
    cur = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k INT, v STRING"
    )
    inc = spark.createDataFrame([(2, "B"), (4, "D")], "k INT, v STRING")
    got = {
        (r.k, r.v)
        for r in fmt.merge_upsert(cur, inc, "k").collect()
    }
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "D")}

    ups = spark.createDataFrame([(3, "C"), (5, "E")], "k INT, v STRING")
    dels = spark.createDataFrame([(1,)], "k INT")
    got = {
        (r.k, r.v)
        for r in fmt.merge_delta(cur, ups, dels, "k").collect()
    }
    assert got == {(2, "b"), (3, "C"), (5, "E")}


def test_parquet_marker_commit_resume(spark, tmp_path):
    """Crash-resume: a committed stage with a matching fingerprint is
    read back, not rebuilt (the O8 elision run_stage implements)."""
    fmt = ParquetMarkerFormat(str(tmp_path))
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).selectExpr("id AS k")

    out1 = fmt.commit_stage(spark, "s1", "fp_v1", build)
    assert out1.count() == 5 and len(calls) == 1
    out2 = fmt.commit_stage(spark, "s1", "fp_v1", build)
    assert out2.count() == 5 and len(calls) == 1  # skipped: marker hit
    fmt.snapshot_read(spark, "s1").count()
