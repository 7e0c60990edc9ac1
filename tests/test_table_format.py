"""Iceberg-readiness contract (round-4 verdict #8): golden-test the
exact SQL the IcebergFormat emits for every engine write/merge/read
call, and pin that the sandbox's delta-mode MERGE algebra executes the
same semantics that SQL declares — so the real-cluster swap is
mechanical."""

from __future__ import annotations

import pytest

from tree_sitter_analyzer_spark.streaming.incremental import merge_delta
from tree_sitter_analyzer_spark.streaming.table_format import IcebergFormat


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


def test_merge_delta_matches_declared_semantics(spark):
    """The emulation must realize exactly what the emitted MERGE SQL
    declares: delta deletes remove, delta upserts insert-or-update, and
    untouched current rows survive."""
    cur = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k INT, v STRING"
    )
    ups = spark.createDataFrame([(3, "C"), (5, "E")], "k INT, v STRING")
    dels = spark.createDataFrame([(1,)], "k INT")
    got = {(r.k, r.v) for r in merge_delta(cur, ups, dels, "k").collect()}
    assert got == {(2, "b"), (3, "C"), (5, "E")}
