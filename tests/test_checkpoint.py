"""Checkpoint/resume/audit tests (SURVEY.md I6/I7, O7/O8): stage skip on
matching fingerprint, recompute on changed fingerprint, resume after a
simulated crash, audit lineage rows."""

from __future__ import annotations

import json
import os

from tree_sitter_analyzer_spark import synth
from tree_sitter_analyzer_spark.streaming import checkpoint as ckpt

from .conftest import SF_TINY


def _build_counter(spark, calls):
    def build():
        calls.append(1)
        return synth.tiles_df(spark, SF_TINY).select("image_id", "phash")

    return build


def test_stage_skip_and_recompute(spark, tmp_path):
    root = str(tmp_path / "job")
    calls = []
    build = _build_counter(spark, calls)

    out1 = ckpt.run_stage(spark, root, "extract", "fp_v1", build)
    assert len(calls) == 1 and out1.count() == 1500

    # Same fingerprint → skipped (redundant-phase elision, O8)
    out2 = ckpt.run_stage(spark, root, "extract", "fp_v1", build)
    assert len(calls) == 1 and out2.count() == 1500

    # Changed fingerprint (new extractor version, O7) → recompute
    ckpt.run_stage(spark, root, "extract", "fp_v2", build)
    assert len(calls) == 2


def test_resume_after_crash(spark, tmp_path):
    """A crash between data write and marker commit must recompute (the
    marker is the atomic commit point — readers never trust bare data)."""
    root = str(tmp_path / "job")
    calls = []
    build = _build_counter(spark, calls)
    ckpt.run_stage(spark, root, "extract", "fp", build)
    # simulate crash-before-commit: marker removed, data left behind
    os.remove(os.path.join(root, "extract", "_COMMITTED.json"))
    ckpt.run_stage(spark, root, "extract", "fp", build)
    assert len(calls) == 2
    # the uncommitted attempt's audit rows are replaced, not added to
    marker = json.load(open(os.path.join(root, "extract", "_COMMITTED.json")))
    audit = ckpt.audit_table(spark, root).where("stage = 'extract'").collect()
    assert sum(r["rows"] for r in audit) == marker["rows"] == 1500


def test_audit_keeps_other_stages_and_stage_types(spark, tmp_path):
    """A stage's audit rewrite leaves every other stage's rows alone, and
    a numeric-looking stage name reads back as the string it was."""
    root = str(tmp_path / "job")
    build = _build_counter(spark, [])
    ckpt.run_stage(spark, root, "extract", "fp", build)
    ckpt.run_stage(spark, root, "7", "fp", build)
    ckpt.run_stage(spark, root, "7", "fp2", build)
    rows = {}
    for r in ckpt.audit_table(spark, root).collect():
        rows[r["stage"]] = rows.get(r["stage"], 0) + r["rows"]
    assert rows == {"extract": 1500, "7": 1500}


def test_audit_lineage_rows(spark, tmp_path):
    root = str(tmp_path / "job")
    ckpt.run_stage(
        spark, root, "extract", "fp",
        lambda: synth.tiles_df(spark, SF_TINY).select("image_id"),
    )
    audit = ckpt.audit_table(spark, root).collect()
    assert len(audit) >= 1
    assert sum(r["rows"] for r in audit) == 1500
    assert all(r["stage"] == "extract" for r in audit)


def test_multi_stage_resume_order(spark, tmp_path):
    """Two stages; crash after stage 1 → rerun resumes stage 1 from its
    committed snapshot and only executes stage 2 (resume-from-last-
    committed-snapshot, the north rule)."""
    root = str(tmp_path / "job")
    calls = {"s1": 0, "s2": 0}

    def s1():
        calls["s1"] += 1
        return synth.tiles_df(spark, SF_TINY).select("image_id", "phash")

    def run_s2():
        def s2():
            calls["s2"] += 1
            base = ckpt.run_stage(spark, root, "s1", "fp", s1)
            return base.groupBy("phash").count()

        return ckpt.run_stage(spark, root, "s2", "fp", s2)

    ckpt.run_stage(spark, root, "s1", "fp", s1)  # "crash" after stage 1
    out = run_s2()  # resume
    assert calls == {"s1": 1, "s2": 1}
    assert out.count() > 0
    marker = json.load(open(os.path.join(root, "s2", "_COMMITTED.json")))
    assert marker["input_fingerprint"] == "fp"
