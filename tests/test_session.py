"""Session defaults that need no running Spark."""

from __future__ import annotations

import importlib
import os

import pytest

from tree_sitter_analyzer_spark import session


def test_default_cpus_follow_affinity_unless_overridden(monkeypatch):
    try:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        assert importlib.reload(session).DEFAULT_CPUS == len(os.sched_getaffinity(0))
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
        assert importlib.reload(session).DEFAULT_CPUS == 3
    finally:
        monkeypatch.undo()
        importlib.reload(session)


def test_cli_cpus_default_to_session_default(monkeypatch):
    """No --cpus on the command line: the CLI asks for the session default."""
    from tree_sitter_analyzer_spark.__main__ import main

    class Started(Exception):
        pass

    asked = []

    def fake_get_spark(cpus=None, **_kw):
        asked.append(cpus)
        raise Started

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    for argv in (["run", "knn"], ["explain", "knn"], ["select", "take 1"],
                 ["sql", "SELECT 1"]):
        with pytest.raises(Started):
            main(argv)
    assert asked == [None] * 4
