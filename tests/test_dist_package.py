"""The shipped ``--py-files`` package must be the source tree: every
module in ``dist/tree_sitter_analyzer_spark.zip`` byte-equal to its
source file, and no source module missing. Rebuild with
``python make_package.py`` after changing the package. Spark-free."""

from __future__ import annotations

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "tree_sitter_analyzer_spark"
ZIP = os.path.join(ROOT, "dist", f"{PKG}.zip")


def source_modules() -> set[str]:
    out = set()
    for dirpath, _dirnames, filenames in os.walk(os.path.join(ROOT, PKG)):
        if "__pycache__" in dirpath:
            continue
        for fn in filenames:
            if fn.endswith(".py"):
                out.add(os.path.relpath(os.path.join(dirpath, fn), ROOT))
    return out


def test_dist_zip_matches_source_tree():
    with zipfile.ZipFile(ZIP) as zf:
        shipped = {n for n in zf.namelist() if n.endswith(".py")}
        stale = sorted(
            n for n in shipped & source_modules()
            if zf.read(n) != open(os.path.join(ROOT, n), "rb").read()
        )
    assert not stale, f"stale in {ZIP} (run make_package.py): {stale}"
    assert shipped == source_modules(), (
        f"only in zip: {sorted(shipped - source_modules())}; "
        f"only in source: {sorted(source_modules() - shipped)}"
    )
