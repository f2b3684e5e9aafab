"""Spark-free guard for the measurement tools outside the package: every
script still compiles and the bench harness still imports, so a helper
removed from the engine or from bench.py cannot leave one of them
pointing at a name that no longer exists at import time."""

from __future__ import annotations

import glob
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_compiles(path):
    with open(path, encoding="utf-8") as f:
        compile(f.read(), path, "exec")


def test_bench_imports():
    import bench

    assert callable(bench.main) and callable(bench.tree_cpu_seconds)
