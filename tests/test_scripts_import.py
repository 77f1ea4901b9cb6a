"""Every ``scripts/*.py`` imports as a module without starting Spark:
each guards its ``main()``. An import of a helper that moved or was
deleted (``from bench import …``, ``from scripts.plan_census import …``)
fails here instead of at the next measurement run. The scripts also run
from any working directory, Python DataSource workers included."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark import SparkContext

from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]
SCRIPTS = sorted(p.stem for p in (REPO / "scripts").glob("*.py"))


@pytest.mark.parametrize("name", SCRIPTS)
def test_script_imports_without_starting_spark(name):
    before = SparkContext._active_spark_context
    importlib.import_module(f"scripts.{name}")
    assert SparkContext._active_spark_context is before


def test_oracle_checker_runs_outside_the_repo_root(tmp_path):
    """``sink_custom_ledger`` writes through a Python DataSource, whose
    worker imports ``etl_jobs_spark``: the session puts the package on
    the workers' path, so the working directory does not matter."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="2g")
    env.pop("PYTHONPATH", None)
    r = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "sweep_cost.py"), SF_DIR,
         "sink_custom_ledger"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, (r.stdout[-1500:], r.stderr[-1500:])
    assert "ALL 1 MATCH" in r.stdout
