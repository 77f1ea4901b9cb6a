"""Every ``scripts/*.py`` imports as a module without starting Spark:
each guards its ``main()``. An import of a helper that moved or was
deleted (``from bench import …``, ``from scripts.opt_plans import …``)
fails here instead of at the next measurement run."""

from __future__ import annotations

import importlib
from pathlib import Path

import pytest
from pyspark import SparkContext

SCRIPTS = sorted(
    p.stem for p in (Path(__file__).resolve().parents[1] / "scripts").glob("*.py")
)


@pytest.mark.parametrize("name", SCRIPTS)
def test_script_imports_without_starting_spark(name):
    before = SparkContext._active_spark_context
    importlib.import_module(f"scripts.{name}")
    assert SparkContext._active_spark_context is before
