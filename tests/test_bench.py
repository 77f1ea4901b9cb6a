"""``bench.py``: the frozen census, the comparison rule and one
smoke run of the CLI (two queries at the test scale factor)."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from pathlib import Path

import pytest

import bench
from etl_jobs_spark import registry
from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]
SMOKE = ["q1_pricing_summary", "stream_window_counts"]


def test_census_is_frozen_and_registered():
    assert len(bench.CENSUS) == len(set(bench.CENSUS)) == 240
    assert set(bench.CENSUS) <= set(registry.all_queries())
    assert set(bench.FLAGSHIP) <= set(bench.CENSUS)
    latest = json.loads((REPO / "docs" / "BENCH_FULL_LATEST.json").read_text())
    assert list(latest["queries"]) == bench.CENSUS


def _rec(tag, sf=0.1, cpus=4, queries=None, cpu=None):
    rec = {"tag": tag, "sf": sf, "queries": queries or {"a": 1.0, "b": 2.0}}
    if cpus is not None:
        rec["cpus"] = cpus
    if cpu is not None:
        rec["queries_layers"] = {q: {"task_cpu_ms": cpu} for q in rec["queries"]}
    return rec


def test_compare_without_a_prior_record():
    cur = _rec("new", cpu=10)
    assert bench.compare(cur, []) == {
        "ratio_vs_prev_raw": None,
        "ratio_vs_prev_task_cpu": None,
        "ratio_prev_tag": None,
        "ratio_n_common": 0,
    }


def test_compare_skips_ineligible_records():
    cur = _rec("new", cpu=10)
    history = [
        _rec("new", cpu=5),  # the same tag
        _rec("other_sf", sf=0.01, cpu=5),
        _rec("other_cpus", cpus=32, cpu=5),
        _rec("no_cpus", cpus=None, cpu=5),
    ]
    assert bench.compare(cur, history)["ratio_prev_tag"] is None


def test_compare_takes_the_latest_eligible_record_over_the_common_subset():
    history = [
        _rec("old", queries={"a": 1.0, "b": 1.0}, cpu=20),
        _rec("prev", queries={"a": 2.0, "b": 4.0, "gone": 100.0}, cpu=20),
        _rec("new", cpu=1),
        _rec("prev_sf", sf=0.01, cpu=1),
    ]
    cur = _rec("new", queries={"a": 1.0, "b": 2.0, "added": 50.0}, cpu=10)
    assert bench.compare(cur, history) == {
        "ratio_vs_prev_raw": 0.5,  # (1 + 2) / (2 + 4)
        "ratio_vs_prev_task_cpu": 0.5,  # (10 + 10) / (20 + 20)
        "ratio_prev_tag": "prev",
        "ratio_n_common": 2,
    }


def test_compare_without_prior_layers_gives_no_cpu_ratio():
    out = bench.compare(_rec("new", cpu=10), [_rec("prev")])
    assert out["ratio_vs_prev_raw"] == 1.0
    assert out["ratio_vs_prev_task_cpu"] is None


def test_host_cpus_defaults_to_the_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert bench.host_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert bench.host_cpus() == 3


def _bench(only: str) -> subprocess.CompletedProcess:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_DIR,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_BENCH_ONLY=only,
    )
    return subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )


def _docs_state() -> dict:
    return {
        str(p.relative_to(REPO)): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in (REPO / "docs").rglob("*")
    }


def test_unknown_census_name_exits_1():
    r = _bench("q1_pricing_summary,no_such_query,also_missing")
    assert r.returncode == 1
    assert "also_missing, no_such_query" in r.stderr
    assert r.stdout == ""


@pytest.mark.skipif(not Path(SF_DIR).is_dir(), reason="no fixture data")
def test_smoke_run_prints_one_line_and_writes_no_record():
    before = _docs_state()
    r = _bench(",".join(SMOKE))
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    assert len(lines) == 1
    out = json.loads(lines[0])
    assert out["metric"] == bench.METRIC
    assert out["value"] > 0
    assert set(out["queries"]) == set(SMOKE)
    assert out["cpus"] == 2
    rows = dict(
        (m[1], (int(m[2]), int(m[3])))
        for m in re.finditer(r"^# (\w+): [\d.]+s jobs=(\d+) driver_ms=(\d+)", r.stderr, re.M)
    )
    assert set(rows) == set(SMOKE)
    assert all(jobs > 0 for jobs, _ in rows.values())
    assert _docs_state() == before
