"""BENCHMARK.json and the benchmark's own metric table agree."""

import json
from pathlib import Path

import pytest

from perfbench.metrics import END_TO_END, PER_LAYER

SPEC = Path(__file__).resolve().parents[2] / "BENCHMARK.json"


@pytest.mark.skipif(not SPEC.is_file(), reason="no BENCHMARK.json beside the benchmark")
def test_benchmark_json_lists_the_printed_metrics():
    spec = json.loads(SPEC.read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )
