"""Percentile rule and result digest of the benchmark."""

import datetime as dt
import decimal
import statistics

import numpy as np
import pytest

from perfbench.stats import MemorySampler, digest, min_samples, percentile


@pytest.mark.parametrize("n", [2, 3, 10, 37, 100])
def test_percentile_matches_statistics_inclusive(n):
    xs = [float((i * 7919) % 101) for i in range(n)]
    q = statistics.quantiles(xs, n=10, method="inclusive")
    assert percentile(xs, 0.5) == pytest.approx(statistics.median(xs))
    assert percentile(xs, 0.9) == pytest.approx(q[8])


def test_percentile_edges():
    assert percentile([5.0], 0.9) == 5.0
    assert percentile([1.0, 2.0], 0.0) == 1.0
    assert percentile([1.0, 2.0], 1.0) == 2.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_sample_count_rule():
    # ten samples must lie beyond the percentile
    assert min_samples(0.5) == 20
    assert min_samples(0.9) == 100
    assert min_samples(0.99) == 1000


def test_digest_ignores_column_and_row_order():
    a = digest(["b", "a"], [(1, "x"), (2.5, None), (3, "z")])
    b = digest(["a", "b"], [("z", 3), (None, 2.5), ("x", 1)])
    assert a == b


def test_digest_ignores_numeric_and_temporal_types():
    a = digest(
        ["n", "d"],
        [(np.int32(3), dt.date(2024, 1, 2)), (decimal.Decimal("1.50"), dt.date(2024, 1, 3))],
    )
    b = digest(
        ["n", "d"],
        [(3.0, dt.datetime(2024, 1, 2)), (1.5, dt.datetime(2024, 1, 3))],
    )
    assert a == b


def test_digest_sees_values_nulls_and_multiplicity():
    base = digest(["a"], [(1,), (2,)])
    assert digest(["a"], [(1,), (3,)]) != base
    assert digest(["a"], [(1,), (None,)]) != base
    assert digest(["a"], [(1,), (2,), (2,)])[0] == 3
    assert digest(["a"], [(1,), (2,), (2,)]) != base
    assert digest(["a"], [([1, 2],)]) != digest(["a"], [([2, 1],)])


def test_digest_is_stable():
    # pinned: the digest must not depend on the process (hash seeds) or
    # on the Python/NumPy build
    got = digest(["b", "a"], [(1, "x"), (2.5, None), (decimal.Decimal("3.00"), "z")])
    assert got == (3, "cffb72887b6d53b0")


def test_memory_sampler_sees_this_process():
    with MemorySampler(interval_s=0.01) as m:
        block = bytearray(64 * 2**20)  # touched: 64 MB more PSS
        block[:: 4096] = b"x" * len(block[:: 4096])
    assert m.peak_mb > 64
