"""with_global_position / ntile_from_position must be bit-identical
to the single-partition window functions they replace (VERDICT r15
item 2 — the global-window restructure is only admissible if the
declared results cannot change), at ANY partition count."""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_jobs_spark.operators.relational import (
    ntile_from_position,
    with_global_position,
)


@pytest.fixture(scope="module")
def tied_df(spark):
    # heavy ties in the primary (97 distinct values over 5000 rows),
    # unique tiebreak, deterministic content
    return (
        spark.range(5000)
        .select(
            (F.expr("pmod(xxhash64(id), 97)")).alias("a"),
            F.expr("pmod(xxhash64(id + 7), 1000000007)").alias("b"),
            F.col("id").alias("rid"),
        )
        .localCheckpoint()
    )


ORDERS = [
    [("a", "asc"), ("b", "asc")],
    [("a", "desc"), ("b", "asc")],
    [("a", "desc"), ("b", "desc")],
    [("b", "asc")],
]


def _cols(spec):
    return [
        F.col(c).asc() if d == "asc" else F.col(c).desc() for c, d in spec
    ]


@pytest.mark.parametrize("oi", range(len(ORDERS)))
@pytest.mark.parametrize("nparts", [1, 3, 16, 1024])
def test_position_matches_row_number(tied_df, oi, nparts):
    order = _cols(ORDERS[oi])
    want = {
        (r.rid, r.rn)
        for r in tied_df.withColumn(
            "rn", F.row_number().over(W.orderBy(*order)).cast("bigint")
        )
        .select("rid", "rn")
        .collect()
    }
    got = {
        (r.rid, r.rn)
        for r in with_global_position(
            tied_df, order, num_partitions=nparts
        )
        .select("rid", "rn")
        .collect()
    }
    assert got == want


@pytest.mark.parametrize("k", [3, 4, 7, 10, 4999, 5000, 6000])
def test_ntile_matches_window_ntile(tied_df, k):
    order = _cols([("a", "asc"), ("b", "asc")])
    want = {
        (r.rid, r.t)
        for r in tied_df.withColumn(
            "t", F.ntile(k).over(W.orderBy(*order)).cast("bigint")
        )
        .select("rid", "t")
        .collect()
    }
    pos = with_global_position(tied_df, order, out="p", total="n")
    got = {
        (r.rid, r.t)
        for r in pos.withColumn(
            "t", ntile_from_position("p", "n", k).cast("bigint")
        )
        .select("rid", "t")
        .collect()
    }
    assert got == want


def test_total_column(tied_df):
    pos = with_global_position(
        tied_df, _cols([("b", "asc")]), out="p", total="n"
    )
    rows = pos.select("n").distinct().collect()
    assert [r.n for r in rows] == [5000]
