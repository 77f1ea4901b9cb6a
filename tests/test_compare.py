"""The comparison layer (etl_jobs_spark/compare.py): the DuckDB
oracle views over both fixture layouts, and negative controls for the
driver-shaped frame comparison."""

from __future__ import annotations

import pandas as pd
import pyarrow.parquet as pq
import pytest

from etl_jobs_spark.compare import oracle_views
from tests.conftest import FIXTURE_TABLES, SF_DIR


def test_oracle_views_read_single_file_and_part_directory(tmp_path):
    """A table written as one file and one written as a directory of
    part files both count their source rows."""
    want = {}
    for t in FIXTURE_TABLES:
        tab = pq.read_table(f"{SF_DIR}/{t}.parquet")
        want[t] = tab.num_rows
        if t == "orders":
            parts = tmp_path / "orders.parquet"
            parts.mkdir()
            half = tab.num_rows // 2
            pq.write_table(tab.slice(0, half), parts / "part-0.parquet")
            pq.write_table(tab.slice(half), parts / "part-1.parquet")
        else:
            pq.write_table(tab, tmp_path / f"{t}.parquet")
    con = oracle_views(str(tmp_path))
    got = {
        t: con.sql(f"SELECT count(*) FROM {t}").fetchone()[0]
        for t in FIXTURE_TABLES
    }
    con.close()
    assert got == want
    assert want["orders"] > 1


# ---------------------------------------------------------------------------
# Negative controls: the comparison gate must actually FAIL on the
# mismatch classes it claims to catch (a gate that can't fail is no
# evidence).
# ---------------------------------------------------------------------------


def test_frames_match_negative_controls():
    from etl_jobs_spark.compare import frames_match

    base = pd.DataFrame({"k": [1, 2, 3], "v": [10, 20, 30]})
    frames_match(base.copy(), base.copy())  # sanity: identical passes
    # (a) one value off by one
    off = base.copy()
    off.loc[1, "v"] = 21
    with pytest.raises(AssertionError):
        frames_match(off, base.copy())
    # (b) dropped row
    with pytest.raises(AssertionError):
        frames_match(base.iloc[:2].copy(), base.copy())
    # (c) renamed column
    with pytest.raises(AssertionError):
        frames_match(base.rename(columns={"v": "val"}), base.copy())
    # (d) NULL vs value
    nulled = base.astype({"v": "float64"})
    nulled.loc[2, "v"] = float("nan")
    with pytest.raises(AssertionError):
        frames_match(nulled, base.astype({"v": "float64"}))
    # (e) row-order permutation must PASS (order-insensitive compare)
    frames_match(
        base.iloc[::-1].reset_index(drop=True), base.copy()
    )
    # (f) float within rtol passes, outside fails
    f1 = pd.DataFrame({"x": [1.0000001]})
    f2 = pd.DataFrame({"x": [1.0]})
    frames_match(f1, f2, float_rtol=1e-6)
    with pytest.raises(AssertionError):
        frames_match(f1, f2)
