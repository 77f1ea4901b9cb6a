"""Driver-shaped result comparison and the DuckDB oracle views.

Users: ``tests/conftest.py`` (the ``oracle`` fixture and
``assert_matches_oracle``), the oracle checker
``scripts/sweep_cost.py``, the streaming axes
``scripts/axis_fault.py`` and ``scripts/axis_checkpoint.py``, and
the shared-session axis ``scripts/axis9_shared_session.py``.

``oracle_views`` opens a DuckDB connection with one view per fixture
table, so every checker reads a fixture directory the same way.

The driver compares a Spark result against its DuckDB oracle by
sorting columns by name, sorting rows by all values, then hashing the
values. ``frames_match`` reproduces that comparison (with an exact
float compare by default — anything needing tolerance must be rounded
in BOTH queries upstream) and raises ``AssertionError`` with a
pointed message on the first difference.

COMPARISON-LAYER CONTRACT — pandas ns-range (round-11 ts axis,
finding 4): both engines' results pass through pandas DataFrames
here, and pandas datetime64[ns] only represents instants in
[1677-09-21, 2262-04-11]. A timestamp column holding era edges
beyond that range (e.g. year 9999) overflows in THIS HARNESS —
``OutOfBoundsDatetime`` or a silently wrapped value — even when the
engine and the oracle both computed it correctly (Spark and DuckDB
are micros-precision and unaffected). If a fixture regeneration ever
introduces far-era dates, a failure here is a harness limit, not an
engine bug: cast such columns to ISO strings in BOTH queries before
comparing. tests/test_degenerate_inputs.py pins this boundary
(marker: ``pandas_ns_range``).
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

from etl_jobs_spark.sources.readers import FIXTURE_TABLES


def oracle_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A new DuckDB connection with one view per fixture table under
    ``sf_dir``. A table staged as a directory of part files (a Spark
    write, such as a scale-ladder replica) is read through a
    ``<t>.parquet/*.parquet`` glob; Spark reads either layout
    natively. DuckDB connections are not thread-safe: open one per
    thread."""
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def normalize_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, then rows by all values — the driver's
    order-insensitive comparison shape."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frames_match(
    got: pd.DataFrame, want: pd.DataFrame, float_rtol: float = 0.0
) -> None:
    """Raise AssertionError unless ``got`` equals ``want`` under the
    driver's order-insensitive, null-safe comparison."""
    got = normalize_frame(got)
    want = normalize_frame(want)
    assert len(got) == len(want), f"row count {len(got)} != oracle {len(want)}"
    assert list(got.columns) == list(want.columns), (
        f"columns {list(got.columns)} != oracle {list(want.columns)}"
    )
    for c in got.columns:
        g, w = got[c], want[c]
        if np.issubdtype(g.dtype, np.floating) or np.issubdtype(w.dtype, np.floating):
            gv = g.astype(float).to_numpy()
            wv = w.astype(float).to_numpy()
            both_nan = np.isnan(gv) & np.isnan(wv)
            close = np.isclose(gv, wv, rtol=float_rtol, atol=0.0)
            bad = ~(both_nan | close)
            assert not bad.any(), (
                f"column {c}: {bad.sum()} mismatches, first: "
                f"{gv[bad][:3]} vs {wv[bad][:3]}"
            )
        else:
            eq = g.reset_index(drop=True).eq(w.reset_index(drop=True)) | (
                g.isna().reset_index(drop=True) & w.isna().reset_index(drop=True)
            )
            assert eq.all(), (
                f"column {c}: first mismatch at {int((~eq).idxmax())}: "
                f"{g[~eq.values].head(3).tolist()} vs {w[~eq.values].head(3).tolist()}"
            )
