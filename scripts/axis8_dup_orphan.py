"""Axis 8: duplicate-key / orphan-foreign-key differential fixture.

Real ingest data at 100 TB has BOTH of the integrity violations the
clean driver fixtures never exhibit:

  1. exact duplicate primary-key rows (at-least-once delivery,
     replayed partitions, idempotency bugs upstream) — full-row
     verbatim copies;
  2. CONFLICTING duplicate keys (same PK, different payload — a
     source system emitting two versions without a version column);
  3. orphan foreign keys (fact rows whose dimension row is missing —
     late dims, hard deletes, partial loads).

Class 2 is the sharp one: every "latest per key, tie-broken by id"
kernel in the engine assumes the id column is UNIQUE, because in the
clean fixtures it is. Under a conflicting duplicate the pinned sort
key stops being total, the window pick turns arbitrary, and a
1000-executor run returns different answers run-to-run — the exact
silent nondeterminism class the float-order audit closed for SUM.

Build: deterministic (seed pinned, hash-selected victim rows), reads
the sf dir with pyarrow only (no Spark), writes a mutated copy to
DST. Run the differential with:

    python scripts/axis8_dup_orphan.py [src_sf_dir]
    python scripts/sweep_cost.py /tmp/etl_jobs_spark_axis8

Findings and dispositions: docs/FLOAT_ORDER_AUDIT.md round-12
axis-8 section; permanent CI sample in
tests/test_degenerate_inputs.py.
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_jobs_spark.sources.readers import FIXTURE_TABLES  # noqa: E402

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
DST = "/tmp/etl_jobs_spark_axis8"

#: per-table primary key (for the duplicate classes) and the payload
#: columns a conflicting duplicate rewrites.
PK = {
    "customer": ("c_custkey", ["c_acctbal", "c_mktsegment"]),
    "orders": ("o_orderkey", ["o_totalprice", "o_orderstatus"]),
    "events": ("event_id", ["value", "event_type"]),
    "documents": ("doc_id", ["text"]),
    "part": ("p_partkey", ["p_retailprice"]),
    "embeddings": ("vec_id", ["label"]),
}

#: orphan injections: (table, fk column, absent key value). The
#: sentinel keys are far outside every sf's id range.
ORPHANS = {
    "lineitem": [("l_orderkey", 888_000_001), ("l_partkey", 888_000_002),
                 ("l_suppkey", 888_000_003)],
    "orders": [("o_custkey", 888_000_004)],
    "events": [("user_id", 888_000_005)],
    "nation": [("n_regionkey", 888_000_006)],
}

DUP_FRAC = 0.01  # fraction of rows duplicated per class
ORPHAN_ROWS = 7  # orphan rows injected per fk column


def _pick(n: int, frac: float, salt: int) -> np.ndarray:
    """Deterministic victim-row indices: ceil(n*frac) DISTINCT rows,
    evenly spread, offset by salt — stable across runs and hosts.

    linspace over [0, n) never wraps, so the picks are guaranteed
    distinct; the previous (arange*step + salt) % n could wrap and
    collide (step rounds down), silently mutating fewer rows than
    the recorded fraction (round-12 ADVICE)."""
    take = max(1, min(n, int(np.ceil(n * frac))))
    idx = (np.linspace(0, n, num=take, endpoint=False).astype(np.int64)
           + salt) % n
    return np.unique(idx)


def build(src: str = SRC, dst: str = DST) -> str:
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for t in FIXTURE_TABLES:
        tbl = pa.Table.from_pandas(
            pq.read_table(f"{src}/{t}.parquet").to_pandas(),
            preserve_index=False,
        )
        df = tbl.to_pandas()
        parts = [df]
        n = len(df)
        if t in PK and n:
            key, payload = PK[t]
            # class 1: exact full-row duplicates
            exact = df.iloc[_pick(n, DUP_FRAC, 1)].copy()
            parts.append(exact)
            # class 2: conflicting duplicates — same PK, rewritten
            # payload (numeric: negated + 0.5 shift keeps it
            # in-domain finite; string: tagged copy)
            conf = df.iloc[_pick(n, DUP_FRAC, 3)].copy()
            for c in payload:
                if conf[c].dtype.kind == "i":
                    conf[c] = -(conf[c]) - 1
                elif conf[c].dtype.kind == "f":
                    conf[c] = -(conf[c].astype("float64")) - 0.5
                else:
                    conf[c] = conf[c].astype("object").map(
                        lambda s: None if s is None else f"DUPV2:{s}"
                    )
            parts.append(conf)
        if t in ORPHANS and n:
            for fk, sentinel in ORPHANS[t]:
                orph = df.iloc[_pick(n, ORPHAN_ROWS / n, 5)].copy()
                orph[fk] = np.asarray(
                    [sentinel + i for i in range(len(orph))],
                    dtype=df[fk].dtype,
                )
                parts.append(orph)
        import pandas as pd

        out = pd.concat(parts, ignore_index=True)
        pq.write_table(
            pa.Table.from_pandas(out, schema=tbl.schema,
                                 preserve_index=False),
            f"{dst}/{t}.parquet",
        )
        print(f"{t}: {n} -> {len(out)} rows", file=sys.stderr)
    return dst


if __name__ == "__main__":
    build()
    print(DST)
