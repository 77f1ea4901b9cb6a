"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and size arguments:
the same seed writes byte-identical files. The engine only ever sees
the files these functions write; nothing here imports pyspark.

- ``write_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that the registered queries read
  (column names and parquet types match the engine's fixture tables).
- ``etl_drop``: one CSV drop in the ``events`` schema with stated
  shares of nulls, blanks, malformed and out-of-range numbers and
  exact duplicate rows, plus the exact counts a correct load must
  reproduce.
- ``stream_file``: one CSV "message" for the streaming workload.
"""

from __future__ import annotations

import io
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)

#: Valid range of an event's value; drops put 2% of rows outside it.
VALUE_RANGE = (0.0, 1000.0)


def _rng(*keys: int) -> np.random.Generator:
    """A generator keyed by integers of any sign (seeds come from the
    command line)."""
    return np.random.default_rng([k % 2**63 for k in keys])


def _days(rng, n, lo, hi) -> np.ndarray:
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int)
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _ts_us(a: np.ndarray) -> pa.Array:
    return pa.array(a.astype("datetime64[us]"), type=pa.timestamp("us"))


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(int(10_000 * sf), 10),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(int(50_000 * sf), 500),
        "embeddings": max(int(20_000 * sf), 500),
    }


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = _rng(seed)
    n = table_sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    npart = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [P_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
            "o_orderdate": _ts_us(_days(rng, no, "1995-01-01", "2001-08-02")),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _ts_us(_days(rng, nl, "1995-01-02", "2001-11-05")),
        }
    )
    ne = n["events"]
    gaps = rng.exponential(30 * 86400 / ne, ne)
    ts = np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts_us(ts),
            "user_id": pa.array(rng.integers(0, max(nc // 10, 10), ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.8 * rng.normal(size=(nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(out_dir: Path, sf: float, seed: int) -> dict[str, int]:
    """Write every fixture table as ``<out_dir>/<name>.parquet``;
    returns the file sizes in bytes."""
    out_dir.mkdir(parents=True, exist_ok=True)
    sizes = {}
    for name, tab in _tables(sf, seed).items():
        path = out_dir / f"{name}.parquet"
        pq.write_table(tab, path)
        sizes[name] = path.stat().st_size
    return sizes


@dataclass
class Drop:
    """Expected counts of one CSV drop, known from how it was built."""

    rows: int = 0  # data rows in the files, duplicates included
    rejected: int = 0  # rows every correct validator must quarantine
    duplicates: int = 0  # exact copies of clean rows dedup must remove
    days: set = field(default_factory=set)
    kinds: dict = field(default_factory=dict)  # dirty kind -> row count
    bytes: int = 0
    files: int = 0

    @property
    def loaded(self) -> int:
        """Rows the clean table must receive from this drop."""
        return self.rows - self.rejected - self.duplicates


#: Per-row share of each dirty kind in a drop (mutually exclusive).
DIRTY_SHARES = {
    "null_value": 0.03,  # missing number -> mean imputation, kept
    "null_user": 0.02,  # missing user -> constant imputation, kept
    "null_props": 0.02,  # missing props -> constant imputation, kept
    "blank_type": 0.02,  # blank event_type -> rejected
    "malformed_value": 0.02,  # non-numeric text in value -> rejected
    "out_of_range": 0.02,  # value outside VALUE_RANGE -> rejected
}
REJECT_KINDS = ("blank_type", "malformed_value", "out_of_range")
DUP_SHARE = 0.02


def etl_drop(
    out_dir: Path, seed: int, drop_no: int, rows: int, files: int, days: int = 7
) -> Drop:
    """Write one drop of ``files`` CSV files holding ``rows`` base rows
    plus ~2% duplicates, spread over ``days`` distinct days."""
    rng = _rng(seed, drop_no)
    first_id = drop_no * rows * 2
    ids = np.arange(first_id, first_id + rows)
    day0 = np.datetime64("2024-01-01", "D") + drop_no * days
    day = day0 + rng.integers(0, days, rows).astype("timedelta64[D]")
    ts = day.astype("datetime64[us]") + rng.integers(0, 86_400_000_000, rows).astype(
        "timedelta64[us]"
    )
    frame = pd.DataFrame(
        {
            "event_id": ids.astype(str),
            "ts": pd.to_datetime(ts).strftime("%Y-%m-%d %H:%M:%S.%f"),
            "user_id": rng.integers(0, 5000, rows).astype(str),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, rows)],
            "value": np.char.mod("%.2f", np.round(rng.uniform(0.01, 999.0, rows), 2)),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, rows)],
        }
    )
    kinds = list(DIRTY_SHARES)
    p_clean = 1.0 - sum(DIRTY_SHARES.values())
    kind = rng.choice(
        len(kinds) + 1, rows, p=[*DIRTY_SHARES.values(), p_clean]
    )  # index len(kinds) = clean
    d = Drop(rows=rows, files=files)
    for i, k in enumerate(kinds):
        m = kind == i
        d.kinds[k] = int(m.sum())
        if k == "null_value":
            frame.loc[m, "value"] = ""
        elif k == "null_user":
            frame.loc[m, "user_id"] = ""
        elif k == "null_props":
            frame.loc[m, "props"] = ""
        elif k == "blank_type":
            frame.loc[m, "event_type"] = "  "
        elif k == "malformed_value":
            frame.loc[m, "value"] = [
                ("n/a", "12,5", "7.1.3", "1e", "abc")[j]
                for j in rng.integers(0, 5, int(m.sum()))
            ]
        elif k == "out_of_range":
            frame.loc[m, "value"] = np.char.mod(
                "%.2f", rng.choice([-1.0, 1.0], int(m.sum())) * rng.uniform(1001.0, 5000.0, int(m.sum()))
            )
    d.rejected = sum(d.kinds[k] for k in REJECT_KINDS)
    clean_idx = np.flatnonzero(kind == len(kinds))
    dup_idx = rng.choice(clean_idx, int(round(rows * DUP_SHARE)), replace=False)
    d.duplicates = len(dup_idx)
    d.rows = rows + d.duplicates
    d.days = {str(x) for x in np.unique(day)}
    frame = pd.concat([frame, frame.iloc[dup_idx]], ignore_index=True)
    frame = frame.iloc[rng.permutation(len(frame))]
    out_dir.mkdir(parents=True, exist_ok=True)
    for f, part in enumerate(np.array_split(np.arange(len(frame)), files)):
        path = out_dir / f"part-{f:03d}.csv"
        buf = io.StringIO()
        frame.iloc[part].to_csv(buf, index=False)
        path.write_text(buf.getvalue())
        d.bytes += path.stat().st_size
    return d


def stream_file(
    path: Path, seed: int, file_no: int, rows: int, due_ms: int
) -> int:
    """Write one stream message: ``rows`` clean events stamped with the
    time the file was due. Event ids are ``file_no * rows + i`` so every
    event is unique across the run. Returns the file size in bytes."""
    rng = _rng(seed, 1_000_003, file_no)
    first = file_no * rows
    frame = pd.DataFrame(
        {
            "event_id": np.arange(first, first + rows),
            "user_id": rng.integers(0, 5000, rows),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, rows)],
            "value": np.round(rng.uniform(0.01, 999.0, rows), 2),
            "due_ms": np.full(rows, due_ms, dtype=np.int64),
            "file_no": np.full(rows, file_no, dtype=np.int64),
        }
    )
    buf = io.StringIO()
    frame.to_csv(buf, index=False)
    tmp = path.with_name(f".{path.name}.tmp")
    tmp.write_text(buf.getvalue())
    tmp.rename(path)  # a file stream source must never see a half file
    return path.stat().st_size


STREAM_DDL = (
    "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, "
    "due_ms BIGINT, file_no BIGINT"
)
