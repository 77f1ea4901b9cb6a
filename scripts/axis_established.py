"""Rebuild the established-axis fixture dirs — shuffle / null /
unicode — for the per-round full-registry re-run.

Same mutation rules as the permanent CI fixtures
(tests/test_order_invariance.py and friends); lived as an inline
round-12 script, committed in round 13 so the axes are reproducible
from the repo:

- shuffle: row-permuted tables, 3 part files, 97-row row groups —
  catches float-order / first-row / partition-order dependence;
- null: 5% NULLs injected into the nullable business columns —
  catches silent NULL-handling divergence between engines;
- unicode: adversarial text (combining marks, ZWSP, BOM, emoji,
  CJK, NBSP, control whitespace) prepended to 10% of documents —
  catches byte-vs-codepoint and normalization divergence.

Usage: python scripts/axis_established.py [sf_dir]
Then:  python scripts/sweep_cost.py /tmp/axis_shuffled   (etc.)
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_jobs_spark.sources.readers import FIXTURE_TABLES  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

#: 5%-NULL injection targets (nullable business columns only — keys
#: stay intact; the dup/orphan axis owns key mutations).
NULLABLE = {
    "events": ["value", "event_type", "props"],
    "customer": ["c_acctbal"],
    "lineitem": ["l_discount", "l_tax"],
    "documents": ["text", "lang"],
}

#: Adversarial text fragments for the unicode axis.
ADV = [
    "café straße", "nbsp token", "zero​width",
    "emoji \U0001F600 mix", "tab\tand\nnewline", "日本語 text",
    "Å ring", "﻿bom lead",
]


def build_shuffled(dst: str = "/tmp/axis_shuffled") -> str:
    shutil.rmtree(dst, ignore_errors=True)
    rng = np.random.default_rng(0x5EED)
    for t in FIXTURE_TABLES:
        tab = pq.read_table(f"{SF}/{t}.parquet")
        n = tab.num_rows
        tab = tab.take(pa.array(rng.permutation(n)))
        d = f"{dst}/{t}.parquet"
        os.makedirs(d)
        cuts = np.array_split(np.arange(n), 3 if n >= 3 else 1)
        for i, idx in enumerate(cuts):
            pq.write_table(
                tab.slice(int(idx[0]), len(idx)),
                f"{d}/part-{i}.parquet",
                row_group_size=97,
            )
    return dst


def build_nulled(dst: str = "/tmp/axis_nulled") -> str:
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    rng = np.random.default_rng(77)
    for t in FIXTURE_TABLES:
        tab = pq.read_table(f"{SF}/{t}.parquet")
        for col in NULLABLE.get(t, []):
            mask = pa.array(rng.random(tab.num_rows) < 0.05)
            arr = pc.if_else(
                mask,
                pa.scalar(None, tab.schema.field(col).type),
                tab[col],
            )
            tab = tab.set_column(
                tab.schema.get_field_index(col), col, arr
            )
        pq.write_table(tab, f"{dst}/{t}.parquet")
    return dst


def build_unicode(dst: str = "/tmp/axis_unicode") -> str:
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    rng = np.random.default_rng(0x0C0DE)
    for t in FIXTURE_TABLES:
        tab = pq.read_table(f"{SF}/{t}.parquet")
        if t == "documents":
            texts = tab["text"].to_pylist()
            k = max(1, len(texts) // 10)
            idx = rng.choice(len(texts), size=k, replace=False)
            for j, i in enumerate(idx):
                base = texts[i] or ""
                texts[i] = ADV[j % len(ADV)] + " " + base
            tab = tab.set_column(
                tab.schema.get_field_index("text"),
                "text",
                pa.array(texts, pa.string()),
            )
        pq.write_table(tab, f"{dst}/{t}.parquet")
    return dst


if __name__ == "__main__":
    print("shuffled ->", build_shuffled())
    print("nulled ->", build_nulled())
    print("unicode ->", build_unicode())
