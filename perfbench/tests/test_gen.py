"""The generators are pure functions of their seed and sizes."""

import csv
import hashlib

from perfbench import gen


def _tree_hash(root):
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(p.name.encode() + p.read_bytes())
    return h.hexdigest()


def test_etl_drop_is_deterministic(tmp_path):
    a = gen.etl_drop(tmp_path / "a", seed=7, drop_no=3, rows=2000, files=3)
    b = gen.etl_drop(tmp_path / "b", seed=7, drop_no=3, rows=2000, files=3)
    c = gen.etl_drop(tmp_path / "c", seed=8, drop_no=3, rows=2000, files=3)
    assert _tree_hash(tmp_path / "a") == _tree_hash(tmp_path / "b")
    assert _tree_hash(tmp_path / "a") != _tree_hash(tmp_path / "c")
    assert (a.rows, a.rejected, a.duplicates, a.days) == (b.rows, b.rejected, b.duplicates, b.days)


def test_etl_drop_counts_match_its_files(tmp_path):
    d = gen.etl_drop(tmp_path, seed=1, drop_no=0, rows=5000, files=4, days=7)
    rows = []
    for p in sorted(tmp_path.glob("*.csv")):
        with open(p) as f:
            rows.extend(csv.DictReader(f))
    assert len(rows) == d.rows == 5000 + d.duplicates
    assert d.files == 4 and len(d.days) == 7
    assert d.bytes == sum(p.stat().st_size for p in tmp_path.glob("*.csv"))
    blank = sum(1 for r in rows if r["event_type"].strip() == "")
    assert blank == d.kinds["blank_type"]
    keys = [tuple(r.values()) for r in rows]
    assert len(keys) - len(set(keys)) == d.duplicates
    assert d.loaded == d.rows - d.rejected - d.duplicates
    for kind, share in gen.DIRTY_SHARES.items():
        assert abs(d.kinds[kind] / 5000 - share) < 0.01


def test_tables_are_deterministic(tmp_path):
    gen.write_tables(tmp_path / "a", 0.001, seed=42)
    gen.write_tables(tmp_path / "b", 0.001, seed=42)
    assert _tree_hash(tmp_path / "a") == _tree_hash(tmp_path / "b")


def test_stream_file_is_deterministic(tmp_path):
    n1 = gen.stream_file(tmp_path / "x.csv", 5, 9, 100, 1234)
    n2 = gen.stream_file(tmp_path / "y.csv", 5, 9, 100, 1234)
    assert n1 == n2
    assert (tmp_path / "x.csv").read_bytes() == (tmp_path / "y.csv").read_bytes()
    with open(tmp_path / "x.csv") as f:
        rows = list(csv.DictReader(f))
    assert [int(r["event_id"]) for r in rows] == list(range(900, 1000))
    assert {r["due_ms"] for r in rows} == {"1234"}


def test_negative_seeds_are_accepted(tmp_path):
    a = gen.etl_drop(tmp_path / "a", seed=-3, drop_no=0, rows=100, files=1)
    b = gen.etl_drop(tmp_path / "b", seed=-3, drop_no=0, rows=100, files=1)
    assert _tree_hash(tmp_path / "a") == _tree_hash(tmp_path / "b")
    assert a.rows == b.rows
