"""Custom Python DataSource contract: partition planning + filter
pushdown semantics (unit-level), end-to-end parity via the oracle
sweep (source_custom_pushdown)."""

from __future__ import annotations

import json

import pytest

from etl_jobs_spark.sources.ledger_source import LedgerReader


def _write_ledger(tmp_path, files):
    for name, recs in files.items():
        (tmp_path / name).write_text(
            "\n".join(json.dumps(r) for r in recs) + "\n"
        )


def _rows(reader, parts):
    """Flatten read() output to plain tuples. The batch reader
    yields pyarrow RecordBatches since the r15 optimization (Arrow
    crosses the boundary instead of pickled rows — same rows, same
    order); unit tests normalize both shapes so the CONTRACT under
    test (partitioning, pushdown) stays shape-agnostic."""
    out = []
    for p in parts:
        for item in reader.read(p):
            if hasattr(item, "to_pylist"):  # pyarrow.RecordBatch
                out.extend(
                    tuple(d.values()) for d in item.to_pylist()
                )
            else:
                out.append(tuple(item))
    return out


def test_one_partition_per_file(tmp_path):
    _write_ledger(
        tmp_path,
        {
            "a.json": [{"event_id": 1, "user_id": 1, "event_type": "x", "value": 1.0}],
            "b.json": [{"event_id": 2, "user_id": 2, "event_type": "y", "value": 2.0}],
            "ignored.txt": [],
        },
    )
    r = LedgerReader({"path": str(tmp_path)})
    parts = r.partitions()
    assert len(parts) == 2  # .txt excluded
    rows = _rows(r, parts)
    assert sorted(row[0] for row in rows) == [1, 2]


def test_equality_filter_consumed_and_applied(tmp_path):
    from pyspark.sql.datasource import EqualTo

    _write_ledger(
        tmp_path,
        {
            "a.json": [
                {"event_id": 1, "user_id": 1, "event_type": "buy", "value": 1.0},
                {"event_id": 2, "user_id": 2, "event_type": "view", "value": 2.0},
            ]
        },
    )
    r = LedgerReader({"path": str(tmp_path)})
    remaining = list(r.pushFilters([EqualTo(("event_type",), "buy")]))
    assert remaining == []  # consumed — Spark won't re-evaluate
    rows = _rows(r, r.partitions())
    assert [row[0] for row in rows] == [1]


def test_arrow_batch_read_matches_row_path(tmp_path):
    """r15 optimization regression pin: the Arrow NDJSON fast path
    must yield RecordBatches in the declared schema/order with
    exactly the rows the row-at-a-time path produced (including a
    missing field -> NULL, double round-trip, and blank-line files
    falling back to the row path)."""
    import pyarrow as pa

    _write_ledger(
        tmp_path,
        {
            "a.json": [
                {"event_id": 1, "user_id": 1, "event_type": "x",
                 "value": 0.1},
                # missing `value` -> NULL on both paths
                {"event_id": 2, "user_id": 2, "event_type": "y"},
            ]
        },
    )
    r = LedgerReader({"path": str(tmp_path)})
    [part] = r.partitions()
    items = list(r.read(part))
    assert items and isinstance(items[0], pa.RecordBatch)
    assert items[0].schema.names == [
        "event_id", "user_id", "event_type", "value",
    ]
    got = [tuple(d.values()) for b in items for d in b.to_pylist()]
    assert got == [(1, 1, "x", 0.1), (2, 2, "y", None)]
    # blank interior line: pyarrow rejects the file, the row path
    # must serve it identically (the fallback tolerance contract)
    (tmp_path / "b.json").write_text(
        json.dumps({"event_id": 3, "user_id": 3, "event_type": "z",
                    "value": 2.5}) + "\n\n"
    )
    r2 = LedgerReader({"path": str(tmp_path)})
    rows = _rows(r2, r2.partitions())
    assert (3, 3, "z", 2.5) in rows and len(rows) == 3


def test_unsupported_filter_returned(tmp_path):
    from pyspark.sql.datasource import EqualTo

    _write_ledger(tmp_path, {"a.json": []})
    r = LedgerReader({"path": str(tmp_path)})
    other = EqualTo(("user_id",), 7)
    remaining = list(r.pushFilters([other]))
    assert remaining == [other]  # handed back to Spark


def test_stream_reader_offsets_and_replay(tmp_path):
    """Offset contract: read() returns only new files (as an
    ITERATOR — PySpark's simple-reader wrapper probes an empty
    same-offset batch with next(), which crashed every
    restart-from-checkpoint while read() returned a list; round-13
    fault axis) and advances the offset; readBetweenOffsets()
    replays a range identically."""
    from etl_jobs_spark.sources.ledger_source import LedgerStreamReader

    _write_ledger(
        tmp_path,
        {"a.json": [{"event_id": 1, "user_id": 1, "event_type": "x", "value": 1.0}]},
    )
    r = LedgerStreamReader({"path": str(tmp_path)})
    start = r.initialOffset()
    rows1, off1 = r.read(start)
    assert iter(rows1) is rows1, "read() must return an iterator"
    assert [row[0] for row in rows1] == [1]
    # nothing new: empty batch, offset stable — and the wrapper's
    # next()-based emptiness probe must work on the return value
    rows2, off2 = r.read(off1)
    with pytest.raises(StopIteration):
        next(rows2)
    assert off2 == off1
    # arrival: only the new file is read
    _write_ledger(
        tmp_path,
        {"b.json": [{"event_id": 2, "user_id": 2, "event_type": "y", "value": 2.0}]},
    )
    rows3, off3 = r.read(off1)
    assert [row[0] for row in rows3] == [2]
    # replay of (start, off3] equals the union of both reads
    replay = r.readBetweenOffsets(start, off3)
    assert sorted(row[0] for row in replay) == [1, 2]


@pytest.mark.parametrize(
    "start_files, end_files",
    [
        (["a.json", "c.json", "gone.json"], ["a.json", "b.json", "c.json", "d.json"]),
        (["x.json", "y.json"], ["a.json", "b.json", "c.json", "d.json"]),
    ],
    ids=["overlapping", "disjoint"],
)
def test_stream_reader_new_files_per_offset(tmp_path, start_files, end_files):
    """Both offset diffs read exactly the files of the later offset that
    the earlier one lacks, in file order."""
    from etl_jobs_spark.sources.ledger_source import LedgerStreamReader

    _write_ledger(
        tmp_path,
        {
            name: [{"event_id": i, "user_id": i, "event_type": "x", "value": 1.0}]
            for i, name in enumerate(end_files)
        },
    )
    want = [i for i, name in enumerate(end_files) if name not in start_files]
    r = LedgerStreamReader({"path": str(tmp_path)})
    rows, off = r.read({"files": start_files})
    assert [row[0] for row in rows] == want
    assert off == {"files": end_files}
    start, end = {"files": start_files}, {"files": end_files}
    assert [row[0] for row in r.readBetweenOffsets(start, end)] == want


def test_batch_to_jsonl_byte_identical_to_json_dumps():
    """The r16 columnar serializer must produce byte-identical JSONL
    to the old per-row json.dumps loop for the ledger schema,
    including nulls, escapes, non-ASCII, negative zero, and
    non-finite doubles."""
    import json
    import math

    import pyarrow as pa

    from etl_jobs_spark.sources.ledger_source import _batch_to_jsonl

    batch = pa.record_batch(
        {
            "event_id": pa.array([1, None, -7, 2**62], pa.int64()),
            "user_id": pa.array([0, 5, None, 99], pa.int64()),
            "event_type": pa.array(
                ['a"b\\c\n\t', "naïve☃", None, ""], pa.string()
            ),
            "value": pa.array(
                [-0.0, 1e-17, float("nan"), float("-inf")], pa.float64()
            ),
        }
    )
    want = "".join(json.dumps(r) + "\n" for r in batch.to_pylist())
    assert _batch_to_jsonl(batch) == want

    # the happy-path shape every ledger write actually serializes
    n = 2000
    batch2 = pa.record_batch(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "user_id": pa.array([i % 97 for i in range(n)], pa.int64()),
            "event_type": pa.array(
                ["click" if i % 3 else "purchase" for i in range(n)]
            ),
            "value": pa.array(
                [(i % 1007) * 0.0137 if i % 11 else None for i in range(n)],
                pa.float64(),
            ),
        }
    )
    want2 = "".join(json.dumps(r) + "\n" for r in batch2.to_pylist())
    assert _batch_to_jsonl(batch2) == want2


def test_batch_to_jsonl_escaped_field_names_and_zero_columns():
    """Field names that json.dumps escapes (non-ASCII, control
    characters, quotes) keep byte identity with the per-row loop; a
    zero-column batch serializes to nothing."""
    import json

    import pyarrow as pa

    from etl_jobs_spark.sources.ledger_source import _batch_to_jsonl

    for name in ("café", "tab\there", 'q"uote', "pct%s"):
        batch = pa.record_batch({name: pa.array([1, None], pa.int64())})
        want = "".join(json.dumps(r) + "\n" for r in batch.to_pylist())
        assert _batch_to_jsonl(batch) == want, name
    assert _batch_to_jsonl(pa.record_batch({})) == ""
