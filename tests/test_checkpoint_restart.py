"""CI pins for the round-14 checkpoint durability axis
(scripts/axis_checkpoint.py): a re-run of a drained streaming query
over its OWN committed checkpoint must resume, never recompute or
duplicate — and the non-recoverable memory-sink modes must refuse
LOUDLY, exactly as Spark documents."""

from __future__ import annotations

import pytest

from etl_jobs_spark import scratch
from etl_jobs_spark.cache import clear_staging_memos
from tests.conftest import SF_DIR


def test_durable_sink_restart_resumes_without_duplication(spark, tmp_path):
    """source_queue drains to per-batch parquet dirs (durable).
    Re-running the identical query under the same pinned scratch
    root resumes from the committed checkpoint: zero new batches,
    and the read-back is IDENTICAL — a replay that appended would
    double rows; a recompute would rewrite files."""
    from etl_jobs_spark.queries.streaming import source_queue

    root = tmp_path / "pin"
    clear_staging_memos()
    with scratch.pinned_scratch(root):
        first = source_queue(spark, SF_DIR).toPandas()
    clear_staging_memos()
    with scratch.pinned_scratch(root):
        again = source_queue(spark, SF_DIR).toPandas()
    assert len(first) > 0
    key = sorted(first.columns)
    a = first.reindex(key, axis=1).sort_values(by=key).reset_index(drop=True)
    b = again.reindex(key, axis=1).sort_values(by=key).reset_index(drop=True)
    assert a.equals(b)


def test_memory_append_sink_restart_refuses_loudly(spark, tmp_path):
    """Append-mode memory sinks are non-fault-tolerant: Spark
    refuses to START over an existing checkpoint ("does not support
    recovering"). The durability contract for these rows is the
    LOUD refusal — pinned so an upstream behavior change (or an
    accidental sink swap) shows up here first."""
    from etl_jobs_spark.queries.analytics_ext import stream_dedup_exact

    root = tmp_path / "pin"
    clear_staging_memos()
    with scratch.pinned_scratch(root):
        first = stream_dedup_exact(spark, SF_DIR).toPandas()
    assert len(first) > 0
    clear_staging_memos()
    with scratch.pinned_scratch(root):
        with pytest.raises(Exception, match="does not support recovering"):
            stream_dedup_exact(spark, SF_DIR).toPandas()
    clear_staging_memos()  # leave no pinned staging for later tests


def test_pinned_scratch_is_deterministic_and_scoped(tmp_path):
    a1 = None
    with scratch.pinned_scratch(tmp_path):
        a1 = scratch.scratch_dir("x")
        a2 = scratch.scratch_dir("x")
        b1 = scratch.scratch_dir("y")
    with scratch.pinned_scratch(tmp_path):
        assert scratch.scratch_dir("x") == a1
        assert scratch.scratch_dir("x") == a2
        assert scratch.scratch_dir("y") == b1
    # outside the pin, allocation is unique again
    u1, u2 = scratch.scratch_dir("x"), scratch.scratch_dir("x")
    assert u1 != u2 and u1.parent != tmp_path
