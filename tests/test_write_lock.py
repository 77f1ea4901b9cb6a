"""Unit tests for the table write lock (round-14 write-path
concurrency contract; engine-level sweep in
scripts/axis_concurrent.py)."""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest

from etl_jobs_spark.sources.write_lock import (
    ConcurrentWriteError,
    acquire_table_lock,
    lock_path,
    release_table_lock,
    table_write_lock,
)


def test_exclusive_and_released(tmp_path):
    root = tmp_path / "tbl"
    with table_write_lock(root):
        assert lock_path(root).exists()
        with pytest.raises(ConcurrentWriteError):
            acquire_table_lock(root, timeout_sec=0.2)
    # released on exit: taken again at once, with no wait
    release_table_lock(acquire_table_lock(root, timeout_sec=0))


def test_waiter_proceeds_after_holder_releases(tmp_path):
    root = tmp_path / "tbl"
    fd = acquire_table_lock(root)
    got = []

    def waiter():
        with table_write_lock(root, timeout_sec=5.0):
            got.append(time.monotonic())

    t = threading.Thread(target=waiter)
    t.start()
    time.sleep(0.3)
    released_at = time.monotonic()
    release_table_lock(fd)
    t.join(timeout=5)
    assert got and got[0] >= released_at


def test_lock_is_sibling_not_child(tmp_path):
    # overwrite mode deletes the root's contents — the lock must
    # survive that, so it lives NEXT TO the root
    p = lock_path(tmp_path / "tbl")
    assert p.parent == tmp_path and p.name == ".tbl.__write_lock"


def test_uri_and_object_store_paths(tmp_path):
    assert lock_path((tmp_path / "t").as_uri()) == lock_path(tmp_path / "t")
    assert lock_path("s3a://bucket/table") is None
    # non-posix store: lock degrades to a documented no-op
    with table_write_lock("s3a://bucket/table"):
        pass


def test_locked_sink_parquet_serializes_two_appenders(spark, tmp_path):
    """Two concurrent appends through the locked sink land BOTH
    writers' rows exactly — the r13 torn-append hazard closed."""
    from pyspark.sql import functions as F

    from etl_jobs_spark.sources import writers

    root = str(tmp_path / "tbl")

    def make(tag):
        return spark.range(5000).select(
            F.col("id").alias("event_id"), F.lit(tag).alias("writer")
        )

    errs = []

    def w(tag):
        try:
            writers.sink_parquet(make(tag), root, mode="append")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=w, args=(t,)) for t in ("A", "B")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    counts = {
        r["writer"]: r["n"]
        for r in spark.read.parquet(root)
        .groupBy("writer")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert counts == {"A": 5000, "B": 5000}


def test_partition_direct_write_leaves_no_visible_debris(spark, tmp_path):
    """sink_parquet_partitions_direct locks each partition directory,
    so the lock files sit inside the table root. They must be hidden
    from Spark's file index: the table reads back, every non-hidden
    file under the root is parquet, and the only lock artefacts are
    the hidden ``.<col>=<value>.__write_lock`` files."""
    from etl_jobs_spark.sources import writers

    root = tmp_path / "tbl"
    rows = [(1, "mon"), (2, "tue"), (3, "tue")]
    df = spark.createDataFrame(rows, "event_id BIGINT, day STRING")
    writers.sink_parquet_partitions_direct(df, str(root), "day")

    back = spark.read.parquet(str(root))
    assert {(r["event_id"], r["day"]) for r in back.collect()} == set(rows)
    visible = [
        p.relative_to(root)
        for p in root.rglob("*")
        if p.is_file()
        and not any(
            part.startswith((".", "_")) for part in p.relative_to(root).parts
        )
    ]
    assert visible and all(p.suffix == ".parquet" for p in visible), visible
    locks = sorted(p.name for p in root.iterdir() if "__write_lock" in p.name)
    assert locks == [".day=mon.__write_lock", ".day=tue.__write_lock"]


def test_crashed_holder_lock_released_by_kernel(tmp_path):
    """A holder SIGKILLed mid-write loses its lock with its process:
    the next writer takes it at once, with no staleness wait."""
    import signal
    import subprocess

    root = tmp_path / "tbl"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # leaving the with block closes the pipe and reaps the child
    with subprocess.Popen(
        [
            sys.executable,
            "-c",
            f"import sys, time\nsys.path.insert(0, {repo!r})\n"
            "from etl_jobs_spark.sources.write_lock import acquire_table_lock\n"
            f"acquire_table_lock({str(root)!r})\n"
            "print('HELD', flush=True)\n"
            "time.sleep(300)\n",
        ],
        stdout=subprocess.PIPE,
        text=True,
    ) as child:
        try:
            assert child.stdout.readline().strip() == "HELD"
            with pytest.raises(ConcurrentWriteError):
                acquire_table_lock(root, timeout_sec=0)
        finally:
            child.send_signal(signal.SIGKILL)
    t0 = time.monotonic()
    release_table_lock(acquire_table_lock(root, timeout_sec=5.0))
    assert time.monotonic() - t0 < 2.0


def test_concurrent_acquirers_never_share_the_lock(tmp_path):
    """8 threads x 25 acquires each: every acquire succeeds and no
    two threads ever hold the lock at once (flock is per open file
    description, so threads of one process exclude each other)."""
    root = tmp_path / "tbl"
    sole = threading.Semaphore(1)
    outcomes = []

    def contender():
        for _ in range(25):
            with table_write_lock(root, timeout_sec=20.0):
                ok = sole.acquire(blocking=False)
                time.sleep(0.001)
                if ok:
                    sole.release()
                outcomes.append(ok)

    ts = [threading.Thread(target=contender) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in ts)
    assert len(outcomes) == 200
    assert all(outcomes), "two contenders held the lock at once"
