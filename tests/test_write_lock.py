"""Unit tests for the table write lock (round-14 write-path
concurrency contract; engine-level sweep in
scripts/axis_concurrent.py)."""

from __future__ import annotations

import os
import threading
import time

import pytest

from etl_jobs_spark.sources.write_lock import (
    ConcurrentWriteError,
    _lock_path,
    acquire_table_lock,
    release_table_lock,
    table_write_lock,
)


def test_exclusive_and_released(tmp_path):
    root = tmp_path / "tbl"
    with table_write_lock(root):
        assert _lock_path(root).exists()
        with pytest.raises(ConcurrentWriteError):
            acquire_table_lock(root, timeout_sec=0.2)
    assert not _lock_path(root).exists()
    # reacquirable after release
    with table_write_lock(root):
        pass


def test_waiter_proceeds_after_holder_releases(tmp_path):
    root = tmp_path / "tbl"
    acquire_table_lock(root)
    got = []

    def waiter():
        with table_write_lock(root, timeout_sec=5.0):
            got.append(time.monotonic())

    t = threading.Thread(target=waiter)
    t.start()
    time.sleep(0.3)
    released_at = time.monotonic()
    release_table_lock(root)
    t.join(timeout=5)
    assert got and got[0] >= released_at


def test_stale_lock_broken(tmp_path):
    root = tmp_path / "tbl"
    acquire_table_lock(root)
    lock = _lock_path(root)
    old = time.time() - 7200
    os.utime(lock, (old, old))
    # a dead writer's 2h-old lock must not wedge the table forever
    with table_write_lock(root, timeout_sec=1.0, stale_sec=3600.0):
        pass
    assert not lock.exists()


def test_lock_is_sibling_not_child(tmp_path):
    # overwrite mode deletes the root's contents — the lock must
    # survive that, so it lives NEXT TO the root
    p = _lock_path(tmp_path / "tbl")
    assert p.parent == tmp_path and p.name == ".tbl.__write_lock"


def test_uri_and_object_store_paths(tmp_path):
    assert _lock_path((tmp_path / "t").as_uri()) == _lock_path(tmp_path / "t")
    assert _lock_path("s3a://bucket/table") is None
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
    so the lock and its .judge sidecar sit inside the table root.
    They must be hidden from Spark's file index: the table reads back,
    and every non-hidden file under the root is parquet."""
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


# ---- round-15 ownership-token semantics (ADVICE r14, medium) ----


def test_release_spares_anothers_fresh_lock(tmp_path):
    """A writer whose lock was broken and re-taken must NOT unlink
    the new holder's lock on release — the reintroduced torn-write
    race the r14 ADVICE flagged."""
    root = tmp_path / "tbl"
    acquire_table_lock(root)
    lock = _lock_path(root)
    # simulate: our lock went stale, a breaker removed it, and a new
    # writer (other process) created a fresh lock with its own token
    lock.unlink()
    lock.write_text("otherhost:99999:deadbeef")
    release_table_lock(root)  # we think we still hold it
    assert lock.exists(), "release deleted a lock it does not own"
    assert lock.read_text() == "otherhost:99999:deadbeef"
    lock.unlink()


def test_dead_pid_lock_broken_immediately(tmp_path):
    """A FRESH lock whose recorded pid is gone on this host is
    breakable without waiting out stale_sec (the ledger plan-time
    crash scenario: ADVICE r14, ledger_source item)."""
    import socket
    import subprocess

    root = tmp_path / "tbl"
    lock = _lock_path(root)
    lock.parent.mkdir(parents=True, exist_ok=True)
    # a real dead pid: spawn-and-reap a child so the pid existed
    p = subprocess.Popen(["true"])
    p.wait()
    lock.write_text(f"{socket.gethostname()}:{p.pid}:feedface")
    t0 = time.monotonic()
    # age ~0 s, stale_sec huge: only the dead-pid path can admit us
    acquire_table_lock(root, timeout_sec=5.0, stale_sec=3600.0)
    assert time.monotonic() - t0 < 2.0
    release_table_lock(root)
    assert not lock.exists()


def test_live_foreign_format_lock_respected(tmp_path):
    """A fresh lock with an unparseable/foreign token must still
    block (no false dead-pid break)."""
    root = tmp_path / "tbl"
    lock = _lock_path(root)
    lock.parent.mkdir(parents=True, exist_ok=True)
    lock.write_text("not-a-token")
    with pytest.raises(ConcurrentWriteError):
        acquire_table_lock(root, timeout_sec=0.3)
    lock.unlink()


def test_concurrent_stale_breakers_exactly_one_wins(tmp_path):
    """N waiters all judging one stale lock: the rename protocol
    lets exactly one break+acquire at a time; every waiter
    eventually acquires and no acquire is ever shared."""
    root = tmp_path / "tbl"
    lock = _lock_path(root)
    lock.parent.mkdir(parents=True, exist_ok=True)
    lock.write_text("otherhost:1:stale")
    old = time.time() - 7200
    os.utime(lock, (old, old))

    holders = []
    guard = threading.Semaphore(1)

    def contender(i):
        acquire_table_lock(root, timeout_sec=20.0, stale_sec=3600.0)
        ok = guard.acquire(blocking=False)
        holders.append((i, ok))
        time.sleep(0.01)
        guard.release()
        release_table_lock(root)

    ts = [threading.Thread(target=contender, args=(i,)) for i in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(holders) == 8
    assert all(ok for _, ok in holders), "two contenders held at once"


def test_break_lock_restores_stolen_fresh_lock(tmp_path):
    """_break_lock renames, sees the captive is NOT the stale token
    it judged, and restores the fresh holder's lock."""
    from etl_jobs_spark.sources.write_lock import _break_lock

    root = tmp_path / "tbl"
    lock = _lock_path(root)
    lock.parent.mkdir(parents=True, exist_ok=True)
    lock.write_text("host:2:freshtoken")
    _break_lock(lock, observed_token="host:1:staletoken")
    assert lock.exists(), "fresh lock not restored after mistaken steal"
    assert lock.read_text() == "host:2:freshtoken"


def test_cross_process_release_with_token(tmp_path):
    """The ledger writer's shape: acquire in one process, release in
    another, the token carried between them (round-15 regression —
    a release that consulted only process-local state no-opped and
    leaked the lock for stale_sec)."""
    import subprocess
    import sys as _sys

    from etl_jobs_spark.sources.write_lock import (
        release_table_lock as _release,
    )

    root = tmp_path / "tbl"
    out = subprocess.run(
        [
            _sys.executable,
            "-c",
            "import sys\n"
            f"sys.path.insert(0, {str(_lock_path(root).parent.parent)!r})\n"
            "import sys, os\n"
            f"sys.path.insert(0, {__import__('os').getcwd()!r})\n"
            "from etl_jobs_spark.sources.write_lock import acquire_table_lock\n"
            f"print(acquire_table_lock({str(root)!r}))\n",
        ],
        capture_output=True,
        text=True,
        check=True,
    )
    token = out.stdout.strip().splitlines()[-1]
    lock = _lock_path(root)
    assert lock.exists() and lock.read_text() == token
    # wrong token: release must refuse
    _release(root, token="host:1:forged")
    assert lock.exists()
    # right token, different process than the acquirer: releases
    _release(root, token=token)
    assert not lock.exists()


def test_judgment_mutex_dead_holder_auto_releases(tmp_path):
    """A judge that dies mid-judgment must not wedge later judges:
    the flock guard dies with the holder's fd, with no staleness
    reap (the reap's stat->unlink was itself a TOCTOU — two waiters
    could both judge one stale guard and the second unlink would
    remove the first's FRESH guard, ADVICE r15)."""
    import subprocess
    import sys as _sys

    from etl_jobs_spark.sources.write_lock import _judgment_mutex

    root = tmp_path / "tbl"
    lock = _lock_path(root)
    lock.parent.mkdir(parents=True, exist_ok=True)
    guard = lock.with_name(lock.name + ".judge")
    # a foreign process takes the guard and exits WITHOUT unlocking
    subprocess.run(
        [
            _sys.executable,
            "-c",
            "import fcntl, os\n"
            f"fd = os.open({str(guard)!r}, os.O_CREAT | os.O_RDWR)\n"
            "fcntl.flock(fd, fcntl.LOCK_EX)\n"
            "os._exit(0)\n",
        ],
        check=True,
    )
    t0 = time.monotonic()
    with _judgment_mutex(lock, timeout_sec=5.0) as held:
        assert held, "guard of a dead judge must be acquirable"
    assert time.monotonic() - t0 < 2.0, "should not wait out a timeout"


def test_judgment_mutex_serializes_and_is_reentrant_free(tmp_path):
    """Mutual exclusion across threads (flock is per-open-fd, so
    same-process threads serialize too) and a live holder is never
    evicted by waiters — the exact double-unlink class the old
    existence-based guard allowed."""
    from etl_jobs_spark.sources.write_lock import _judgment_mutex

    root = tmp_path / "tbl"
    lock = _lock_path(root)
    lock.parent.mkdir(parents=True, exist_ok=True)

    sole = threading.Semaphore(1)
    outcomes = []

    def judge(i):
        with _judgment_mutex(lock, timeout_sec=20.0) as held:
            if not held:
                outcomes.append((i, "timeout"))
                return
            ok = sole.acquire(blocking=False)
            time.sleep(0.01)
            if ok:
                sole.release()
            outcomes.append((i, ok))

    ts = [threading.Thread(target=judge, args=(i,)) for i in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(outcomes) == 8
    assert all(ok is True for _, ok in outcomes), outcomes
