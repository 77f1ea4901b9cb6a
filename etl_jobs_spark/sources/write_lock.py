"""Single-writer mutual exclusion for plain-parquet table roots.

Two concurrent writers to ONE plain-parquet root race on Spark's
shared ``<root>/_temporary`` staging dir: the round-13 probe saw loud
task failures and once a TORN append (22,501 of 40,000 rows from a
failed job). A table format excludes writers with its commit log; the
stand-in here is a kernel ``flock`` on a lock file NEXT TO the root
(never inside it — overwrite mode deletes the root's contents).

The lock lives exactly as long as the holder's file descriptor, so a
crashed holder's lock dies with its process and nothing has to
detect or break an abandoned lock. This module never unlinks the lock
file, so two openers can never lock different inodes of one path; the
zero-byte file stays behind, hidden from Spark by its ``.`` prefix
(``scratch`` removes it with the scratch dir it guards). Holders
acquire and release in one process (the ledger locks in its commit).

Scope: ``flock`` is advisory and holds on a local filesystem. On an
object store ``lock_path`` returns None and the lock is a no-op —
the seam for a conditional PUT (If-None-Match) or a lock table. A
writer bypassing this module is the documented-unsafe baseline of
scripts/axis_concurrent.py.
"""

from __future__ import annotations

import contextlib
import fcntl
import os
import time
from pathlib import Path

_POLL_SEC = 0.05


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the table's write lock."""


def lock_path(root: str | Path) -> Path | None:
    """Lockfile path for a table root; None when the root is on a
    store where a posix lockfile is meaningless (s3a:// etc. — the
    conditional-PUT seam documented above)."""
    s = str(root).rstrip("/")
    if s.startswith("file://"):
        from urllib.parse import unquote, urlparse

        s = unquote(urlparse(s).path)
    elif "://" in s:
        return None
    p = Path(s)
    # sibling, not child: overwrite mode recreates the root dir. "."
    # hides a lock inside a table root (next to a partition dir) from
    # Spark's file index; "_" would not when the name contains "=".
    return p.with_name(f".{p.name}.__write_lock")


def acquire_table_lock(root: str | Path, timeout_sec: float = 30.0) -> int | None:
    """Take ``root``'s exclusive write lock and return its fd (None
    for non-posix stores). Waits up to ``timeout_sec``, then raises
    ``ConcurrentWriteError`` — never proceeds without the lock."""
    lock = lock_path(root)
    if lock is None:
        return None
    lock.parent.mkdir(parents=True, exist_ok=True)
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    deadline = time.monotonic() + timeout_sec
    try:
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                return fd
            except BlockingIOError:
                if time.monotonic() >= deadline:
                    raise ConcurrentWriteError(
                        f"write lock for {root} held by another writer "
                        f"({lock}) after {timeout_sec:.1f}s wait — "
                        "refusing to race on a plain-parquet root"
                    ) from None
                time.sleep(_POLL_SEC)
    except BaseException:
        os.close(fd)
        raise


def release_table_lock(fd: int | None) -> None:
    """Closing the fd from ``acquire_table_lock`` drops the flock."""
    if fd is not None:
        os.close(fd)


@contextlib.contextmanager
def table_write_lock(root: str | Path, timeout_sec: float = 30.0):
    """Hold ``root``'s write lock for the ``with`` body."""
    # acquire_table_lock is looked up at call time, so patching the
    # module attribute (perfbench's lock tracing) reaches every writer
    fd = acquire_table_lock(root, timeout_sec=timeout_sec)
    try:
        yield
    finally:
        release_table_lock(fd)
