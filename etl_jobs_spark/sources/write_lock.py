"""Single-writer mutual exclusion for plain-parquet table roots.

Plain parquet has no commit log, so two concurrent writers to ONE
table root race: Spark's Hadoop committer stages every in-flight
write under the shared ``<root>/_temporary`` (app attempt 0), and
the round-13 two-writer probe measured the consequences — usually
one writer dies loudly with TASK_WRITE_FAILED, and once a TORN
append was left visible (22,501 of 40,000 rows committed by a job
that then failed). A transactional table format (Delta/Iceberg)
buys mutual exclusion with its commit log; the stand-in here is the
storage-level equivalent: an exclusive lockfile NEXT TO the table
root (never inside it — overwrite mode deletes the root's
contents), acquired with atomic O_CREAT|O_EXCL.

Ownership (round 15, ADVICE r14): every acquire writes a unique
token (host:pid:uuid) into the lockfile and records it per-process;
release unlinks ONLY after verifying the on-disk token is ours, so
a writer that ran past ``stale_sec`` and had its lock broken can no
longer delete the breaker's fresh lock. Every action that REMOVES a
lockfile (staleness/dead-pid breaks, verified releases) runs under
a sibling judgment mutex (``<lock>.judge``, kernel ``flock`` — a
dead judge's lock dies with its fd, so no staleness reap) and
re-verifies the on-disk token first —
with all removals serialized and acquirers never overwriting a
present file, read-verify-unlink has no TOCTOU window. The earlier
rename-capture-restore protocol was retired this round: capturing a
mistakenly-renamed FRESH lock left the lock path vacant until the
restore link, and a third writer's O_EXCL create in that vacancy
yielded two concurrent holders
(test_concurrent_stale_breakers_exactly_one_wins caught it live).

A lock whose recorded pid is dead ON THIS HOST is breakable
immediately (no ``stale_sec`` wait): the ledger writer acquires at
plan time and releases in job commit/abort, so a driver crash
between plan and commit would otherwise hold the table for up to an
hour while later writers time out at 120 s (ADVICE r14,
ledger_source.py item).

Scope, stated honestly: ``os.open(O_EXCL)`` is atomic on a local
filesystem and on NFS; on S3 the same contract needs a conditional
PUT (If-None-Match) or DynamoDB-style lock table — the API here is
the seam where that swap happens. Locking protects writers that go
through THIS module's acquire; a foreign writer bypassing it is the
documented-unsafe path the concurrency axis records as the baseline.

Writers that hold disjoint sub-roots (sink_parquet_partitions_direct:
one committer root per partition value) do not need this lock across
partitions — that is the point of that helper.
"""

from __future__ import annotations

import contextlib
import os
import socket
import time
import uuid as _uuid
from pathlib import Path


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the table's write lock."""


#: Tokens this process currently holds, keyed by lock path. Release
#: verifies against this AND the on-disk content before unlinking.
_HELD: dict[Path, str] = {}


def _lock_path(root: str | Path) -> Path | None:
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
    # sibling, not child: overwrite mode recreates the root dir. The
    # "." prefix hides the lock and its .judge sidecar from Spark's
    # file index when the sibling sits inside a table root (a
    # partition directory): Spark skips "."-prefixed names, but not
    # "_"-prefixed ones that contain "=" (they may be partitions).
    return p.with_name(f".{p.name}.__write_lock")


def _read_token(path: Path) -> str | None:
    try:
        return path.read_text()
    except OSError:
        return None


def _holder_dead_on_this_host(token: str | None) -> bool:
    """True iff the token names THIS host and its pid no longer
    exists — the one case where an age-independent break is safe.
    A foreign host's pid table is invisible; fall back to age."""
    if not token:
        return False
    parts = token.split(":")
    if len(parts) < 3 or parts[0] != socket.gethostname():
        return False
    try:
        pid = int(parts[1])
    except ValueError:
        return False
    if pid == os.getpid():
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return True
    except PermissionError:
        return False  # exists, owned by someone else
    return False


@contextlib.contextmanager
def _judgment_mutex(lock: Path, timeout_sec: float = 15.0):
    """Serialize JUDGMENTS of a lockfile's state (staleness breaks
    and verified releases) on a kernel lock over a sibling guard
    file.

    Why judgments must serialize (round-15 race, caught by
    test_concurrent_stale_breakers_exactly_one_wins): the previous
    rename-capture-verify-restore protocol left the lock path VACANT
    between capturing a mistakenly-renamed fresh lock and the
    ``os.link`` restore — a third writer's O_EXCL create in that
    window succeeded while the captured holder still believed it
    held, i.e. two concurrent holders. Under this mutex a judge
    re-reads the token and acts with plain unlink; nothing that
    removes or replaces a PRESENT lockfile runs concurrently (all
    removals go through here, and acquirers never overwrite a
    present file), so read-verify-unlink is race-free. Yields True
    when acquired; False on timeout (callers fall back to doing
    nothing — never to an unverified unlink).

    The guard is an ``flock``-ed sidecar, not an existence-check
    (ADVICE r15): the earlier O_EXCL guard needed its own staleness
    reap, and that reap's stat->unlink was a TOCTOU — two waiters
    judging one stale guard could both unlink, the second removing
    the first's FRESH guard and re-admitting a concurrent judge.
    ``flock`` closes the whole class: a dead judge's lock vanishes
    with its fd (no staleness logic at all), per-open-fd semantics
    serialize threads as well as processes, and the guard file is
    NEVER unlinked — removing it while a waiter holds the old inode
    would let a third opener lock a fresh inode concurrently. The
    stray zero-byte ``.judge`` sidecar is the documented cost.
    ``flock`` is advisory and local-fs/NFSv4 correct — the same
    platform seam as the O_EXCL lockfile itself (module docstring)."""
    import fcntl

    guard = lock.with_name(lock.name + ".judge")
    fd = os.open(str(guard), os.O_CREAT | os.O_RDWR)
    acquired = False
    deadline = time.monotonic() + timeout_sec
    try:
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                acquired = True
                break
            except OSError:
                if time.monotonic() >= deadline:
                    break
                time.sleep(0.01)
        yield acquired
    finally:
        if acquired:
            with contextlib.suppress(OSError):
                fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _break_lock(lock: Path, observed_token: str | None) -> None:
    """Break a lock we judged abandoned, safely against racers.

    Under the judgment mutex, re-read the lockfile: only if it still
    carries the exact token we judged abandoned (tokens embed a
    uuid, so equality pins the acquire instance) is the unlink
    performed. A lock that was released and re-acquired since the
    caller's stat fails the re-read and is left alone; the caller's
    acquire loop re-stats and re-judges on its next pass."""
    with _judgment_mutex(lock) as held:
        if not held:
            return  # another judge is wedged/busy; re-loop outside
        if _read_token(lock) != observed_token:
            return  # replaced since judged: not the abandoned lock
        with contextlib.suppress(FileNotFoundError):
            lock.unlink()


def acquire_table_lock(
    root: str | Path,
    timeout_sec: float = 30.0,
    poll_sec: float = 0.05,
    stale_sec: float = 3600.0,
) -> str | None:
    """Acquire the exclusive write lock for ``root`` (no-op for
    non-posix stores — see ``_lock_path``). Returns the ownership
    token, which a holder whose release runs in a DIFFERENT process
    (the ledger DataSource: plan-time acquire in one Python worker,
    commit in another) must carry and hand back to
    ``release_table_lock(root, token=...)`` — the process-local
    ``_HELD`` fallback cannot see across workers.

    Blocks up to ``timeout_sec`` waiting for the current holder,
    then raises ``ConcurrentWriteError`` LOUDLY — never proceeds
    without the lock (a silent torn append is the one outcome this
    module exists to rule out). A lockfile older than ``stale_sec``
    — or whose recorded pid is dead on this host, at any age — is
    presumed abandoned and broken via the rename protocol above;
    the age bound is generous because breaking a LIVE writer's lock
    reintroduces the race being prevented. Split from the context
    manager so sinks with driver-side begin/commit hooks (the ledger
    DataSource) can span acquire over a whole job."""
    lock = _lock_path(root)
    if lock is None:
        return None
    lock.parent.mkdir(parents=True, exist_ok=True)
    token = f"{socket.gethostname()}:{os.getpid()}:{_uuid.uuid4().hex}"
    deadline = time.monotonic() + timeout_sec
    while True:
        try:
            fd = os.open(str(lock), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, token.encode())
            os.close(fd)
            _HELD[lock] = token
            return token
        except FileExistsError:
            try:
                age = time.time() - lock.stat().st_mtime
            except FileNotFoundError:
                continue  # holder released between open and stat
            holder = _read_token(lock)
            if age > stale_sec or _holder_dead_on_this_host(holder):
                _break_lock(lock, holder)
                continue
            if time.monotonic() >= deadline:
                raise ConcurrentWriteError(
                    f"write lock for {root} held by another writer "
                    f"({lock}, holder {holder!r}, age {age:.1f}s) "
                    f"after {timeout_sec:.1f}s wait — refusing to "
                    "race on a plain-parquet root"
                ) from None
            time.sleep(poll_sec)


def release_table_lock(root: str | Path, token: str | None = None) -> None:
    """Release ``root``'s lock IF the caller still owns it.

    Ownership is the ``token`` handed back by ``acquire_table_lock``
    (pass it explicitly when release runs in a different process
    than acquire — the ledger writer's plan/commit split); without
    one, the process-local ``_HELD`` record is consulted. Either
    way the on-disk token must match before the unlink: a lock that
    was broken (stale / dead-pid) and re-acquired by another writer
    is left alone — the unverified unlink here was the
    re-introduced torn-write race (ADVICE r14)."""
    lock = _lock_path(root)
    if lock is None:
        return
    mine = _HELD.pop(lock, None) if token is None else token
    if mine is None:
        return  # never acquired by this process: nothing to release
    # read-verify-unlink UNDER the judgment mutex: with every
    # staleness break and every verified release serialized there,
    # nothing can remove-and-replace the lockfile between our read
    # and our unlink, so the verify is not a TOCTOU. A lock that was
    # broken (we ran past stale_sec) and re-acquired fails the
    # verify and is left alone — no foreign unlink (ADVICE r14), and
    # no rename-capture vacancy for a third writer to slip into
    # (the round-15 two-holders race).
    with _judgment_mutex(lock) as held:
        if not held:
            return  # judge wedged: leave the lock; staleness reaps it
        if _read_token(lock) != mine:
            return  # ours was broken and someone else re-locked
        with contextlib.suppress(FileNotFoundError):
            lock.unlink()


@contextlib.contextmanager
def table_write_lock(
    root: str | Path,
    timeout_sec: float = 30.0,
    poll_sec: float = 0.05,
    stale_sec: float = 3600.0,
):
    """Context-manager face of acquire/release (the common case)."""
    acquire_table_lock(
        root, timeout_sec=timeout_sec, poll_sec=poll_sec, stale_sec=stale_sec
    )
    try:
        yield
    finally:
        release_table_lock(root)
