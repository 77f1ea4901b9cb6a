"""Scratch-space selection for staged fixtures and checkpoints.

Streaming checkpoints and staged file-arrival feeds are thousands of
tiny files committed via rename — on a disk-backed /tmp that metadata
traffic dominates the fixed cost of every drain-and-stop streaming
query. Prefer a RAM-backed tmpfs (/dev/shm) when one exists; honor
``$SPARK_GRAFT_SCRATCH`` as an explicit override.

This is local-harness plumbing, not engine design: on a real cluster
checkpoints belong on the shared store (S3/HDFS) and the trade-off is
durability, which a drain-and-stop correctness run doesn't need.

A RAM-backed root is memory, so the unpinned dirs a process was handed
are removed when its interpreter exits, each with the hidden write-lock
file a table write left next to it; pinned ones (``pinned_scratch``)
stay for the restart run that reads them.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from pathlib import Path

from etl_jobs_spark.sources.write_lock import lock_path

_ROOT: Path | None = None


def scratch_root() -> Path:
    """The fastest usable scratch root, computed once."""
    global _ROOT
    if _ROOT is None:
        override = os.environ.get("SPARK_GRAFT_SCRATCH")
        candidates = [override, "/dev/shm", tempfile.gettempdir()]
        for c in candidates:
            if not c:
                continue
            p = Path(c)
            if p.is_dir() and os.access(p, os.W_OK):
                _ROOT = p
                break
        else:  # pragma: no cover - gettempdir always exists
            _ROOT = Path(tempfile.gettempdir())
    return _ROOT


#: When set (checkpoint-archive axis only), scratch allocation is
#: DETERMINISTIC: name-based under the pinned root, so re-running
#: the same query under the same root resolves to the SAME
#: checkpoint, staging, and sink paths — the mechanism that lets a
#: later round restart a streaming query from this round's archived
#: checkpoint. Production/bench/sweep never set it.
_PIN: dict | None = None


#: Unpinned paths ``scratch_dir`` handed out in this process.
_ALLOCATED: list[Path] = []


@atexit.register
def _remove_allocated() -> None:
    for path in _ALLOCATED:
        shutil.rmtree(path, ignore_errors=True)
        lock_path(path).unlink(missing_ok=True)


def scratch_dir(prefix: str) -> Path:
    """A fresh, unique (not yet created) scratch path, removed at
    interpreter exit — unless pinned (see ``pinned_scratch``), in
    which case the path is the deterministic ``<root>/<prefix>``
    (``_2``, ``_3``… on repeated requests for the same prefix within
    one pin scope) and is kept."""
    if _PIN is not None:
        n = _PIN["counts"].get(prefix, 0) + 1
        _PIN["counts"][prefix] = n
        name = prefix if n == 1 else f"{prefix}_{n}"
        return _PIN["root"] / name
    path = scratch_root() / f"{prefix}_{uuid.uuid4().hex[:8]}"
    _ALLOCATED.append(path)
    return path


def stage_atomic(final: Path, build) -> Path:
    """Run ``build(tmp)`` into a sibling temp dir, then atomically
    rename it to ``final`` — all-or-nothing staging. Returns ``final``.

    Exists-guarded stagings with MULTIPLE writes (feed + marker
    appends, feed + duplicate-delivery copy) were not atomic with
    their guard: a crash between the first write and the last left
    a dir a pinned-scratch restart treated as fully staged, hanging
    watermark drains or losing the duplicate copy (ADVICE r14,
    streaming.py:908). Staging into a temp name and renaming into
    place makes "``final`` exists" equivalent to "every staging
    step ran". Single Spark writes get the same treatment — a
    mid-write crash leaves ``_temporary`` litter the guard would
    otherwise mistake for a staged feed.

    If ``final`` already exists the call is a no-op (pinned-scratch
    restart reuse — re-writing would change file names/mtimes and
    invalidate a FileStreamSource seen-file log; committed round-14
    archives carry only the final dir, so this stays restartable
    against them). A leftover temp dir from a crashed stager is
    discarded — its creator, by existing, proved it never renamed.
    """
    if final.exists():
        return final
    tmp = final.with_name(f".{final.name}.__staging")
    if tmp.exists():
        shutil.rmtree(tmp)
    build(tmp)
    try:
        os.rename(tmp, final)
    except OSError:
        if final.exists():  # lost a (theoretical) staging race: reuse
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            raise
    return final


def pinned_scratch(root):
    """Context manager: deterministic scratch allocation under
    ``root`` for the checkpoint archive/restart axis
    (scripts/axis_checkpoint.py). Within the scope, a query's
    scratch paths are a pure function of its allocation order, so a
    restart run (same query, same root, fresh process) finds the
    archived checkpoints and staged inputs exactly where the first
    run left them. Staging writers are exists-guarded so the
    restart REUSES rather than re-writes staged inputs (a re-write
    would change file names/mtimes and invalidate the
    FileStreamSource seen-file log)."""
    import contextlib

    @contextlib.contextmanager
    def _cm():
        global _PIN
        prev = _PIN
        _PIN = {"root": Path(root), "counts": {}}
        try:
            yield
        finally:
            _PIN = prev

    return _cm()
