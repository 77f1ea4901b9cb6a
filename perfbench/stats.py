"""Small measurement helpers: percentiles, result digests, a
process-tree memory sampler and the host's steal share. Pure Python; nothing here imports pyspark."""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import os
import threading

#: A percentile p is a tail estimate only when at least this many
#: samples lie beyond it, i.e. when n * (1 - p) >= TAIL_SAMPLES.
TAIL_SAMPLES = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (``p`` in [0, 1]) of ``values``;
    the same rule as ``statistics.quantiles(..., method="inclusive")``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * p
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def min_samples(p: float) -> int:
    """Samples needed before percentile ``p`` has TAIL_SAMPLES beyond it."""
    return math.ceil(TAIL_SAMPLES / (1.0 - p) - 1e-9)


def _canon(v) -> str:
    """One cell as a type-insensitive string: Spark and DuckDB disagree
    on integer widths, decimal vs double and date vs datetime types,
    not on values."""
    if v is None:
        return "null"
    if isinstance(v, float) and math.isnan(v):
        return "null"
    if hasattr(v, "item") and not isinstance(v, (list, tuple, dict)):
        try:
            v = v.item()  # numpy scalar -> Python scalar
        except (AttributeError, ValueError, TypeError):
            pass
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "null"
        return str(int(f)) if f.is_integer() and abs(f) < 2**63 else repr(f)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day).isoformat()
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else v
        return "[" + ",".join(_canon(x) for x in seq) + "]"
    return str(v)


def digest(columns, rows) -> tuple[int, str]:
    """(row count, order-insensitive sha256) of a result given as
    column names and row tuples: columns are sorted by name and rows
    by their canonical form, the same shape ``compare.normalize_frame``
    gives a frame."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1d" + line.encode())
    return len(lines), h.hexdigest()[:16]


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants."""
    pids, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


def _pss_bytes(pids) -> int:
    """Summed proportional set size: each shared page is split between
    the processes mapping it. Summed RSS would count a forked Python
    worker's pages shared with its daemon twice, and a JVM child
    between ``vfork`` and ``exec`` would add the whole JVM again."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError):
            continue  # exited since the tree was listed
    return total


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters (user ... steal) from
    /proc/stat; two readings give the share of time another tenant of
    the host took from this VM (steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


class MemorySampler:
    """Background thread sampling the process tree's memory once a
    second; ``peak_mb`` is the largest PSS sum seen (driver JVM, Python
    driver and workers). Reading a 2 GB JVM's ``smaps_rollup`` takes
    about 20 ms, so a faster rate would load the host it measures."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, _pss_bytes(_tree(os.getpid())))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
