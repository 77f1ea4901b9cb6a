"""Spans recorded by the benchmark around its calls into each layer,
and attribution of Spark event-log records to those spans.

Spans are held in memory and written out when the run ends. After the
run, every job in the Spark event log is assigned to the innermost
span that was open when the job was submitted; its stages and tasks
follow their job. This is exact because every workload drives Spark
from one sequential loop (the streaming workload's sink runs in the
streaming thread, but its micro-batches are sequential too).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start_ms: float
    end_ms: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    """In-memory span recorder. Disabled, ``span`` records nothing and
    costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, layer: str, name: str = ""):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sp = Span(
            next(self._ids),
            stack[-1].id if stack else None,
            layer,
            name,
            time.time() * 1000.0,
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1000.0
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def write(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start_ms):
                f.write(json.dumps(s.__dict__) + "\n")


# ---------------------------------------------------------------- event log


@dataclass
class Job:
    id: int
    start_ms: float
    end_ms: float = 0.0
    stages: list = field(default_factory=list)


@dataclass
class Stage:
    id: int
    submit_ms: float = 0.0


@dataclass
class Task:
    stage: int
    launch_ms: float
    run_ms: float
    cpu_ms: float
    gc_ms: float
    shuffle_write_bytes: float
    shuffle_read_bytes: float
    fetch_wait_ms: float
    spill_bytes: float
    input_bytes: float
    output_bytes: float
    python: dict = field(default_factory=dict)


#: SQL metrics of Python-worker operators, read from each task's own
#: accumulator update (a stage's "Value" is cumulative per plan node).
_PY_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "python_bytes",
}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(lines) -> tuple[dict, dict, list]:
    """Jobs, stages and tasks from event-log JSON lines."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    tasks: list[Task] = []
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = Job(
                e["Job ID"], _num(e.get("Submission Time")), stages=list(e["Stage IDs"])
            )
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = _num(e.get("Completion Time"))
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = e["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submit_ms = _num(info.get("Submission Time")) or st.submit_ms
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            py: dict[str, float] = defaultdict(float)
            for acc in info.get("Accumulables", []):
                attr = _PY_ACCUMS.get(acc.get("Name"))
                if attr:
                    py[attr] += _num(acc.get("Update"))
            tasks.append(
                Task(
                    stage=e["Stage ID"],
                    launch_ms=_num(info.get("Launch Time")),
                    run_ms=_num(m.get("Executor Run Time")),
                    cpu_ms=_num(m.get("Executor CPU Time")) / 1e6,
                    gc_ms=_num(m.get("JVM GC Time")),
                    shuffle_write_bytes=_num(
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written")
                    ),
                    shuffle_read_bytes=_num(sr.get("Remote Bytes Read"))
                    + _num(sr.get("Local Bytes Read")),
                    fetch_wait_ms=_num(sr.get("Fetch Wait Time")),
                    spill_bytes=_num(m.get("Memory Bytes Spilled"))
                    + _num(m.get("Disk Bytes Spilled")),
                    input_bytes=_num(m.get("Input Metrics", {}).get("Bytes Read")),
                    output_bytes=_num(m.get("Output Metrics", {}).get("Bytes Written")),
                    python=dict(py),
                )
            )
    return jobs, stages, tasks


def read_event_logs(log_dir: Path) -> list[str]:
    """Every event line under a Spark event-log dir (rolling or not)."""
    lines: list[str] = []
    for p in sorted(log_dir.rglob("*")):
        if p.is_file() and not p.name.startswith(".") and not p.name.endswith(".inprogress.crc"):
            with open(p) as f:
                lines.extend(f)
    return lines


def parse_event_logs(log_dir: Path) -> tuple[dict, dict, list]:
    return parse_event_log(read_event_logs(log_dir))


def innermost(spans: list[Span], t_ms: float) -> Span | None:
    """The open span at ``t_ms`` with the latest start (innermost)."""
    best = None
    for s in spans:
        if s.start_ms <= t_ms <= s.end_ms and (best is None or s.start_ms >= best.start_ms):
            best = s
    return best


def union_ms(intervals) -> float:
    """Length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Attribution:
    """Spark work per span id (``None`` = outside every span)."""

    jobs: dict = field(default_factory=lambda: defaultdict(list))
    stages: dict = field(default_factory=lambda: defaultdict(list))
    tasks: dict = field(default_factory=lambda: defaultdict(list))


def attribute(spans: list[Span], jobs: dict, stages: dict, tasks: list) -> Attribution:
    att = Attribution()
    stage_span: dict[int, int | None] = {}
    for job in jobs.values():
        sp = innermost(spans, job.start_ms)
        sid = sp.id if sp else None
        att.jobs[sid].append(job)
        for st_id in job.stages:
            if st_id in stages and st_id not in stage_span:
                stage_span[st_id] = sid
                att.stages[sid].append(stages[st_id])
    for t in tasks:
        att.tasks[stage_span.get(t.stage)].append(t)
    return att


def self_ms(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start_ms, s.end_ms))
    return {s.id: s.ms - union_ms(kids[s.id]) for s in spans}


def spark_layer_metrics(spans: list[Span], att: Attribution, roots: list[Span]) -> dict:
    """The ``spark.*`` per-layer metrics over the work attributed to
    ``roots`` and their descendants. ``driver_ms`` is each root's
    duration minus the union of the job intervals under it."""
    by_parent: dict[int | None, list[Span]] = defaultdict(list)
    for s in spans:
        by_parent[s.parent].append(s)
    out = defaultdict(float)
    for root in roots:
        ids, todo = [], [root]
        while todo:
            s = todo.pop()
            ids.append(s.id)
            todo.extend(by_parent[s.id])
        jobs = [j for i in ids for j in att.jobs.get(i, [])]
        stages = [st for i in ids for st in att.stages.get(i, [])]
        tasks = [t for i in ids for t in att.tasks.get(i, [])]
        out["spark.jobs"] += len(jobs)
        out["spark.stages"] += len(stages)
        out["spark.tasks"] += len(tasks)
        out["spark.driver_ms"] += root.ms - union_ms(
            (max(j.start_ms, root.start_ms), min(j.end_ms or root.end_ms, root.end_ms))
            for j in jobs
        )
        submit = {st.id: st.submit_ms for st in stages}
        for t in tasks:
            out["spark.task_run_ms"] += t.run_ms
            out["spark.task_cpu_ms"] += t.cpu_ms
            out["spark.gc_ms"] += t.gc_ms
            out["spark.shuffle_write_bytes"] += t.shuffle_write_bytes
            out["spark.shuffle_read_bytes"] += t.shuffle_read_bytes
            out["spark.fetch_wait_ms"] += t.fetch_wait_ms
            out["spark.spill_bytes"] += t.spill_bytes
            out["spark.input_bytes"] += t.input_bytes
            out["spark.output_bytes"] += t.output_bytes
            if submit.get(t.stage):
                out["spark.task_wait_ms"] += max(t.launch_ms - submit[t.stage], 0.0)
            py = t.python
            out["spark.python_run_ms"] += py.get("python_run_ms", 0.0)
            out["spark.python_start_ms"] += py.get("python_start_ms", 0.0) + py.get(
                "python_init_ms", 0.0
            )
            out["spark.python_bytes"] += py.get("python_bytes", 0.0)
    return dict(out)
