"""Run scaffolding shared by the workloads: the run context, Spark
session start/stop inside the checkout, and the cold set-up."""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from perfbench.trace import Tracer

#: Deployment settings every run uses, whatever the caller's
#: environment says, so that runs stay comparable.
DEPLOYMENT = {"SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_DRIVER_MEM": "2g"}


@dataclass
class Context:
    work: Path  # this run's scratch dir inside the checkout
    seed: int
    seconds: float
    tracer: Tracer
    spark: object = None
    setup_s: float = 0.0
    session_ms: float = 0.0

    @property
    def trace(self) -> bool:
        return self.tracer.enabled


def prepare_environment(work: Path) -> None:
    """Point every scratch location the engine, Spark and Python use
    at ``work`` so a run touches nothing outside its checkout."""
    for sub in ("tmp", "local", "scratch", "warehouse", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update(DEPLOYMENT)
    os.environ["TMPDIR"] = str(work / "tmp")
    # also reaches the short-lived launcher JVM spark-submit starts
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_SCRATCH"] = str(work / "scratch")
    os.environ.pop("SPARK_GRAFT_SQL_CONF", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _session_conf(ctx: Context) -> dict[str, str]:
    w = ctx.work
    conf = {
        "spark.sql.warehouse.dir": str(w / "warehouse"),
        "spark.local.dir": str(w / "local"),
        # The whole heap is committed and touched at start, so peak
        # memory measures what grows beside it (off-heap, Python
        # processes) instead of when the collector chose to grow the heap.
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={w / 'tmp'} "
            f"-Xms{DEPLOYMENT['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": (w / "eventlog").as_uri(),
            }
        )
    return conf


def start_session(ctx: Context):
    """Start the session through the engine's public ``get_spark``
    (this launches the JVM)."""
    from etl_jobs_spark.session import get_spark

    t0 = time.perf_counter()
    with ctx.tracer.span("session", "start"):
        ctx.spark = get_spark("perfbench", extra_conf=_session_conf(ctx))
    ctx.session_ms = (time.perf_counter() - t0) * 1000.0
    return ctx.spark


def run_setup(ctx: Context, warm) -> None:
    """The cold set-up a user pays once per process: JVM launch and
    session start, then ``warm(ctx)`` (the workload's warm-up: a drop,
    the registry import and a pass of the mix, or a drain)."""
    t0 = time.perf_counter()
    start_session(ctx)
    warm(ctx)
    ctx.setup_s = time.perf_counter() - t0


def shutdown(ctx: Context) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def remove_work(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)


@contextlib.contextmanager
def traced_locks(tr: Tracer):
    """When tracing, record a ``write_lock`` span around every
    ``acquire_table_lock`` call this process makes. ``table_write_lock``
    looks the function up in its module at call time, so replacing the
    module attribute reaches every writer that uses it. (The
    ``event_ledger`` writer locks inside a Python worker process, which
    this cannot reach.)"""
    if not tr.enabled:
        yield
        return
    from etl_jobs_spark.sources import write_lock

    orig = write_lock.acquire_table_lock

    def acquire(*a, **kw):
        with tr.span("write_lock", "acquire"):
            return orig(*a, **kw)

    write_lock.acquire_table_lock = acquire
    try:
        yield
    finally:
        write_lock.acquire_table_lock = orig
