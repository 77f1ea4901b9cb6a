"""SparkSession factory tuned for this engine.

Local test mode runs one JVM with N threads; production is a real
cluster — the configs below are chosen to be correct for both:
AQE handles runtime re-planning (partition coalescing, skew joins),
shuffle partitions default to the core count locally (overridden by
AQE advisory sizing at cluster scale), Arrow is on for every
pandas-interop path, and the session timezone is pinned to UTC so
timestamps compare bit-for-bit against external oracles.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

#: The directory holding the ``etl_jobs_spark`` package. Python workers
#: (UDFs, the Python DataSource) import the engine's modules to unpickle
#: their functions, so every session puts it on the workers' path; the
#: working directory the driver was started from then does not matter.
PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)

#: The one Python-worker bootstrap: its ``sitecustomize.py`` runs at every
#: worker interpreter's start, and it goes first on the workers' path so
#: no other ``sitecustomize`` shadows it. It must be a ``sitecustomize``:
#: the Python DataSource planner runners are fresh interpreters, not
#: forks of ``spark.python.daemon.module``. See the module's docstring
#: for what it does (skip unchanged zip-archive rescans, replay the
#: transformWithState protobuf shim).
WORKER_BOOT = str(Path(__file__).resolve().parent / "_worker_boot")

#: Defaults applied to every session this engine builds. At cluster
#: scale these are the settings you want on a 1000-executor job too:
#: AQE re-plans shuffles from runtime statistics (coalesces small
#: post-shuffle partitions, splits skewed ones, demotes sort-merge to
#: broadcast when a side turns out small), and Arrow keeps any
#: pandas-interop off the slow pickle path.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128 MB input splits — the parquet scan parallelism knob that
    # matters at 100 TB (≈800k splits; AQE coalesces downstream).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast threshold: dims (region/nation/customer/supplier/part
    # at per-query filter selectivity) should broadcast; 64 MB is
    # safe with 4g+ executors.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # Optimization r15 (guide §3.1/§9): let the planner choose a
    # shuffled-hash join when its size conditions fit instead of
    # always sorting both sides for sort-merge. This only WIDENS the
    # planner's choice (no hint forces SHJ; oversized build sides
    # still get sort-merge, and AQE skew splitting applies to both),
    # so it is the same decision a 1000-executor job wants. Measured
    # on the 15-query join-heavy A/B subset at sf0.1: 23.2s -> 19.1s
    # min-of-2 (-18%), no per-query regression (OPTIMIZATION_r15.md).
    # Plan evidence (VERDICT r15 item 6): cdc_apply_changelog's
    # full-outer apply flips SortMergeJoin(2) -> ShuffledHashJoin(2)
    # under this conf — plans/r16/cdc_apply_changelog_{smj,shj}_pref
    # .txt, oracle row unchanged. Known exposure (ADVICE r15): SHJ's
    # per-partition build map cannot spill, so with the 64 MB
    # broadcast threshold a SKEWED build partition at cluster scale
    # can OOM an executor where sort-merge would have spilled; AQE
    # skew-join splitting (enabled above) covers the join-side skew
    # case, and a deploy can disable the preference without a code
    # change via SPARK_GRAFT_SQL_CONF=
    # "spark.sql.join.preferSortMergeJoin=true" (override hook below).
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "etl_jobs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or
    ``local[*]``) when no cluster master is configured; on a real
    cluster, leave it unset and spark-submit supplies it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    resolved_master = master or f"local[{cpus}]"
    builder = builder.master(resolved_master)
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)
    conf = dict(ENGINE_CONF)
    if resolved_master.startswith("local"):
        # local mode = driver JVM does ALL executor work; Java's 1g
        # default heap GC-thrashes under 32 concurrent tasks. On a
        # cluster, spark-submit sizes executors instead.
        conf.setdefault(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join((WORKER_BOOT, PACKAGE_ROOT))
    # Optimization r15: explicit engine-conf overrides from the
    # environment ("k=v;k2=v2") — the deploy-time knob a cluster
    # submit would pass as --conf; also how the optimization rounds
    # A/B config candidates without code churn.
    env_conf = os.environ.get("SPARK_GRAFT_SQL_CONF", "")
    for kv in env_conf.split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            conf[k.strip()] = v.strip()
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
