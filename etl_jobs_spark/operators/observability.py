"""Run metrics / observability (SURVEY §2.10, §7 step 8).

The reference instruments itself three ways: an ``ETLMetrics``
duration/success-rate tracker (ref: src/etl_2020.py:20-34), Prometheus
counters + histogram behind an HTTP server (ref:
src/etl_2025.py:27-29,268), and per-run quality metric JSON artifacts
(ref: src/etl_2022.py:161-165).

Spark-first mapping: ``DataFrame.observe`` attaches named aggregate
metrics to the *existing* job — the counters ride along with the
action instead of costing a second pass over the data (the 100 TB
point: metrics must not re-scan). A ``StreamingQueryListener`` /
``QueryExecutionListener`` exports the same values to any metrics
backend; Spark's Prometheus servlet (``metrics.properties``) replaces
``start_http_server`` — configuration, not code.

Success-rate is reported in basis points via integer floor division:
deterministic across engines (no float rounding-mode hazards), so the
metric itself is oracle-checkable.

``plan_fingerprint`` reports which plan a query runs as operator counts
of its physical plan; ``docs/PLAN_CENSUS.json`` commits one per benched
query (``scripts/plan_census.py``).
"""

from __future__ import annotations

import re
from pathlib import PurePosixPath

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from etl_jobs_spark.sources.readers import FIXTURE_TABLES

#: Physical operators ``plan_fingerprint`` counts (``Exchange`` is a
#: shuffle; a broadcast is ``BroadcastExchange``).
FINGERPRINT_OPS = (
    "Exchange", "BroadcastExchange", "BroadcastHashJoin", "SortMergeJoin",
    "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "TakeOrderedAndProject", "Sort", "Window", "Expand", "InMemoryTableScan",
)

_LOCATION = re.compile(r"\[(?:file:)?([^\],]+)")


def observed_counts(
    df: DataFrame, valid: Column, name: str = "etl_metrics"
) -> tuple[DataFrame, Observation]:
    """Attach total/valid counters to ``df`` via ``observe``. The
    metrics materialize with the caller's OWN action — no extra scan
    (vs the reference's separate counter increments per row,
    src/etl_2020.py:70-76)."""
    obs = Observation(name)
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(valid.cast("long")).alias("valid_rows"),
    )
    return out, obs


def run_metrics(spark, df: DataFrame, valid: Column) -> DataFrame:
    """ETLMetrics parity (ref: src/etl_2020.py:20-34): run the
    pipeline once with observed counters, return the metrics row
    (processed/failed/success-rate-basis-points). Duration is a
    wall-clock concern left to the caller/listener — it is
    nondeterministic and therefore not part of the checkable row."""
    observed, obs = observed_counts(df, valid)
    # One SQL action; metrics ride along. Must be a *SQL* action —
    # rdd-path actions (foreach) bypass the QueryExecution listener
    # that fulfills the Observation, hanging obs.get forever.
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    # observed aggregates over ZERO rows come back as None (SQL
    # NULL sums); an empty run is 0 processed, not a crash
    total = int(m["total_rows"] or 0)
    valid_n = int(m["valid_rows"] or 0)
    return spark.createDataFrame(
        [(total, valid_n, total - valid_n, (valid_n * 10000) // max(total, 1))],
        "total_rows BIGINT, valid_rows BIGINT, failed_rows BIGINT, "
        "success_rate_bp BIGINT",
    )


def plan_fingerprint(df: DataFrame) -> dict:
    """A compact, diffable summary of ``df``'s physical plan before
    AQE (``isFinalPlan=false``), whether or not it has run.

    Keys, each omitted when zero: one count per ``FINGERPRINT_OPS``
    operator; ``DynamicPruning``, the scans with a dynamic
    partition-pruning filter; ``PushedFilters``, the file scans with a
    non-empty pushed filter list; ``scans``, file scans per fixture
    table (the ``<table>.parquet`` basename) with every other location,
    e.g. a staged fixture under a random scratch id, under
    ``<scratch>``. Subquery plans count, and a cached relation's plan
    counts once, however many ``InMemoryTableScan`` read it.

    Codegen coverage is not carried: the ``*(n)`` marks appear only
    once AQE finalizes the plan, after an action."""
    identity = df.sparkSession._jvm.java.lang.System.identityHashCode
    out: dict = {}
    scans: dict[str, int] = {}
    cached: set[int] = set()

    def add(key: str, into: dict = out) -> None:
        into[key] = into.get(key, 0) + 1

    def field(scan, key: str) -> str:
        value = scan.metadata().get(key)  # a Scala Option
        return value.get() if value.isDefined() else ""

    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.initialPlan())
            continue
        if name in FINGERPRINT_OPS:
            add(name)
        if name == "InMemoryTableScan":
            cached_rdd = node.relation().cacheBuilder()
            if identity(cached_rdd) not in cached:
                cached.add(identity(cached_rdd))
                todo.append(cached_rdd.cachedPlan())
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            loc = _LOCATION.search(field(node, "Location")).group(1)
            table = PurePosixPath(loc).name.removesuffix(".parquet")
            fixture = loc.endswith(".parquet") and table in FIXTURE_TABLES
            add(table if fixture else "<scratch>", scans)
            if field(node, "PushedFilters") not in ("", "[]"):
                add("PushedFilters")
            if "dynamicpruning" in field(node, "PartitionFilters"):
                add("DynamicPruning")
        for seq in (node.children(), node.subqueries()):
            todo.extend(seq.apply(i) for i in range(seq.size()))
    if scans:
        out["scans"] = dict(sorted(scans.items()))
    return out
