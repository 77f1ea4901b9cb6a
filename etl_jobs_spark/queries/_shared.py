"""Shared fixture projections used by multiple query modules.

Kept registration-free on purpose: query modules import from here
without triggering another module's ``@register`` calls, so the
registration order in ``queries/__init__.py`` is exactly the module
import order there (the driver's correctness sweep walks the
registry dict in that order).

The fixture tables have no nulls/dirty rows, so validation and
imputation Qkeys run over a deterministic "dirtied" projection of
``events`` (nulls injected by event_id modulus — same CTE on the
oracle side), exactly the dirty-row cases FIXTURES.md §A calls for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_jobs_spark.operators import validation as V
from etl_jobs_spark.sources.readers import read_table

#: Pinned audit-column literals (production path uses
#: current_timestamp(); see operators/cleaning.py).
TS_LIT = "2026-01-01 00:00:00"

#: Deterministic dirty projection of events (nulls via modulus).
DIRTY_SQL = """
    SELECT event_id, user_id, event_type, value, props,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value_n,
           CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END AS event_type_n
    FROM events
"""


def dirty_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "props",
        F.when(F.col("event_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("value"))
        .alias("value_n"),
        F.when(F.col("event_id") % 11 == 0, F.lit(None))
        .otherwise(F.col("event_type"))
        .alias("event_type_n"),
    )


def _dirty_rules() -> list[V.Rule]:
    """The users-pipeline rule set mapped onto dirty events:
    required field (ref: src/etl_2018.py:19-20), non-blank string
    (:23-24), numeric range [0,150] (:26-31)."""
    return [
        V.required_fields("value_n")[0],
        V.nonempty_string("event_type_n"),
        V.numeric_range("value_n", 0, 150),
    ]


#: Session-scoped artifact memos (staged layouts, fitted indexes,
#: bucketed tables), the ONE store for them, so
#: ``cache.clear_staging_memos`` forgets them all. Keyed by
#: applicationId, NEVER id(spark): a stopped session's id() can be
#: recycled and must not serve a new session artifacts bound to the
#: dead one.
_SESSION_MEMOS: dict[str, dict] = {}


def session_memo(spark, namespace: str, key, build):
    """Build-once-per-(session, key) artifact cache.

    ``build()`` runs on first access for this SparkSession +
    ``key`` and its result is returned on every later access. One
    shared implementation so every cache gets the applicationId
    keying rule for free."""
    app = spark.sparkContext.applicationId
    ns = _SESSION_MEMOS.setdefault(f"{app}:{namespace}", {})
    if key not in ns:
        ns[key] = build()
    return ns[key]


def canonical_per_key(
    df: DataFrame, key: str, order_cols: list[str]
) -> DataFrame:
    """Duplicate-id canonicalization: ONE row per ``key``, the
    row_number()=1 pick under ``order_cols`` ASC NULLS FIRST.

    Operators that re-join or tie-break by an id column assume the
    id is unique; real at-least-once feeds violate that (the
    round-12 duplicate-key axis). This pins a DETERMINISTIC,
    cross-engine-mirrorable representative: rows agreeing on the key
    AND every order column are exact duplicates (any pick is
    value-identical); rows conflicting on an order column order
    totally. ``canonical_per_key_sql`` is the DuckDB twin — change
    together. Keyed window, scales like any other keyed pass."""
    from pyspark.sql import Window as W

    w = W.partitionBy(key).orderBy(
        *[F.asc_nulls_first(c) for c in order_cols]
    )
    return (
        df.withColumn("_canon_rk", F.row_number().over(w))
        .filter(F.col("_canon_rk") == 1)
        .drop("_canon_rk")
    )


def canonical_per_key_sql(
    inner: str, cols: list[str], key: str, order_cols: list[str]
) -> str:
    """DuckDB twin of :func:`canonical_per_key`: SELECT over
    ``inner`` (a table name or parenthesized subquery) keeping the
    row_number()=1 row per ``key`` under ``order_cols`` ASC NULLS
    FIRST (pinned explicitly — DuckDB defaults to NULLS LAST where
    Spark's asc() is nulls-first)."""
    sel = ", ".join(cols)
    order = ", ".join(f"{c} ASC NULLS FIRST" for c in order_cols)
    return f"""(
      SELECT {sel} FROM (
        SELECT {sel},
               row_number() OVER (PARTITION BY {key}
                                  ORDER BY {order}) AS _canon_rk
        FROM {inner})
      WHERE _canon_rk = 1)"""


def scoped_view(df: DataFrame, base: str, sf_dir) -> str:
    """Register ``df`` as a temp view whose name is scoped to the
    DATASET (md5 of ``sf_dir``) and return the name.

    Temp views are session-global: two concurrent jobs running the
    same literal-SQL query on DIFFERENT datasets in one shared
    SparkSession race between createOrReplaceTempView and
    spark.sql, and the loser silently reads the other job's data
    (round-12 shared-session axis). A dataset-scoped name makes the
    registration idempotent per corpus — concurrent same-corpus
    registrations write identical definitions, and cross-corpus
    jobs never share a name. (Python's hash() is process-salted;
    md5 keeps the name stable across runs for plan-cache reuse.)"""
    import hashlib

    tag = hashlib.md5(str(sf_dir).encode()).hexdigest()[:8]
    name = f"{base}_{tag}"
    df.createOrReplaceTempView(name)
    # Track for release: dataset-scoped names accumulate in a
    # long-lived shared session as corpora rotate (round-12 ADVICE)
    # — cache.release_all() drops them between queries. Keyed by
    # applicationId so a recycled session never drops a live name
    # registered under a dead one, deduped so per-invocation
    # re-registrations don't grow the tracking set itself.
    spark = df.sparkSession
    _SCOPED_VIEWS.setdefault(
        spark.sparkContext.applicationId, {}
    )[name] = spark
    return name


#: Scoped temp views awaiting release: appId -> {view name: session}.
_SCOPED_VIEWS: dict[str, dict[str, SparkSession]] = {}


def release_scoped_views() -> None:
    """Drop every scoped_view-registered temp view (idempotent,
    never raises — a stopped session just skips). Registered as a
    cache.release_all hook so the bench/driver inter-query release
    point also bounds catalog growth (round-12 ADVICE)."""
    while _SCOPED_VIEWS:
        _, views = _SCOPED_VIEWS.popitem()
        for name, spark in views.items():
            try:
                spark.catalog.dropTempView(name)
            except Exception:
                pass


from etl_jobs_spark import cache as _cache  # noqa: E402

_cache.on_release(release_scoped_views)
