"""Scoped cache tracking.

Operators that persist an intermediate (the decontamination gram
explode, the graph-analytics normalized-edge table) register the
handle here instead of leaking it into the session's block manager.
Long-lived sessions (bench.py, the driver's correctness sweep, a
notebook) call :func:`release_all` between queries so repeated
invocations don't accumulate cached blocks — the round-2 bench log
showed 'Asked to cache already cached data' warnings from exactly
this leak.

At 100 TB the same discipline matters more, not less: an unreleased
persist pins executor storage memory that the next stage's shuffle
needs, turning a one-query optimization into cluster-wide eviction
churn."""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []

#: Extra release hooks (e.g. scoped temp-view cleanup in
#: queries/_shared.py) run by release_all after unpersisting.
_RELEASE_HOOKS: list = []


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` and remember the handle for later release."""
    df.persist()
    _TRACKED.append(df)
    return df


def on_release(hook) -> None:
    """Register a zero-arg callable to run on every release_all()
    (deduped — module-level registration may re-run on reload)."""
    if hook not in _RELEASE_HOOKS:
        _RELEASE_HOOKS.append(hook)


def release_all() -> None:
    """Unpersist every tracked DataFrame and run the registered
    release hooks (idempotent, never raises).

    QUIESCE-POINT operation: call between jobs, never concurrently
    with one — the scoped-view hook drops temp views a query still
    being constructed on another thread may not have analyzed yet
    (an unpersist race was only a perf hazard; a view drop is a
    loud failure). The bench/driver/sweep call sites all release
    after collect, serially."""
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass
    for hook in _RELEASE_HOOKS:
        try:
            hook()
        except Exception:
            pass


def clear_staging_memos() -> None:
    """Forget every staged fixture so the next call of a staging
    helper re-stages it from scratch (fresh uuid dirs). Every staged
    fixture is memoized in the one ``_shared.session_memo`` store, so
    this clears one dict and cannot miss a fixture.

    Two consumers: the checkpoint axis (each archive must be
    self-contained, scripts/axis_checkpoint.py) and the bench's
    second pass, which must pay the SAME staging cost as the first:
    a fixture one pass re-staged and the other reused would time
    one row on two bases, and min-of-2 would keep the cheaper one.
    Fixtures that are setup by policy are re-staged before each pass
    (``bench.SHARED_FIXTURES``)."""
    from etl_jobs_spark.queries import _shared

    _shared._SESSION_MEMOS.clear()
