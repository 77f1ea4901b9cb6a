"""Round-13 fault axis — permanent CI sample.

The full sweep (scripts/axis_fault.py → docs/SWEEP_COST_axis_fault.json)
runs every registry streaming row through a mid-drain stop →
restart-from-checkpoint → oracle compare, in two injection modes.
This sample pins one representative per recovery mechanism so the
axis can't silently rot:

- stream_window_counts   — stateful agg, complete-mode drain through
  the fault-mode memory-sink emulation (per-batch parquet, last
  batch wins), stop AFTER the first commit → state-store resume.
- stream_dedup_exact     — watermarked dropDuplicates, append mode:
  the exactly-once dedup contract across the restart.
- source_queue           — foreachBatch dual sink, IMMEDIATE stop
  (batch 0 interrupted in flight → replayed with the same id): the
  per-batch overwrite sinks must absorb the replay without doubling
  (they blind-appended before round 13).
- stream_source_custom   — custom Python SimpleDataSourceStreamReader:
  the restart path called read() at an unchanged offset, and the
  wrapper's next()-probe crashed on the list it returned — every
  restart of this source failed until the round-13 axis caught it.
"""

from __future__ import annotations

import duckdb
import pytest

from etl_jobs_spark import cache
from etl_jobs_spark.compare import frames_match
from etl_jobs_spark.registry import all_oracles, all_queries
from etl_jobs_spark.streaming import pipelines as P
from tests.conftest import SF_DIR

CASES = [
    ("stream_window_counts", dict(stop_after_batches=1)),
    ("stream_dedup_exact", dict(stop_after_batches=1)),
    ("source_queue", dict(stop_after_batches=0)),
    ("stream_source_custom", dict(stop_after_batches=1)),
    # repeated recovery: the MERGE sink's rename-aside state protocol
    # must survive two consecutive crash/recover cycles, not one
    ("stream_merge_upsert", dict(stop_after_batches=1, n_faults=2)),
    # DETERMINISTIC uncommitted-batch replay (sink raises after its
    # real work; restart re-runs the same batch id): the JDBC sink's
    # delete-by-batch guard was a silent no-op — Derby stores the
    # unquoted table name as EVENTS_SINK, the lowercase-quoted lookup
    # never matched — until this mode forced the replay it guards.
    (
        "stream_sink_jdbc",
        dict(stop_after_batches=10**6, crash_after_first_sink=True),
    ),
    # and the same deterministic replay over the per-batch-dir dual
    # sink that blind-appended before round 13
    (
        "source_queue",
        dict(stop_after_batches=10**6, crash_after_first_sink=True),
    ),
]


@pytest.mark.parametrize("name,kw", CASES, ids=[c[0] for c in CASES])
def test_fault_injected_drain_matches_oracle(spark, oracle, name, kw):
    Q, O = all_queries(), all_oracles()
    with P.fault_injection(**kw) as fault:
        got = Q[name](spark, SF_DIR).toPandas()
        log = list(fault["log"])
    cache.release_all()
    assert log, "no availableNow drain was injected"
    frames_match(got, oracle.sql(O[name]).df())


def test_watermark_append_restart_is_bimodal_never_corrupt(
    spark, oracle
):
    """Documented-semantics cell of the axis: a WATERMARKED APPEND
    drain stopped between its data batch and its flush batch emits
    NOTHING after restart — Spark checkpoints the watermark used to
    PLAN each batch, not the event-time stats observed while
    executing it, so the restarted no-new-data run never advances
    the watermark and the finalized windows wait in state for the
    next data-bearing trigger. The contract pinned here: the
    injected result is the full oracle table (stop lost the race) or
    EMPTY (windows pending) — never a partial or wrong-valued
    table."""
    Q, O = all_queries(), all_oracles()
    with P.fault_injection(stop_after_batches=1) as fault:
        got = Q["stream_watermark_append"](spark, SF_DIR).toPandas()
        assert fault["log"], "no drain injected"
    cache.release_all()
    if len(got):
        frames_match(got, oracle.sql(O["stream_watermark_append"]).df())
    # len(got) == 0 is the documented late-emission outcome — and
    # the only other legal one.


def test_fault_mode_does_not_leak(spark):
    """fault_injection scope ends with the context: a later drain is
    a plain single-run await again."""
    assert P._FAULT is None
    with P.fault_injection():
        assert P._FAULT is not None
    assert P._FAULT is None


def test_fault_sink_stays_inside_its_checkpoint(spark, tmp_path):
    """Under injection the memory-sink emulation writes its per-batch
    dirs inside the checkpoint dir, so they go when the checkpoint
    goes: nothing is left next to it."""
    feed, ck = tmp_path / "feed", tmp_path / "ck"
    spark.range(10).repartition(2).write.parquet(str(feed))
    stream = (
        spark.readStream.schema("id BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    with P.fault_injection(stop_after_batches=1):
        got = P.run_to_memory(stream, str(ck))
        assert sorted(r.id for r in got.collect()) == list(range(10))
    assert sorted(p.name for p in tmp_path.iterdir()) == ["ck", "feed"]
