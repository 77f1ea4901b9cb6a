"""Round-13 fault axis: mid-drain stop/restart across every
registry streaming row.

The round-12 probe (tests/test_streaming_recovery.py::
test_mid_drain_kill_restart_is_exactly_once) pinned exactly-once
across a kill/restart for ONE stateful stream. This sweep runs the
same injection through EVERY registered streaming query — the
stream_* rows, the queue pair, and the custom ledger stream sink —
via the shared drain hook (streaming/pipelines.fault_injection), in
BOTH injection modes, and oracle-compares each result with the
driver's own value-level machinery:

  after_first_batch — poll until micro-batch 0 COMMITS, then
      query.stop(): the restart resumes from the checkpoint with the
      remaining input (state-store + offset-log recovery).
  immediate — query.stop() while batch 0 is IN FLIGHT: the restart
      REPLAYS the interrupted batch with the same id (the sink
      idempotency probe; this is the reference's SQS redelivery,
      src/etl_2025.py:233-263, played against our exactly-once
      upgrade).

Per-query verdicts (ok + the injection telemetry, including the
honest ``mid_drain`` flag — a single-batch feed degenerates to a
resume-after-complete and is recorded as such) land in
docs/SWEEP_COST_axis_fault.json. This maps the reference's
redelivery loop onto the checkpoint semantics SURVEY §2.8 claims.

Usage: python scripts/axis_fault.py [sf_dir]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_jobs_spark import cache, registry
from etl_jobs_spark.compare import frames_match, oracle_views
from etl_jobs_spark.session import get_spark
from etl_jobs_spark.streaming import pipelines as P

#: Streaming rows beyond the stream_ prefix: the 2025-era queue pair
#: and the custom Python DataSource stream sink.
EXTRA_STREAMING = {"source_queue", "sink_queue", "sink_custom_ledger_stream"}

MODES = {
    "after_first_batch": dict(stop_after_batches=1),
    "immediate": dict(stop_after_batches=0),
    # a checkpoint must survive arbitrarily many crash/recover
    # cycles: two consecutive stop-after-commit faults before the
    # final drain.
    "double_fault": dict(stop_after_batches=1, n_faults=2),
    # DETERMINISTIC uncommitted-batch replay: the foreachBatch sink
    # raises AFTER its real work on the first attempted batch (the
    # batch is applied but never committed; the restart replays it
    # with the same id against the already-written sink). No stop()
    # race — the sharpest idempotency probe; drains without a
    # Python-side sink ignore it (crash never fires, recorded).
    # Found the Derby identifier-case bug that made
    # stream_sink_jdbc's delete-by-batch replay guard a silent
    # no-op since it was written.
    "sink_crash": dict(stop_after_batches=10**6, crash_after_first_sink=True),
}

#: Documented-semantics cells: a WATERMARKED APPEND drain stopped
#: between its last data batch and its flush batch emits NOTHING on
#: restart — Spark persists the watermark used to PLAN each batch,
#: not the event-time stats observed while EXECUTING it, so the
#: restarted run sees no new data, never advances the watermark, and
#: the finalized windows stay in state until the next data-bearing
#: trigger (upstream Structured Streaming behavior, not an engine
#: bug). The outcome is BIMODAL — the full oracle rows (stop lost
#: the race, drain completed) or zero rows (windows pending) — and
#: never a partial/corrupt table; anything else still FAILS. Pinned
#: by tests/test_streaming_fault_axis.py.
LATE_EMISSION_OK = {"stream_watermark_append"}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("axis-fault", master="local[32]", shuffle_partitions=32)
    con = oracle_views(sf_dir)

    queries = registry.all_queries()
    oracles = registry.all_oracles()
    names = sorted(
        n for n in queries
        if n.startswith("stream_") or n in EXTRA_STREAMING
    )
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    rows: dict[str, dict] = {}
    n_ok = n_mid = n_timed_out = 0
    for name in names:
        rows[name] = {}
        for mode, kw in MODES.items():
            t0 = time.perf_counter()
            ok, err, log, disposition = True, None, [], None
            crash_fired = 0
            try:
                with P.fault_injection(**kw) as fault:
                    got = queries[name](spark, sf_dir).toPandas()
                    log = list(fault["log"])
                    crash_fired = fault.get("crash_fired", 0)
                if name in oracles:
                    try:
                        frames_match(got, con.sql(oracles[name]).df())
                    except AssertionError:
                        if name in LATE_EMISSION_OK and len(got) == 0:
                            disposition = (
                                "pending_windows_not_emitted_on_restart"
                                " (documented watermark-append"
                                " semantics; zero rows, no corruption)"
                            )
                        else:
                            raise
            except Exception as e:
                ok, err = False, f"{type(e).__name__}: {e}"[:300]
            cache.release_all()
            mid = sum(1 for e in log if e.get("mid_drain"))
            # ADVICE r13: surface deadline-expired injections per
            # cell — a cell whose stops landed only AFTER the poll
            # deadline is a degraded-host artifact, not a clean
            # mid-drain pass, and must be distinguishable in the
            # committed record.
            timed_out = sum(e.get("injection_timed_out", 0) for e in log)
            rows[name][mode] = {
                "sec": round(time.perf_counter() - t0, 3),
                "ok": ok,
                "oracled": name in oracles,
                "drains_injected": len(log),
                "stopped_early": sum(1 for e in log if e.get("stopped_early")),
                "mid_drain": mid,
                **({"injection_timed_out": timed_out} if timed_out else {}),
                **({"crash_fired": crash_fired} if "crash" in mode else {}),
                **({"error": err} if err else {}),
                **({"disposition": disposition} if disposition else {}),
            }
            n_ok += ok
            n_mid += mid
            n_timed_out += timed_out
            print(
                f"# {name} [{mode}]: "
                f"{'ok' if ok else 'FAIL'} "
                f"({rows[name][mode]['sec']:.2f}s, "
                f"{len(log)} drains, {mid} mid-drain)"
                + (f" INJECTION_TIMED_OUT x{timed_out}" if timed_out else "")
                + (f" {err}" if err else ""),
                file=sys.stderr,
            )

    out = {
        "axis": "fault_mid_drain_stop_restart",
        "sf_dir": sf_dir,
        "modes": list(MODES),
        "n_queries": len(names),
        "n_cells": len(names) * len(MODES),
        "n_ok": n_ok,
        "n_mid_drain_total": n_mid,
        "n_injection_timed_out": n_timed_out,
        "queries": rows,
    }
    Path("docs/SWEEP_COST_axis_fault.json").write_text(
        json.dumps(out, indent=1)
    )
    print(json.dumps({k: out[k] for k in ("n_cells", "n_ok", "n_mid_drain_total")}))
    spark.stop()


if __name__ == "__main__":
    main()
