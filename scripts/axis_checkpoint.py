"""Round-14 checkpoint durability axis: archive + restart-from-archive
for every registry streaming row (VERDICT r13 item 3).

The fault axis proves a checkpoint survives crash/recover cycles
WITHIN one run. This axis proves the complementary durability
contract: a drained query's checkpoint (offset log, commit log,
state store — HDFS or RocksDB format) can be picked up by a LATER
PROCESS — and, across rounds, by a LATER VERSION of the engine —
without re-emitting, duplicating, or corrupting anything.

Mechanism: ``scratch.pinned_scratch`` makes every scratch
allocation deterministic under a per-query root, and the staging
writers are exists-guarded, so re-running the same query under the
same root in a fresh process resolves to the SAME staged inputs and
checkpoint dirs and therefore RESUMES rather than recomputes.

Two phases, each its own process:

  archive  — run each streaming row under
             archive/checkpoints/<tag>/<query>/, oracle-check, and
             leave the whole tree (staged input + checkpoint + sink
             output) on disk as the archive;
  restart  — re-run each row under the SAME root: the query finds
             its committed checkpoint, drains zero new input, and
             the result must be bimodal per sink class:
               durable sinks (parquet / ledger files / queue dirs /
               Derby) re-read the committed output → full oracle
               match;
               memory sinks are process-local and start empty; with
               every batch already committed the restart must emit
               NOTHING (an emission would be a replay of committed
               work — the exactly-once violation this axis exists
               to catch).

Cross-version use (round 15+): run ``restart <old-tag>`` against the
archive a PREVIOUS round committed — that is the checkpoint-format /
engine-upgrade compatibility axis the r13 handoff asked to start.

Usage:
  python scripts/axis_checkpoint.py archive [sf_dir] [tag]
  python scripts/axis_checkpoint.py restart [sf_dir] [tag]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_jobs_spark import cache, registry, scratch
from etl_jobs_spark.compare import frames_match, oracle_views
from etl_jobs_spark.session import get_spark

EXTRA_STREAMING = {"source_queue", "sink_queue", "sink_custom_ledger_stream"}

#: Rows whose result surface is a MEMORY sink (process-local,
#: non-durable): a fresh-process restart over a fully-committed
#: checkpoint legitimately yields ZERO rows — Structured Streaming
#: refuses to re-emit committed batches, and the memory table died
#: with the first process. Anything other than empty-or-full is a
#: failure for these rows; non-listed rows must match the oracle
#: exactly on restart.
MEMORY_SINK_ROWS = {
    "stream_window_counts",
    "stream_sliding_counts",
    "stream_topk_types",
    "stream_session_windows",
    "stream_pii_redact",
}

#: Rows whose memory sink runs in APPEND/UPDATE mode: Spark refuses
#: to START a non-fault-tolerant memory-sink query over an existing
#: checkpoint outside complete mode ("This query does not support
#: recovering from checkpoint location") — a LOUD upstream refusal,
#: the documented durability contract for these rows, never a torn
#: state. Their within-run state recovery is covered by the fault
#: axis (the memory table survives in-process there); their
#: cross-process recovery is upstream-refused by design.
MEMORY_NONRECOVERABLE_ROWS = {
    "stream_watermark_append",
    "stream_stateful_pandas",
    "stream_static_join",
    "stream_dedup_exact",
    "stream_tws_processor",
}


def main() -> None:
    phase = sys.argv[1] if len(sys.argv) > 1 else "archive"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    tag = sys.argv[3] if len(sys.argv) > 3 else "r14"
    assert phase in ("archive", "archive-midway", "restart"), phase
    root = Path(__file__).resolve().parent.parent / "archive" / "checkpoints" / tag

    spark = get_spark("axis-checkpoint", master="local[32]", shuffle_partitions=32)
    con = oracle_views(sf_dir)

    queries = registry.all_queries()
    oracles = registry.all_oracles()
    names = sorted(
        n for n in queries
        if n.startswith("stream_") or n in EXTRA_STREAMING
    )
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    rows: dict[str, dict] = {}
    n_ok = 0
    for name in names:
        t0 = time.perf_counter()
        ok, err, outcome = True, None, None
        try:
            # each query stages its OWN inputs under its own pinned
            # root, so every archive is self-contained
            cache.clear_staging_memos()
            if phase == "archive-midway":
                # Stop after the first COMMITTED batch and leave the
                # checkpoint MID-DRAIN (no resume): the later
                # `restart` phase — a fresh process, and across
                # rounds a newer engine — must pick it up, replay
                # the interrupted work, and reach the full oracle
                # answer. The truncated result here is deliberately
                # NOT checked (it is incomplete by construction);
                # single-batch feeds degenerate to a complete drain
                # and are recorded as such via stopped_early.
                from etl_jobs_spark.streaming import pipelines as P

                with P.fault_injection(
                    stop_after_batches=1, resume=False
                ) as fault:
                    with scratch.pinned_scratch(root / name):
                        got = queries[name](spark, sf_dir).toPandas()
                stopped = sum(
                    e.get("stopped_early", 0) for e in fault["log"]
                )
                rows[name] = {
                    "sec": round(time.perf_counter() - t0, 3),
                    "ok": True,
                    "outcome": f"archived_midway(stopped_early={stopped})",
                    "oracled": name in oracles,
                }
                n_ok += 1
                print(
                    f"# {name} [{phase}]: ok "
                    f"({rows[name]['sec']:.2f}s, "
                    f"{rows[name]['outcome']})",
                    file=sys.stderr,
                )
                cache.release_all()
                continue
            try:
                with scratch.pinned_scratch(root / name):
                    got = queries[name](spark, sf_dir).toPandas()
            except Exception as e:
                if (
                    phase == "restart"
                    and name in MEMORY_NONRECOVERABLE_ROWS
                    and "does not support recovering from checkpoint"
                    in str(e)
                ):
                    rows[name] = {
                        "sec": round(time.perf_counter() - t0, 3),
                        "ok": True,
                        "outcome": "recovery_refused_loud_upstream",
                        "oracled": name in oracles,
                    }
                    n_ok += 1
                    print(
                        f"# {name} [{phase}]: ok "
                        "(recovery_refused_loud_upstream — memory "
                        "sink, append/update mode)",
                        file=sys.stderr,
                    )
                    cache.release_all()
                    continue
                raise
            if name not in oracles:
                outcome = f"rows_only:{len(got)}"
            else:
                exp = con.sql(oracles[name]).df()
                if phase == "restart" and name in MEMORY_SINK_ROWS and len(got) == 0:
                    # documented no-reemission restart of a
                    # memory-sink row (see MEMORY_SINK_ROWS)
                    outcome = "resume_no_reemission"
                else:
                    frames_match(got, exp)
                    outcome = (
                        "resume_full" if phase == "restart" else "archived_green"
                    )
        except Exception as e:
            ok, err = False, f"{type(e).__name__}: {e}"[:300]
        cache.release_all()
        rows[name] = {
            "sec": round(time.perf_counter() - t0, 3),
            "ok": ok,
            "outcome": outcome,
            "oracled": name in oracles,
            **({"error": err} if err else {}),
        }
        n_ok += ok
        print(
            f"# {name} [{phase}]: {'ok' if ok else 'FAIL'} "
            f"({rows[name]['sec']:.2f}s, {outcome})"
            + (f" {err}" if err else ""),
            file=sys.stderr,
        )

    out_path = Path("docs/SWEEP_COST_axis_checkpoint.json")
    prior = json.loads(out_path.read_text()) if out_path.exists() else {}
    prior.setdefault("axis", "checkpoint_archive_restart")
    prior.setdefault("phases", {})
    # engine_tree: which CODE ran this phase. A restart whose
    # engine_tree differs from its archive's archive-phase tree is a
    # CROSS-VERSION restart — the upgrade-safety axis (VERDICT r14
    # item 1), distinguishable in-band instead of by session lore.
    try:
        import subprocess

        tree = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=Path(__file__).parent,
        ).stdout.strip() or None
    except Exception:
        tree = None
    prior["phases"][f"{phase}:{tag}"] = {
        "sf_dir": sf_dir,
        "tag": tag,
        "engine_tree": tree,
        "n_queries": len(names),
        "n_ok": n_ok,
        "queries": rows,
    }
    out_path.write_text(json.dumps(prior, indent=1))
    print(json.dumps({"phase": phase, "tag": tag, "n": len(names), "n_ok": n_ok}))
    spark.stop()


if __name__ == "__main__":
    main()
