"""Benchmark driver: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it is the run record:
the workload's own metric names, its input properties, the
deployment settings and any failed checks.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--workload", required=True, choices=("etl_batch", "query_mix", "stream_ingest")
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _workload(name: str):
    if name == "etl_batch":
        from perfbench.etl_batch import EtlBatch

        return EtlBatch()
    if name == "query_mix":
        from perfbench.query_mix import QueryMix

        return QueryMix()
    from perfbench.stream_ingest import StreamIngest

    return StreamIngest()


def _metric(v: float, unit: str) -> dict:
    return {"value": float(v), "unit": unit}


def _layers(ctx, wl) -> tuple[dict, list]:
    """Per-layer metrics from the spans and the Spark event log, and
    the same split for every operation (query execution, drop or
    micro-batch) on its own."""
    from perfbench import trace
    from perfbench.metrics import PER_LAYER

    spans = ctx.tracer.spans
    jobs, stages, tasks = trace.parse_event_logs(ctx.work / "eventlog")
    att = trace.attribute(spans, jobs, stages, tasks)
    ops = [s for s in spans if s.layer == "op"]
    n = max(len(ops), 1)
    out = {k: 0.0 for k in PER_LAYER}
    for k, v in trace.spark_layer_metrics(spans, att, ops).items():
        if k in out:
            out[k] = v / n
    op_ids = set()
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s.parent, []).append(s)
    todo = [s.id for s in ops]
    while todo:
        i = todo.pop()
        op_ids.add(i)
        todo.extend(c.id for c in by_parent.get(i, []))
    timed = [s for s in spans if s.id in op_ids]
    for layer, name, key in (
        ("queries", "build", "queries.build_ms"),
        ("queries", "action", "queries.action_ms"),
        ("cache", "release", "cache.release_ms"),
    ):
        out[key] = sum(s.ms for s in timed if (s.layer, s.name) == (layer, name)) / n
    out["cache.persisted_rdds"] = (
        sum(s.counts.get("persisted_rdds", 0) for s in timed if s.layer == "cache") / n
    )
    out["session.start_ms"] = ctx.session_ms
    out.update(wl.layers(ctx, spans, att, timed, n))
    own = trace.self_ms(timed)
    per_op = []
    for op in ops:
        row = {"op": op.name, "ms": round(op.ms, 2), "self_ms": round(own[op.id], 2)}
        for k, v in trace.spark_layer_metrics(spans, att, [op]).items():
            row[k.split(".", 1)[1]] = round(v, 2)
        for s in by_parent.get(op.id, []):
            key = f"{s.layer}.{s.name}_ms"
            row[key] = round(row.get(key, 0.0) + s.ms, 2)
        per_op.append(row)
    return out, per_op


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "etl_jobs_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import harness
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.stats import MemorySampler, cpu_ticks, min_samples, percentile, steal_share
    from perfbench.trace import Tracer

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    harness.prepare_environment(work)
    ctx = harness.Context(work, args.seed, args.seconds, Tracer(bool(args.trace)))
    wl = _workload(args.workload)
    phases = {}
    ticks = cpu_ticks()
    t_start = last = time.perf_counter()

    def mark(name):
        nonlocal last
        now = time.perf_counter()
        phases[name] = round(now - last, 3)
        last = now

    try:
        with MemorySampler() as mem:
            inputs = wl.prepare(ctx)
            mark("prepare")
            harness.run_setup(ctx, wl.warm)
            mark("setup")
            measured = wl.measure(ctx)
            mark("measure")
            attempted, failed, details = wl.check(ctx)
            mark("check")
            harness.shutdown(ctx)
            mark("shutdown")
        lat = measured["latencies_ms"]
        e2e = {
            "setup_s": ctx.setup_s,
            "latency_p50_ms": percentile(lat, 0.5),
            "latency_p90_ms": percentile(lat, 0.9),
            "throughput": wl.throughput(),
            "peak_pss_mb": mem.peak_mb,
        }
        layers, per_op = _layers(ctx, wl) if ctx.trace else (None, None)
        if ctx.trace:
            out_dir = ROOT / ".perfbench_work" / "traces"
            out_dir.mkdir(parents=True, exist_ok=True)
            ctx.tracer.write(out_dir / f"{args.workload}-seed{args.seed}.spans.jsonl")
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        harness.shutdown(ctx)
        harness.remove_work(work)
    named = {
        "setup_s": (e2e["setup_s"], "s"),
        "failed_frac": (failed / attempted if attempted else 1.0, "ratio"),
        "peak_pss_mb": (e2e["peak_pss_mb"], "MB"),
        **wl.report({"p50": e2e["latency_p50_ms"], "p90": e2e["latency_p90_ms"]}),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "metrics": {k: _metric(v, u) for k, (v, u) in named.items()},
        "latency_samples": len(lat),
        "p90_is_tail_estimate": len(lat) >= min_samples(0.9),
        "latencies_ms": [[name, round(ms, 1)] for name, ms in measured["ops"]],
        "inputs": inputs,
        "deployment": dict(harness.DEPLOYMENT),
        "failures": details,
        "phases_s": phases,
        "host_steal_share": round(steal_share(ticks, cpu_ticks()), 4),
        "wall_s": round(time.perf_counter() - t_start, 3),
    }
    if ctx.trace:
        record["end_to_end_traced"] = {k: round(v, 4) for k, v in e2e.items()}
        record["per_op"] = per_op
    print(json.dumps(record), flush=True)
    metrics = (
        {k: _metric(layers[k], u) for k, u in PER_LAYER.items()}
        if ctx.trace
        else {k: _metric(e2e[k], u) for k, u in END_TO_END.items()}
    )
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
