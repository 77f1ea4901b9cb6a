"""Run every workload untraced and traced, and print each workload's
named end-to-end metrics, its per-layer metrics and the tracing
overhead (traced minus untraced, as a share of untraced).

    python3 perfbench/report.py --seed 1 --seconds 6 [--workload query_mix]
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("etl_batch", "query_mix", "stream_ingest")


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """(run record, result line) of one run.py invocation."""
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=HERE.parent, capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--workload", choices=WORKLOADS, action="append")
    args = ap.parse_args(argv)
    for wl in args.workload or WORKLOADS:
        record, plain = _run(wl, args.seed, args.seconds, 0)
        traced_record, traced = _run(wl, args.seed, args.seconds, 1)
        print(f"== {wl}  correct={plain['correct']} attempted={plain['attempted']} "
              f"failed={plain['failed']}")
        for name, m in record["metrics"].items():
            print(f"  {name:28s} {m['value']:14.3f} {m['unit']}")
        print("  -- per layer (traced run)")
        for name, m in traced["metrics"].items():
            print(f"  {name:28s} {m['value']:14.3f} {m['unit']}")
        print("  -- tracing overhead (traced / untraced - 1)")
        for name, m in plain["metrics"].items():
            t = traced_record["end_to_end_traced"][name]
            print(f"  {name:28s} {t / m['value'] - 1.0:+8.1%}")
        if record["failures"]:
            print("  -- failed checks")
            for f in record["failures"]:
                print(f"  {json.dumps(f)[:200]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
