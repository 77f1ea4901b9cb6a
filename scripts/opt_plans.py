"""Optimization-round plan capture + isolated timing (guide §1).

For each named query: build the DataFrame, write
``.explain("formatted")`` to <outdir>/<name>_<suffix>.txt, then time
the computation with the NOOP sink (computes every column, discards
output — guide §1.4) and record the global job-counter delta.

Usage:
  python scripts/opt_plans.py <outdir> <suffix> <sf_dir> name [name...]

The shared memoized fixtures the named queries read are pre-staged
from bench.py's list, so the numbers isolate the operator, not
one-time staging. ``noop_runs`` is the timing loop
scripts/scale_ladder.py shares.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from bench import prestage_shared  # noqa: E402
from etl_jobs_spark import cache, registry  # noqa: E402
from etl_jobs_spark.session import get_spark  # noqa: E402


def total_jobs(spark) -> int:
    """The driver's global DAGScheduler job counter."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def noop_runs(
    spark, build, sf_dir: str, n: int = 2
) -> tuple[list[float], list[int]]:
    """Build ``build(spark, sf_dir)`` afresh and write it to the noop
    sink (computes every column, discards the output) ``n`` times.
    Persists are released before each run and after the last. Returns
    the seconds and the job-counter delta of each run."""
    secs, jobs = [], []
    for _ in range(n):
        cache.release_all()
        j0, t0 = total_jobs(spark), time.perf_counter()
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        secs.append(round(time.perf_counter() - t0, 3))
        jobs.append(total_jobs(spark) - j0)
    cache.release_all()
    return secs, jobs


def main() -> None:
    outdir, suffix, sf_dir = sys.argv[1], sys.argv[2], sys.argv[3]
    names = sys.argv[4:]
    out = Path(outdir)
    out.mkdir(parents=True, exist_ok=True)
    spark = get_spark("opt-plans")
    sc = spark.sparkContext
    queries = registry.all_queries()
    # warmup
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    prestage_shared(spark, sf_dir, names)

    results = {}
    for name in names:
        if name not in queries:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        sc.setJobDescription(f"opt:{name}")
        # plan capture — built fresh so iterative queries' eager
        # actions (checkpoints/collects) run exactly once per build
        j0, t0 = total_jobs(spark), time.perf_counter()
        df = queries[name](spark, sf_dir)
        build_s = time.perf_counter() - t0
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        build_jobs = total_jobs(spark) - j0
        (out / f"{name}_{suffix}.txt").write_text(plan)
        runs, jobs_runs = noop_runs(spark, queries[name], sf_dir)
        results[name] = {
            "build_s": round(build_s, 3),
            "build_jobs": build_jobs,
            "noop_s": runs,
            "noop_jobs": jobs_runs,
            "plan_exchanges": plan.count("Exchange"),
            "plan_file": f"{name}_{suffix}.txt",
        }
        print(f"# {name}: noop {runs} jobs {jobs_runs} "
              f"exch~{plan.count('Exchange')}", file=sys.stderr)
        sc.setJobDescription(None)
    print(json.dumps(results, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
