"""Scale ladder (docs/SCALE.md): build id-offset replicas of a fixture
directory and time queries across the rungs in one warm JVM.

``build`` unions ``copies`` copies of each table in ``OFFSETS``, copy
``i`` shifting each listed id column by ``i * step`` (copy 0 is
unshifted, so fixed probe workloads like QUERY_IDS still resolve).
Foreign keys step with their primary keys, so every copy's facts join
their own copy's rows 1:1. Tables not in ``OFFSETS`` are symlinked
to the source, the directory named by ``$SPARK_GRAFT_SF_DIR``.
An id-offset replica keeps keys uniform, so ``--skew`` picks one
pathological variant:

- ``keys``: half of all events collapse onto user_id 7 and 3/4 onto
  event_type 'click'; only event_id is offset, so the hot keys stay
  hot across copies (the workload the salted join/agg exist for);
- ``hub``: 10% of lineitems collapse onto part 1, one hub whose
  co-purchase wedge fan-out id-orientation cannot bound, still one
  hub after replication (only l_orderkey is offset);
- ``grow``: l_partkey is offset too, so each copy has its own part
  universe and the distinct co-purchase edges (and triangles) grow
  with the copies instead of repeating the same pairs.

``run`` takes comma-separated rung directories. Each is pre-staged
with the shared fixtures the named queries read, then each query is
timed into the noop sink, min of 2. Cores come from
``$SPARK_GRAFT_CPUS``. It prints one JSON line. A replica is a
measurement fixture only: never oracle-checked, never read by bench.py.

Usage:
  SPARK_GRAFT_SF_DIR=<src> python scripts/scale_ladder.py build <out> <copies> [--skew=keys|hub|grow]
  python scripts/scale_ladder.py run DIR[,DIR...] name [name...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from functools import reduce
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import prestage_shared  # noqa: E402
from etl_jobs_spark import cache, registry  # noqa: E402
from etl_jobs_spark.session import get_spark  # noqa: E402
from etl_jobs_spark.sources.readers import FIXTURE_TABLES, read_table  # noqa: E402

#: id columns to offset per replica copy, per table.
OFFSETS = {
    "documents": {"doc_id": 10_000_000},
    "events": {"event_id": 10_000_000, "user_id": 1_000_000},
    "customer": {"c_custkey": 1_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "lineitem": {"l_orderkey": 10_000_000},
    "embeddings": {"vec_id": 1_000_000},
}

#: --skew choice -> (table, column rewrites, offsets replacing the
#: table's OFFSETS entry or None); see the module docstring.
SKEWS = {
    "keys": ("events", {
        "user_id": "CASE WHEN event_id % 2 = 0 THEN 7 ELSE user_id END",
        "event_type": "CASE WHEN event_id % 4 < 3 THEN 'click' ELSE event_type END",
    }, {"event_id": 10_000_000}),
    "hub": ("lineitem", {
        "l_partkey": "CASE WHEN (l_orderkey * 31 + l_linenumber) % 10 = 0"
        " THEN 1 ELSE l_partkey END",
    }, None),
    "grow": ("lineitem", {}, {**OFFSETS["lineitem"], "l_partkey": 10_000_000}),
}


def build(spark, src: str, out: str, copies: int, skew: str | None = None) -> None:
    """Write a ``copies``-fold replica of ``src`` to ``out`` (replaced)."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    skew_table, rewrites, skew_offsets = SKEWS[skew] if skew else (None, {}, None)
    for t in FIXTURE_TABLES:
        if t not in OFFSETS:
            os.symlink(Path(src).resolve() / f"{t}.parquet", Path(out) / f"{t}.parquet")
            continue
        df, offsets = read_table(spark, src, t), OFFSETS[t]
        if t == skew_table:
            df = df.withColumns({c: F.expr(e) for c, e in rewrites.items()})
            offsets = skew_offsets or offsets
        parts = [df] + [
            df.withColumns({c: F.col(c) + F.lit(i * s) for c, s in offsets.items()})
            for i in range(1, copies)
        ]
        reduce(DataFrame.unionByName, parts).write.mode("overwrite").parquet(
            str(Path(out) / f"{t}.parquet")
        )


def noop_runs(spark, build, sf_dir: str, n: int = 2) -> list[float]:
    """Build ``build(spark, sf_dir)`` afresh and write it to the noop
    sink (computes every column, discards the output) ``n`` times.
    Persists are released before each run and after the last. Returns
    the seconds of each run."""
    secs = []
    for _ in range(n):
        cache.release_all()
        t0 = time.perf_counter()
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        secs.append(round(time.perf_counter() - t0, 3))
    cache.release_all()
    return secs


def run(dirs: list[str], names: list[str]) -> None:
    spark = get_spark("scale-ladder")
    queries = registry.all_queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    results: dict[str, dict[str, float]] = {}
    for d in dirs:
        spark.read.parquet(f"{d}/lineitem.parquet").count()
        prestage_shared(spark, d, names)
        results[d] = {}
        for name in names:
            secs = noop_runs(spark, queries[name], d)
            results[d][name] = min(secs)
            print(f"# {d} {name}: {secs}", file=sys.stderr)
    print(json.dumps({"master": spark.sparkContext.master, "noop_min2": results}))
    spark.stop()


def main() -> None:
    args = sys.argv[1:]
    skew = None
    for a in list(args):
        if a.startswith("--skew="):
            skew = a.split("=", 1)[1]
            args.remove(a)
    src = os.environ.get("SPARK_GRAFT_SF_DIR")
    if len(args) >= 3 and args[0] == "build" and src and skew in (None, *SKEWS):
        build(get_spark("scale-ladder-build"), src, args[1], int(args[2]), skew)
    elif len(args) >= 3 and args[0] == "run" and skew is None:
        run(args[1].split(","), args[2:])
    else:
        raise SystemExit(__doc__.split("Usage:")[1])


if __name__ == "__main__":
    main()
