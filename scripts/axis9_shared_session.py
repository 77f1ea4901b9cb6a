"""Axis 9: shared-session concurrency differential.

A production SparkSession is SHARED: notebook users, a thread-pooled
job server, two streams — all in one session. Session-global state
(temp view names, conf, artifact memos) that is correct serially can
silently cross-contaminate concurrent jobs. This harness runs query
pairs CONCURRENTLY on one session against TWO corpora and
value-compares each result against its own corpus's DuckDB oracle.

Findings and dispositions: docs/FLOAT_ORDER_AUDIT.md round-12 axis-9
section (the unscoped-temp-view race read the wrong corpus 30/60
executions; all seven sites now register dataset-scoped names via
queries/_shared.scoped_view). Permanent CI sample:
tests/test_shared_session.py.

Usage: python scripts/axis9_shared_session.py
"""

from __future__ import annotations

import random
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_jobs_spark import cache, registry
from etl_jobs_spark.compare import frames_match, oracle_views
from etl_jobs_spark.session import get_spark
import etl_jobs_spark.queries  # noqa: F401

DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

#: the queries whose session-global state the axis aims at — every
#: temp-view site and every memoized shared artifact — plus a broad
#: random sample. Streaming and the serial-only fit tier excluded
#: (own runtimes / loud unique-id contracts).
TARGETED = [
    "graph_reachability_sql", "agg_grouping_sets", "join_lateral_topn",
    "recursive_cte_hierarchy", "udtf_passage_chunks",
    "udtf_arrow_shingles", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "embed_ivf_topk", "graph_triangle_count", "graph_bfs_hops",
    "scan_text_logparse", "multimodal_decode_png_bmp",
    "q1_pricing_summary", "join_star_revenue", "agg_pivot_events",
]


def main() -> int:
    spark = get_spark("axis9", shuffle_partitions=16)
    Q, O = registry.all_queries(), registry.all_oracles()

    tl = threading.local()

    def con_for(d):
        key = f"con_{d.replace('/', '_')}"
        c = getattr(tl, key, None)
        if c is None:  # duckdb connections are not thread-safe
            c = oracle_views(d)
            setattr(tl, key, c)
        return c

    rng = random.Random(0xA915)
    targeted = [t for t in TARGETED if t in Q]
    extra = [
        n for n in sorted(Q)
        if n not in targeted
        and not n.startswith(("stream_", "sink_", "source_"))
        and n != "embed_kmeans_lloyd"
    ]
    sample = targeted + rng.sample(extra, 24)
    tasks = [(n, d) for n in sample for d in DIRS]
    rng.shuffle(tasks)

    fails: list[tuple[str, str, str]] = []
    lock = threading.Lock()

    def run_one(args):
        name, d = args
        try:
            got = Q[name](spark, d).toPandas()
            frames_match(got, con_for(d).sql(O[name]).df())
            return f"OK   {name} @ {d.rsplit('/', 1)[1]}"
        except Exception as e:  # keep sweeping; record the failure
            with lock:
                fails.append((name, d, f"{type(e).__name__}: {e}"))
            return f"FAIL {name} @ {d.rsplit('/', 1)[1]}"

    with ThreadPoolExecutor(max_workers=8) as ex:
        for msg in ex.map(run_one, tasks):
            print(msg, flush=True)

    print(f"\n{len(tasks)} tasks, {len(fails)} failures")
    for n, d, e in fails:
        print("-", n, d, e[:200])
    cache.release_all()
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
