"""The oracle checker: per-query correctness check and its cost.

Runs the driver-shaped check (Spark query + DuckDB oracle +
order-insensitive VALUE compare via etl_jobs_spark.compare) for
registered queries and times each one. ``ok: true`` means row count
+ schema + values all matched the oracle (rows-only queries: ran and
returned a stable schema).

Usage: python scripts/sweep_cost.py [sf_dir] [--tier=fast|heavy|full]
       python scripts/sweep_cost.py <sf_dir> name [name...]

With query names it checks only those queries, writes no record, and
exits 1 on any mismatch: the per-change correctness gate, run at
several scale factors without paying the full sweep each time.

Without names it sweeps the registry at the driver's scale (sf0.01 by
default) and records per-query wall time to ``docs/SWEEP_COST.json``,
ranked most-expensive first. The goal: prove the full registry sweep
fits in one round's budget, and point at the queries worth trimming
if it doesn't.

Tiering policy (VERDICT r6 item 7): the full-registry sweep passed
197 s at sf0.01 in round 6 and grows with the registry. The heavy
tier — streaming state-store queries and custom-Python-DataSource
round-trips, whose cost is fixed runtime spin-up rather than data
volume — is pinned in ``HEAVY_TIER`` below. Per-wave iteration runs
``--tier=fast`` (everything else, a few minutes); ``--tier=heavy``
runs the pinned set on rotation, and at least ONE ``full`` sweep per
round (always before the end-of-round commit) keeps the whole
registry driver-grade green on a single JVM. Membership rule: a
query joins HEAVY_TIER when its sweep cost exceeds ~4 s at sf0.01
AND the cost is runtime fixed cost (state store, Python worker
spin-up), not operator work — data-bound queries stay in the fast
tier so regressions in them surface every wave. ``--tier`` applies
to the sweep only; named queries always run.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from etl_jobs_spark import cache, registry  # noqa: E402
from etl_jobs_spark.compare import frames_match, oracle_views  # noqa: E402
from etl_jobs_spark.session import get_spark  # noqa: E402

#: Fixed-runtime-cost queries (state-store spin-up, Python
#: DataSource worker launch) — rotated via --tier=heavy; see the
#: module docstring for the membership rule.
HEAVY_TIER = {
    "stream_interval_join_full",
    "stream_interval_join_outer",
    "stream_tws_processor",
    "source_custom_pushdown",
    "stream_source_custom",
    "sink_custom_ledger",
    "sink_custom_ledger_stream",
}


def main() -> None:
    args = sys.argv[1:]
    tier = "full"
    for a in list(args):
        if a.startswith("--tier="):
            tier = a.split("=", 1)[1]
            args.remove(a)
    if tier not in ("fast", "heavy", "full"):
        print(f"unknown tier {tier!r} (fast|heavy|full)", file=sys.stderr)
        sys.exit(2)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    names = args[1:]
    spark = get_spark("sweep-cost")
    con = oracle_views(sf_dir)

    queries = registry.all_queries()
    oracles = registry.all_oracles()
    if names:
        queries = {n: queries.get(n) for n in names}
    elif tier == "fast":
        queries = {k: v for k, v in queries.items() if k not in HEAVY_TIER}
    elif tier == "heavy":
        queries = {k: v for k, v in queries.items() if k in HEAVY_TIER}
    # absorb JVM/codegen startup so it doesn't bill the first query
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    rows: dict[str, dict] = {}
    for name, fn in queries.items():
        t0 = time.perf_counter()
        ok = True
        err = None
        try:
            if fn is None:
                raise KeyError(f"unknown query {name}")
            got = fn(spark, sf_dir).toPandas()
            n = len(got)
            if name in oracles:
                # the same order-insensitive VALUE comparison the
                # driver performs — ok:true means value-level match
                frames_match(got, con.sql(oracles[name]).df())
        except Exception as e:  # keep sweeping; record the failure
            ok, err, n = False, f"{type(e).__name__}: {e}"[:200], -1
        cache.release_all()
        rows[name] = {
            "sec": round(time.perf_counter() - t0, 3),
            "rows": n,
            "oracled": name in oracles,
            "ok": ok,
            **({"error": err} if err else {}),
        }
        status = "ok" if ok else f"FAIL {err}"
        oracled = "" if name in oracles else ", no oracle"
        print(
            f"# {name}: {rows[name]['sec']:.2f}s {status} ({n} rows{oracled})",
            file=sys.stderr,
        )
    spark.stop()

    if names:
        failed = [k for k, r in rows.items() if not r["ok"]]
        print(f"FAILED: {failed}" if failed else f"ALL {len(rows)} MATCH")
        sys.exit(1 if failed else 0)

    ranked = dict(sorted(rows.items(), key=lambda kv: -kv[1]["sec"]))
    out = {
        "sf_dir": sf_dir,
        "tier": tier,
        "total_sec": round(sum(r["sec"] for r in rows.values()), 1),
        "n_queries": len(rows),
        "queries": ranked,
    }
    # canonical unsuffixed record = full tier at the driver's sf0.01;
    # any other (sf, tier) writes alongside it (a full sf0.1 sweep
    # once clobbered the committed sf0.01 record)
    suffix = "" if tier == "full" else f"_{tier}"
    sf_name = Path(sf_dir).name
    if sf_name != "sf0.01":
        suffix = f"_{sf_name}{suffix}"
    (REPO / "docs" / f"SWEEP_COST{suffix}.json").write_text(
        json.dumps(out, indent=1)
    )
    print(json.dumps({k: out[k] for k in ("total_sec", "n_queries")}))


if __name__ == "__main__":
    main()
