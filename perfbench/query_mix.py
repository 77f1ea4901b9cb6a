"""query_mix: the read side. One client in a closed loop runs the
registered queries in an order shuffled by the seed, releasing the
engine's tracked caches between queries, and checks every result
against the query's DuckDB oracle."""

from __future__ import annotations

import random
import time

from perfbench import gen, harness
from perfbench.stats import digest

#: Generated table scale (lineitem = 6e6 * SF rows) and the fixed
#: seed of the tables: ``--seed`` shuffles the query order, so every
#: run reads the same tables and the oracle digests stay comparable.
SF = 0.01
TABLE_SEED = 42

#: The mix: two relational JVM-only queries, two job-heavy ones (many
#: driver round trips each) and one on Python workers. An odd count
#: puts the median on the middle query's own executions instead of
#: between two queries, and the mix is chosen so that the middle query,
#: ``q1_pricing_summary``, lies well apart from its neighbours (about
#: twice the next faster one, half the next slower one); with a
#: neighbour within a tenth of it, the median jumped between the two
#: queries from run to run.
QUERIES = (
    "q1_pricing_summary",
    "window_rank_events",
    "recursive_cte_hierarchy",
    "embed_pca_power_iter",
    "multimodal_decode_features",  # pandas UDF
)


#: Set-up runs one pass (it pays JIT compilation and fills the session
#: memos). A run then times round(--seconds / SECONDS_PER_PASS) whole
#: passes (three at --seconds 6), so every run with the same --seconds
#: executes the same multiset of queries and the median is the middle
#: query's middle execution. A warm pass takes about 4 s on 4 cores.
SECONDS_PER_PASS = 2.0


class QueryMix:
    name = "query_mix"

    def prepare(self, ctx: harness.Context) -> dict:
        self.sf_dir = ctx.work / "tables"
        self.table_bytes = gen.write_tables(self.sf_dir, SF, TABLE_SEED)
        self.rng = random.Random(ctx.seed)
        return {
            "tables": len(self.table_bytes),
            "bytes": sum(self.table_bytes.values()),
            "rows": gen.table_sizes(SF),
            "table_seed": TABLE_SEED,
            "sf": SF,
            "queries": len(QUERIES),
            "clients": 1,
            "expected_from": "duckdb_oracle",
        }

    def _expected(self) -> dict:
        """(row count, digest) per query from its DuckDB oracle."""
        import duckdb

        from etl_jobs_spark import registry

        oracles = registry.all_oracles()
        con = duckdb.connect()
        try:
            for t in self.table_bytes:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir / t}.parquet'")
            out = {}
            for q in QUERIES:
                rel = con.sql(oracles[q])
                out[q] = digest(rel.columns, rel.fetchall())
            return out
        finally:
            con.close()

    def warm(self, ctx: harness.Context) -> None:
        from etl_jobs_spark import cache, registry

        fns = registry.all_queries()
        for q in QUERIES:
            fns[q](ctx.spark, str(self.sf_dir)).collect()
            cache.release_all()

    def measure(self, ctx: harness.Context) -> dict:
        from etl_jobs_spark import cache, registry

        fns = registry.all_queries()
        spark, tr = ctx.spark, ctx.tracer
        self.execs = []  # (query, latency_ms, release_ms, (rows, digest))
        busy = 0.0
        for _ in range(max(1, round(ctx.seconds / SECONDS_PER_PASS))):
            order = list(QUERIES)
            self.rng.shuffle(order)
            for q in order:
                with tr.span("op", q):
                    t0 = time.perf_counter()
                    try:
                        with tr.span("queries", "build"):
                            df = fns[q](spark, str(self.sf_dir))
                        with tr.span("queries", "action"):
                            rows = df.collect()
                    except Exception as e:  # counted as a failed operation
                        df, rows, err = None, None, f"{type(e).__name__}: {str(e)[:300]}"
                    t1 = time.perf_counter()
                    with tr.span("cache", "release") as sp:
                        if sp is not None:
                            sp.counts["persisted_rdds"] = (
                                spark.sparkContext._jsc.getPersistentRDDs().size()
                            )
                        cache.release_all()
                    t2 = time.perf_counter()
                got = digest(df.columns, [tuple(r) for r in rows]) if df is not None else err
                self.execs.append((q, (t1 - t0) * 1e3, (t2 - t1) * 1e3, got))
                busy += t2 - t0
        self.busy_s = busy
        return {
            "latencies_ms": [e[1] for e in self.execs],
            "ops": [(e[0], e[1]) for e in self.execs],
        }

    def check(self, ctx: harness.Context) -> tuple[int, int, list]:
        """(attempted, failed, details): one operation per execution,
        failed when its (row count, digest) differs from the oracle's."""
        want = self._expected()
        bad = [
            {"query": q, "got": got, "want": want[q]}
            for q, _, _, got in self.execs
            if got != want[q]
        ]
        return len(self.execs), len(bad), bad[:5]

    def throughput(self) -> float:
        """Queries completed per second of client time."""
        return len(self.execs) / self.busy_s

    def report(self, lat) -> dict:
        return {
            "query_p50_ms": (lat["p50"], "ms"),
            "query_p90_ms": (lat["p90"], "ms"),
            "queries_per_min": (self.throughput() * 60.0, "1/min"),
        }

    def layers(self, ctx, spans, att, timed, n) -> dict:
        return {}  # the generic spark/queries/cache split covers this workload
