"""etl_batch: the multi-file batch era. A closed loop loads seeded CSV
drops one after another: typed scan, validation with quarantine,
cleaning, a transactional commit of the clean rows, a partitioned
parquet copy by day, the quarantine sink and the quality collects.
Every table is read back and counted after the timed loop."""

from __future__ import annotations

import time
from dataclasses import dataclass
from pathlib import Path

from perfbench import gen, harness
from perfbench.trace import Tracer

ROWS_PER_DROP = 10_000
FILES_PER_DROP = 4
DAYS_PER_DROP = 7
#: A run loads round(--seconds / SECONDS_PER_DROP) drops, so runs with
#: the same --seconds do the same work (six drops at --seconds 6; a
#: drop takes about 2 s on 4 cores).
SECONDS_PER_DROP = 1.0

#: Operations per drop whose outputs are checked: the transactional
#: commit, the partitioned sink, the quarantine sink, the quality row.
OPS = ("txn_commit", "partitioned_sink", "quarantine_sink", "quality")


def _schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )


def _rules():
    from pyspark.sql import functions as F

    from etl_jobs_spark.operators import validation as V

    lo, hi = gen.VALUE_RANGE
    return [
        *V.required_fields("event_id", "ts"),
        V.nonempty_string("event_type"),
        # a malformed number parses to NULL and keeps its raw line
        V.Rule("parsed", F.col("_corrupt_record").isNull()),
        # a missing number is imputed below, not rejected
        V.Rule("range_value", F.col("value").isNull() | F.col("value").between(lo, hi)),
    ]


@dataclass
class Tables:
    clean: Path
    partitioned: Path
    quarantine: Path


@dataclass
class DropRun:
    drop: gen.Drop
    result: dict | None  # what load_drop collected; None when it raised
    error: str | None
    ms: float


def load_drop(spark, tr, path: str, t: Tables) -> dict:
    """One drop through the pipeline; returns what it collected."""
    from pyspark.sql import functions as F

    from etl_jobs_spark.operators import cleaning, quality, validation
    from etl_jobs_spark.sources import readers, txn_log, writers

    rules = _rules()
    with tr.span("readers", "scan_csv"):
        raw = readers.scan_csv(
            spark, path, schema=_schema(), columnNameOfCorruptRecord="_corrupt_record"
        )
    with tr.span("operators", "validate_split"):
        valid, rejected = validation.validate_split(raw, rules)
    with tr.span("operators", "clean"):
        clean = cleaning.dedup_full_row(valid.drop("_corrupt_record"))
        clean = cleaning.fillna_const(clean, {"user_id": -1, "props": "{}"})
        clean = cleaning.fillna_mean(clean, "value")
        clean = cleaning.proj_cast_int(clean, "value", "value_int")
        clean = cleaning.proj_add_ts(clean)
        clean = cleaning.proj_batch_id(clean)
        clean = clean.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    with tr.span("txn_log", "txn_commit"):
        version = txn_log.txn_commit(clean, str(t.clean))
    # Day-partitioned copy through ``sink_parquet(partition_by=...)``,
    # not ``sink_parquet_partitions_direct``: the latter leaves its
    # per-partition lock sidecars inside the table root, so the table
    # does not read back (README.md, "Defects found").
    with tr.span("writers", "sink_parquet_partitioned"):
        writers.sink_parquet(clean, str(t.partitioned), partition_by=["day"])
    with tr.span("writers", "sink_parquet"):
        writers.sink_parquet(rejected, str(t.quarantine))
    with tr.span("operators", "quality"):
        q = quality.run_quality_metrics(raw, rules).collect()[0]
        outliers = quality.count_outliers_iqr(clean, "value").collect()[0][0]
    return {
        "version": version,
        "total": q["total_records"],
        "valid": q["valid_records"],
        "outliers": outliers,
    }


def table_debris(*roots: Path) -> list[str]:
    """Files under table roots that a Spark scan would read but that
    are not data: neither hidden (``.``/``_`` prefixed) nor parquet."""
    out = []
    for root in roots:
        if not root.exists():
            continue
        for p in root.rglob("*"):
            rel = p.relative_to(root)
            hidden = any(part.startswith((".", "_")) for part in rel.parts)
            if p.is_file() and not hidden and p.suffix != ".parquet":
                out.append(str(rel))
    return sorted(out)


class EtlBatch:
    name = "etl_batch"

    def prepare(self, ctx: harness.Context) -> dict:
        self.drops_dir = ctx.work / "drops"
        self.next_drop = 0
        self.props = {"files": 0, "bytes": 0, "rows": 0, "drops": 0}
        # the warm-up drop is full size, so the first timed drop runs
        # warm, and is generated here, outside set-up
        self.warm_path, _ = self._drop(ctx)
        return {
            "rows_per_drop": ROWS_PER_DROP,
            "files_per_drop": FILES_PER_DROP,
            "days_per_drop": DAYS_PER_DROP,
            "dirty_shares": dict(gen.DIRTY_SHARES),
            "duplicate_share": gen.DUP_SHARE,
            "value_range": list(gen.VALUE_RANGE),
            "timed": self.props,
        }

    def _drop(self, ctx) -> tuple[str, gen.Drop]:
        n = self.next_drop
        self.next_drop += 1
        path = self.drops_dir / f"drop-{n:04d}"
        d = gen.etl_drop(path, ctx.seed, n, ROWS_PER_DROP, FILES_PER_DROP, DAYS_PER_DROP)
        return str(path), d

    def _tables(self, ctx, name: str) -> Tables:
        base = ctx.work / name
        return Tables(base / "clean", base / "by_day", base / "quarantine")

    def warm(self, ctx: harness.Context) -> None:
        load_drop(ctx.spark, Tracer(False), self.warm_path, self._tables(ctx, "warm"))

    def measure(self, ctx: harness.Context) -> dict:
        self.tables = self._tables(ctx, "timed")
        self.runs: list[DropRun] = []
        busy = 0.0
        with harness.traced_locks(ctx.tracer):
            for _ in range(max(1, round(ctx.seconds / SECONDS_PER_DROP))):
                path, d = self._drop(ctx)
                t0 = time.perf_counter()
                try:
                    with ctx.tracer.span("op", f"drop-{len(self.runs)}"):
                        res, err = load_drop(ctx.spark, ctx.tracer, path, self.tables), None
                except Exception as e:  # counted as failed operations
                    res, err = None, f"{type(e).__name__}: {str(e)[:300]}"
                dt = time.perf_counter() - t0
                self.runs.append(DropRun(d, res, err, dt * 1e3))
                busy += dt
                for k in ("files", "bytes", "rows"):
                    self.props[k] += getattr(d, k)
                self.props["drops"] += 1
        self.busy_s = busy
        drops = [r.drop for r in self.runs]
        self.props["distinct_days"] = len(set().union(*(d.days for d in drops)))
        self.props["reject_share"] = sum(d.rejected for d in drops) / self.props["rows"]
        self.props["duplicates"] = sum(d.duplicates for d in drops)
        return {
            "latencies_ms": [r.ms for r in self.runs],
            "ops": [(f"drop-{i}", r.ms) for i, r in enumerate(self.runs)],
        }

    def check(self, ctx: harness.Context) -> tuple[int, int, list]:
        """Counts every output against the generator's; an operation
        fails when its own output or its table's read-back is wrong."""
        from etl_jobs_spark.sources import txn_log

        spark = ctx.spark
        t = self.tables
        failed: dict[str, set] = {op: set() for op in OPS}
        details = []
        ok_drops = [(i, run.drop, run.result) for i, run in enumerate(self.runs) if run.result]
        for i, run in enumerate(self.runs):
            if run.error:
                details.append({"drop": i, "error": run.error})
                for op in OPS:
                    failed[op].add(i)
        adds = {
            a["version"]: a["file"]
            for a in txn_log.read_log(str(t.clean))
            if a["action"] == "add"
        }
        for i, d, r in ok_drops:
            if r["total"] != d.rows or r["total"] - r["valid"] != d.rejected:
                failed["quality"].add(i)
                details.append(
                    {"drop": i, "check": "valid+rejected", "got": [r["total"], r["valid"]],
                     "want": [d.rows, d.rows - d.rejected]}
                )
            got = spark.read.parquet(str(t.clean / adds[r["version"]])).count()
            if got != d.loaded:  # dedup removed the generator's duplicates
                failed["txn_commit"].add(i)
                details.append({"drop": i, "check": "dedup", "got": got, "want": d.loaded})
        want = {
            "txn_commit": sum(d.loaded for _, d, _ in ok_drops),
            "partitioned_sink": sum(d.loaded for _, d, _ in ok_drops),
            "quarantine_sink": sum(d.rejected for _, d, _ in ok_drops),
        }
        readers = {
            "txn_commit": lambda: txn_log.read_txn_table(spark, str(t.clean)).count(),
            "partitioned_sink": lambda: spark.read.parquet(str(t.partitioned)).count(),
            "quarantine_sink": lambda: spark.read.parquet(str(t.quarantine)).count(),
        }
        for op, read in readers.items():
            try:
                got = read()
            except Exception as e:  # an unreadable table fails every drop in it
                got = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            if got != want[op]:
                failed[op].update(i for i, _, _ in ok_drops)
                details.append({"table": op, "check": "read_back", "got": got, "want": want[op]})
        self.debris = table_debris(t.clean, t.partitioned, t.quarantine)
        if self.debris:
            details.append({"check": "debris", "files": len(self.debris), "first": self.debris[:3]})
        attempted = len(self.runs) * len(OPS)
        return attempted, sum(len(s) for s in failed.values()), details

    def throughput(self) -> float:
        """Input rows loaded per second of timed wall time."""
        return self.props["rows"] / self.busy_s

    def report(self, lat) -> dict:
        return {
            "rows_per_s": (self.throughput(), "rows/s"),
            "drop_p50_ms": (lat["p50"], "ms"),
            "drop_p90_ms": (lat["p90"], "ms"),
            "write_lock_debris_files": (len(self.debris), "count"),
        }

    def layers(self, ctx, spans, att, timed, n) -> dict:
        from perfbench import trace

        def total(layer, name=None):
            return sum(s.ms for s in timed if s.layer == layer and name in (None, s.name))

        sinks = [s for s in timed if s.layer == "writers"]
        sink_jobs = trace.spark_layer_metrics(spans, att, sinks).get("spark.jobs", 0.0)
        ops = [s for s in timed if s.layer == "op"]
        input_bytes = trace.spark_layer_metrics(spans, att, ops).get("spark.input_bytes", 0.0)
        files = [p for root in (self.tables.partitioned, self.tables.quarantine)
                 for p in root.rglob("*.parquet")]
        rows_written = sum(r.drop.loaded + r.drop.rejected for r in self.runs)
        results = [r.result for r in self.runs if r.result]
        total_rows = sum(r["total"] for r in results)
        total_valid = sum(r["valid"] for r in results)
        return {
            "readers.input_bytes": input_bytes / n,
            "readers.scan_amplification": input_bytes / max(self.props["bytes"], 1),
            "operators.quality_ms": total("operators", "quality") / n,
            "operators.reject_frac": (total_rows - total_valid) / max(total_rows, 1),
            "writers.sink_ms": total("writers") / n,
            "writers.jobs_per_sink": sink_jobs / max(len(sinks), 1),
            "writers.files_written": len(files) / n,
            "writers.bytes_per_row": sum(p.stat().st_size for p in files) / max(rows_written, 1),
            "write_lock.acquires": sum(1 for s in timed if s.layer == "write_lock") / n,
            "write_lock.acquire_ms": total("write_lock") / n,
            "write_lock.debris_files": float(len(self.debris)),
            "txn_log.commit_ms": total("txn_log") / n,
            "txn_log.versions": len(results) / n,
        }
