"""Round-14 write-path concurrency axis (VERDICT r13 item 4).

The round-13 probe pinned the two-writer contract for ONE helper
(sink_parquet_partitions_direct) and measured the raw hazard: plain
parquet appends to one root share a ``_temporary`` staging dir, and
two concurrent writers usually kill one job loudly — and once left
a TORN append (22,501/40,000 rows visible from a failed job). This
axis sweeps every write-side registry row's write primitive against
a SHARED target under a concurrent second writer and classifies the
outcome. The pinned contract after this round:

  every write row is either GREEN under its documented contract
  (both writers' committed rows present exactly, or last-wins
  COMPLETE for overwrite sinks) or rejects LOUDLY
  (ConcurrentWriteError / job failure with state equal to one
  complete writer) — ZERO silent torn states.

Mechanism (sources/write_lock.py): an exclusive kernel ``flock`` on
a hidden sibling lock file per table root, held by sink_parquet /
sink_json_report / compact_parquet / the ledger writer's job commit,
and per PARTITION dir by sink_parquet_partitions_direct
(disjoint-value writers stay concurrent). A crashed holder's lock
dies with its process. The raw unlocked race is kept as a measured
BASELINE cell — the reason the lock exists, never a contract.

Row → cell map (rows with no write surface are recorded as such):
  sink_jdbc_append          jdbc_two_writers_append (Derby row locks)
  sink_s3                   parquet_overwrite_two_writers_locked
  sink_json_report          json_report_overwrite_race
  maintenance_compact_report compact_vs_appenders (lost-update probe)
  sink_partition_overwrite / catalog_partition_overwrite
                            partitions_direct_disjoint + _same_value
  sink_custom_ledger        ledger_append_two_writers (manifest
                            merge + unclaimed-file cleanup race,
                            serialized by the commit-scoped lock)
  sink_queue / source_queue queue_disjoint_batch_writers
  (baseline)                parquet_append_raw_unsafe_baseline
  merge_upsert_customers / cdc_apply_changelog /
  maintenance_vacuum_report  transforms or read-only reports — no
                            shared-target write surface; recorded.

Usage: python scripts/axis_concurrent.py [sf_dir]
"""

from __future__ import annotations

import json
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from etl_jobs_spark.scratch import scratch_dir
from etl_jobs_spark.session import get_spark
from etl_jobs_spark.sources import writers
from etl_jobs_spark.sources.write_lock import (
    ConcurrentWriteError,
    acquire_table_lock,
    release_table_lock,
)

N_ROWS = 20_000


def _tagged(spark, tag: str, n: int = N_ROWS):
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.lit(tag).alias("writer"),
        (F.col("id") % 7).cast("double").alias("value"),
    )


def _run_pair(fn_a, fn_b):
    """Run two writers concurrently; return their exceptions."""
    errs: list = [None, None]

    def wrap(i, fn):
        def run():
            try:
                fn()
            except Exception as e:  # noqa: BLE001 - classified by caller
                errs[i] = e

        return run

    ts = [
        threading.Thread(target=wrap(0, fn_a)),
        threading.Thread(target=wrap(1, fn_b)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return errs


def cell_jdbc_two_writers_append(spark, sf_dir):
    db = scratch_dir("axis_conc_derby") / "db"
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    # create the table first so both writers APPEND (concurrent
    # CREATE TABLE is a DDL race, not the append contract under test)
    writers.sink_jdbc_append(
        _tagged(spark, "seed", 1), url, "events_conc", properties=props
    )
    errs = _run_pair(
        lambda: writers.sink_jdbc_append(
            _tagged(spark, "A"), url, "events_conc",
            properties=props, num_partitions=2,
        ),
        lambda: writers.sink_jdbc_append(
            _tagged(spark, "B"), url, "events_conc",
            properties=props, num_partitions=2,
        ),
    )
    back = spark.read.jdbc(url, "events_conc", properties=props)
    counts = {
        r["writer"]: r["n"]
        for r in back.groupBy("writer").agg(F.count("*").alias("n")).collect()
    }
    ok = (
        errs == [None, None]
        and counts.get("A") == N_ROWS
        and counts.get("B") == N_ROWS
    )
    return ok, f"counts={counts} errs={[str(e)[:80] for e in errs if e]}"


def cell_parquet_append_locked(spark, sf_dir):
    root = str(scratch_dir("axis_conc_append"))
    errs = _run_pair(
        lambda: writers.sink_parquet(_tagged(spark, "A"), root, mode="append"),
        lambda: writers.sink_parquet(_tagged(spark, "B"), root, mode="append"),
    )
    back = spark.read.parquet(root)
    counts = {
        r["writer"]: r["n"]
        for r in back.groupBy("writer").agg(F.count("*").alias("n")).collect()
    }
    loud = [e for e in errs if e is not None]
    if not loud:
        ok = counts.get("A") == N_ROWS and counts.get("B") == N_ROWS
        return ok, f"serialized both-complete counts={counts}"
    # a loud rejection is acceptable ONLY if the surviving state is
    # the other writer's complete output (no torn partial)
    ok = all(isinstance(e, ConcurrentWriteError) for e in loud) and all(
        v == N_ROWS for v in counts.values()
    )
    return ok, f"loud={len(loud)} counts={counts}"


def cell_parquet_overwrite_locked(spark, sf_dir):
    root = str(scratch_dir("axis_conc_over"))
    writers.sink_parquet(_tagged(spark, "seed"), root, mode="overwrite")
    errs = _run_pair(
        lambda: writers.sink_parquet(_tagged(spark, "A"), root, mode="overwrite"),
        lambda: writers.sink_parquet(_tagged(spark, "B"), root, mode="overwrite"),
    )
    back = spark.read.parquet(root)
    counts = {
        r["writer"]: r["n"]
        for r in back.groupBy("writer").agg(F.count("*").alias("n")).collect()
    }
    loud = [e for e in errs if e is not None]
    # contract: last-wins COMPLETE — exactly one writer's full output
    ok = (
        len(counts) == 1
        and set(counts) <= {"A", "B"}
        and next(iter(counts.values())) == N_ROWS
        and all(isinstance(e, ConcurrentWriteError) for e in loud)
    )
    return ok, f"final={counts} loud={len(loud)}"


def cell_json_report_race(spark, sf_dir):
    path = str(scratch_dir("axis_conc_report"))
    rep_a = spark.createDataFrame([(1000, "A")], "total BIGINT, who STRING")
    rep_b = spark.createDataFrame([(2000, "B")], "total BIGINT, who STRING")
    errs = _run_pair(
        lambda: writers.sink_json_report(rep_a, path),
        lambda: writers.sink_json_report(rep_b, path),
    )
    back = spark.read.schema("total BIGINT, who STRING").json(path).collect()
    loud = [e for e in errs if e is not None]
    ok = (
        len(back) == 1
        and (back[0]["total"], back[0]["who"]) in ((1000, "A"), (2000, "B"))
        and all(isinstance(e, ConcurrentWriteError) for e in loud)
    )
    return ok, f"final={back} loud={len(loud)}"


def cell_compact_vs_appenders(spark, sf_dir):
    root = scratch_dir("axis_conc_compact")
    path = str(root / "t")
    writers.sink_parquet(
        _tagged(spark, "seed", 2000).repartition(16), path, mode="append"
    )
    stop = threading.Event()
    n_appended = [0]

    def appender():
        i = 0
        while not stop.is_set() and i < 8:
            writers.sink_parquet(
                _tagged(spark, f"a{i}", 1000), path, mode="append"
            )
            n_appended[0] += 1000
            i += 1

    def compactor():
        for _ in range(3):
            writers.compact_parquet(spark, path, 4)

    errs = _run_pair(appender, compactor)
    stop.set()
    total = spark.read.parquet(path).count()
    want = 2000 + n_appended[0]
    ok = errs == [None, None] and total == want
    return ok, (
        f"rows={total} want={want} (lost={want - total}) "
        f"errs={[str(e)[:80] for e in errs if e]}"
    )


def cell_partitions_direct_disjoint(spark, sf_dir):
    root = str(scratch_dir("axis_conc_pdir"))

    def writer(days, tag):
        df = spark.range(4000).select(
            F.col("id").alias("event_id"),
            F.lit(tag).alias("writer"),
            F.concat(
                F.lit("2024-01-0"),
                (F.col("id") % len(days) + days[0]).cast("string"),
            ).alias("day"),
        )
        writers.sink_parquet_partitions_direct(df, root, "day")

    errs = _run_pair(lambda: writer([1], "A"), lambda: writer([3], "B"))
    back = spark.read.parquet(root)
    counts = {
        r["writer"]: r["n"]
        for r in back.groupBy("writer").agg(F.count("*").alias("n")).collect()
    }
    ok = errs == [None, None] and counts == {"A": 4000, "B": 4000}
    return ok, f"counts={counts} errs={[str(e)[:80] for e in errs if e]}"


def cell_partitions_direct_same_value(spark, sf_dir):
    root = str(scratch_dir("axis_conc_pdir_same"))

    def writer(tag):
        df = spark.range(4000).select(
            F.col("id").alias("event_id"),
            F.lit(tag).alias("writer"),
            F.lit("2024-01-01").alias("day"),
        )
        writers.sink_parquet_partitions_direct(df, root, "day")

    errs = _run_pair(lambda: writer("A"), lambda: writer("B"))
    back = spark.read.parquet(root)
    counts = {
        r["writer"]: r["n"]
        for r in back.groupBy("writer").agg(F.count("*").alias("n")).collect()
    }
    loud = [e for e in errs if e is not None]
    if not loud:
        ok = counts == {"A": 4000, "B": 4000}
        return ok, f"serialized both-complete counts={counts}"
    ok = all(isinstance(e, ConcurrentWriteError) for e in loud) and all(
        v == 4000 for v in counts.values()
    )
    return ok, f"loud={len(loud)} counts={counts}"


_LEDGER_WRITER_SNIPPET = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
from etl_jobs_spark.sources import ledger_source
spark = (SparkSession.builder.master("local[4]")
         .appName("ledger-writer-{tag}")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
ledger_source.register(spark)
(spark.range(5000)
 .select(F.col("id").alias("event_id"), F.col("id").alias("user_id"),
         F.lit({tag!r}).alias("event_type"),
         (F.col("id") % 5).cast("double").alias("value"))
 .repartition(2).write.format("event_ledger")
 .option("path", {out!r}).mode("append").save())
spark.stop()
"""


def cell_ledger_two_writers(spark, sf_dir):
    """TWO PROCESSES (own JVMs — the real shape of two jobs sharing
    a table on a cluster; also, Spark 4.1 binds a Python data
    source registration to the registering thread's artifact state,
    so sibling in-process threads cannot even resolve the format).
    The ledger writer locks its job commit, which serializes the
    manifest read-merge-write + overwrite cleanup; without it both
    commits merge the same prior manifest and the later one drops
    the earlier one's rows (lost update). The jobs' write phases run
    concurrently: their parts stay ``.tmp`` until the commit."""
    import subprocess

    from etl_jobs_spark.sources import ledger_source

    repo = str(Path(__file__).resolve().parent.parent)
    out = str(scratch_dir("axis_conc_ledger"))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c",
             _LEDGER_WRITER_SNIPPET.format(repo=repo, tag=tag, out=out)],
            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        )
        for tag in ("A", "B")
    ]
    errs = []
    for p in procs:
        _, se = p.communicate(timeout=600)
        if p.returncode != 0:
            errs.append(se.decode()[-300:])
    ledger_source.register(spark)
    back = spark.read.format("event_ledger").option("path", out).load()
    counts = {
        r["event_type"]: r["n"]
        for r in back.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    ok = not errs and counts == {"A": 5000, "B": 5000}
    return ok, f"counts={counts} errs={errs}"


def cell_queue_disjoint_batch_writers(spark, sf_dir):
    """The queue sinks' contract: one writer per batch id (per-batch
    overwrite dirs). Two producers owning DISJOINT batch-id ranges
    never share a dir — full concurrency, union read-back."""
    root = scratch_dir("axis_conc_queue")

    def producer(tag, ids):
        for b in ids:
            spark.createDataFrame(
                [(b, tag, 100)], "batch_id BIGINT, writer STRING, n BIGINT"
            ).write.mode("overwrite").json(str(root / f"b{b:09d}"))

    errs = _run_pair(
        lambda: producer("A", range(0, 6)),
        lambda: producer("B", range(6, 12)),
    )
    back = spark.read.schema(
        "batch_id BIGINT, writer STRING, n BIGINT"
    ).json(str(root / "b*"))
    n = back.count()
    per = {
        r["writer"]: r["c"]
        for r in back.groupBy("writer").agg(F.count("*").alias("c")).collect()
    }
    ok = errs == [None, None] and n == 12 and per == {"A": 6, "B": 6}
    return ok, f"n={n} per={per}"


def cell_parquet_append_raw_baseline(spark, sf_dir):
    """The UNLOCKED race, measured (3 trials) — the documented-unsafe
    BASELINE the write lock exists for, never a contract: raw
    ``df.write.mode("append")`` from two jobs shares one
    ``_temporary`` staging root, and the first job's committer
    cleanup deletes the other's staged task outputs. The first
    round-14 run observed the worst case directly: a trial with
    ZERO loud failures where writer B silently committed only
    10,000 of 20,000 rows — silent data loss, sharper than the r13
    probe's loud-failure torn state. The cell always records
    (ok=True); silent_torn_trials is the headline number and the
    standing justification for the locked API path."""
    outcomes = []
    silent_torn = 0
    for t in range(3):
        root = str(scratch_dir(f"axis_conc_raw{t}"))

        def raw(tag, root=root):
            _tagged(spark, tag).write.mode("append").parquet(root)

        errs = _run_pair(lambda: raw("A"), lambda: raw("B"))
        try:
            counts = {
                r["writer"]: r["n"]
                for r in spark.read.parquet(root)
                .groupBy("writer")
                .agg(F.count("*").alias("n"))
                .collect()
            }
        except Exception as e:  # noqa: BLE001
            counts = {"unreadable": str(e)[:60]}
        n_loud = sum(e is not None for e in errs)
        torn = any(
            isinstance(v, int) and 0 < v < N_ROWS for v in counts.values()
        )
        if torn and n_loud == 0:
            silent_torn += 1
        outcomes.append({"loud_failures": n_loud, "counts": counts, "torn": torn})
    detail = json.dumps(
        {"silent_torn_trials": silent_torn, "trials": outcomes}
    )[:500]
    return True, detail


NO_WRITE_SURFACE = {
    "merge_upsert_customers": "pure transform (full-outer merge), no sink",
    "cdc_apply_changelog": "pure transform (changelog fold), no sink",
    "maintenance_vacuum_report": "read-only orphan census report",
    "sink_custom_ledger_stream": (
        "single checkpointed streaming writer by contract; replay "
        "idempotency swept by the fault axis (84/84)"
    ),
}

def cell_lock_holder_crash_recovery(spark, sf_dir):
    """VERDICT r14 item 6: SIGKILL a writer PROCESS while it holds
    the table write lock mid-write (between stage and commit), then
    prove a second writer recovers promptly — the kernel drops the
    dead holder's flock with its fd, so no timeout is waited out —
    with no torn visible state."""
    import os
    import signal
    import subprocess

    root = scratch_dir("axis_conc_crash") / "tbl"
    writers.sink_parquet(_tagged(spark, "seed", 2000), str(root), mode="append")

    # the crashing holder: acquires the SAME lock primitive every
    # locked sink uses, stages an (invisible) tmp part, then hangs —
    # simulating a driver that died between plan/stage and commit
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import sys, time\n"
            f"sys.path.insert(0, {str(Path(__file__).resolve().parent.parent)!r})\n"
            "from etl_jobs_spark.sources.write_lock import acquire_table_lock\n"
            f"root = {str(root)!r}\n"
            "acquire_table_lock(root)\n"
            "open(root + '/.part-crash.parquet.tmp', 'w').write('staged')\n"
            "print('HELD', flush=True)\n"
            "time.sleep(300)\n",
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    line = child.stdout.readline().strip()
    if line != "HELD":
        child.kill()
        return False, f"holder never acquired (got {line!r})"
    child.send_signal(signal.SIGKILL)
    child.wait()

    # the kernel released the dead holder's lock: it can be taken
    # at once, with no wait at all
    t0 = time.perf_counter()
    try:
        release_table_lock(acquire_table_lock(root, timeout_sec=0))
    except ConcurrentWriteError as e:
        return False, f"lock still held after the holder died: {e}"
    took = time.perf_counter() - t0
    try:
        writers.sink_parquet(_tagged(spark, "B"), str(root), mode="append")
    except ConcurrentWriteError as e:
        return False, f"second writer timed out behind dead holder: {e}"

    back = spark.read.parquet(str(root))
    counts = {
        r["writer"]: r["n"]
        for r in back.groupBy("writer").agg(F.count("*").alias("n")).collect()
    }
    torn = {w: n for w, n in counts.items() if w not in ("seed", "B")}
    ok = (
        counts.get("seed") == 2000
        and counts.get("B") == N_ROWS
        and not torn
        and os.path.exists(str(root / ".part-crash.parquet.tmp"))
    )
    return ok, (
        f"lock free {took:.3f}s after the holder died, counts={counts}, "
        f"torn={torn or 'none'}"
    )


def cell_txn_log_two_writers(spark, sf_dir):
    """VERDICT r14 item 7: the transactional commit log's two-writer
    contract — both concurrent appenders land IN FULL with no lock
    held across the data write (optimistic version claim), and a
    writer crashed after staging stays invisible. This is the
    foreign-writer-safe upgrade over the posix-lock cells above:
    safety comes from the commit-file name, so it composes with any
    engine following the protocol."""
    from etl_jobs_spark.sources import txn_log as T

    root = scratch_dir("axis_conc_txn") / "tbl"
    errs = _run_pair(
        lambda: T.txn_commit(_tagged(spark, "A"), root),
        lambda: T.txn_commit(_tagged(spark, "B"), root),
    )
    loud = [e for e in errs if e is not None]
    if loud:
        return False, f"txn commit raised: {loud}"
    # crashed third writer: staged, never published
    _tagged(spark, "ghost", 500).write.parquet(str(root / "data_ghost"))
    back = T.read_txn_table(spark, root)
    counts = {
        r["writer"]: r["n"]
        for r in back.groupBy("writer").agg(F.count("*").alias("n")).collect()
    }
    ok = (
        counts == {"A": N_ROWS, "B": N_ROWS}
        and T.current_version(root) == 2
        and T.orphans(root) == ["data_ghost"]
    )
    return ok, (
        f"both-complete counts={counts}, versions={T.current_version(root)}, "
        f"orphans={T.orphans(root)}"
    )


CELLS = {
    "jdbc_two_writers_append": (cell_jdbc_two_writers_append, "sink_jdbc_append"),
    "lock_holder_crash_recovery": (
        cell_lock_holder_crash_recovery, "write_lock (every locked sink)",
    ),
    "txn_log_two_writers": (cell_txn_log_two_writers, "sink_txn_parquet"),
    "parquet_append_locked": (cell_parquet_append_locked, "sink_s3/sink_parquet"),
    "parquet_overwrite_locked": (cell_parquet_overwrite_locked, "sink_s3"),
    "json_report_overwrite_race": (cell_json_report_race, "sink_json_report"),
    "compact_vs_appenders": (
        cell_compact_vs_appenders, "maintenance_compact_report",
    ),
    "partitions_direct_disjoint": (
        cell_partitions_direct_disjoint,
        "sink_partition_overwrite/catalog_partition_overwrite",
    ),
    "partitions_direct_same_value": (
        cell_partitions_direct_same_value,
        "sink_partition_overwrite/catalog_partition_overwrite",
    ),
    "ledger_append_two_writers": (cell_ledger_two_writers, "sink_custom_ledger"),
    "queue_disjoint_batch_writers": (
        cell_queue_disjoint_batch_writers, "sink_queue/source_queue",
    ),
    "parquet_append_raw_unsafe_baseline": (
        cell_parquet_append_raw_baseline, "(baseline, non-contract)",
    ),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(
        "axis-concurrent", master="local[32]", shuffle_partitions=16
    )
    spark.range(1).count()
    rows: dict[str, dict] = {}
    n_ok = 0
    for name, (fn, maps_to) in CELLS.items():
        t0 = time.perf_counter()
        try:
            ok, detail = fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            ok, detail = False, f"{type(e).__name__}: {e}"[:300]
        rows[name] = {
            "sec": round(time.perf_counter() - t0, 3),
            "ok": bool(ok),
            "maps_to": maps_to,
            "detail": detail,
        }
        n_ok += bool(ok)
        print(
            f"# {name}: {'ok' if ok else 'FAIL'} "
            f"({rows[name]['sec']:.2f}s) {detail[:160]}",
            file=sys.stderr,
        )
    out = {
        "axis": "write_path_concurrency",
        "sf_dir": sf_dir,
        "n_cells": len(CELLS),
        "n_ok": n_ok,
        "cells": rows,
        "no_write_surface": NO_WRITE_SURFACE,
    }
    Path("docs/SWEEP_COST_axis_concurrent.json").write_text(
        json.dumps(out, indent=1)
    )
    print(json.dumps({"n_cells": len(CELLS), "n_ok": n_ok}))
    spark.stop()


if __name__ == "__main__":
    main()
