"""Streaming pipelines.

The reference's 2025 era is a poll loop: SQS message → S3 download →
pandas transform → MySQL insert → S3 archive, sleeping 1 s when idle,
never deleting messages (at-least-once-ish; ref:
src/etl_2025.py:233-263, idle backoff :238, no-delete :261-263).

Spark mapping (SURVEY §2.8):
- trigger: `processingTime="1 second"` ≈ the poll loop;
  `availableNow` = drain-and-stop (used by tests/queries so runs
  terminate);
- source: file-arrival stream on the raw prefix —
  `maxFilesPerTrigger=10` ≈ `max_messages=10` (ref:
  src/etl_2025.py:107);
- transform: the SAME batch DataFrame functions — batch/stream
  unification is free;
- sink: `foreachBatch` for the dual sink (relational insert +
  archive copy + queue notification);
- semantics: checkpointing gives exactly-once file processing —
  strictly stronger than the reference's redelivery loop
  (documented upgrade, SURVEY §7).

At scale: streaming state (windows, sessions) lives in the state
store keyed by group — watermarks bound it; without a watermark,
complete-mode aggregations are only for bounded key spaces.
"""

from __future__ import annotations

import threading
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def file_stream_source(
    spark: SparkSession,
    path: str,
    schema: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = 10,
    header: bool = True,
) -> DataFrame:
    """File-arrival stream (Qkey source_queue): new files under the
    raw prefix are the 'messages' (ref: src/etl_2025.py:107-119);
    `maxFilesPerTrigger` caps the per-batch fetch like
    `max_messages=10`."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if fmt == "csv":
        reader = reader.option("header", str(header).lower())
    return reader.format(fmt).load(path)


#: Serializes every set->start->restore window below: the conf is
#: SESSION-GLOBAL, so two concurrent stream starts interleaving
#: their set/restore can leave the session parked on the streaming
#: partition count FOREVER — every later batch query then plans
#: with (say) 4 shuffle partitions, a silent 8x parallelism loss on
#: 32 cores and catastrophic on a real cluster (round-12
#: shared-session axis, streaming wave).
_START_LOCK = threading.Lock()


class _state_partitions:
    """Pin ``spark.sql.shuffle.partitions`` for the duration of one
    streaming query start.

    A stateful streaming query materializes ONE state store instance
    per shuffle partition per micro-batch (open + commit + checkpoint
    file each). The partition count is a per-query sizing decision —
    match it to key cardinality × throughput, not the session-wide
    batch default: a 1000-executor job wants thousands, a
    local-oracle drain over 10k rows wants a handful (32 stores × N
    batches of pure fixed cost otherwise). The count is baked into
    the checkpoint on first start, so it must be set BEFORE
    ``.start()`` — hence this guard, not a post-hoc repartition.

    Holds ``_START_LOCK`` across the window: the flip is
    session-global and only the brief plan+start needs the pinned
    value — started streams still RUN concurrently."""

    def __init__(self, spark: SparkSession, n: int | None):
        self.spark, self.n = spark, n

    def __enter__(self):
        # The lock is taken even for n=None starts: an unpinned start
        # planning concurrently with a pinned one would otherwise bake
        # the OTHER query's partition count into its own checkpoint
        # (round-12 ADVICE). Only pinned starts touch the conf.
        _START_LOCK.acquire()
        try:
            if self.n is not None:
                self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
                self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        except BaseException:
            # conf.get/set raising after acquire must not leak the
            # lock — a leaked _START_LOCK deadlocks every later
            # stream start in the session (round-12 ADVICE).
            _START_LOCK.release()
            raise

    def __exit__(self, *exc):
        try:
            if self.n is not None:
                self.spark.conf.set(
                    "spark.sql.shuffle.partitions", self.prev
                )
        finally:
            _START_LOCK.release()


#: Round-13 fault axis: when set (via fault_injection()), every
#: availableNow drain below is split into stop-mid-drain → restart
#: from the same checkpoint, exercising the state-store/commit-log
#: recovery path the r12 probe pinned for ONE stream
#: (tests/test_streaming_recovery.py) across the whole registry.
#: SWEEP-ONLY: module-global, not thread-safe — the fault sweep runs
#: queries serially; production never sets it.
_FAULT: dict | None = None


def fault_injection(
    stop_after_batches: int = 1,
    timeout_sec: float = 120.0,
    grace_sec: float = 0.3,
    n_faults: int = 1,
    crash_after_first_sink: bool = False,
    resume: bool = True,
):
    """Context manager arming mid-drain fault injection for every
    availableNow drain in scope.

    First run: the drain is started normally, polled until its
    ``stop_after_batches``-th micro-batch has COMMITTED (observed
    via lastProgress), then ``query.stop()`` lands — between batches
    when the poll wins, or interrupting an in-flight batch (which
    then REPLAYS on restart; sinks must be idempotent per batch id).
    Second run: the identical writeStream restarts from the same
    checkpoint and drains to completion. Per-drain telemetry
    accumulates in the yielded dict's ``log`` list:
    ``stopped_early`` (the stop landed before self-termination) and
    ``phase2_batches_with_input`` (whether the restart had real work
    — the honest mid-drain signal; a single-batch feed degenerates
    to a resume-after-complete, recorded as such, never hidden).

    Local-mode scope, stated honestly: the driver JVM is this
    process, so the injection is query.stop() (task interruption +
    checkpoint fence), not a process kill; the recovery path
    replayed is the same one an executor loss exercises."""
    import contextlib

    @contextlib.contextmanager
    def _cm():
        global _FAULT
        prev = _FAULT
        _FAULT = {
            "stop_after_batches": stop_after_batches,
            "timeout_sec": timeout_sec,
            "grace_sec": grace_sec,
            # >1 = repeated-recovery: each fault round stops the
            # restarted query again (same strategy) before the final
            # drain-to-completion — a checkpoint must survive
            # arbitrarily many crash/recover cycles, not one.
            "n_faults": n_faults,
            # sink-crash mode: foreachBatch drains raise AFTER the
            # real sink work of the first attempted batch, so the
            # batch is applied but NEVER COMMITTED — the restart
            # replays it with the same id against an
            # already-written sink. DETERMINISTIC (no stop() race):
            # the sharpest idempotency probe. Drains without a
            # Python-side sink ignore the flag (recorded as
            # crash_fired=0).
            "crash_after_first_sink": crash_after_first_sink,
            # resume=False (checkpoint-archive midway mode): stop
            # after the injection and DO NOT drain to completion —
            # the checkpoint is deliberately left mid-drain so a
            # LATER PROCESS (or a later engine version) can prove it
            # resumes and completes. Correctness is asserted by that
            # later restart, never by the truncated first run.
            "resume": resume,
            "crash_fired": 0,
            "log": [],
        }
        try:
            yield _FAULT
        finally:
            _FAULT = prev

    return _cm()


def _maybe_crashing(batch_sinks):
    """Wrap a foreachBatch sink for sink-crash fault mode: run the
    REAL sink work, then raise once — the batch is applied but never
    committed, so the restart replays it with the same id. Returns
    the sink unchanged when the mode is off."""
    if _FAULT is None or not _FAULT.get("crash_after_first_sink"):
        return batch_sinks
    fault = _FAULT

    def wrapped(batch_df, batch_id):
        batch_sinks(batch_df, batch_id)
        if not fault["crash_fired"]:
            fault["crash_fired"] += 1
            raise RuntimeError(
                f"injected sink crash after batch {batch_id} sink work"
            )

    return wrapped


def _await_tolerating_injected_crash(q, fired_before: int) -> None:
    """awaitTermination that swallows ONLY the armed injected sink
    crash (the query fails by design; the caller restarts it); any
    other failure propagates. Identified by the crash COUNTER having
    advanced during this drain, not by exception text — the
    StreamingQueryException wraps the Python error differently per
    sink path."""
    try:
        q.awaitTermination()
    except Exception:
        if (
            _FAULT is not None
            and _FAULT.get("crash_after_first_sink")
            and _FAULT.get("crash_fired", 0) > fired_before
        ):
            return
        raise


def _drain(start) -> None:
    """Run an availableNow drain built by ``start()`` (a zero-arg
    callable returning a STARTED StreamingQuery). Honors the armed
    fault injection; the no-fault path is the plain await the
    pre-r13 helpers inlined."""
    import time as _time

    if _FAULT is None:
        q = start()
        q.awaitTermination()
        return
    fault = _FAULT
    n_stopped_early = 0
    n_timed_out = 0
    for _round in range(max(1, fault.get("n_faults", 1))):
        fired_at_start = fault.get("crash_fired", 0)
        q = start()
        stopped_early = False
        timed_out = False
        if fault["stop_after_batches"] <= 0:
            # immediate mode: interrupt the running batch IN FLIGHT
            # (short grace so it is genuinely running) — the restart
            # replays it with the same batch id, the sharpest sink
            # idempotency probe.
            _time.sleep(fault.get("grace_sec", 0.3))
            stopped_early = q.isActive
            q.stop()
        else:
            deadline = _time.monotonic() + fault["timeout_sec"]
            while q.isActive and _time.monotonic() < deadline:
                p = q.lastProgress
                if (
                    p is not None
                    and p["batchId"] + 1 >= fault["stop_after_batches"]
                ):
                    q.stop()  # the injection
                    stopped_early = True
                    break
                _time.sleep(0.02)
            if not stopped_early and q.isActive:
                # ADVICE r13: the commit-poll deadline expired with
                # the query still running — the injection NEVER
                # LANDED. Without this flag a chronically slow host
                # silently turns fault cells into plain no-injection
                # runs; record it loudly so the axis sweep can
                # distinguish degraded cells from genuine passes.
                timed_out = True
                q.stop()
        _await_tolerating_injected_crash(q, fired_at_start)
        n_stopped_early += stopped_early
        n_timed_out += timed_out
    if not fault.get("resume", True):
        # midway-archive mode: leave the checkpoint mid-drain
        fault["log"].append(
            {
                "stopped_early": n_stopped_early,
                "injection_timed_out": n_timed_out,
                "resume_skipped": True,
            }
        )
        return
    q2 = start()  # resume from the SAME checkpoint, drain fully
    fired_before = fault.get("crash_fired", 0)
    _await_tolerating_injected_crash(q2, fired_before)
    if fault.get("crash_fired", 0) > fired_before:
        # the one-shot sink crash landed in THIS drain — it ended
        # mid-stream by design; one more restart drains to
        # completion (the crash never fires twice).
        q2 = start()
        q2.awaitTermination()
    resumed = [
        p for p in (q2.recentProgress or [])
        if p.get("numInputRows", 0) > 0
    ]
    fault["log"].append(
        {
            "stopped_early": n_stopped_early,
            "phase2_batches_with_input": len(resumed),
            "mid_drain": n_stopped_early > 0 and len(resumed) > 0,
            # ADVICE r13: rounds where the commit-poll deadline
            # expired before the designed injection point — the stop
            # still landed (bounding the drain) but NOT at the
            # intended batch boundary; a cell with this > 0 is a
            # degraded-host artifact, not a clean mid-drain pass.
            "injection_timed_out": n_timed_out,
        }
    )


def run_to_parquet(
    stream_df: DataFrame,
    checkpoint_dir: str,
    out_dir: str,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain a streaming DataFrame into a PARQUET sink with
    `availableNow` and return a schema-pinned batch scan of the
    output. Unlike the memory sink (driver-resident, re-scanned
    single-threaded), the parquet read-back is a distributed
    columnar scan — the shape consumers of a drained stream have at
    cluster scale. The round-11 64x stress measured the trio's
    memory-sink cell re-scans steepening with table size; this is
    the named production fix. Schema pinned on read: an empty feed
    drains to zero part files (round-11 empty-input axis)."""
    spark = stream_df.sparkSession
    with _state_partitions(spark, state_partitions):
        _drain(
            lambda: (
                stream_df.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", checkpoint_dir)
                .trigger(availableNow=True)
                .start()
            )
        )
    return spark.read.schema(stream_df.schema).parquet(out_dir)


def run_to_memory(
    stream_df: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain a streaming DataFrame into an in-memory table with
    `availableNow` (drain-and-stop) and return the result as a batch
    DataFrame. The memory sink is a TEST/DEMO sink — production
    streams use parquet/JDBC/foreachBatch sinks below."""
    spark = stream_df.sparkSession
    if _FAULT is not None:
        # The memory sink keeps emitted rows in the DRIVER with no
        # recovery log — a mid-drain restart silently loses the first
        # run's rows (a documented sink limitation, not an engine
        # one). Under injection the SAME emitted-row stream goes
        # through foreachBatch into per-batch parquet dirs —
        # idempotent under batch replay (overwrite keyed by
        # batch_id) — and the table is reconstructed exactly as the
        # memory sink defines it: append/update accumulate every
        # batch's emitted rows; complete replaces, so only the last
        # batch survives. The batch dirs live inside the checkpoint
        # dir, so they go wherever the checkpoint goes.
        import os

        out_root = os.path.join(checkpoint_dir, "faultsink")
        schema = stream_df.schema

        def per_batch(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(
                f"{out_root}/b{batch_id:09d}"
            )

        sink = _maybe_crashing(per_batch)
        with _state_partitions(spark, state_partitions):
            _drain(
                lambda: (
                    stream_df.writeStream.outputMode(output_mode)
                    .foreachBatch(sink)
                    .option("checkpointLocation", checkpoint_dir)
                    .trigger(availableNow=True)
                    .start()
                )
            )
        dirs = sorted(
            os.path.join(out_root, d)
            for d in (os.listdir(out_root) if os.path.isdir(out_root) else [])
            if d.startswith("b")
        )
        if not dirs:
            return spark.createDataFrame([], schema)
        keep = [dirs[-1]] if output_mode == "complete" else dirs
        return spark.read.schema(schema).parquet(*keep)
    name = f"mem_{uuid.uuid4().hex[:10]}"
    with _state_partitions(spark, state_partitions):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str | None = None
) -> DataFrame:
    """Tumbling event-time window aggregation (beyond-reference
    streaming surface; SURVEY §2.8 last row). With a watermark,
    append mode emits exactly the finalized windows
    (window_end ≤ max(ts) − delay) — late data beyond the delay is
    dropped, bounding state size at scale."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_window_counts(
    events: DataFrame, window: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding (hopping) event-time windows — each event lands in
    window/slide overlapping windows."""
    return (
        events.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_windows(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Per-user session windows with a fixed inactivity gap —
    Spark's native session_window; a new session starts when the
    inter-event gap is ≥ the threshold."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            F.col("sw.start").alias("session_start"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def foreach_batch_pipeline(
    stream_df: DataFrame,
    checkpoint_dir: str,
    batch_sinks: Callable[[DataFrame, int], None],
    state_partitions: int | None = None,
    trigger: dict | None = None,
    await_seconds: float | None = None,
    stop_when: Callable[[], bool] | None = None,
) -> None:
    """The 2025-era dual-sink loop: per micro-batch, run arbitrary
    sinks (relational insert + archive + queue notify) exactly once
    per batch id (ref: src/etl_2025.py:233-263).

    ``trigger`` defaults to ``availableNow`` (drain-and-stop, so
    oracle runs terminate); pass
    ``{"processingTime": "1 second"}`` for the reference's
    continuous poll-loop mode (ref: src/etl_2025.py:236-239), with
    ``await_seconds`` bounding the run and optional ``stop_when``
    (polled between micro-batches) ending it early — e.g. "stop
    once N batches landed" in tests, where production would run
    until redeploy."""
    with _state_partitions(stream_df.sparkSession, state_partitions):
        trig = trigger or {"availableNow": True}
        if await_seconds is None and trig.get("availableNow"):
            # drain-and-stop path: route through _drain so the fault
            # axis can stop/restart it. batch_sinks must be
            # idempotent per batch id (per-batch overwrite dirs, the
            # merge sink's versioned rename, the JDBC replay guard) —
            # a replayed in-flight batch re-runs with the same id,
            # and the sink-crash mode forces exactly that replay
            # deterministically.
            sink = _maybe_crashing(batch_sinks)
            _drain(
                lambda: (
                    stream_df.writeStream.foreachBatch(sink)
                    .option("checkpointLocation", checkpoint_dir)
                    .trigger(**trig)
                    .start()
                )
            )
            return
        q = (
            stream_df.writeStream.foreachBatch(batch_sinks)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trig)
            .start()
        )
        if await_seconds is None:
            q.awaitTermination()
        else:
            import time

            deadline = time.monotonic() + await_seconds
            try:
                while q.isActive and time.monotonic() < deadline:
                    if stop_when is not None and stop_when():
                        break
                    time.sleep(0.25)
            finally:
                q.stop()
                q.awaitTermination(10)
