"""Streaming query declarations.

Each query stages fixture data into a temp dir, runs a REAL
Structured Streaming job (file source → checkpointed sink,
availableNow trigger so it drains and stops), and returns the
result as a batch DataFrame for the oracle comparison. The oracles
encode the streaming semantics themselves — e.g. the watermark query's
oracle computes which windows are finalized at end-of-stream.
"""

from __future__ import annotations

from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_jobs_spark.operators import money as M
from etl_jobs_spark.queries._shared import session_memo

from etl_jobs_spark.registry import register
from etl_jobs_spark.scratch import scratch_dir, stage_atomic
from etl_jobs_spark.sources.readers import read_table
from etl_jobs_spark.streaming import pipelines as S

EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)
EVENTS_CSV_SCHEMA = "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"


def _stage(spark: SparkSession, sf_dir: str, fmt: str, n_files: int) -> Path:
    """Stage events into a temp 'raw/' prefix as n_files files — the
    arriving-files queue the 2025 pipeline polls — and return it.

    Staged raw/ prefixes are immutable once written → memoized per
    (sf_dir, fmt, n_files) so bench + driver runs in one session pay
    the staging write once. Checkpoints and sink outputs are NEVER
    shared (append sinks would accumulate across runs) — each query
    run gets a fresh _workdir()."""

    # stage_atomic: under pinned scratch (checkpoint-archive axis) a
    # restart run resolves to the SAME dir and must REUSE the staged
    # files — re-writing would change file names/mtimes and
    # invalidate the checkpoint's seen-file log. The temp-dir+rename
    # makes the guard crash-safe (ADVICE r14). Never pre-existing
    # for the uuid paths normal runs get.
    def _build(tmp):
        ev = read_table(spark, sf_dir, "events")
        if fmt == "parquet":
            ev.repartition(n_files).write.parquet(str(tmp))
        else:
            ev.select(
                "event_id", "user_id", "event_type", "value"
            ).repartition(n_files).write.option("header", "true").csv(
                str(tmp)
            )

    return session_memo(
        spark,
        "stream_raw",
        (sf_dir, fmt, n_files),
        lambda: stage_atomic(scratch_dir("etl_stream") / "raw", _build),
    )


def _workdir() -> Path:
    """Fresh per-run dir for checkpoints and sink outputs."""
    return scratch_dir("etl_stream_wk")


@register(
    "stream_window_counts",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP_NS) AS window_start, event_type,
           count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_window_counts(spark, sf_dir):
    """Tumbling 1h event-time windows, complete mode (streaming
    groupBy+window over a file-arrival source)."""
    raw = _stage(spark, sf_dir, "parquet", 2)
    wk = _workdir()
    src = S.file_stream_source(spark, str(raw), EVENTS_SCHEMA, "parquet", 1)
    return S.run_to_memory(
        S.windowed_counts(src, "1 hour"), str(wk / "ck"), "complete",
        state_partitions=4,
    )


@register(
    "stream_watermark_append",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS cutoff FROM events),
    w AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP_NS) AS window_start, event_type,
             count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2)
    SELECT window_start, event_type, n, total_value
    FROM w, wm
    WHERE window_start + INTERVAL 1 HOUR <= cutoff
    """,
)
def stream_watermark_append(spark, sf_dir):
    """Watermarked append mode: ONLY finalized windows (window_end ≤
    max event time − 10 min delay) are emitted; the oracle states
    that contract exactly. This is the late-data/state-bounding
    mechanism the reference lacks (SURVEY §2.8 last row).

    Staged as ONE file: with arbitrarily-shuffled multi-file input
    the watermark jumps ahead mid-stream and out-of-order rows drop
    as late — real streaming behavior, but nondeterministic for an
    oracle. One file = one batch + trailing flush, which emits
    exactly the finalized-window contract stated above."""
    raw = _stage(spark, sf_dir, "parquet", 1)
    wk = _workdir()
    src = S.file_stream_source(spark, str(raw), EVENTS_SCHEMA, "parquet", 1)
    return S.run_to_memory(
        S.windowed_counts(src, "1 hour", watermark="10 minutes"),
        str(wk / "ck"),
        "append",
        state_partitions=4,
    )


@register(
    "stream_sliding_counts",
    oracle="""
    SELECT CAST(ws AS TIMESTAMP_NS) AS window_start, event_type, count(*) AS n
    FROM (
      SELECT event_type, ts,
             unnest([time_bucket(INTERVAL 30 MINUTES, ts),
                     time_bucket(INTERVAL 30 MINUTES, ts) - INTERVAL 30 MINUTES]) AS ws
      FROM events) t
    WHERE ts >= ws AND ts < ws + INTERVAL 1 HOUR
    GROUP BY ws, event_type
    """,
)
def stream_sliding_counts(spark, sf_dir):
    """Sliding 1h/30m windows (each event in 2 windows)."""
    raw = _stage(spark, sf_dir, "parquet", 2)
    wk = _workdir()
    src = S.file_stream_source(spark, str(raw), EVENTS_SCHEMA, "parquet", 1)
    return S.run_to_memory(
        S.sliding_window_counts(src, "1 hour", "30 minutes"), str(wk / "ck"),
        "complete", state_partitions=4,
    )


SESSION_ORACLE = """
    WITH o AS (
      SELECT user_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    g AS (SELECT *, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 5 MINUTE
                         THEN 1 ELSE 0 END AS new_sess FROM g_src),
    s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS sess_no FROM g)
    SELECT CAST(min(ts) AS TIMESTAMP_NS) AS session_start, user_id,
           count(*) AS n_events, CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS session_value
    FROM s GROUP BY user_id, sess_no
""".replace("g_src", "o")


@register("stream_session_windows", oracle=SESSION_ORACLE)
def stream_session_windows(spark, sf_dir):
    """Native session_window over the stream, 5-minute inactivity
    gap; the oracle derives identical sessions via lag+gap+cumsum."""
    raw = _stage(spark, sf_dir, "parquet", 2)
    wk = _workdir()
    src = S.file_stream_source(spark, str(raw), EVENTS_SCHEMA, "parquet", 1)
    return S.run_to_memory(
        S.session_windows(src, "5 minutes"), str(wk / "ck"), "complete",
        state_partitions=4,
    )


@register("sessionize_batch", oracle=SESSION_ORACLE)
def sessionize_batch(spark, sf_dir):
    """The SAME sessionization as a batch window query (lag + gap >=
    threshold + running sum) — batch/stream unification: one
    semantic, two execution modes, one oracle."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = (
        ev.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            (
                F.col("prev").isNull()
                | (
                    # via TIMESTAMP: NTZ-stored sources can't cast
                    # straight to DOUBLE (session tz pinned UTC)
                    F.col("ts").cast("timestamp").cast("double")
                    - F.col("prev").cast("timestamp").cast("double")
                    >= F.lit(300.0)
                )
            ).cast("int"),
        )
        .withColumn(
            "sess_no",
            F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    return g.groupBy("user_id", "sess_no").agg(
        F.min("ts").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        M.dsum("value").alias("session_value"),
    ).select("session_start", "user_id", "n_events", "session_value")


TRANSFORM_ORACLE_WHERE = (
    "value BETWEEN 0 AND 150 AND coalesce(trim(event_type) <> '', FALSE)"
)


@register(
    "source_queue",
    oracle=f"""
    SELECT event_id, user_id, upper(event_type) AS event_type, value
    FROM events WHERE {TRANSFORM_ORACLE_WHERE}
    """,
)
def source_queue(spark, sf_dir):
    """2025-era pipeline end-to-end: file-arrival 'queue' (CSV files
    under raw/, maxFilesPerTrigger=2 ≈ max_messages), the batch
    validate+clean transform, foreachBatch dual sink (parquet archive
    = the processed/ prefix + queue notification), checkpointed
    exactly-once. Returns the archive read-back."""
    raw = _stage(spark, sf_dir, "csv", 4)
    wk = _workdir()
    src = S.file_stream_source(spark, str(raw), EVENTS_CSV_SCHEMA, "csv", 2)
    cleaned = src.filter(
        F.col("value").between(0, 150) & (F.trim("event_type") != "")
    ).select("event_id", "user_id", F.upper("event_type").alias("event_type"), "value")

    processed = str(wk / "processed")
    queue_out = str(wk / "queue_out")

    def sinks(batch_df: DataFrame, batch_id: int) -> None:
        # Idempotent per batch id (round-13 fault axis): a micro-batch
        # interrupted between sink write and checkpoint commit REPLAYS
        # with the same id on restart — blind mode("append") doubled
        # its rows; deterministic per-batch dirs + overwrite make the
        # replay a no-op. Same discipline as the JDBC sink's
        # delete-by-batch replay guard.
        batch_df.persist()
        batch_df.write.mode("overwrite").parquet(
            f"{processed}/b{int(batch_id):09d}"
        )
        n = batch_df.count()
        batch_df.sparkSession.createDataFrame(
            [(int(batch_id), int(n))], "batch_id BIGINT, n_rows BIGINT"
        ).write.mode("overwrite").json(f"{queue_out}/b{int(batch_id):09d}")
        batch_df.unpersist()

    S.foreach_batch_pipeline(cleaned, str(wk / "ck"), sinks, state_partitions=4)
    return spark.read.schema(EVENTS_CSV_SCHEMA).parquet(f"{processed}/b*")


@register(
    "sink_queue",
    oracle=f"""
    SELECT count(*) AS total_sent FROM events WHERE {TRANSFORM_ORACLE_WHERE}
    """,
)
def sink_queue(spark, sf_dir):
    """Queue-sink parity (ref: send_message src/etl_2025.py:93-105):
    the foreachBatch notifier writes one JSON message per micro-batch;
    the sum of message row-counts equals the rows processed —
    batch-split-invariant, so oracle-checkable."""
    raw = _stage(spark, sf_dir, "csv", 4)
    wk = _workdir()
    src = S.file_stream_source(spark, str(raw), EVENTS_CSV_SCHEMA, "csv", 2)
    cleaned = src.filter(
        F.col("value").between(0, 150) & (F.trim("event_type") != "")
    )
    queue_out = str(wk / "queue_out")

    def sinks(batch_df: DataFrame, batch_id: int) -> None:
        # Idempotent per batch id (round-13 fault axis): one message
        # dir per micro-batch, overwritten on replay — a redelivered
        # batch updates its message instead of sending a second one.
        n = batch_df.count()
        batch_df.sparkSession.createDataFrame(
            [(int(batch_id), int(n))], "batch_id BIGINT, n_rows BIGINT"
        ).write.mode("overwrite").json(f"{queue_out}/b{int(batch_id):09d}")

    S.foreach_batch_pipeline(cleaned, str(wk / "ck"), sinks, state_partitions=4)
    msgs = spark.read.schema("batch_id BIGINT, n_rows BIGINT").json(
        f"{queue_out}/b*"
    )
    return msgs.select(F.sum("n_rows").alias("total_sent"))


@register(
    "stream_udtf_fanout",
    oracle=f"""
    -- HAVING arms are value-neutral on non-empty input; they pin
    -- the engine's streaming semantics for an empty feed: no batch
    -- ever fires, so no metric rows exist to aggregate (round-11
    -- empty-input axis)
    SELECT 'rows' AS metric, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS total
    FROM events WHERE {TRANSFORM_ORACLE_WHERE} HAVING count(*) > 0
    UNION ALL
    SELECT 'value_milli', CAST(count(*) AS BIGINT),
           CAST(sum(CAST(trunc(value * 1000) AS BIGINT)) AS BIGINT)
    FROM events WHERE {TRANSFORM_ORACLE_WHERE} HAVING count(*) > 0
    UNION ALL
    SELECT 'is_click', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN upper(event_type) = 'CLICK'
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM events WHERE {TRANSFORM_ORACLE_WHERE} HAVING count(*) > 0
    """,
)
def stream_udtf_fanout(spark, sf_dir):
    """Arrow-optimized Python UDTF on the streaming WRITE path: each
    foreachBatch invocation reduces its cleaned batch to per-type
    aggregates JVM-side, fans those few rows into long-format metric
    rows via a LATERAL ``useArrow=True`` UDTF (the 2022-era per-batch
    metrics dump, src/etl_2022.py:161-165, as row fan-out) and appends
    them to the metrics sink; the final read-back aggregates per
    metric. Additive metrics + terminal agg are batch-split-invariant,
    so the result hash-matches a pure-SQL restatement regardless of
    how the file stream chops batches."""
    from etl_jobs_spark.operators import udfs as U

    raw = _stage(spark, sf_dir, "csv", 4)
    wk = _workdir()
    src = S.file_stream_source(spark, str(raw), EVENTS_CSV_SCHEMA, "csv", 2)
    cleaned = src.filter(
        F.col("value").between(0, 150) & (F.trim("event_type") != "")
    ).select(F.upper("event_type").alias("event_type"), "value")

    metrics_out = str(wk / "metrics")
    spark.udtf.register("metric_fanout", U.metric_fanout_udtf())

    def sinks(batch_df: DataFrame, batch_id: int) -> None:
        # Per-event work (count, truncating milli sum) stays JVM-side;
        # the Python UDTF fans out only the |event types| aggregate
        # rows — UDTF eval is per-row even with useArrow, so feeding
        # it raw events would put Python on the hot path.
        agg = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(value * 1000 AS BIGINT)")).alias("v_milli"),
        )
        from etl_jobs_spark.queries._shared import scoped_view

        v = scoped_view(agg, "_udtf_batch", metrics_out)  # axis 9:
        # scoped per SINK, so a second concurrent stream in the
        # same session cannot clobber this batch's view
        # Idempotent per batch id (round-13 fault axis): per-batch
        # overwrite dir, so a replayed micro-batch rewrites its own
        # metric rows instead of double-counting them.
        batch_df.sparkSession.sql(
            f"SELECT s.metric, s.n, s.mval "
            f"FROM {v}, LATERAL metric_fanout(event_type, n, v_milli) s"
        ).write.mode("overwrite").parquet(
            f"{metrics_out}/b{int(batch_id):09d}"
        )

    S.foreach_batch_pipeline(cleaned, str(wk / "ck"), sinks, state_partitions=4)
    out = spark.read.schema("metric string, n bigint, mval bigint").parquet(
        f"{metrics_out}/b*"
    )
    return out.groupBy("metric").agg(
        F.sum("n").alias("n"), F.sum("mval").alias("total")
    )


@register(
    "stream_stateful_pandas",
    oracle="SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id",
)
def stream_stateful_pandas(spark, sf_dir):
    """Custom stateful streaming operator via applyInPandasWithState:
    a per-user running event counter (Arrow-batched Python state
    machine — the escape hatch for semantics window functions can't
    express). Single input file → one micro-batch → the update-mode
    output is the final per-user count."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _build(tmp):
        read_table(spark, sf_dir, "events").select(
            "user_id", "event_id"
        ).coalesce(1).write.parquet(str(tmp))

    raw = session_memo(  # crash-safe pinned-scratch restart reuse
        spark,
        "stream_stateful_raw",
        sf_dir,
        lambda: stage_atomic(scratch_dir("etl_stream") / "raw", _build),
    )
    wk = _workdir()
    src = S.file_stream_source(
        spark, str(raw), "user_id BIGINT, event_id BIGINT", "parquet", None
    )

    def count_events(key, pdf_iter, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    counted = src.groupBy("user_id").applyInPandasWithState(
        count_events,
        "user_id BIGINT, n_events BIGINT",
        "n BIGINT",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    return S.run_to_memory(counted, str(wk / "ck"), "update", state_partitions=4)


@register(
    "stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.value, c.c_mktsegment AS segment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_static_join(spark, sf_dir):
    """Stream-static enrichment: the event stream joins a static
    dimension table per micro-batch (the dimension re-resolves each
    batch — slowly-changing dims pick up updates for free). The
    static side broadcasts: no stream-side shuffle at all."""
    raw = _stage(spark, sf_dir, "parquet", 2)
    wk = _workdir()
    src = S.file_stream_source(spark, str(raw), EVENTS_SCHEMA, "parquet", 1)
    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    joined = (
        src.join(F.broadcast(dim), src.user_id == dim.c_custkey)
        .select("event_id", "user_id", "value", "segment")
    )
    return S.run_to_memory(joined, str(wk / "ck"), "append", state_partitions=4)


@register(
    "stream_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def stream_interval_join(spark, sf_dir):
    """Stream-stream interval join: purchases joined to the same
    user's clicks from the preceding hour, BOTH sides watermarked so
    the join state is bounded (a click's state is droppable once the
    watermark passes its ts + 1h — without watermarks, stream-stream
    join state grows forever). The attribution-join shape of every
    event pipeline.

    The result is the INNER cell of the shared interval-join matrix
    (VERDICT r8 item 4: the trio used to pay three independent
    micro-batch drains over the same feed; the full-outer drain is a
    superset of all three cells, so the drain runs ONCE per
    (session, sf) and each cell is a filter): inner = the matrix
    rows where BOTH sides matched. The inner streaming join PATH
    itself stays exercised by tests/test_streaming_join_modes.py on
    a small feed."""
    return _interval_join_matrix(spark, sf_dir).filter(
        F.col("purchase_id").isNotNull() & F.col("click_id").isNotNull()
    )


@register(
    "stream_interval_join_outer",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def stream_interval_join_outer(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join: every purchase, with
    its preceding-hour click when one exists, NULL otherwise.

    Outer results only emit once the watermark passes a purchase's
    join window, so a finite stream needs the production "flush
    heartbeat" pattern: the event feed is staged with two trailing
    far-future ``flush`` marker files. Watermarks only advance at
    batch END and eviction happens DURING a batch, so two markers
    are needed — #1 raises the watermark past the real data, #2 is
    the batch in whose processing the final stuck rows (the
    corpus-max-ts purchases) emit as NULL matches. Both join sides
    branch from ONE file source with the watermark ABOVE the type
    filters: the flush rows advance both branches' watermarks, then
    match neither filter. (Two separate per-side sources proved
    unreliable: one source's sentinel files advanced its log without
    contributing rows.)

    LEFT OUTER cell of the shared interval-join matrix (one
    full-outer drain per (session, sf), see
    :func:`_interval_join_matrix`): every matrix row with a
    purchase side — matched pairs plus purchase-with-NULL-click;
    the click-only rows are exactly what full outer adds over left
    outer."""
    return _interval_join_matrix(spark, sf_dir).filter(
        F.col("purchase_id").isNotNull()
    )


@register(
    "stream_merge_upsert",
    oracle="""
    SELECT user_id, value AS last_value, event_type AS last_type
    FROM (
      SELECT user_id, value, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def stream_merge_upsert(spark, sf_dir):
    """Streaming MERGE sink: each micro-batch upserts latest-per-key
    rows into a keyed parquet table via foreachBatch — the pattern
    behind every streaming-CDC materialized view (Delta MERGE INTO's
    transform core, re-expressed on plain parquet).

    Batch-split invariance is the correctness property the oracle
    pins: per-batch latest-wins folded into cross-batch latest-wins
    (ordered by ts, then event_id) equals latest-per-key over the
    whole feed no matter how the file source slices batches. Each
    batch compacts BEFORE merging (one keyed window over the batch,
    then a full-outer latest-wins against current state), so the
    merge join sees one row per changed key, not the raw log —
    exactly the cdc_latest_apply plan (operators/warehouse.py:89)
    run incrementally. State swaps by rename-aside (state →
    state_old, state_vN → state, drop state_old): a crash at any
    point leaves a complete state copy on disk under one of the two
    names, never a half-written table."""
    raw = _stage(spark, sf_dir, "parquet", 2)
    wk = _workdir()
    state = wk / "state"
    src = S.file_stream_source(spark, str(raw), EVENTS_SCHEMA, "parquet", 1)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        from etl_jobs_spark.operators import state_swap

        ss = batch_df.sparkSession
        # crash recovery: restore the accumulated table from the
        # newest rename-aside leftover if a prior swap died between
        # its two renames (operators/state_swap.py documents the
        # protocol and its crash windows).
        state_swap.recover(wk, state)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        compact = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "ts", "event_id", "value", "event_type")
        )
        if state.exists():
            cur = ss.read.parquet(str(state))
            merged = (
                cur.unionByName(compact)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
        else:
            merged = compact
        out = wk / f"state_v{batch_id}"
        merged.write.mode("overwrite").parquet(str(out))
        # rename-aside swap: the old state survives (as state_old)
        # until the new one is in place, so a crash at any point
        # leaves a complete state copy on disk under one of the two
        # names — never a half-written table.
        state_swap.swap(wk, state, out, batch_id)

    S.foreach_batch_pipeline(src, str(wk / "ck"), merge, state_partitions=4)
    return spark.read.parquet(str(state)).select(
        "user_id",
        F.col("value").alias("last_value"),
        F.col("event_type").alias("last_type"),
    )


@register(
    "stream_topk_types",
    oracle="""
    SELECT event_type, n, total_value FROM (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
      FROM events GROUP BY event_type)
    ORDER BY n DESC, event_type ASC LIMIT 3
    """,
)
def stream_topk_types(spark, sf_dir):
    """Continuously-maintained top-k: complete-mode streaming
    aggregation with ORDER BY + LIMIT — the one streaming output
    mode where sorting is legal (the sink rewrites the whole result
    per trigger, so the k rows are always the current global top).
    The leaderboard/trending-now shape; ties broken by key so the
    k-row SET is deterministic."""
    raw = _stage(spark, sf_dir, "parquet", 2)
    wk = _workdir()
    src = S.file_stream_source(spark, str(raw), EVENTS_SCHEMA, "parquet", 1)
    agg = (
        src.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            M.dsum("value").alias("total_value"),
        )
        .orderBy(F.col("n").desc(), F.col("event_type").asc())
        .limit(3)
    )
    return S.run_to_memory(agg, str(wk / "ck"), "complete", state_partitions=4)


#: RocksDB provider class (transformWithState requires it).
_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _register_if_tws_available(fn):
    """transformWithStateInPandas needs a google.protobuf runtime for
    its state-server protocol, which this container does not install.
    etl_jobs_spark.protobuf_compat locates a pure-Python runtime
    already on disk and shims it into driver AND workers; register
    the query only when that probe succeeds, so the driver sweep
    never sees a query that cannot run. The skip-gated test
    (tests/test_tws_processor.py) uses the same probe."""
    from etl_jobs_spark.protobuf_compat import ensure_protobuf

    if ensure_protobuf():
        return register(
            "stream_tws_processor",
            oracle="""
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS BIGINT)
                     AS total_cents
            FROM events GROUP BY user_id
            """,
        )(fn)
    return fn


@_register_if_tws_available
def stream_tws_processor(spark, sf_dir):
    """Spark 4's transformWithStateInPandas: an arbitrary stateful
    processor object with typed ValueState — the successor API to
    applyInPandasWithState (adds composite state types, timers, TTL,
    and state-schema evolution) and the fully-general hook for
    operators watermarked aggregation can't express. Runs on the
    RocksDB state store (required by the API — also the right store
    at scale: state spills instead of living in executor heap).
    Maintains per-user running (count, cents) totals; values
    quantized to integer cents so the streaming sum is bit-identical
    to the oracle regardless of accumulation order.

    Requires a google.protobuf runtime; ``enable_tws`` shims one
    into this session's driver and workers (protobuf_compat.py) —
    works on an already-running session because worker env is
    captured per created python function, not at context start."""
    from etl_jobs_spark.protobuf_compat import enable_tws

    if not enable_tws(spark):
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf; no runtime "
            "found (see etl_jobs_spark/protobuf_compat.py)"
        )
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n BIGINT, cents BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, cents = self._state.get()
            else:
                n, cents = 0, 0
            for pdf in rows:
                n += len(pdf)
                # rows count regardless; cents sum the NON-NULL
                # values (int(NaN) raises and kills the whole
                # stream — caught by the round-10 null-injection
                # differential). Quantization is floor(x*100+0.5)
                # — math.floor, NOT Python int(): int() truncates
                # toward zero and silently diverges from the SQL
                # floor() on NEGATIVE values (round-12 dup-key
                # axis; the clean fixtures are all-positive).
                import math

                v = pdf["value"].dropna()
                cents += int(
                    (v * 100 + 0.5).apply(math.floor).sum()
                )
            self._state.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_cents": [cents],
                }
            )

        def close(self) -> None:
            pass

    def _build(tmp):
        read_table(spark, sf_dir, "events").select(
            "user_id", "value"
        ).coalesce(1).write.parquet(str(tmp))

    raw = session_memo(  # crash-safe pinned-scratch restart reuse
        spark,
        "stream_tws_raw",
        sf_dir,
        lambda: stage_atomic(scratch_dir("etl_tws") / "raw", _build),
    )
    wk = _workdir()
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", _ROCKSDB)
    try:
        src = S.file_stream_source(
            spark, str(raw), "user_id BIGINT, value DOUBLE", "parquet", None
        )
        out = src.groupBy("user_id").transformWithStateInPandas(
            RunningTotals(),
            outputStructType="user_id BIGINT, n_events BIGINT, total_cents BIGINT",
            outputMode="Update",
            timeMode="None",
        )
        return S.run_to_memory(out, str(wk / "ck"), "update", state_partitions=4)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


@register(
    "stream_sink_jdbc",
    oracle=f"""
    SELECT upper(event_type) AS event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events WHERE {TRANSFORM_ORACLE_WHERE}
    GROUP BY 1
    """,
)
def stream_sink_jdbc(spark, sf_dir):
    """The 2025-era continuous loop's RELATIONAL sink end-to-end
    (ref: async MySQL batch insert, src/etl_2025.py:144-156,215-231):
    the cleaned file-arrival stream lands in a real JDBC table
    (embedded Derby) via a foreachBatch batched append — each
    micro-batch is one transactional executemany, exactly the
    reference's commit unit — then the table is read BACK over JDBC
    and aggregated. foreachBatch is at-least-once under micro-batch
    retry, so each batch first DELETEs its own batch_id and then
    appends rows tagged with it (the standard idempotent
    delete-then-insert foreachBatch pattern): a replayed batch
    replaces itself instead of duplicating rows. The count-distinct
    readback would still flag any duplication that slipped through."""
    raw = _stage(spark, sf_dir, "csv", 4)
    wk = _workdir()
    db = wk / "derby_stream" / "db"
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = S.file_stream_source(spark, str(raw), EVENTS_CSV_SCHEMA, "csv", 2)
    cleaned = src.filter(
        F.col("value").between(0, 150) & (F.trim("event_type") != "")
    ).select(
        "event_id", "user_id", F.upper("event_type").alias("event_type"), "value"
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # Replay guard: delete this batch's prior rows (if the table
        # exists yet — Spark creates it on the first append) so a
        # micro-batch retry overwrites rather than duplicates. Runs
        # on the driver, same JVM as embedded Derby.
        #
        # Identifier case matters (both halves found by the round-13
        # sink-crash fault mode, which forces a REAL
        # uncommitted-batch replay): Spark's JDBC writer creates the
        # TABLE name unquoted — Derby stores it as EVENTS_SINK, so
        # the original lowercase-quoted lookup ("events_sink") never
        # matched, the existence check short-circuited, and the
        # guard silently never deleted (readback doubled batch 0).
        # The COLUMNS, by contrast, ARE created quoted (Spark quotes
        # field names in CREATE TABLE), so the delete must quote
        # "batch_id" or Derby folds it to the nonexistent BATCH_ID.
        jvm = spark._jvm
        jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            tables = conn.getMetaData().getTables(
                None, None, "EVENTS_SINK", None
            )
            if tables.next():
                st = conn.createStatement()
                st.executeUpdate(
                    f'DELETE FROM events_sink WHERE "batch_id" = {int(batch_id)}'
                )
                st.close()
        finally:
            conn.close()
        (
            batch_df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .option("batchsize", 500)  # r16 A/B: 5000 measured
            # within noise (608-750ms/batch both ways) — embedded
            # Derby shares the JVM, so executemany round-trip count
            # is not the cost; left at the conservative 500
            .jdbc(url, "events_sink", properties=props)
        )

    S.foreach_batch_pipeline(cleaned, str(wk / "ck"), sink, state_partitions=4)
    back = spark.read.jdbc(url, "events_sink", properties=props).drop(
        "batch_id"
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("n_distinct"),
        M.dsum("value").alias("total_value"),
    )


@register(
    "stream_interval_join_full",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           coalesce(p.user_id, c.user_id) AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def stream_interval_join_full(spark, sf_dir):
    """Stream-stream FULL OUTER interval join — the last cell of the
    streaming join matrix (inner: stream_interval_join, left outer:
    stream_interval_join_outer): every purchase with its
    preceding-hour click when one exists, AND every click that
    attributed to no purchase — the reconciliation view that shows
    unconverted engagement alongside conversions. Both sides are
    watermarked branches of ONE file source (the flush-heartbeat
    protocol of the left-outer variant, whose docstring explains the
    two-marker staging); unmatched rows on EITHER side emit only
    once the watermark passes their join window, so state stays
    bounded on both sides. Marker rows are filtered with
    null-tolerant predicates (an unmatched real row carries NULL on
    the other side — a naive ``id >= 0`` filter would drop it).
    This cell IS the shared matrix (the drain the whole trio reads,
    VERDICT r8 item 4)."""
    return _interval_join_matrix(spark, sf_dir)


def _interval_join_matrix(spark, sf_dir: str) -> DataFrame:
    """ONE streaming drain for the interval-join trio (VERDICT r8
    item 4). The FULL OUTER interval join is a strict superset of
    the matrix: inner = rows with both sides, left outer = rows with
    a purchase side. The trio used to run three independent drains
    of the same staged feed — 3x the micro-batch state-store fixed
    cost for one data-plane's worth of work (stream_interval_join_full
    alone was 8.38s raw, the slowest bench line). Now the drain runs
    once per (session, sf); each query's own semantics stay those of
    its oracle, and the per-mode STREAMING join paths (inner /
    left_outer execution, not just their algebra) remain exercised
    by tests/test_streaming_join_modes.py.

    Memoized per (SparkSession, sf_dir) via session_memo, so the
    drain happens once per bench/sweep loop. Round 11: the drain
    lands in a PARQUET sink instead of the memory sink — the 64x
    stress measured the cells' memory-sink re-scans (driver-
    resident, single-threaded) steepening with matrix size, while
    the parquet read-back is a distributed columnar scan, the shape
    the cells would have at cluster scale."""
    return session_memo(
        spark, "ivj_matrix", sf_dir, lambda: _drain_matrix(spark, sf_dir)
    )


def _drain_matrix(spark, sf_dir: str) -> DataFrame:
    def _build(tmp):
        ev = read_table(spark, sf_dir, "events")
        ev.filter(
            F.col("event_type").isin("purchase", "click")
        ).coalesce(1).write.parquet(str(tmp))
        # each flush file carries one marker PER TYPE: the
        # branch filters are pushed below the watermark node
        # into the scan, so a marker only advances a branch's
        # watermark if it SURVIVES that branch's pushed filter.
        # Markers use user_id -1 (matches no real key) and
        # negative ids (filtered from the result).
        for day in (1, 2):  # written after the data → later batches
            spark.sql(
                f"SELECT CAST(-{day} AS BIGINT) AS event_id,"
                f" timestamp'2100-01-0{day} 00:00:00' AS ts,"
                " CAST(-1 AS BIGINT) AS user_id,"
                " t AS event_type, CAST(0.0 AS DOUBLE) AS value,"
                " '{}' AS props"
                " FROM VALUES ('purchase'), ('click') AS v(t)"
            ).write.mode("append").parquet(str(tmp))

    # temp-dir + rename: a crash between the feed write and the
    # marker appends must not leave a markerless feed a restart
    # would treat as staged (watermarks would never advance and
    # the drain would hang — ADVICE r14)
    feed = session_memo(
        spark,
        "stream_ivjo_feed",
        sf_dir,
        lambda: stage_atomic(scratch_dir("etl_ivjo") / "feed", _build),
    )
    wk = _workdir()
    base = S.file_stream_source(
        spark, str(feed), EVENTS_SCHEMA, "parquet", 1
    ).withWatermark("ts", "1 hour")
    p = base.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    c = base.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    joined = (
        p.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") <= F.col("p_ts")),
            "full_outer",
        )
        .filter(
            (F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
            & (F.col("click_id").isNull() | (F.col("click_id") >= 0))
        )
        .select(
            "purchase_id",
            "click_id",
            F.coalesce(F.col("user_id"), F.col("c_user")).alias("user_id"),
        )
    )
    return S.run_to_parquet(
        joined, str(wk / "ck"), str(wk / "matrix"), state_partitions=4
    )


@register(
    "stream_pii_redact",
    oracle="""
    WITH msgs AS (
      SELECT event_type,
             event_type || ' by user ' || CAST(user_id AS VARCHAR)
             || CASE WHEN user_id % 3 = 0
                     THEN ' reply to u' || CAST(user_id AS VARCHAR)
                          || '@example.com' ELSE '' END
             || CASE WHEN user_id % 5 = 0
                     THEN ' callback +1-555-'
                          || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END AS msg
      FROM events),
    red AS (
      SELECT event_type, msg,
             regexp_replace(regexp_replace(msg,
               '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+', '[EMAIL]', 'g'),
               '[+]1-555-[0-9][0-9][0-9][0-9]', '[PHONE]', 'g') AS r
      FROM msgs)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_msgs,
           CAST(sum(len(regexp_extract_all(msg,
                '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+'))) AS BIGINT)
             AS n_emails,
           CAST(sum(len(regexp_extract_all(msg,
                '[+]1-555-[0-9][0-9][0-9][0-9]'))) AS BIGINT) AS n_phones,
           CAST(sum(length(r)) AS BIGINT) AS redacted_len
    FROM red GROUP BY event_type
    """,
)
def stream_pii_redact(spark, sf_dir):
    """STREAMING PII scrub — the governance gate moved to the
    ingestion path: event messages (deterministic PII injection from
    the key columns, the text_pii_redact discipline) are redacted
    IN-FLIGHT by the same fused regex projection, and the running
    per-type census aggregates in complete mode. The scrub itself is
    stateless map work — it adds NOTHING to streaming state; only
    the tiny census aggregation holds state. That is the central
    design point: redaction belongs before the first stateful
    operator, so raw PII never enters a state store or checkpoint
    (checkpoints are durable and outlive retention windows — PII in
    state is a compliance incident). Oracle: the identical batch
    computation."""
    raw = _stage(spark, sf_dir, "parquet", 2)
    wk = _workdir()
    src = S.file_stream_source(spark, str(raw), EVENTS_SCHEMA, "parquet", 1)
    email = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
    phone = "[+]1-555-[0-9][0-9][0-9][0-9]"
    msg = (
        "event_type || ' by user ' || CAST(user_id AS STRING)"
        " || CASE WHEN user_id % 3 = 0"
        " THEN ' reply to u' || CAST(user_id AS STRING) || '@example.com'"
        " ELSE '' END"
        " || CASE WHEN user_id % 5 = 0"
        " THEN ' callback +1-555-'"
        " || lpad(CAST(event_id % 10000 AS STRING), 4, '0')"
        " ELSE '' END"
    )
    scrubbed = src.selectExpr(
        "event_type",
        f"({msg}) AS msg",
        f"regexp_replace(regexp_replace(({msg}),"
        f" '{email}', '[EMAIL]'), '{phone}', '[PHONE]') AS r",
    )
    census = scrubbed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_msgs"),
        F.sum(F.expr(f"size(regexp_extract_all(msg, '{email}', 0))"))
        .cast("bigint")
        .alias("n_emails"),
        F.sum(F.expr(f"size(regexp_extract_all(msg, '{phone}', 0))"))
        .cast("bigint")
        .alias("n_phones"),
        F.sum(F.length("r")).cast("bigint").alias("redacted_len"),
    )
    return S.run_to_memory(
        census, str(wk / "ck"), "complete", state_partitions=4
    )
