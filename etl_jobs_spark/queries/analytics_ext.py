"""Analytics-extension queries: pivot, approximate sketches,
partition-pruned storage layout, streaming dedup.

Each one demonstrates a scale-critical pattern over the fixtures:
pivot = conditional aggregation (one shuffle, no per-value scans);
sketches = fixed-memory approximate aggregates (the only viable
distinct-count/quantile at 100 TB); partitioned writes = scan-time
partition pruning; streaming dropDuplicates = stateful exactly-once
dedup over an unbounded source.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from etl_jobs_spark.operators import money as M
from etl_jobs_spark.queries._shared import session_memo

from etl_jobs_spark.registry import register
from etl_jobs_spark.scratch import scratch_dir, stage_atomic
from etl_jobs_spark.sources.readers import read_table
from etl_jobs_spark.streaming import pipelines as S

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "agg_pivot_events",
    oracle=f"""
    SELECT user_id,
           {", ".join(
               f"CAST(round(coalesce(sum(CAST(value AS DECIMAL(18,2)))"
               f" FILTER (WHERE event_type = '{t}'), 0), 2)"
               f" AS DOUBLE) AS {t}"
               for t in EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
)
def agg_pivot_events(spark, sf_dir):
    """Pivot (long → wide): per-user value totals, one column per
    event type. With explicit pivot values Spark does ONE pass of
    conditional aggregation — never the two-pass distinct-values
    scan implicit-pivot needs (a full extra scan at 100 TB).

    The zero-fill must happen AFTER the pivot: Spark fills a
    (user, type) cell with NO input rows with NULL at the pivot
    layer, so a coalesce INSIDE the aggregate never fires for that
    cell. The clean fixtures are dense (every user has every type)
    and hid this; the round-12 duplicate-key axis's sparse orphan
    users exposed NULL cells where the oracle's
    sum(...) FILTER coalesces to 0 (silent NULL-vs-0 divergence)."""
    ev = read_table(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(
            F.round(
                F.coalesce(F.sum(F.col("value").cast(M.DEC2)), F.lit(0)), 2
            ).cast("double")
        )
    )
    return pivoted.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0.0)).alias(t)
            for t in EVENT_TYPES
        ],
    )


def _sketch_audit(
    spark,
    sf_dir,
    acd_tol: float = 0.06,
    hll_tol: float = 0.05,
    med_band: float = 0.02,
    p99_band: float = 0.005,
):
    """Shared builder for ``agg_sketch_accuracy_audit`` with the
    tolerance knobs exposed so tests can run a negative control
    (an impossible band must flip the booleans to false — guarding
    against an audit that reads all-true because the comparison is
    broken). Defaults: 3x the configured rsd for
    approx_count_distinct (rsd=0.02 → 6%), 3 standard deviations of
    the default lgConfigK=12 HLL sketch (1.04/sqrt(4096) ≈ 1.6% →
    5%), ±2% rank band for the approximate median and −1%/+0.5% for
    p99 (percentile_approx accuracy=10000 bounds rank error at
    ~1e-4·n, so the bands have ~100x slack — wide enough that
    partition-order variation in the quantile-summary merge can
    never flip them)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("user_id").cast("bigint").alias("uid"),
        "event_id",
        "value",
    )
    # exact + approx in ONE aggregate over one scan lineage (the
    # exact countDistincts ride the same Expand the two-column
    # distinct agg needs anyway); only the rank rejoin and the
    # per-type sketch rollup genuinely need their own passes
    approx = ev.agg(
        F.approx_count_distinct("uid", rsd=0.02).alias("acd_users"),
        F.approx_count_distinct("event_id", rsd=0.02).alias("acd_events"),
        F.percentile_approx("value", 0.5, 10000).alias("ap_med"),
        F.percentile_approx("value", 0.99, 10000).alias("ap_p99"),
        F.countDistinct("uid").cast("bigint").alias("exact_users"),
        F.countDistinct("event_id").cast("bigint").alias("exact_events"),
    )
    # hll_direct runs as its OWN single aggregate: inside the
    # multi-distinct aggregate above, the Expand rewrite re-wraps
    # result expressions and a coalesce-to-0 over the empty-corpus
    # NULL estimate is silently lost (observed: in-agg AND post-agg
    # coalesce both still read NULL there, while this standalone
    # plan honors it). One extra 1-row pass, broadcast back like
    # hll_union (round-11 empty-input axis).
    hll_direct = ev.agg(
        F.coalesce(
            F.hll_sketch_estimate(F.hll_sketch_agg("uid")), F.lit(0)
        )
        .cast("bigint")
        .alias("hll_direct")
    )
    hll_union = (
        ev.groupBy("event_type")
        .agg(F.hll_sketch_agg("uid").alias("sk"))
        .agg(
            F.coalesce(
                F.hll_sketch_estimate(F.hll_union_agg("sk")), F.lit(0)
            )
            .cast("bigint")
            .alias("hll_union")
        )
    )
    # rank positions of the approx quantiles in the REAL data: one
    # broadcast of the 1-row approx back over events (the scalar-
    # rejoin pattern), counting strict/inclusive ranks so value ties
    # can't fake a pass
    ranks = (
        ev.crossJoin(F.broadcast(approx.select("ap_med", "ap_p99")))
        .agg(
            # count NON-NULL values: percentile_approx ignores nulls,
            # so the rank denominator must too (a 5% null column
            # otherwise dilutes the band and flips the flag — caught
            # by the null-injection differential)
            F.count("value").alias("n"),
            F.count(F.when(F.col("value") < F.col("ap_med"), F.lit(1))).alias("lt_med"),
            F.count(F.when(F.col("value") <= F.col("ap_med"), F.lit(1))).alias("le_med"),
            F.count(F.when(F.col("value") < F.col("ap_p99"), F.lit(1))).alias("lt_p99"),
            F.count(F.when(F.col("value") <= F.col("ap_p99"), F.lit(1))).alias("le_p99"),
        )
    )
    def _within(est, ex, tol):
        return F.abs(F.col(est) - F.col(ex)) <= F.greatest(
            F.lit(3.0), F.lit(tol) * F.col(ex)
        )

    return (
        approx.crossJoin(F.broadcast(hll_direct))
        .crossJoin(F.broadcast(hll_union))
        .crossJoin(F.broadcast(ranks))
        .select(
            "exact_users",
            "exact_events",
            _within("acd_users", "exact_users", acd_tol).alias(
                "acd_users_within_3rsd"
            ),
            _within("acd_events", "exact_events", acd_tol).alias(
                "acd_events_within_3rsd"
            ),
            _within("hll_direct", "exact_users", hll_tol).alias(
                "hll_direct_within_3sd"
            ),
            # the rollup property: union-of-per-type sketches tracks
            # the direct global sketch. EXACT equality only holds in
            # sparse mode (asserted at test scale in
            # tests/test_sketches.py); in dense mode the union gadget
            # re-estimates and drifts a few counts (measured: 1488 vs
            # 1499 on 1500 true uniques at sf0.1), so the driver-facing
            # property is distance within the same 3σ budget
            (
                F.abs(F.col("hll_union") - F.col("hll_direct"))
                <= F.greatest(
                    F.lit(3.0), F.lit(hll_tol) * F.col("exact_users")
                )
            ).alias("hll_union_within_3sd"),
            (
                (F.col("le_med") >= (0.5 - med_band) * F.col("n"))
                & (F.col("lt_med") <= (0.5 + med_band) * F.col("n"))
            ).alias("median_rank_in_band"),
            (
                (F.col("le_p99") >= (0.99 - 2 * p99_band) * F.col("n"))
                & (F.col("lt_p99") <= (0.99 + p99_band) * F.col("n"))
            ).alias("p99_rank_in_band"),
        )
    )


@register(
    "agg_sketch_accuracy_audit",
    oracle="""
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(count(DISTINCT event_id) AS BIGINT) AS exact_events,
           TRUE AS acd_users_within_3rsd,
           TRUE AS acd_events_within_3rsd,
           TRUE AS hll_direct_within_3sd,
           TRUE AS hll_union_within_3sd,
           TRUE AS median_rank_in_band,
           TRUE AS p99_rank_in_band
    FROM events
    """,
)
def agg_sketch_accuracy_audit(spark, sf_dir):
    """Property-bound upgrade for the two rows-only sketch queries
    (VERDICT r9 item 6): the sketch BINARIES have no cross-engine
    equality, but their ACCURACY CONTRACT does — so this row makes
    the contract itself hash-verifiable. The oracle pins the exact
    distinct counts (a real cross-engine equality) and asserts every
    property flag TRUE; any sketch regression — estimate drifting
    past 3 standard errors, the HLL union-of-sketches drifting from
    the direct sketch beyond the same budget (the rollup property
    ``agg_hll_mergeable`` exists for; exact equality holds only in
    sparse mode), or percentile_approx leaving its rank band — flips
    a boolean and fails the driver hash loudly. Bounds are sized so
    legitimate partition-order variation cannot flip them (~100x
    slack for the quantile bands, 3σ for the estimators; see
    ``_sketch_audit``). Scale: three 1-row aggregates over one scan
    lineage plus a broadcast scalar-rejoin for the rank counts —
    fixed-size state everywhere, the same shape at 100 TB."""
    return _sketch_audit(spark, sf_dir)


@register("agg_approx_sketches", oracle=None)
def agg_approx_sketches(spark, sf_dir):
    """Sketch aggregates: HyperLogLog distinct counts and quantile
    sketches — fixed memory regardless of cardinality, mergeable
    across partitions (THE 100 TB distinct-count/quantile answer;
    exact variants are in agg_profile_stats/agg_quantiles_iqr).

    No SQL oracle: DuckDB's HLL implementation differs, so equality
    is not defined — accuracy is asserted in tests
    (tests/test_sketches.py) against exact values, and the accuracy
    CONTRACT is driver-verified every sweep by the hash-oracled
    ``agg_sketch_accuracy_audit`` (r10: the property-bound upgrade —
    the estimates stay rows-only, their error bounds do not).
    """
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.approx_count_distinct("event_id", rsd=0.02).alias("approx_events"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_median_value"),
        F.percentile_approx("value", 0.99, 10000).alias("approx_p99_value"),
    )


def _staged_partitioned(spark, sf_dir: str):
    """events partitioned by event_type, staged once per sf_dir —
    shared by the static (scan_partition_pruned) and dynamic
    (join_dpp_pruned) pruning queries. Returns ``(path, schema)``:
    the read-back passes the schema EXPLICITLY, because a
    partitionBy write of an empty slice leaves no part files to
    infer from — at 100 TB 'today's partition is empty' must read
    as zero rows, not UNABLE_TO_INFER_SCHEMA (round-11 empty-input
    axis)."""

    def stage():
        d = scratch_dir("etl_part")
        staged = read_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value", "event_type"
        )
        stage_atomic(
            d, lambda tmp: staged.write.partitionBy("event_type").parquet(str(tmp))
        )
        return d, staged.schema

    return session_memo(spark, "partitioned_events", sf_dir, stage)


@register(
    "scan_partition_pruned",
    oracle="""
    SELECT event_id, user_id, value FROM events
    WHERE event_type = 'purchase'
    """,
)
def scan_partition_pruned(spark, sf_dir):
    """Partitioned write + pruned read: events land partitioned by
    event_type; the filter becomes a PartitionFilter — Spark lists
    ONE directory and reads 1/5 of the data, no row-level filtering
    at all. At 100 TB, partition layout is the first-order
    performance decision; this query is the end-to-end proof."""
    path, schema = _staged_partitioned(spark, sf_dir)
    return (
        spark.read.schema(schema).parquet(str(path))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
    )


@register(
    "stream_dedup_exact",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM (
      SELECT DISTINCT event_id, ts, user_id, event_type, value
      FROM events)
    """,
)
def stream_dedup_exact(spark, sf_dir):
    """Streaming exact dedup: the raw prefix receives the SAME batch
    twice (at-least-once delivery); watermarked dropDuplicates over
    the FULL ROW emits each distinct record once — exactly-once
    semantics built from state, the streaming face of the dedup
    ladder (operators/dedup.py). Full-row, not id-only: an id-keyed
    dropDuplicates picks a NONDETERMINISTIC representative when the
    same id arrives with different payloads (a source emitting two
    versions) — the round-12 duplicate-key axis caught that silent
    pick; exact dedup's contract is "drop redelivered COPIES", which
    only the full row defines deterministically. State is bounded by
    the watermark: rows older than the delay are evicted.

    The duplicated raw feed is immutable once staged → memoized per
    corpus (round 2 re-staged it every invocation, double-writing
    events each run; only the checkpoint must be fresh)."""

    def _build(tmp):
        ev = read_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        ev.coalesce(1).write.parquet(str(tmp))
        ev.coalesce(1).write.mode("append").parquet(str(tmp))  # dup delivery

    # temp-dir + rename (ADVICE r14): a crash between the two
    # writes must not leave a single-delivery feed a restart
    # would treat as the duplicated fixture
    raw = session_memo(
        spark,
        "sdedup_raw",
        sf_dir,
        lambda: stage_atomic(scratch_dir("etl_sdedup") / "raw", _build),
    )
    ck = scratch_dir("etl_sdedup_ck")
    src = S.file_stream_source(
        spark,
        str(raw),
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type STRING, value DOUBLE",
        "parquet",
        None,
    )
    deduped = (
        src.withWatermark("ts", "1 hour")
        .dropDuplicates(
            ["event_id", "ts", "user_id", "event_type", "value"]
        )
        .select("event_id", "user_id", "event_type", "value")
    )
    return S.run_to_memory(deduped, str(ck), "append", state_partitions=4)


def stage_jsonl(spark, sf_dir: str) -> Path:
    """Stage the shared JSONL event ledger once per sf_dir (memoized):
    the fixture every JSONL/custom-source query (and bench.py's
    pre-staging) reads — one definition so the ledger shape can't
    drift between consumers."""

    def _build(tmp):
        read_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        ).coalesce(8).write.json(str(tmp))

    return session_memo(  # crash-safe pinned-scratch restart reuse
        spark,
        "jsonl_events",
        sf_dir,
        lambda: stage_atomic(scratch_dir("etl_jsonl"), _build),
    )


@register(
    "scan_json_lines",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def scan_json_lines(spark, sf_dir):
    """JSON-lines source with a DECLARED schema (the reference's JSON
    surface is its metrics sink + SQS bodies, src/etl_2022.py:161-165,
    src/etl_2025.py:243; this is the source side). Schema inference
    over JSON costs a full extra scan at 100 TB — always declare."""
    stage_jsonl(spark, sf_dir)
    return spark.read.schema(
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    ).json(str(stage_jsonl(spark, sf_dir))).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "source_custom_pushdown",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY event_type
    """,
)
def source_custom_pushdown(spark, sf_dir):
    """Custom Python DataSource (Spark 4 API) end-to-end: the
    `event_ledger` JSONL source plans one input partition per ledger
    file and pushes the event_type equality filter INTO the Python
    reader (rows skip before crossing the Arrow boundary) — the
    §2.9 extension ladder's read side, subsuming the reference's SQS
    poll loop as a declaratively-planned source
    (sources/ledger_source.py). Reuses scan_json_lines' staged JSONL
    ledger."""
    from etl_jobs_spark.sources import ledger_source

    stage_jsonl(spark, sf_dir)
    ledger_source.register(spark)
    return (
        spark.read.format("event_ledger")
        .option("path", str(stage_jsonl(spark, sf_dir)))
        .load()
        .filter(F.col("event_type") == "purchase")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            M.dsum("value").alias("total_value"),
        )
    )


@register(
    "stream_source_custom",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events
    """,
)
def stream_source_custom(spark, sf_dir):
    """Custom Python STREAMING source end-to-end: the event_ledger
    stream reader tracks consumed-file offsets, each micro-batch
    reads only newly-arrived ledger files, and readBetweenOffsets
    gives deterministic checkpoint replay — the reference's SQS poll
    loop (src/etl_2025.py:93-119) as a declarative exactly-once
    source (sources/ledger_source.py::LedgerStreamReader). Drains
    with availableNow into a parquet sink, then aggregates the
    sink; the count-distinct in the oracle pins exactly-once (no
    row read twice across batches)."""
    from etl_jobs_spark.sources import ledger_source

    stage_jsonl(spark, sf_dir)
    ledger_source.register(spark)
    wk = scratch_dir("ledger_stream_wk")
    out = str(wk / "out")
    src = (
        spark.readStream.format("event_ledger")
        .option("path", str(stage_jsonl(spark, sf_dir)))
        .load()
    )
    # drain via the shared helper so the round-13 fault axis can
    # stop/restart the custom source mid-drain — readBetweenOffsets
    # replay + parquet-sink manifest is the exactly-once pair under
    # test.
    sunk = S.run_to_parquet(src, str(wk / "ck"), out)
    return (
        sunk
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_distinct"),
            M.dsum("value").alias("total_value"),
        )
    )


@register("agg_hll_mergeable", oracle=None)
def agg_hll_mergeable(spark, sf_dir):
    """MERGEABLE HLL sketches (Apache DataSketches, Spark 3.5+/4):
    per-type user sketches that hll_union_agg folds into the global
    estimate — the property approx_count_distinct hides and the one
    that matters at 100 TB: sketches roll up (store per-partition /
    per-day sketch columns, union them at query time) instead of
    re-scanning raw data per grouping. Output: one row per event
    type plus the ALL row computed BY UNIONING the per-type
    sketches, never re-reading events. Sketch binaries aren't
    SQL-reproducible in DuckDB → rows-only; accuracy and the
    union-vs-direct merge property are pinned in
    tests/test_sketches.py."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("bigint").alias("uid")
    )
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("uid").alias("sk")
    )
    per_rows = per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").cast("bigint").alias("est_users"),
    )
    union_row = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("bigint")
        .alias("est_users")
    ).select(F.lit("ALL").alias("event_type"), "est_users")
    return per_rows.unionByName(union_row)


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL', CAST(count(DISTINCT user_id) AS BIGINT) FROM events
    """,
)
def agg_bitmap_distinct(spark, sf_dir):
    """EXACT mergeable distinct counts via bitmap aggregates (Spark
    3.5+): user ids map to (bucket, bit) positions, per-(type,
    bucket) bitmaps OR together — so per-type counts AND the ALL
    rollup come from combining stored bitmaps, never re-scanning
    events (the exact counterpart of agg_hll_mergeable, the
    ClickHouse/Doris bitmap-index pattern). Unlike HLL this is
    hash-checkable: the oracle is plain COUNT(DISTINCT)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
        F.expr("bitmap_bit_position(user_id)").alias("pos"),
    )
    bitmaps = ev.groupBy("event_type", "bkt").agg(
        F.expr("bitmap_construct_agg(pos)").alias("bm")
    )
    per_type = bitmaps.groupBy("event_type").agg(
        F.expr("CAST(sum(bitmap_count(bm)) AS BIGINT)").alias("n_users")
    )
    rollup = (
        bitmaps.groupBy("bkt")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .agg(
            # coalesce: zero buckets (empty input) is 0 distinct
            # users, matching the oracle's count(DISTINCT) = 0
            # (round-11 empty-input axis)
            F.expr(
                "CAST(coalesce(sum(bitmap_count(bm)), 0) AS BIGINT)"
            ).alias("n_users")
        )
        .select(F.lit("ALL").alias("event_type"), "n_users")
    )
    return per_type.unionByName(rollup)


@register(
    "sink_custom_ledger",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def sink_custom_ledger(spark, sf_dir):
    """Custom Python DataSource WRITE path (Spark 4 ``writer`` hook),
    completing the custom-source matrix (batch read with pushdown +
    streaming read + now the sink): events written through the
    event_ledger writer — per-task temp part files, a two-phase
    task-commit/job-commit that renames parts into place and writes a
    manifest, abort cleanup — then read BACK through the same
    source's batch reader and aggregated. The count-distinct pins
    no-duplication through the round-trip; a partial/aborted write
    would change the census."""
    from etl_jobs_spark.sources import ledger_source

    ledger_source.register(spark)
    out = scratch_dir("etl_ledger_sink")
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.repartition(4).write.format("event_ledger").option(
        "path", str(out)
    ).mode("append").save()
    back = (
        spark.read.format("event_ledger").option("path", str(out)).load()
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("n_distinct"),
        M.dsum("value").alias("total_value"),
    )


@register(
    "sink_custom_ledger_stream",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events WHERE event_type <> 'error'
    """,
)
def sink_custom_ledger_stream(spark, sf_dir):
    """The custom Python DataSource matrix COMPLETED: streaming
    ledger source → streaming ledger SINK (Spark 4
    ``streamWriter`` hook, Arrow variant,
    sources/ledger_source.py::LedgerStreamWriter) in one continuous
    job — batch read, batch write, stream read and stream write of
    the same source are now all first-class. The sink commits each
    micro-batch under a batch-id file prefix and deletes a replayed
    batch's earlier attempt before renaming, so recovery replays are
    idempotent (exactly-once at the file level); the oracle's
    count-distinct pins that. The stream applies a real transform
    (drop the error feed) between source and sink, then the batch
    face of the same custom source reads the result back for the
    aggregation."""
    from etl_jobs_spark.sources import ledger_source

    stage_jsonl(spark, sf_dir)
    ledger_source.register(spark)
    wk = scratch_dir("ledger_stream_sink_wk")
    out = str(wk / "ledger_out")
    src = (
        spark.readStream.format("event_ledger")
        .option("path", str(stage_jsonl(spark, sf_dir)))
        .load()
        .filter(F.col("event_type") != "error")
    )
    # shared drain helper → round-13 fault axis can stop/restart
    # mid-drain; the custom sink's batch-id prefix + delete-replayed-
    # attempt commit is the idempotency contract under test.
    S._drain(
        lambda: (
            src.writeStream.format("event_ledger")
            .option("path", out)
            .option("checkpointLocation", str(wk / "ck"))
            .trigger(availableNow=True)
            .start()
        )
    )
    return (
        spark.read.format("event_ledger")
        .option("path", out)
        .load()
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_distinct"),
            M.dsum("value").alias("total_value"),
        )
    )


def _dpp_dim_path(spark, sf_dir: str) -> str:
    """The DPP scenario's tiny dim table, staged once per (session,
    corpus) — fixture setup, shared so bench can pre-stage it and
    join_dpp_pruned times the pruned join, not the write."""

    def build_dim():
        d = scratch_dir("etl_dpp_dim")
        spark.createDataFrame(
            [
                ("purchase", 1),
                ("signup", 1),
                ("click", 0),
                ("view", 0),
                ("error", 0),
            ],
            "event_type STRING, keep INT",
        ).coalesce(1).write.parquet(str(d))
        return d

    return str(session_memo(spark, "dpp_dim", sf_dir, build_dim))


@register(
    "join_dpp_pruned",
    oracle="""
    SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(e.value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events e
    WHERE e.event_type IN ('purchase', 'signup')
    GROUP BY e.event_type
    """,
)
def join_dpp_pruned(spark, sf_dir):
    """DYNAMIC partition pruning: the fact side carries NO static
    filter — the partitions to read are only known after the dim
    side's ``keep = 1`` filter runs, and Catalyst turns the join key
    into a DynamicPruningExpression on the partitioned scan, so the
    fact table still lists/reads only the 2 matching directories of
    5 (its plan census entry counts the DynamicPruning filter). Static pruning (scan_partition_pruned) handles
    literal predicates; THIS is the mechanism that keeps star joins
    partition-pruned at 100 TB when the filter lives on the
    dimension — without it the fact scan reads everything and the
    join throws 3/5 of it away."""
    part_path, part_schema = _staged_partitioned(spark, sf_dir)
    dim_path = _dpp_dim_path(spark, sf_dir)
    fact = spark.read.schema(part_schema).parquet(str(part_path))
    dim = spark.read.parquet(dim_path).filter(F.col("keep") == 1)
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            M.dsum("value").alias("total_value"),
        )
    )


#: Count-min sketch geometry: depth (independent hash rows) x width.
_CMS_DEPTH, _CMS_WIDTH = 3, 1024
#: Probe keys for the frequency estimates (fixture user ids).
_CMS_PROBES = tuple(range(1, 21))


def _cms_pos(key_sql: str, d: int, engine: str) -> str:
    from etl_jobs_spark.operators.hashing import hash60

    h = hash60(f"concat(cast({key_sql} as string), ':{d}')", engine)
    return f"pmod({h}, {_CMS_WIDTH})" if engine == "spark" else (
        f"(({h}) % {_CMS_WIDTH})"
    )


def _cms_oracle() -> str:
    probe_list = ", ".join(str(p) for p in _CMS_PROBES)
    cell_selects = "\n      UNION ALL\n      ".join(
        f"SELECT {d} AS d, {_cms_pos('user_id', d, 'duckdb')} AS pos, "
        f"user_id FROM events"
        for d in range(_CMS_DEPTH)
    )
    probe_pos = "\n      UNION ALL\n      ".join(
        f"SELECT user_id, {d} AS d, {_cms_pos('user_id', d, 'duckdb')} AS pos "
        f"FROM probes"
        for d in range(_CMS_DEPTH)
    )
    return f"""
    WITH cells AS (
      SELECT d, pos, CAST(count(*) AS BIGINT) AS cnt FROM (
      {cell_selects}
      ) GROUP BY d, pos),
    probes AS (SELECT CAST(unnest([{probe_list}]) AS BIGINT) AS user_id),
    pp AS (
      {probe_pos}
    ),
    est AS (
      SELECT pp.user_id, min(c.cnt) AS cms_est
      FROM pp JOIN cells c ON pp.d = c.d AND pp.pos = c.pos
      GROUP BY pp.user_id),
    truth AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS true_n
      FROM events WHERE user_id IN ({probe_list})
      GROUP BY user_id)
    SELECT e.user_id, t.true_n, e.cms_est,
           (e.cms_est >= t.true_n) AS never_undercounts
    FROM est e JOIN truth t ON e.user_id = t.user_id
    """


@register("agg_count_min_sketch", oracle=_cms_oracle())
def agg_count_min_sketch(spark, sf_dir):
    """Count-min sketch — the frequency-estimation counterpart of the
    HLL/KMV distinct sketches, and unlike library HLL it is FULLY
    deterministic given its hash functions, so this one is
    hash-checked against a SQL oracle that rebuilds the identical
    sketch (the portable md5 hash positions make both engines agree
    cell-for-cell). Build: one pass exploding each key to depth=3
    (row, position) cells and hash-aggregating — the sketch is
    depth x width = 3072 counters regardless of key cardinality,
    mergeable across partitions/days by cell-wise addition (partial
    aggregation IS the merge). Probe: min over the 3 cell counts per
    key — one-sided error (never undercounts, asserted per row in
    the output). The 100 TB heavy-hitter / frequency-cap primitive:
    state is KBs where an exact count-by-key would shuffle the
    corpus. The probes read the sketch through broadcast joins."""
    probes_df = spark.createDataFrame(
        [(p,) for p in _CMS_PROBES], "user_id BIGINT"
    )
    ev = read_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            F.expr(_cms_pos("user_id", d, "spark")).alias(
                                "pos"
                            ),
                        )
                        for d in range(_CMS_DEPTH)
                    ]
                )
            ).alias("cell")
        )
        .select("cell.d", "cell.pos")
        .groupBy("d", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    probe_pos = probes_df.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.expr(_cms_pos("user_id", d, "spark")).alias("pos"),
                    )
                    for d in range(_CMS_DEPTH)
                ]
            )
        ).alias("cell"),
    ).select("user_id", "cell.d", "cell.pos")
    est = (
        cells.join(F.broadcast(probe_pos), ["d", "pos"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("cms_est"))
    )
    truth = (
        ev.filter(F.col("user_id").isin(*_CMS_PROBES))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    return est.join(truth, "user_id").select(
        "user_id",
        "true_n",
        "cms_est",
        (F.col("cms_est") >= F.col("true_n")).alias("never_undercounts"),
    )


@register(
    "agg_gini_revenue",
    oracle="""
    WITH spend AS (
      SELECT c.c_mktsegment AS segment, c.c_custkey,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT segment, cents,
             row_number() OVER (PARTITION BY segment
                                ORDER BY cents, c_custkey) AS i
      FROM spend),
    stats AS (
      SELECT segment,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(cents) AS BIGINT) AS total_cents,
             CAST(sum(i * cents) AS BIGINT) AS rank_weighted
      FROM ranked GROUP BY 1)
    SELECT segment, n_customers, total_cents,
           round((2.0 * rank_weighted - (n_customers + 1) * total_cents)
                 / (1.0 * n_customers * total_cents), 6) AS gini
    FROM stats
    """,
)
def agg_gini_revenue(spark, sf_dir):
    """Gini coefficient of customer spend per market segment — the
    inequality/concentration diagnostic (how top-heavy is each
    segment's revenue?). Exact-arithmetic form of the rank formula
    G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) over ascending-sorted
    spend: totals are summed as integer CENTS (no float-summation
    order hazard), ranks come from one keyed window, and the only
    float op is the final division of two exact integers — IEEE
    correctly-rounded, so round(…, 6) is bit-stable across engines.
    Ties in spend are rank-order-invariant (equal x contribute the
    same Σ i·x under any permutation), so the custkey tiebreak is
    cosmetic. Scale shape: one join + two keyed aggregations + one
    window, all partitioned by segment — no driver math, no sort
    beyond the per-segment window. The segment dim broadcasts."""
    from pyspark.sql import Window as W

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    spend = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"), F.col("c_custkey")
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    ranked = spend.withColumn(
        "i",
        F.row_number().over(
            W.partitionBy("segment").orderBy("cents", "c_custkey")
        ),
    )
    stats = ranked.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum(F.col("i") * F.col("cents")).cast("bigint").alias(
            "rank_weighted"
        ),
    )
    return stats.select(
        "segment",
        "n_customers",
        "total_cents",
        F.round(
            (
                2.0 * F.col("rank_weighted")
                - (F.col("n_customers") + 1) * F.col("total_cents")
            )
            / (1.0 * F.col("n_customers") * F.col("total_cents")),
            6,
        ).alias("gini"),
    )


@register(
    "agg_bitmap_rollup_weekly",
    oracle="""
    SELECT date_trunc('week', CAST(ts AS DATE)) AS week,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
    FROM events
    GROUP BY 1
    """,
)
def agg_bitmap_rollup_weekly(spark, sf_dir):
    """TEMPORAL rollup of EXACT distinct counts from stored bitmaps:
    daily per-(day, bucket) user bitmaps OR together into weekly
    uniques — the materialized-bitmap pattern (agg_bitmap_distinct's
    grouping cousin) that answers 'weekly actives' WITHOUT
    re-scanning events or double-counting users active on several
    days (additive daily counts can't do this; bitmaps and sketches
    can — bitmaps exactly). The oracle is plain COUNT(DISTINCT) per
    week, so the whole bitmap pipeline must reproduce exact
    cardinalities. At 100 TB the daily bitmap table IS the stored
    artifact (thousands of (day, bucket) rows, KBs each); every
    rollup window — week, month, arbitrary range — is an OR-fold
    over it, never a raw-data pass."""
    ev = read_table(spark, sf_dir, "events").select(
        F.expr("date_trunc('week', CAST(ts AS DATE))").alias("week"),
        F.col("ts").cast("date").alias("day"),
        F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
        F.expr("bitmap_bit_position(user_id)").alias("pos"),
    )
    daily = ev.groupBy("week", "day", "bkt").agg(
        F.expr("bitmap_construct_agg(pos)").alias("bm")
    )
    weekly = (
        daily.groupBy("week", "bkt")
        .agg(
            F.expr("bitmap_or_agg(bm)").alias("bm"),
            F.countDistinct("day").alias("nd"),
        )
        .groupBy("week")
        .agg(
            F.expr("CAST(sum(bitmap_count(bm)) AS BIGINT)").alias(
                "n_users"
            ),
            F.max("nd").alias("nd_max"),
        )
    )
    # n_days needs the true per-week day count (nd is per-bucket);
    # recompute from the daily table's distinct days
    days = daily.select("week", "day").distinct().groupBy("week").agg(
        F.count(F.lit(1)).alias("n_days")
    )
    return weekly.join(days, "week").select("week", "n_users", "n_days")


@register(
    "agg_weighted_median",
    oracle="""
    WITH rows_w AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS w,
             l_orderkey, l_linenumber
      FROM lineitem),
    tot AS (
      SELECT flag, CAST(sum(w) AS BIGINT) AS total_w,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM rows_w GROUP BY flag),
    cum AS (
      SELECT flag, cents,
             CAST(sum(w) OVER (PARTITION BY flag
                               ORDER BY cents, l_orderkey, l_linenumber
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cw
      FROM rows_w)
    SELECT c.flag, t.n_rows, t.total_w,
           CAST(min(c.cents) AS BIGINT) AS weighted_median_cents
    FROM cum c JOIN tot t ON t.flag = c.flag
    WHERE 2 * c.cw >= t.total_w
    GROUP BY c.flag, t.n_rows, t.total_w
    """,
)
def agg_weighted_median(spark, sf_dir):
    """Exact WEIGHTED median (price weighted by quantity, per return
    flag) — the order-statistic aggregate GROUP BY can't express
    directly: smallest price x with cumulative weight(<= x) >= W/2.
    One keyed window (cumulative weight in a deterministic total
    order: cents, then the unique line key) + a filter-and-min over
    the qualifying suffix. Integer cents and integer weights, so the
    crossing row is identical cross-engine. Scale shape: one
    sort-based window per group — the same cost as any exact
    quantile; at 100 TB the approximate path (fixed-bin cumulative
    histograms) trades this sort for two map-side passes, and the
    engine carries both (dq_drift_psi's binning pattern)."""
    li = read_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window as W

    rows_w = li.select(
        F.col("l_returnflag").alias("flag"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias(
            "cents"
        ),
        F.col("l_quantity").cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    tot = rows_w.groupBy("flag").agg(
        F.sum("w").cast("bigint").alias("total_w"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    cum = rows_w.withColumn(
        "cw",
        F.sum("w")
        .over(
            W.partitionBy("flag")
            .orderBy("cents", "l_orderkey", "l_linenumber")
            .rowsBetween(W.unboundedPreceding, 0)
        )
        .cast("bigint"),
    )
    return (
        cum.join(F.broadcast(tot), "flag")
        .filter(2 * F.col("cw") >= F.col("total_w"))
        .groupBy("flag", "n_rows", "total_w")
        .agg(F.min("cents").cast("bigint").alias("weighted_median_cents"))
    )


#: Custom deterministic HLL: precision p=8 → m=256 registers; ranks
#: live in [1, 53] (52 payload bits + 1). ALPHA is the standard
#: bias-correction constant for m=256.
_HLL_M = 256
_HLL_ALPHA = 0.7213 / (1 + 1.079 / 256)


def _hll_oracle() -> str:
    from etl_jobs_spark.operators.hashing import hash60

    h = hash60("'hll:' || CAST(k AS VARCHAR)", "duckdb")
    return f"""
    WITH keys AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS k
      FROM events),
    hashes AS (
      SELECT event_type, ({h}) AS h FROM keys),
    ranks AS (
      SELECT event_type, h % {_HLL_M} AS b,
             CASE WHEN h // {_HLL_M} = 0 THEN 53
                  ELSE 53 - length(bin(h // {_HLL_M})) END AS r
      FROM hashes),
    types AS (SELECT DISTINCT event_type FROM events),
    regs AS (
      SELECT t.event_type, g.b,
             CAST(coalesce(max(ranks.r), 0) AS BIGINT) AS reg
      FROM types t
      CROSS JOIN range(0, {_HLL_M}) g(b)
      LEFT JOIN ranks ON ranks.event_type = t.event_type
                     AND ranks.b = g.b
      GROUP BY t.event_type, g.b),
    sums AS (
      SELECT event_type,
             CAST(sum(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT)
               AS sum_scaled,
             CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS v_zero
      FROM regs GROUP BY event_type),
    exact AS (
      SELECT event_type, CAST(count(DISTINCT k) AS BIGINT) AS n_exact
      FROM keys GROUP BY event_type)
    SELECT s.event_type, e.n_exact, s.v_zero, s.sum_scaled,
           CAST(round(CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M} * {_HLL_M}
                      * 9007199254740992.0 * 1000 / s.sum_scaled)
                AS BIGINT) AS est_milli,
           CAST(abs(CAST(round(CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M} * {_HLL_M}
                               * 9007199254740992.0 * 1000
                               / s.sum_scaled) AS BIGINT)
                    - e.n_exact * 1000) * 1000
                // (e.n_exact * 1000) AS BIGINT) AS err_permille
    FROM sums s JOIN exact e ON e.event_type = s.event_type
    """


@register("agg_hll_custom_deterministic", oracle=_hll_oracle())
def agg_hll_custom_deterministic(spark, sf_dir):
    """HyperLogLog built from scratch on the portable md5 hash — the
    deterministic, hash-oracle-VERIFIED counterpart of the library
    sketches (agg_approx_sketches / agg_hll_mergeable are rows-only
    by design because their binary sketches are
    implementation-defined; this one's 256 registers, harmonic sum,
    and bias-corrected estimate are bit-identical cross-engine).
    Mechanics: bucket = hash % m, rank = leading-zero count of the
    52 payload bits (via length(bin(w)) — identical in both
    engines), register = max(rank) per (type, bucket) — ONE
    map-side-combinable aggregation, the mergeability that makes
    HLL the 100 TB distinct-count workhorse. The harmonic mean is
    cleared of float-order hazards by integer scaling: Σ 2^(-reg)
    is summed as exact BIGINT terms 2^(53-reg) (max 256·2^53 <
    2^63), and the single final division is IEEE on identical
    operands. The register table is grid-completed over all 256
    buckets (the chi-square lesson: empty buckets carry rank 0 and
    MUST contribute 2^53 to the sum). Self-auditing: the exact
    distinct count and the per-mille error ship in the same row —
    at m=256 the expected error is ~6.5%. Production small-range
    correction (linear counting when est < 2.5m) would use the
    emitted v_zero; it is left out of the verified columns because
    ln() is libm-dependent cross-engine."""
    ev = read_table(spark, sf_dir, "events")
    keys = ev.select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("k"),
    )
    return hll_estimate(keys)


def hll_estimate(keys):
    """The custom-HLL pipeline over any (event_type, k) DataFrame —
    separated from the fixture read so
    tests/test_hll_property.py can cross-check registers and
    estimate against a pure-Python reference."""
    from etl_jobs_spark.operators.hashing import hash60

    ev = keys
    h = hash60("'hll:' || CAST(k AS STRING)", "spark")
    ranks = ev.select(
        "event_type",
        F.expr(f"({h}) % {_HLL_M}").alias("b"),
        F.expr(
            f"CASE WHEN ({h}) DIV {_HLL_M} = 0 THEN 53 "
            f"ELSE 53 - length(bin(({h}) DIV {_HLL_M})) END"
        ).alias("r"),
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(
        ev.sparkSession.range(0, _HLL_M).select(F.col("id").alias("b"))
    )
    regs = (
        grid.join(ranks, ["event_type", "b"], "left")
        .groupBy("event_type", "b")
        .agg(F.coalesce(F.max("r"), F.lit(0)).cast("bigint").alias("reg"))
    )
    sums = regs.groupBy("event_type").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - reg AS INT))"))
        .cast("bigint")
        .alias("sum_scaled"),
        F.sum(F.when(F.col("reg") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("v_zero"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("k").cast("bigint").alias("n_exact")
    )
    est = F.expr(
        f"CAST(round({_HLL_ALPHA} * {_HLL_M} * {_HLL_M}"
        f" * 9007199254740992.0 * 1000 / sum_scaled) AS BIGINT)"
    )
    return (
        sums.join(exact, "event_type")
        .withColumn("est_milli", est)
        .select(
            "event_type",
            "n_exact",
            "v_zero",
            "sum_scaled",
            "est_milli",
            F.expr(
                "CAST(abs(est_milli - n_exact * 1000) * 1000"
                " DIV (n_exact * 1000) AS BIGINT)"
            ).alias("err_permille"),
        )
    )


#: Trailing window width (hours) for the sliding distinct-user count.
_SLIDE_H = 24


@register(
    "window_sliding_distinct_users",
    oracle=f"""
    WITH uh AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 3600000000 AS b
      FROM events),
    observed AS (SELECT DISTINCT b FROM uh),
    contrib AS (
      SELECT uh.user_id, uh.b + t.o AS tb, t.o
      FROM uh CROSS JOIN (SELECT unnest(range({_SLIDE_H})) AS o) t),
    counts AS (
      SELECT tb AS b,
             CAST(count(DISTINCT user_id) AS BIGINT) AS users_24h,
             CAST(count(DISTINCT CASE WHEN o = 0 THEN user_id END)
                  AS BIGINT) AS users_1h
      FROM contrib GROUP BY 1)
    SELECT c.b AS hour_bucket, c.users_24h, c.users_1h
    FROM counts c JOIN observed ob ON ob.b = c.b
    """,
)
def window_sliding_distinct_users(spark, sf_dir):
    """TRAILING-24H DISTINCT USERS per hour (the rolling-DAU curve)
    — the sliding COUNT(DISTINCT) no window frame can express
    (distinct over a RANGE frame is unsupported in Spark and most
    engines): rewritten as the standard OFFSET-EXPLODE — dedup to
    (user, hour), fan each row out to the {_SLIDE_H} target buckets
    it covers, ONE hash aggregation per target bucket. Exact, not
    sketched (agg_hll_mergeable is the approximate path when ×24
    fan-out is too dear); same-hour distinct is carried alongside
    from the o=0 slice, and output is restricted to observed
    buckets so series edges carry no phantom hours. Integer hour
    arithmetic per the bucket discipline. Scale shape: the fan-out
    multiplies the DEDUPED (user, hour) table — already tiny
    relative to raw events — and the aggregation is map-side
    combinable on (bucket, user); no global window, no state."""
    ev = read_table(spark, sf_dir, "events")
    uh = (
        ev.select(
            "user_id",
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
            ).alias("b"),
        )
        .distinct()
    )
    observed = uh.select("b").distinct()
    contrib = uh.select(
        "user_id",
        "b",
        F.explode(F.sequence(F.lit(0), F.lit(_SLIDE_H - 1))).alias("o"),
    ).select("user_id", (F.col("b") + F.col("o")).alias("tb"), "o")
    counts = contrib.groupBy(F.col("tb").alias("b")).agg(
        F.countDistinct("user_id").cast("bigint").alias("users_24h"),
        F.countDistinct(
            F.when(F.col("o") == 0, F.col("user_id"))
        )
        .cast("bigint")
        .alias("users_1h"),
    )
    return counts.join(observed, "b").select(
        F.col("b").alias("hour_bucket"), "users_24h", "users_1h"
    )
