"""Source/sink Qkeys as oracle-checked ROUNDTRIPS: each query
materializes fixture data through the source/sink under test and
returns the read-back DataFrame, so the DuckDB oracle (the original
table) verifies end-to-end fidelity — types, headers, precision.

- scan_csv_single / scan_csv_pandas  ref: src/etl_2016.py:4-10,
  src/etl_2020.py:79-84
- scan_glob_union                    ref: src/etl_2020.py:150-157,
  src/etl_2022.py:242-257
- sink_jdbc_append                   ref: src/etl_2018.py:65-92,
  src/etl_2020.py:108-138 — real JDBC via embedded Derby
- source_s3 / sink_s3                ref: src/etl_2025.py:53-84 —
  URI-addressed object-store read/write (exercised with file://;
  s3a:// is the same call with hadoop-aws on the classpath)
- sink_json_report                   ref: src/etl_2022.py:161-165
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import functions as F

from etl_jobs_spark.operators import quality as Q
from etl_jobs_spark.queries._shared import _dirty_rules, dirty_events, session_memo
from etl_jobs_spark.registry import register
from etl_jobs_spark.scratch import scratch_dir, stage_atomic
from etl_jobs_spark.sources import readers, writers
from etl_jobs_spark.sources.readers import read_table

REGION_SCHEMA = "r_regionkey INT, r_name STRING"
NATION_SCHEMA = "n_nationkey INT, n_name STRING, n_regionkey INT"
CUSTOMER_SCHEMA = (
    "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
    "c_acctbal DOUBLE, c_mktsegment STRING"
)


def _workdir(tag: str) -> Path:
    d = scratch_dir(f"etl_jobs_spark_{tag}")
    shutil.rmtree(d, ignore_errors=True)
    return d


@register("scan_csv_single", oracle="SELECT * FROM region")
def scan_csv_single(spark, sf_dir):
    """CSV write → schema-declared CSV scan; fidelity checked against
    the parquet original."""
    d = _workdir("csv_single")
    writers.sink_csv(read_table(spark, sf_dir, "region"), str(d / "region_csv"))
    return readers.scan_csv(spark, str(d / "region_csv"), schema=REGION_SCHEMA)


@register("scan_csv_pandas", oracle="SELECT * FROM nation")
def scan_csv_pandas(spark, sf_dir):
    """Header-inferred CSV scan (the reference's ``pd.read_csv``
    shape — no declared schema, inference on)."""
    d = _workdir("csv_infer")
    writers.sink_csv(read_table(spark, sf_dir, "nation"), str(d / "nation_csv"))
    return readers.scan_csv(spark, str(d / "nation_csv"), schema=None)


@register("scan_glob_union", oracle="SELECT * FROM customer")
def scan_glob_union(spark, sf_dir):
    """Per-segment CSV files + a decoy ``output`` dir; the glob-union
    scan must pick up exactly the ``input_*`` files — filename-level
    pruning inside ONE scan (no driver-side concat loop)."""
    d = _workdir("glob_union")
    cust = read_table(spark, sf_dir, "customer")
    for seg in [r[0] for r in cust.select("c_mktsegment").distinct().collect()]:
        # a path segment derived from a DATA VALUE must be escaped —
        # Spark's own partitionBy percent-encodes exactly so; a raw
        # ':' in a segment value is a URISyntaxException at read time
        # (round-12 duplicate-key axis's rewritten segments)
        from urllib.parse import quote

        safe = quote(seg, safe="")
        writers.sink_csv(
            cust.filter(F.col("c_mktsegment") == seg), str(d / f"input_{safe}")
        )
    # decoy the scan must NOT read (ref: skipping output.csv, src/etl_2020.py:151)
    writers.sink_csv(cust.limit(7), str(d / "output"))
    return readers.scan_glob_union(
        spark,
        str(d / "input_*"),
        schema=CUSTOMER_SCHEMA,
        path_glob_filter="*.csv",
        fmt="csv",
    )


@register(
    "scan_empty_feed_census",
    oracle="""
    -- the zero-row contract, pinned as a PERMANENT driver row: an
    -- empty feed yields 0 counts via coalesce, a NULL raw sum (SQL
    -- aggregate semantics — sum over zero rows is NULL, count is 0),
    -- and an explicit emptiness flag. Mirrors the engine exactly on
    -- a zero-row relation (round-11 zero-row axis, promoted to the
    -- driver surface per the round-11 verdict).
    SELECT CAST(count(*) AS BIGINT) AS total_rows,
           CAST(coalesce(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS null_values,
           CAST(count(DISTINCT event_type) AS BIGINT) AS distinct_types,
           round(sum(value), 4) AS value_sum_raw,
           coalesce(round(sum(value), 4), 0.0) AS value_sum_coalesced,
           CAST(count(*) = 0 AS BOOLEAN) AS is_empty
    FROM events WHERE FALSE
    """,
)
def scan_empty_feed_census(spark, sf_dir):
    """Empty-feed read-back census: a day with NO input files is a
    zero-row feed, not an error — the glob-union scan returns a
    schema-stable empty frame (sources/readers.py::scan_glob_union's
    PATH_NOT_FOUND branch) and every census aggregate must hold its
    documented zero-row value (counts 0, raw sum NULL, coalesced sum
    0.0). This is the permanent driver-green witness for the
    36-failure class the round-11 zero-row axis closed; the same
    census shape runs full-registry in tests/test_degenerate_inputs.py."""
    d = _workdir("empty_feed")
    (d / "incoming").mkdir(parents=True, exist_ok=True)  # dir exists, no files
    feed = readers.scan_glob_union(
        spark,
        str(d / "incoming" / "feed_*.csv"),
        schema=(
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING"
        ),
        fmt="csv",
    )
    return feed.agg(
        F.count("*").cast("long").alias("total_rows"),
        F.coalesce(
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("null_values"),
        F.countDistinct("event_type").cast("long").alias("distinct_types"),
        F.round(F.sum("value"), 4).alias("value_sum_raw"),
        F.coalesce(F.round(F.sum("value"), 4), F.lit(0.0)).alias(
            "value_sum_coalesced"
        ),
        (F.count("*") == 0).alias("is_empty"),
    )


@register("sink_jdbc_append", oracle="SELECT * FROM supplier")
def sink_jdbc_append(spark, sf_dir):
    """REAL JDBC roundtrip through embedded Derby (in the Spark JVM):
    append-mode batched insert, then a JDBC scan back."""
    db = _workdir("derby") / "db"
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    writers.sink_jdbc_append(
        read_table(spark, sf_dir, "supplier"),
        url,
        "supplier_sink",
        properties=props,
        batchsize=500,
        num_partitions=2,
    )
    return spark.read.jdbc(url, "supplier_sink", properties=props)


@register("sink_s3", oracle="SELECT * FROM part")
def sink_s3(spark, sf_dir):
    """Object-store sink: write parquet to a ``processed/`` prefix
    under a file:// URI (same API as s3a://), read back. SSE for real
    S3 is a filesystem conf, not a code change (see
    sources/readers.py::source_object_store)."""
    d = _workdir("objstore")
    uri = (d / "processed" / "part").as_uri()
    writers.sink_parquet(read_table(spark, sf_dir, "part"), uri, mode="overwrite")
    return spark.read.parquet(uri)


@register(
    "source_s3",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS TIMESTAMP_NS) AS o_orderdate, o_orderpriority
    FROM orders
    """,
)
def source_s3(spark, sf_dir):
    """Object-store source: CSV under a ``raw/`` prefix read by URI —
    the reference's download-to-temp step (src/etl_2025.py:70-84) is
    deleted, not ported; Spark reads the store directly."""
    d = _workdir("objstore_src")
    raw_uri = (d / "raw" / "orders").as_uri()
    writers.sink_csv(read_table(spark, sf_dir, "orders"), raw_uri)
    return readers.source_object_store(
        spark,
        raw_uri,
        schema=(
            "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
            "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"
        ),
        fmt="csv",
    )


@register(
    "sink_json_report",
    oracle="""
    WITH dirty AS (
      SELECT event_id, user_id, event_type, value, props,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value_n,
             CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END AS event_type_n
      FROM events)
    SELECT count(*) AS total_records,
           sum(CAST(value_n IS NOT NULL
                    AND coalesce(trim(event_type_n) <> '', FALSE)
                    AND coalesce(value_n BETWEEN 0 AND 150, FALSE)
               AS INTEGER)) :: BIGINT AS valid_records,
           round(sum(CAST(value_n IS NOT NULL
                    AND coalesce(trim(event_type_n) <> '', FALSE)
                    AND coalesce(value_n BETWEEN 0 AND 150, FALSE) AS INTEGER))
                 * 100.0 / count(*), 6) AS completion_rate,
           round(sum(CAST(value_n IS NOT NULL
                    AND coalesce(trim(event_type_n) <> '', FALSE)
                    AND coalesce(value_n BETWEEN 0 AND 150, FALSE) AS INTEGER))
                 * 100.0 / count(*), 6) AS success_rate
    FROM dirty
    """,
)
def sink_json_report(spark, sf_dir):
    """Metrics → single-file JSON report → read back with declared
    schema (ref: src/etl_2022.py:161-165)."""
    d = _workdir("json_report")
    metrics = Q.run_quality_metrics(dirty_events(spark, sf_dir), _dirty_rules())
    writers.sink_json_report(metrics, str(d / "quality_metrics"))
    return spark.read.schema(
        "total_records BIGINT, valid_records BIGINT, "
        "completion_rate DOUBLE, success_rate DOUBLE"
    ).json(str(d / "quality_metrics"))


@register("scan_orc_roundtrip", oracle="SELECT * FROM nation")
def scan_orc_roundtrip(spark, sf_dir):
    """ORC write → ORC scan (the second columnar format after
    parquet; same pushdown/pruning machinery via the vectorized ORC
    reader)."""
    d = _workdir("orc")
    read_table(spark, sf_dir, "nation").write.orc(str(d / "nation_orc"))
    return spark.read.schema(NATION_SCHEMA).orc(str(d / "nation_orc"))


@register(
    "scan_csv_corrupt_quarantine",
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE n_nationkey IS NOT NULL) AS BIGINT)
             AS clean_rows,
           CAST(count(*) FILTER (WHERE n_nationkey IS NULL) AS BIGINT)
             AS corrupt_rows
    FROM (
      SELECT n_nationkey FROM nation
      UNION ALL
      SELECT NULL FROM range(3))
    """,
)
def scan_csv_corrupt_quarantine(spark, sf_dir):
    """Parser-level bad-row handling: a CSV with injected garbage
    lines read in PERMISSIVE mode — malformed rows land in
    ``_corrupt_record`` instead of failing the scan (the schema-level
    face of the reference's row validation, ref: src/etl_2018.py:26-36,
    which only sees rows the parser already accepted). Returns
    clean/quarantined counts."""
    d = _workdir("corrupt")
    writers.sink_csv(read_table(spark, sf_dir, "nation"), str(d / "csv"))
    bad = d / "csv" / "part-bad.csv"
    bad.write_text(
        "n_nationkey,n_name,n_regionkey\n"
        "not_an_int,BROKEN,also_bad\nxx,,yy\n,,,too,many,cols\n"
    )
    df = spark.read.schema(
        NATION_SCHEMA + ", _corrupt_record STRING"
    ).option("header", "true").option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).csv(str(d / "csv"))
    # Spark refuses raw-parse queries projecting ONLY the corrupt
    # column; cache materializes the full parse first (its own
    # documented pattern).
    df = df.cache()
    return df.select(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1))
        .cast("long")
        .alias("clean_rows"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1))
        .cast("long")
        .alias("corrupt_rows"),
    )


@register(
    "scan_schema_evolution",
    oracle="""
    SELECT r_regionkey, r_name, NULL::VARCHAR AS r_comment FROM region
    UNION ALL
    SELECT r_regionkey, r_name, 'v2' AS r_comment FROM region
    """,
)
def scan_schema_evolution(spark, sf_dir):
    """Schema evolution: a v1 write (2 columns) and a v2 write
    (adds r_comment) under one prefix, read with ``mergeSchema`` —
    old files surface NULL for the new column. The lakehouse
    append-only evolution contract; without mergeSchema the scan
    would silently serve whichever footer it sampled."""
    d = _workdir("evolve")
    region = read_table(spark, sf_dir, "region")
    region.select("r_regionkey", "r_name").write.parquet(
        str(d / "t"), mode="append"
    )
    region.select(
        "r_regionkey", "r_name", F.lit("v2").alias("r_comment")
    ).write.parquet(str(d / "t"), mode="append")
    return spark.read.option("mergeSchema", "true").parquet(str(d / "t"))


@register(
    "sink_partition_overwrite",
    # the oracle mirrors the staged pipeline EXACTLY: the staged
    # table stores round(value, 2); the restatement doubles the
    # STORED value and re-rounds — not round(raw*2, 2), which only
    # coincidentally agrees while fixtures carry <= 2 decimals
    oracle="""
    -- IS DISTINCT FROM, not <>: rows with NULL event_type live in
    -- the physical table's null partition and must survive the
    -- restatement untouched; '<>' would silently drop them from the
    -- oracle (three-valued logic; string-null differential, r10)
    SELECT event_id, user_id, round(value, 2) AS value, event_type
    FROM events WHERE event_type IS DISTINCT FROM 'click'
    UNION ALL
    SELECT event_id, user_id, round(round(value, 2) * 2, 2) AS value, event_type
    FROM events WHERE event_type = 'click'
    """,
)
def sink_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite: rewrite ONLY the partitions the
    incoming batch touches (spark.sql.sources.partitionOverwriteMode=
    dynamic), leaving sibling partitions intact — the idempotent
    backfill/restatement primitive (static mode would wipe the whole
    table root)."""
    d = _workdir("dynov")
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round("value", 2).alias("value"), "event_type"
    )
    ev.write.partitionBy("event_type").parquet(str(d / "t"))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        restated = ev.filter(F.col("event_type") == "click").withColumn(
            "value", F.round(F.col("value") * 2, 2)
        )
        restated.write.mode("overwrite").partitionBy("event_type").parquet(
            str(d / "t")
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # explicit schema: an all-empty restatement writes no part files
    # to infer from (round-11 empty-input axis)
    out = spark.read.schema(ev.schema).parquet(str(d / "t")).select(
        "event_id", "user_id", F.round("value", 2).alias("value"), "event_type"
    )
    return out


@register(
    "scan_incremental_watermark",
    oracle="""
    SELECT event_id, user_id FROM events
    WHERE ts > (SELECT max(ts) FROM events WHERE event_id % 2 = 0)
    """,
)
def scan_incremental_watermark(spark, sf_dir):
    """High-watermark incremental ingest: load only source rows newer
    than the last loaded timestamp (the already-loaded set is modeled
    as the even event_ids). The watermark is ONE scalar fetched to
    the driver — pipeline *metadata*, exactly what an ingest job
    stores in its state table — and then a LITERAL in the batch
    filter. Both the watermark aggregate and the filter run on the
    STORED column (this parquet's raw nanosecond long — a micros
    round-trip would drop sub-microsecond digits and shift the
    boundary), so the predicate pushes down to the scan
    (PushedFilters GreaterThan(ts, ...) — asserted in
    tests/test_incremental_scan.py): the 100 TB property is that an
    incremental run scans the new tail, not the table."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type.startswith("timestamp"):
        # Fetch the watermark as its WALL-CLOCK STRING, never a
        # Python datetime: collect() hands back a naive datetime,
        # and F.lit(datetime) builds a TIMESTAMP_LTZ literal through
        # the OS-LOCAL epoch conversion — under a non-UTC host TZ
        # the watermark shifts by the UTC offset and the incremental
        # filter silently returns the wrong tail (round-12 TZ axis:
        # 0 rows under TZ=America/New_York). The string → cast to
        # the column's own type is tz-free, constant-folded, and
        # the predicate still pushes down.
        wm = (
            raw.filter(F.col("event_id") % 2 == 0)
            .agg(F.max("ts").cast("string").alias("wm"))
            .collect()[0]["wm"]
        )
        lit_wm = F.lit(wm).cast(ts_type)
    else:  # nanos-as-long: the watermark is a plain integer, tz-free
        wm = (
            raw.filter(F.col("event_id") % 2 == 0)
            .agg(F.max("ts").alias("wm"))
            .collect()[0]["wm"]
        )
        lit_wm = F.lit(wm)
    return raw.filter(F.col("ts") > lit_wm).select("event_id", "user_id")


@register(
    "scan_binary_files",
    oracle="""
    -- one file per DISTINCT key: a filesystem cannot hold two files
    -- with the same name, so a duplicate-key row re-stages (min
    -- name pins the winner deterministically in both engines —
    -- round-12 duplicate-key axis)
    SELECT CAST(n_nationkey AS BIGINT) AS file_key,
           CAST(length(min(n_name)) AS BIGINT) AS n_bytes,
           md5(min(n_name)) AS content_md5
    FROM nation GROUP BY n_nationkey
    """,
)
def scan_binary_files(spark, sf_dir):
    """Opaque-binary ingestion via Spark's built-in ``binaryFile``
    source — the scan that feeds the multimodal surface (images/
    audio land as whole-file binary columns + path metadata). One
    file per nation row staged, read back as (path, content) and
    fingerprinted; the oracle checks byte-length + md5 fidelity
    against the original strings. At 100 TB this source is how raw
    media enters the engine: each file is one row, partitioned by
    Spark's file-listing parallelism, decode deferred to the
    mapInPandas stage (operators/multimodal.py)."""
    d = _workdir("binfiles")
    d.mkdir(parents=True, exist_ok=True)
    rows = (
        read_table(spark, sf_dir, "nation")
        .groupBy("n_nationkey")  # filename IS the key: one file per
        .agg(F.min("n_name").alias("n_name"))  # distinct key (axis 8)
        .collect()
    )
    for r in rows:  # 25 rows — staging only, not a data path
        (d / f"{r['n_nationkey']}.bin").write_bytes(r["n_name"].encode())
    df = spark.read.format("binaryFile").load(str(d))
    return df.select(
        F.expr(
            "CAST(regexp_extract(path, '([0-9]+)[.]bin$', 1) AS BIGINT)"
        ).alias("file_key"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@register(
    "scan_with_lineage",
    # the oracle runs over pre-registered DuckDB VIEWS (no filename
    # pseudo-column there), so the expected lineage value is the
    # dataset-root literal. The Spark side derives that SAME value
    # from input_file_name() per row — attribution is proved, and
    # the derivation is layout-invariant (single file or multi-part
    # directory both resolve to the dataset root, so a stress
    # replica written as part files compares identically).
    oracle="""
    SELECT 'events.parquet' AS source_file,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(event_id) AS BIGINT) AS min_id,
           CAST(max(event_id) AS BIGINT) AS max_id
    FROM events
    -- value-neutral on non-empty input; pins the engine's grouped
    -- lineage semantics for an empty dataset (no rows -> no dataset
    -- row to attribute; round-11 empty-input axis)
    HAVING count(*) > 0
    """,
)
def scan_with_lineage(spark, sf_dir):
    """Row-level file lineage: every row tagged with its source
    dataset via ``input_file_name()`` at scan time (zero extra I/O —
    the scan already knows), aggregated to a per-dataset ingest
    audit. The provenance column every regulated pipeline carries;
    at 100 TB this is how a bad upstream delivery is traced and
    surgically re-ingested. Attribution key = the first ``*.parquet``
    path segment (the dataset root), so a dataset laid out as one
    file and one laid out as a part-file directory audit the same;
    swap the regex for the full path to get per-part granularity."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.withColumn(
            "source_file",
            # anchored to a path-segment boundary: an unanchored
            # ([^/]+\.parquet) would match a PREFIX of an ancestor
            # directory named e.g. corpus.parquet_v2
            F.regexp_extract(
                F.input_file_name(), r"([^/]+\.parquet)(/|$)", 1
            ),
        )
        .groupBy("source_file")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
    )


@register(
    "scan_xml_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def scan_xml_roundtrip(spark, sf_dir):
    """XML source/sink round-trip (XML is built into Spark core
    since 4.0 — no external package): events written as <row>
    elements, read back with a DECLARED schema (rowTag + explicit
    types; schema inference over XML costs a full extra scan, same
    rule as JSON). The enterprise-integration format the reference
    era never covered; completes the format matrix (csv / json /
    parquet / orc / binary / jdbc / xml)."""

    def _build(tmp):
        read_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        ).coalesce(2).write.format("xml").option("rootTag", "events").option(
            "rowTag", "row"
        ).save(str(tmp))

    d = session_memo(
        spark,
        "xml_events",
        sf_dir,
        lambda: stage_atomic(scratch_dir("etl_xml"), _build),
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
        .load(str(d))
        .select("event_id", "user_id", "event_type", "value")
    )


@register(
    "scan_footer_stats_audit",
    oracle="""
    SELECT 'event_id' AS column_name,
           CAST(count(event_id) AS BIGINT) AS n_values,
           CAST(min(event_id) AS DOUBLE) AS min_value,
           CAST(max(event_id) AS DOUBLE) AS max_value
    FROM events
    UNION ALL
    SELECT 'user_id', CAST(count(user_id) AS BIGINT),
           CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE)
    FROM events
    UNION ALL
    -- the parquet stats contract OMITS NaN from min/max; mirror it
    -- in the recompute (round-11 extremes axis)
    SELECT 'value', CAST(count(value) AS BIGINT),
           CAST(min(CASE WHEN NOT isnan(value) THEN value END) AS DOUBLE),
           CAST(max(CASE WHEN NOT isnan(value) THEN value END) AS DOUBLE)
    FROM events
    """,
)
def scan_footer_stats_audit(spark, sf_dir):
    """Parquet FOOTER statistics audit: per-column value counts and
    min/max assembled from row-group metadata alone — zero data pages
    read — and verified against a full-scan oracle. This is the
    stats-vs-data consistency check a lakehouse runs before trusting
    min/max pruning (a writer that mis-records stats silently breaks
    every pruned query), and the same footers Spark's own row-group
    skipping consults. Footer parsing happens per file via pyarrow;
    at 100 TB the file list becomes a DataFrame and the footer reads
    a ``mapPartitions`` over paths — same per-file work, distributed
    (the driver loop here walks the handful of fixture files)."""
    import glob as _glob

    import pyarrow.parquet as pq

    root = f"{sf_dir}/events.parquet"
    paths = sorted(_glob.glob(f"{root}/*.parquet")) or [root]
    cols = ["event_id", "user_id", "value"]
    acc = {c: [0, None, None] for c in cols}  # n, min, max
    for p in paths:
        md = pq.ParquetFile(p).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            for c in cols:
                col = md.row_group(rg).column(idx[c])
                st = col.statistics
                a = acc[c]
                # ColumnChunkMetaData.num_values counts nulls too
                # (parquet spec); the audit's oracle is count(col) =
                # non-null, so subtract the footer's null_count when
                # the chunk carries statistics.
                nulls = (
                    st.null_count
                    if st is not None and st.null_count is not None
                    else 0
                )
                a[0] += col.num_values - nulls
                if st is not None and st.has_min_max:
                    a[1] = st.min if a[1] is None else min(a[1], st.min)
                    a[2] = st.max if a[2] is None else max(a[2], st.max)
    rows = [
        # a column whose chunks all lack min/max statistics cannot be
        # audited from footers — surface NULL bounds rather than crash
        (
            c,
            int(a[0]),
            float(a[1]) if a[1] is not None else None,
            float(a[2]) if a[2] is not None else None,
        )
        for c, a in acc.items()
    ]
    return spark.createDataFrame(
        rows,
        "column_name STRING, n_values BIGINT, "
        "min_value DOUBLE, max_value DOUBLE",
    )


@register(
    "scan_csv_gzip",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    WHERE event_type = 'purchase'
    """,
)
def scan_csv_gzip(spark, sf_dir):
    """Compressed text source: the events feed written as gzip CSV
    and read back with a declared schema + codec sniffing by
    extension — the landing-zone format half the world's upstreams
    actually deliver. The scale lesson this query exists to state:
    gzip is NOT splittable, so one .gz file = one task no matter its
    size — a 100 GB gzip CSV serializes the whole scan. The staging
    here writes N gzip parts (each a separate task, the correct
    mitigation when the upstream format is non-negotiable); at 100 TB
    prefer a splittable codec (bzip2, or parquet/zstd after one
    re-encode pass). The filter still applies scan-side, but unlike
    parquet there is no footer/row-group pushdown — every byte
    decompresses; the oracle states plain SQL over the original."""
    import hashlib

    def stage():
        d = scratch_dir("etl_gzcsv")
        read_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        ).repartition(4).write.option("header", "true").option(
            "compression", "gzip"
        ).csv(str(d / "raw"))
        return d

    d = session_memo(spark, "gzip_csv", sf_dir, stage)
    return (
        spark.read.schema(
            "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
        )
        .option("header", "true")
        .csv(str(d / "raw"))
        .filter(F.col("event_type") == "purchase")
    )


@register(
    "setop_union_schema_drift",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           CAST(NULL AS VARCHAR) AS source_region
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT event_id, user_id, event_type, value,
           'eu-west' AS source_region
    FROM events WHERE event_id % 2 = 1
    """,
)
def setop_union_schema_drift(spark, sf_dir):
    """Schema-drift union: a v2 feed added a column the v1 feed
    doesn't have, and the union must align by NAME and null-fill the
    missing side — ``unionByName(allowMissingColumns=True)``, the
    operator that makes rolling schema migrations a non-event.
    Position-based UNION (the reference's pd.concat,
    src/etl_2020.py:157) silently mis-aligns or hard-fails here;
    name-based union with missing-column fill is the 100 TB-safe
    contract because producers upgrade one pipeline at a time.
    Map-only: no shuffle, the null fill is a projection."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    v1 = ev.filter(F.col("event_id") % 2 == 0)
    v2 = ev.filter(F.col("event_id") % 2 == 1).withColumn(
        "source_region", F.lit("eu-west")
    )
    return v1.unionByName(v2, allowMissingColumns=True)


@register(
    "pipeline_daily_incremental",
    oracle="""
    WITH base AS (
      SELECT event_id, event_type FROM events WHERE event_id % 10 <> 0),
    new_valid AS (
      SELECT event_id, event_type FROM events
      WHERE event_id % 10 = 0
        AND event_type IN ('click','view','purchase','signup','error')
        AND value BETWEEN 0 AND 150),
    final AS (SELECT * FROM base UNION ALL SELECT * FROM new_valid)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           bit_xor(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                   ::BIGINT) AS content_hash
    FROM final GROUP BY event_type
    """,
)
def pipeline_daily_incremental(spark, sf_dir):
    """The daily incremental-ingest job COMPOSED end to end from the
    operator kit — the loop a reference user actually schedules
    (src/etl_2016.py..2025.py are all variations of it): an existing
    warehouse table holds yesterday's data; today's batch arrives
    with AT-LEAST-ONCE delivery (every 3rd already-loaded row is
    re-delivered alongside the genuinely-new rows); the pipeline
    validates (domain + range gate), dedups the batch against the
    warehouse by key — Bloom prefilter, exact anti join for the
    positives, the dedup_incremental_bloom plan — and APPENDS only
    the survivors to the partitioned table. The report re-scans the
    FINAL table: per-type row counts, distinct counts, and a bit_xor
    content fingerprint the oracle recomputes from scratch — one
    surviving duplicate or one lost row flips the hash. Scale shape:
    every stage is the proven operator (partitioned append, bloom
    probe at the scan, broadcast-sized exact check); the whole job
    touches yesterday's table only through its key Bloom + the
    appended partitions, never a rewrite."""
    from etl_jobs_spark.operators.bloom import bloom_build, bloom_probe_expr
    from etl_jobs_spark.operators.hashing import hash60
    from etl_jobs_spark.scratch import scratch_dir

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    base = ev.filter(F.col("event_id") % 10 != 0)
    newly = ev.filter(F.col("event_id") % 10 == 0)
    replays = base.filter(F.col("event_id") % 3 == 0)
    batch = newly.unionByName(replays)

    d = scratch_dir("daily_ingest")
    table = str(d / "warehouse")
    base.write.partitionBy("event_type").parquet(table)

    valid = batch.filter(
        F.col("event_type").isin("click", "view", "purchase", "signup", "error")
        & F.col("value").between(0, 150)
    )
    # schema-pinned read-backs: an empty warehouse slice leaves no
    # part files to infer from (round-11 empty-input axis)
    keys = spark.read.schema(ev.schema).parquet(table).select(
        F.col("event_id").cast("string").alias("k")
    )
    words = bloom_build(keys, "k", m_bits=1 << 19)
    probe = bloom_probe_expr(words, "cast(event_id as string)")
    definitely_new = valid.filter(~probe)
    maybe_dup = (
        valid.filter(probe)
        .join(
            spark.read.schema(ev.schema).parquet(table).select("event_id"),
            "event_id",
            "left_anti",
        )
    )
    survivors = definitely_new.unionByName(maybe_dup)
    survivors.write.mode("append").partitionBy("event_type").parquet(table)

    h = hash60("cast(event_id as string)", "spark")
    return (
        spark.read.schema(ev.schema).parquet(table)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("event_id").alias("n_distinct"),
            F.expr(f"bit_xor({h})").alias("content_hash"),
        )
    )


@register(
    "scan_text_logparse",
    oracle="""
    -- a log line can't distinguish NULL from a sentinel: the render
    -- writes [NA] for a null type and the census groups on the same
    -- coalesce (string-null differential, r10)
    SELECT coalesce(event_type, 'NA') AS event_type,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents,
           CAST(min(event_id) AS BIGINT) AS min_id,
           CAST(max(event_id) AS BIGINT) AS max_id
    FROM events GROUP BY 1
    """,
)
def scan_text_logparse(spark, sf_dir):
    """Raw-log ingestion: events are rendered as classic bracketed
    log lines (``[type] id=.. user=.. cents=..``) into a TEXT file,
    then re-ingested with ``spark.read.text`` + ``regexp_extract``
    field parsing — the unstructured-landing-zone half of every lake
    pipeline (app logs, syslog, access logs), where the 'schema' is
    a regex, not a footer. The parse stays fully JVM-side (three
    regexp_extracts fused into the scan projection — no Python), and
    the monetary field travels as integer CENTS in the log line so
    round-tripping through text costs no float precision. The oracle
    recomputes the per-type census from the original table: a
    formatting or parsing bug on ANY field (dropped line, wrong
    capture group, truncated id) turns the row red. At 100 TB: text
    scan + regex projection is embarrassingly parallel; the single
    small shuffle is the census aggregation."""

    def stage():
        d = scratch_dir("logparse")
        path = str(d / "app_logs")
        ev = read_table(spark, sf_dir, "events")
        # a record with no value still logs: null cents render as
        # the sentinel 'NA' (format_string would otherwise null the
        # ENTIRE line — a silently dropped record; caught by the
        # round-10 null-injection differential)
        lines = ev.select(
            F.format_string(
                "[%s] id=%d user=%d cents=%s",
                F.coalesce(F.col("event_type"), F.lit("NA")),
                "event_id",
                "user_id",
                F.coalesce(
                    F.expr(
                        "CAST(CAST(round(value * 100) AS BIGINT)"
                        " AS STRING)"
                    ),
                    F.lit("NA"),
                ),
            ).alias("value")
        )
        lines.write.text(path)
        return path

    path = session_memo(spark, "logparse", sf_dir, stage)
    raw = spark.read.text(path)
    # type capture is [^\]]* — NOT \w+: real event types carry
    # punctuation (the round-12 dup-key axis's rewritten types
    # silently parsed to '' under \w+, vanishing whole groups from
    # the census). The one framing limit a bracketed log line truly
    # has: a type containing ']' itself cannot round-trip.
    parsed = raw.select(
        F.regexp_extract("value", r"^\[([^\]]*)\]", 1).alias("event_type"),
        F.regexp_extract("value", r"id=(\d+)", 1)
        .cast("bigint")
        .alias("event_id"),
        F.regexp_extract("value", r"user=(\d+)", 1)
        .cast("bigint")
        .alias("user_id"),
        # '' (no match) and the NA sentinel both parse to NULL —
        # aggregate semantics then match the oracle's null-skipping
        # sum exactly
        F.expr(
            "CAST(nullif(nullif("
            "regexp_extract(value, 'cents=(-?\\\\d+|NA)', 1),"
            " 'NA'), '') AS BIGINT)"
        ).alias("cents"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("cents").cast("bigint").alias("value_cents"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@register(
    "scan_json_nested_explode",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(max(event_id) AS BIGINT) AS max_event_id
    FROM events GROUP BY user_id
    """,
)
def scan_json_nested_explode(spark, sf_dir):
    """NESTED JSON round trip: the event feed is exported as one
    JSON document per user carrying an ARRAY OF STRUCTS
    (``{user_id, events: [{event_id, cents}, …]}`` — the shape every
    API/export feed actually has), re-ingested with a DECLARED
    nested schema, and un-nested with ``explode`` back to relational
    rows for the census. The oracle recomputes the census from the
    original flat table, so a dropped array element, a mis-bound
    struct field, or a lossy export breaks the hash. Monetary values
    travel as integer cents (floats never round-trip through JSON
    text). Scale notes: the nested scan prunes to the one array
    column; explode is a generate (no shuffle); inference over
    nested JSON would cost a full extra scan — always declare the
    schema."""

    def stage():
        d = scratch_dir("nested_json")
        path = str(d / "per_user")
        ev = read_table(spark, sf_dir, "events")
        nested = (
            ev.select(
                "user_id",
                F.struct(
                    F.col("event_id"),
                    F.expr("CAST(round(value * 100) AS BIGINT)").alias(
                        "cents"
                    ),
                ).alias("e"),
            )
            .groupBy("user_id")
            .agg(F.array_sort(F.collect_list("e")).alias("events"))
        )
        nested.write.json(path)
        return path

    path = session_memo(spark, "nested_json", sf_dir, stage)
    schema = (
        "user_id BIGINT, "
        "events ARRAY<STRUCT<event_id: BIGINT, cents: BIGINT>>"
    )
    nested = spark.read.schema(schema).json(path)
    flat = nested.select(
        "user_id", F.explode("events").alias("e")
    ).select("user_id", "e.event_id", "e.cents")
    return flat.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.max("event_id").alias("max_event_id"),
    )


@register(
    "sink_txn_parquet",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    WHERE event_type IN ('purchase', 'click')
    """,
)
def sink_txn_parquet(spark, sf_dir):
    """Transactional parquet sink through the write-side commit log
    (sources/txn_log.py — VERDICT r14 item 7): three commits exercise
    the whole protocol against one oracle.

    1. append purchases (v1), 2. append clicks (v2) — each commit is
    a staged unique data dir published by an atomic version-file
    claim; 3. OVERWRITE with the v2 snapshot re-read (v3) — the
    compaction shape: one commit that removes both prior files and
    adds the rewrite, so a broken remove-fold doubles every row and
    flips the hash. Before the final read a crashed foreign writer
    is simulated by STAGING a garbage data dir with no commit: the
    snapshot reader resolves files through the log, never a
    listing, so the orphan must stay invisible (its rows would
    poison the oracle if any directory-scan fallback existed).

    This is the write-side half of ``scan_txn_log_snapshot``'s read
    protocol and the honest scale answer to foreign-writer safety:
    mutual exclusion lives in the commit-file name (os.link here,
    conditional PUT on S3), not in a posix lock — writers never
    block each other's data writes, losers retry only the KB-sized
    manifest publish (ref: src/etl_2018.py:65-92, the rollback-safe
    all-or-nothing load, generalized to multi-writer)."""
    from etl_jobs_spark.sources import txn_log as T

    root = _workdir("txn_table") / "events_txn"
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    T.txn_commit(ev.filter(F.col("event_type") == "purchase"), root)
    v2 = T.txn_commit(ev.filter(F.col("event_type") == "click"), root)
    snap = T.read_txn_table(spark, root, version=v2)
    T.txn_commit(snap, root, mode="overwrite")
    # crashed-writer orphan: staged, never committed — unreachable
    spark.range(5).selectExpr(
        "id AS event_id", "id AS user_id",
        "'ORPHAN' AS event_type", "CAST(0 AS DOUBLE) AS value",
    ).write.parquet(str(root / "data_orphan_crashed"))
    return T.read_txn_table(spark, root)
