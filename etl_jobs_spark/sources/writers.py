"""Batch sinks.

The reference's load stage is a transactional relational insert —
per-row (ref: src/etl_2016.py:20-36), transactional with rollback
(ref: src/etl_2018.py:65-92), batched ``executemany`` (ref:
src/etl_2020.py:108-138), ``df.to_sql`` append (ref:
src/etl_2022.py:195-231), async MySQL batch (ref:
src/etl_2025.py:144-156,215-231) — plus a JSON metrics/report sink
(ref: src/etl_2022.py:161-165) and an S3 archive upload (ref:
src/etl_2025.py:53-68,256-257).

Spark-side: the JDBC writer already batches per partition
(``batchsize``) and runs one transaction per partition; for
all-or-nothing parity with the reference's rollback we stage to a
temp table/path and atomically swap. Parquet is the engine-native
sink — at 100 TB you want partitioned, compressed columnar output,
not row inserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Directory name Spark's own ``partitionBy`` uses for NULL
#: partition values; the parquet scan maps it back to NULL on read.
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


#: Exactly the character set Hive/Spark escape in partition dir
#: names (ExternalCatalogUtils.escapePathName / Hive FileUtils):
#: ASCII control chars plus the path-hostile specials. Non-ASCII is
#: deliberately NOT in this set — Spark leaves it raw, and its
#: unescapePathName decodes each %xx as one CHAR (not a UTF-8
#: byte), so %-encoding unicode would round-trip to mojibake
#: (ADVICE r14: ``day=café`` must match Spark's own layout).
_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\{[]^\x7f') | frozenset(
    chr(c) for c in range(0x20)
)


def _escape_partition_value(v: object) -> str:
    """Escape a partition value for a Hive-style dir name, matching
    Spark's own ``partitionBy`` layout byte-for-byte.

    Escapes ONLY the characters Spark's
    ExternalCatalogUtils.escapePathName escapes (as uppercase %XX),
    so values containing '/', '=', '%', or control chars round-trip
    through Spark's scan-side unescapePathName instead of producing
    broken or mis-parsed partition directories (ADVICE r13: raw
    interpolation wrote ``day=a/b`` as a NESTED directory), while
    non-ASCII values stay raw exactly like Spark's writer
    (ADVICE r14: quote(safe="") made ``café`` read back as
    mojibake because unescapePathName is per-char, not UTF-8)."""
    return "".join(
        f"%{ord(c):02X}" if c in _ESCAPE_CHARS else c for c in str(v)
    )


def sink_jdbc_append(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    batchsize: int = 1000,
    num_partitions: int | None = None,
) -> None:
    """Relational batch sink (ref: src/etl_2020.py:108-138 batched
    ``executemany`` with commit/rollback; src/etl_2025.py:144-156).

    ``batchsize`` maps the reference's executemany batching; each
    partition writes in its own transaction. ``num_partitions`` caps
    writer concurrency so a 1000-executor job doesn't open 1000
    connections against one database — the write-side repartition is
    the connection-pool knob.
    """
    writer = df
    if num_partitions is not None:
        writer = df.coalesce(num_partitions)
    (
        writer.write.mode("append")
        .option("batchsize", str(batchsize))
        .jdbc(url, table, properties=properties or {})
    )


def sink_parquet(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    """Engine-native columnar sink. ``partition_by`` lays data out for
    partition pruning on read (the scalable analogue of the
    reference's ``processed/`` key-prefix routing, ref:
    src/etl_2025.py:256-257).

    Writes hold the table root's exclusive write lock (a kernel
    ``flock``, sources/write_lock.py): plain parquet shares one
    ``_temporary`` staging dir across concurrent jobs, and the
    round-13 two-writer probe measured both loud failures and one
    TORN append from that race. Uncontended cost is an open, a flock
    and a close; a second concurrent writer through this API
    serializes (or fails loudly on timeout) instead of racing.
    Disjoint-partition concurrency wants
    ``sink_parquet_partitions_direct`` instead."""
    from etl_jobs_spark.sources.write_lock import table_write_lock

    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    with table_write_lock(path):
        writer.parquet(path)


def sink_parquet_partitions_direct(
    df: DataFrame,
    root: str,
    partition_col: str,
) -> None:
    """CONCURRENT-WRITER-SAFE partitioned append.

    ``sink_parquet(..., mode="append", partition_by=[...])`` stages
    every in-flight write under ONE shared ``<root>/_temporary``
    (Hadoop committer, app attempt 0), so two writers appending the
    same table root RACE even when their partitions are disjoint:
    the round-13 probe (4 trials, two threads, disjoint days)
    usually failed one writer loudly with TASK_WRITE_FAILED — and
    once left a TORN append visible (22,501 of 40,000 rows: the
    losing job died after some tasks had committed). Loud-failure
    is survivable; the torn append is not.

    This helper writes each distinct partition value through its own
    job DIRECTLY into its partition directory
    (``<root>/<col>=<value>/``), so staging dirs live inside
    disjoint partition dirs and writers that own disjoint partition
    values never share a committer root. The distinct-value collect
    is bounded by design: partition columns are low-cardinality
    (that is what makes them partition columns). One write job per
    value — the price of safety on plain parquet; on a real cluster
    the same contract is what a transactional table format
    (Delta/Iceberg commit log) or an S3A staging committer buys
    without the loop. Concurrent writers claiming the SAME partition
    value remain the caller's contract, exactly as with any
    Hive-style table.

    NULL partition values go to ``__HIVE_DEFAULT_PARTITION__`` (the
    same directory Spark's own ``partitionBy`` uses) — the naive
    ``df[col] == None`` filter evaluates to NULL for every row, so
    before the r13 ADVICE fix those rows silently vanished. Non-NULL
    values are percent-encoded into the path (see
    ``_escape_partition_value``)."""
    from etl_jobs_spark.sources.write_lock import table_write_lock

    vals = [r[0] for r in df.select(partition_col).distinct().collect()]
    for v in vals:
        if v is None:
            part = df.filter(F.col(partition_col).isNull())
            dirname = HIVE_DEFAULT_PARTITION
        else:
            part = df.filter(F.col(partition_col) == F.lit(v))
            dirname = _escape_partition_value(v)
        # lock PER PARTITION DIR: disjoint-value writers stay fully
        # concurrent (the point of this helper); same-value writers
        # serialize instead of racing one committer root. The lock
        # file (hidden, ".<col>=<value>.__write_lock") stays in the
        # table root after the write.
        target = f"{root}/{partition_col}={dirname}"
        with table_write_lock(target):
            part.drop(partition_col).write.mode("append").parquet(target)


def sink_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink with header, for parity with the reference's
    file-shaped outputs (ref: src/etl_2020.py:151 ``output.csv``).

    timestampFormat pins MICROSECOND precision: Spark's default CSV
    timestamp pattern renders milliseconds, silently truncating the
    bottom three digits of every micros-precision value on a
    round-trip (found by the round-11 timestamp-boundary axis via
    source_s3: .999999 came back .999000). The reader side
    (readers.scan_csv) pins the identical pattern."""
    (
        df.write.mode(mode)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        # NTZ columns (parquet timestamps without UTC adjustment)
        # format through a SEPARATE option with a millis default —
        # the actual source of the original truncation
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(path)
    )


def sink_json_report(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON document sink for metrics/profile reports (ref:
    src/etl_2022.py:161-165 dumps quality metrics + data profile to
    ``data/*_{ts}.json``). Reports are tiny aggregates, so the
    single-file coalesce is safe — never do this to a data table.
    Locked: two concurrent report writers serialize to a last-wins
    COMPLETE report instead of interleaving deletes mid-overwrite."""
    from etl_jobs_spark.sources.write_lock import table_write_lock

    with table_write_lock(path):
        df.coalesce(1).write.mode(mode).json(path)


def compact_parquet(spark, path: str, target_files: int) -> None:
    """Small-file compaction: rewrite a parquet prefix into
    ``target_files`` files (read → repartition → overwrite-to-temp →
    swap). The operational cure for streaming sinks' many-small-files
    problem — at 100 TB, scan throughput dies on file-open overhead
    long before bytes do (aim for ~128 MB-1 GB files).

    The rewrite goes through a sibling temp dir, then a rename-aside
    swap: old → ``__old``, tmp → live, delete ``__old``. The live
    path is only missing for the instant between two renames, and a
    crash at any point leaves a complete copy recoverable by a
    rename (never read-and-overwrite in place, which corrupts on
    failure mid-write; and never delete-then-rename, which loses the
    live path entirely if the swap is interrupted).
    """
    import shutil
    from pathlib import Path

    from etl_jobs_spark.sources.write_lock import table_write_lock

    p = Path(path)
    tmp = p.with_name(p.name + "__compact_tmp")
    old = p.with_name(p.name + "__compact_old")
    # The lock spans READ + swap: compaction is the classic
    # lost-update writer — a file appended (through the locked
    # sink_parquet) after the compactor's scan but before its swap
    # would be silently deleted by the swap. Holding the same table
    # lock for the whole read→rewrite→swap makes appenders and the
    # compactor serialize; at 100 TB this is the mutual exclusion a
    # table format's commit log provides around OPTIMIZE.
    with table_write_lock(path, timeout_sec=120.0):
        df = spark.read.parquet(path)
        df.repartition(target_files).write.mode("overwrite").parquet(str(tmp))
        if old.exists():  # leftover from an earlier crashed swap
            shutil.rmtree(old)
        p.rename(old)
        tmp.rename(p)
        shutil.rmtree(old)
