"""Batch readers.

The reference's extract stage is a header-inferred CSV read — one
file (ref: src/etl_2016.py:4-10, src/etl_2018.py:38-48), a pandas
read (ref: src/etl_2020.py:79-84), or a glob of files filtered by
name and concatenated (ref: src/etl_2020.py:150-157,
src/etl_2022.py:242-257). Spark subsumes all three with a single
partitioned scan: the glob goes *into* the scan (every matched file
becomes input splits; the union is implicit), the name filter is
``pathGlobFilter``, and schema is declared instead of inferred so a
bad row becomes a quarantinable record, not a crashed pipeline.

At 100 TB the important property is that these return a *scan*, not
data: column pruning and predicate pushdown reach the parquet/CSV
reader, and `spark.sql.files.maxPartitionBytes` controls split
sizing, so a 2-column projection over a 100-column table reads only
those columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Tables the driver fixtures provide (TESTDATA.md).
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Inferred parquet schema per path: the file identity it was inferred
#: from and the StructType (see read_table).
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _file_identity(spark: SparkSession, path: str) -> tuple | None:
    """(size, mtime) of every file under ``path``, listed through the
    Hadoop FileSystem so every URI scheme takes the same route; None
    when the path cannot be listed."""
    from py4j.java_gateway import JavaClass
    from py4j.protocol import Py4JJavaError

    gateway = spark.sparkContext._gateway._gateway_client
    p = JavaClass("org.apache.hadoop.fs.Path", gateway)(path)
    try:
        files = p.getFileSystem(spark._jsc.hadoopConfiguration()).listFiles(
            p, True
        )
        out = []
        while files.hasNext():
            st = files.next()
            out.append((st.getLen(), st.getModificationTime()))
    except Py4JJavaError:
        return None
    return tuple(out)


def _parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    ident = _file_identity(spark, path)
    hit = _SCHEMAS.get(path)
    if ident is not None and hit is not None and hit[0] == ident:
        return hit[1]
    # an unlistable path falls through to Spark's own error here
    schema = spark.read.parquet(path).schema
    if ident is not None:
        _SCHEMAS[path] = (ident, schema)
    return schema


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table as parquet (lazy, pruned, pushed-down).

    The ``events`` table carries a nanosecond-precision parquet
    timestamp, which Spark's vectorized reader rejects outright
    (PARQUET_TYPE_ILLEGAL). We read nanos as raw longs
    (``spark.sql.legacy.parquet.nanosAsLong`` — session-settable) and
    rebuild a proper TimestampType with *integer* division to micros:
    a double-division here would silently lose precision, since
    epoch-nanos ≈ 1.7e18 exceeds the 2^53 double mantissa.

    Schema memo: ``spark.read.parquet`` infers the schema from a
    footer, and that inference is one Spark job per call. The first
    read of a table remembers the inferred StructType; later reads
    pass it with ``spark.read.schema(...)``, which launches no job.
    The memo key is the path, and an entry is only used while the
    files under the path are the ones it was inferred from: the size
    and modification time of every file, listed through the Hadoop
    FileSystem on each call. A rewritten table changes that listing
    and is re-inferred. ``nanosAsLong`` changes the inferred type of
    a nanos column, so every read sets it, not only the ``events``
    read: all schemas are then inferred under the same setting, and a
    table's schema does not depend on whether ``events`` was read
    earlier in the session (the setting is session-wide).
    """
    # Oracle parity must not depend on the host timezone: the driver
    # may hand us a session without engine conf, so pin UTC here too
    # (session-settable, idempotent).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    schema = _parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if (
        name == "events"
        and "ts" in schema.names
        and isinstance(schema["ts"].dataType, T.LongType)
    ):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def spread(df: DataFrame) -> DataFrame:
    """Pin a CPU-heavy narrow stage's parallelism to the session's
    shuffle partitions when the scan under-partitions its input.

    Byte-based split sizing (``maxPartitionBytes``) assumes cost ∝
    bytes; a regex/tokenize stage over a small-but-dense text table
    breaks that assumption (a 600 KB parquet becomes ONE task doing
    all the CPU work). Repartition only when the scan produced fewer
    partitions than the session target — at real scale the scan
    already yields ≥ that many splits and this is a no-op, so no
    shuffle is inserted where the byte heuristic suffices (same
    rationale as operators/matching.py's pinned verify stage)."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() < n_part:
        return df.repartition(n_part)
    return df


def scan_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan (ref: src/etl_2016.py:4-10 ``extract``; pandas variant
    src/etl_2020.py:79-84).

    With ``schema`` the read is a fixed-contract scan (production
    mode — inference costs an extra pass and is nondeterministic at
    scale); without it, header inference mirrors the reference's
    ``csv.DictReader`` behavior for parity.
    """
    reader = spark.read.option("header", str(header).lower())
    # Default timestamp pattern: optional-fraction micros. Parses the
    # sink_csv round-trip (6-digit micros — Spark's default pattern
    # truncates to millis; round-11 ts axis) AND bare-seconds/millis
    # CSVs from other producers (a strict .SSSSSS pattern silently
    # NULLs those in PERMISSIVE mode; round-12 ADVICE). A caller with
    # a different convention overrides via **options.
    options.setdefault("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
    options.setdefault("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def scan_glob_union(
    spark: SparkSession,
    glob_path: str,
    schema: T.StructType | None = None,
    path_glob_filter: str | None = None,
    fmt: str = "csv",
    header: bool = True,
) -> DataFrame:
    """Multi-file glob scan + filename filter + union in ONE scan.

    The reference does this in three driver-side steps — glob,
    name-prefix filter, ``pd.concat`` (ref: src/etl_2020.py:150-157;
    src/etl_2022.py:242-257 selecting only ``input_*.csv``). Here the
    glob is pushed into the scan and the union is the multi-file read
    itself: no driver-side loop, no per-file DataFrame objects, and
    the files parallelize as input splits across executors.

    A glob that matches NOTHING is an empty feed (a day with no
    files), not an error — with a declared schema it scans as zero
    rows; without one the PATH_NOT_FOUND stays loud, because there
    is nothing to infer a schema from (round-11 empty-input axis).
    The empty-feed detection is Spark's own listing (we catch
    PATH_NOT_FOUND), NOT a driver-local ``glob.glob`` probe: a local
    probe returns [] for s3a:// or hdfs:// URIs and for Hadoop-only
    ``{a,b}`` alternation even when files exist — silent data loss
    from a generic reader API (round-12 ADVICE).
    """
    from pyspark.errors import AnalysisException

    reader = spark.read
    if path_glob_filter:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    if schema is not None:
        reader = reader.schema(schema)
    try:
        if fmt == "csv":
            reader = reader.option("header", str(header).lower())
            if schema is None:
                reader = reader.option("inferSchema", "true")
            return reader.csv(glob_path)
        if fmt == "parquet":
            if schema is None:
                # Schema-INFERENCE mode over a multi-file feed must
                # union the file schemas: Spark's default takes one
                # file's footer, so a column added by a newer
                # producer SILENTLY VANISHES from the scan (round-12
                # schema-evolution axis — the declared-schema path
                # already nulls missing columns correctly and is the
                # production mode; this makes the exploratory mode
                # honest too, at the cost of the footer-union pass).
                reader = reader.option("mergeSchema", "true")
            return reader.parquet(glob_path)
        return reader.format(fmt).load(glob_path)
    except AnalysisException as e:
        probe = getattr(e, "getCondition", None) or getattr(
            e, "getErrorClass", lambda: None
        )
        err = probe() or ""
        if schema is not None and "PATH_NOT_FOUND" in (err or str(e)):
            return spark.createDataFrame([], schema)
        raise


def source_object_store(
    spark: SparkSession,
    uri: str,
    schema: T.StructType | None = None,
    fmt: str = "csv",
) -> DataFrame:
    """Object-store source (ref: src/etl_2025.py:70-84 downloads the
    S3 object to a temp file first; Spark reads ``s3a://`` URIs
    directly, so the copy step is deleted, not ported).

    Locally this is exercised with ``file://`` URIs; on a cluster the
    same call reads ``s3a://bucket/raw/...`` with the hadoop-aws
    committer handling splits and retries. Server-side encryption on
    the write side is a filesystem conf
    (``fs.s3a.server-side-encryption-algorithm=AES256``), matching
    the reference's upload arg (ref: src/etl_2025.py:62-63).
    """
    return scan_csv(spark, uri, schema=schema) if fmt == "csv" else (
        spark.read.format(fmt).load(uri) if schema is None
        else spark.read.schema(schema).format(fmt).load(uri)
    )
