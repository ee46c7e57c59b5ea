"""File sources (SURVEY.md §2.1 S1-S7, S18-S19).

All readers attach lineage columns and use explicit schemas. At 100 TB
the scan IS the query cost, so every reader here is written to preserve
Catalyst's pushdown: no UDF touches a column before the scan, and the
wide→long explode happens *after* the positional projection so column
pruning reaches the parquet/CSV reader.

File-path lineage uses the Spark 4 ``_metadata.file_path`` hidden column
rather than ``input_file_name()`` (reference: /root/reference/delta_bronze.py:35,
/root/reference/main/combine_files.py:43) — input_file_name is
whole-stage-codegen hostile and undefined after joins.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eeg_data_lake_spark import schemas

TESTDATA_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def with_lineage(df: DataFrame) -> DataFrame:
    """Attach source_file / _ingest_ts / _ingest_date lineage columns
    (reference: /root/reference/delta_bronze.py:34-37)."""
    return (
        df.withColumn("source_file", F.col("_metadata.file_path"))
        .withColumn("_ingest_ts", F.current_timestamp())
        .withColumn("_ingest_date", F.to_date(F.col("_ingest_ts")))
    )


def read_channel_csv_lines(spark: SparkSession, path: str) -> DataFrame:
    """S1: raw MindBigData CSVs as text lines — one string column ``value``
    per physical line (reference: /root/reference/delta_bronze.py:34).

    Text scan keeps ingest schema-free: each line is
    ``channel,v1,...,vN`` with a file-dependent N, which a fixed-column
    CSV reader can't express without padding.
    """
    return with_lineage(spark.read.text(path))


def read_raw_csv_positional(
    spark: SparkSession, path: str, recursive: bool = True
) -> DataFrame:
    """S2: headerless CSV with positional ``_c0.._cN`` string columns
    (reference: /root/reference/main/combine_files.py:39-43)."""
    reader = (
        spark.read.option("header", "false")
        .option("recursiveFileLookup", str(recursive).lower())
    )
    return with_lineage(reader.csv(path))


def read_wide_trial_csv(
    spark: SparkSession, path: str, single_split: bool = True
) -> DataFrame:
    """S3: headered pilot CSV with an explicit 5-channel double schema
    (reference: /root/reference/pilots/pilot_bronze.py:85-90).

    ``single_split`` (default) reads each file as ONE input split
    (multiLine makes the CSV source non-splittable), so within-file row
    order follows file offset even for files larger than
    maxPartitionBytes — required by consumers that derive a sample
    index from row order (bronze_from_wide_csv). Without it, Spark
    bin-packs splits by size and the high bits of
    monotonically_increasing_id stop tracking file position. Pilot
    files are MB-scale, so losing split parallelism is free; for huge
    order-dependent CSVs prefer an explicit timestamp column."""
    reader = spark.read.option("header", "true").schema(
        schemas.wide_channel_schema()
    )
    if single_split:
        reader = reader.option("multiLine", "true")
    return with_lineage(reader.csv(path))


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """S4/S5: columnar table scan. Delta is not on this container's
    classpath, so the lakehouse format is plain partitioned parquet; a
    Delta reader slots in behind the same call when the jar is present."""
    try:  # pragma: no cover - exercised only where delta-spark exists
        import delta  # noqa: F401

        # the pip package importing does NOT prove the jar is on the
        # session classpath; load() resolves the source, so fall back on
        # any failure rather than keying off the wrong signal
        return spark.read.format("delta").load(path)
    except Exception:  # noqa: BLE001 - ImportError or DATA_SOURCE_NOT_FOUND
        return spark.read.parquet(path)


def read_testdata(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-provided synthetic table (TESTDATA.md).

    Spark (through 4.x) cannot scan parquet TIMESTAMP(NANOS) columns
    (SPARK-40819); the driver's events.ts is one. We read nanos as
    LongType via the legacy conf and rebuild a microsecond timestamp —
    the same ns→µs truncation DuckDB applies, so oracle comparisons
    agree. Footer sniffing happens once on the driver; the conversion
    itself is a columnar expression.

    The footer sniff and Spark's schema inference (one job) run once
    per table file: the ns columns and the raw schema are cached under
    (path, st_mtime_ns, st_size, the session's parquet inference confs
    ``binaryAsString``, ``int96AsTimestamp`` and
    ``inferTimestampNTZ.enabled``), and a hit opens the file with that
    schema. Every execution still scans the data. Only a regular file is
    cached: a directory's mtime does not change when a part file inside
    it is rewritten, so a directory keeps inference on every call.
    """
    ns_cols, df = _read_raw(spark, f"{sf_dir}/{name}.parquet")
    for c in ns_cols:
        # integer `div`: epoch-nanos ≈ 1.7e18 overflows double precision
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return _ntz_to_timestamp(spark, df)


#: session confs that change the schema Spark infers from a footer
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
#: (path, mtime ns, size, *_INFERENCE_CONFS values) → (ns cols, raw
#: schema). Process-wide, as the key names everything the value depends
#: on; two threads that miss together only infer the same value twice.
_SCHEMA_CACHE: dict[tuple, tuple[list[str], T.StructType]] = {}


def _read_raw(spark: SparkSession, path: str) -> tuple[list[str], DataFrame]:
    """The table file as stored (ns columns as LongType, NTZ as NTZ) and
    its ns columns, from the schema cache when the file is unchanged."""
    try:
        st = os.stat(path)
    except OSError:
        st = None  # let Spark raise its own path error
    key = None
    if st is not None and stat.S_ISREG(st.st_mode):
        key = (path, st.st_mtime_ns, st.st_size,
               *(spark.conf.get(k) for k in _INFERENCE_CONFS))
    hit = _SCHEMA_CACHE.get(key) if key else None
    ns_cols = hit[0] if hit else _nanos_timestamp_cols(path)
    reader = spark.read.schema(hit[1]) if hit else spark.read
    if ns_cols:
        # scope the legacy conf to THIS read (schema conversion happens
        # eagerly at spark.read.parquet): left set session-wide, every
        # later unrelated parquet read would silently decode
        # TIMESTAMP(NANOS) as raw bigint nanos instead of failing loudly
        conf = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(conf, None)
        spark.conf.set(conf, "true")
        try:
            df = reader.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset(conf)
            else:
                spark.conf.set(conf, prev)
    else:
        df = reader.parquet(path)
    if key and not hit:
        _SCHEMA_CACHE[key] = (ns_cols, df.schema)
    return ns_cols, df


def _ntz_to_timestamp(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to TIMESTAMP (instant) semantics.

    Newer driver testdata stores µs TIMESTAMP_NTZ; NTZ breaks streaming
    watermarks (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and has no double
    cast for epoch math. Casting NTZ → TIMESTAMP under a UTC session tz
    reproduces the exact instants the ns→µs path always produced, so
    every downstream query keeps one timestamp semantics regardless of
    which encoding the parquet uses. The session tz is pinned here (not
    only in our session factory) because the driver harness calls these
    readers with its own SparkSession.
    """
    ntz = [f.name for f in df.schema if isinstance(f.dataType, T.TimestampNTZType)]
    if not ntz:
        return df
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_testdata_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Structured-Streaming file source over one driver table.

    The file-stream source requires a directory, so we point it at
    sf_dir with a pathGlobFilter for the one table file. ns-timestamp
    columns are declared LongType in the stream schema (matching the
    nanosAsLong read) and rebuilt as µs timestamps, same as the batch
    reader.
    """
    ns_cols, raw = _read_raw(spark, f"{sf_dir}/{name}.parquet")
    if ns_cols:
        # deliberately NOT restored here (unlike the batch reader): the
        # stream decodes files on every micro-batch for its whole
        # lifetime, so the conf must outlive this call
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Declare the file's RAW schema (Long for ns cols, NTZ stays NTZ) so
    # the stream scan decodes exactly what's on disk, then rebuild the
    # canonical TIMESTAMP columns with the same expressions as the batch
    # reader — watermarks reject NTZ event-time columns.
    df = (
        spark.readStream.schema(raw.schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return _ntz_to_timestamp(spark, df)


def _nanos_timestamp_cols(path: str) -> list[str]:
    import glob
    import warnings

    import pyarrow.parquet as pq

    # standard Spark output is a directory of part files — sniff the
    # first part's footer (one file is representative: Spark writes a
    # uniform schema per table)
    if os.path.isdir(path):
        # recursive: hive-partitioned tables keep their part files in
        # key=value subdirs, and a top-level-only glob would silently
        # skip the sniff — resurfacing later as the cryptic SPARK-40819
        # error this function exists to prevent
        parts = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not parts:
            return []
        path = parts[0]
    try:
        schema = pq.read_schema(path)
        physical = {
            c.name: c.physical_type
            for c in pq.ParquetFile(path).schema
        }
    except Exception as ex:  # noqa: BLE001 - footer sniff is best-effort,
        # but a silent [] here would surface later as the cryptic
        # SPARK-40819 unsupported-type error, so at least say why
        warnings.warn(
            f"parquet footer sniff failed for {path!r} ({ex}); "
            "ns-timestamp workaround disabled for this read",
            stacklevel=2,
        )
        return []
    import pyarrow as pa

    # physical INT64 only: Spark's own default timestamp encoding is
    # INT96, which pyarrow ALSO reports as timestamp[ns] — but Spark
    # reads INT96 natively, and flagging it would bolt the ns→µs
    # rebuild onto a real TIMESTAMP column (ts div 1000 on a timestamp
    # fails analysis). Only INT64 TIMESTAMP(NANOS) hits SPARK-40819.
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type)
        and f.type.unit == "ns"
        and physical.get(f.name) == "INT64"
    ]


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """createOrReplaceTempView for every test table (S12)."""
    for name in TESTDATA_TABLES:
        read_testdata(spark, sf_dir, name).createOrReplaceTempView(name)


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Multimodal raw-asset ingest via the built-in ``binaryFile``
    source: one row per file with (path, modificationTime, length,
    content binary) — how an image/audio/video directory actually
    enters the lakehouse before decode UDFs run (the decode itself is
    functions/multimodal.py; this is the scan).

    Scale notes: the source is splittable BY FILE (each file one row,
    files distributed across tasks), pushes down a
    ``pathGlobFilter`` so non-matching assets are pruned at listing
    time, and ``max_bytes`` guards the executor from a rogue 4 GB
    asset row (LENGTH is a catalog column — the filter prunes before
    content bytes are read)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df
