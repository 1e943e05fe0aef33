"""Sources & sinks beyond the parquet catalog.

The reference's source/sink surface is CDAP framework glue (MockSource /
MockSink, NGramTransformTest.java:118-125) — here the equivalent surface
is Spark DataSource V2: parquet (the default, via catalog.py), CSV, JSON,
ORC, and partitioned/bucketed writers. Format-lakehouse connectors
(Delta/Iceberg/Hudi) need jars not present in this container; they're
gated behind import-tries and raise a clear error.

Scale notes: every reader takes an explicit schema (schema inference is
a full extra pass at 100 TB); writers default to snappy parquet with
partitionBy for pruning-friendly layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

FORMATS = ("parquet", "csv", "json", "orc")


def read(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    **options,
) -> DataFrame:
    """Schema-explicit reader for any supported format."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; supported: {FORMATS}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.format(fmt).options(**options).load(path)


def write(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    """Writer with optional hive-style partitioning (directory layout =
    partition pruning for every later reader)."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; supported: {FORMATS}")
    writer = df.write.mode(mode).format(fmt).options(**options)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    path: str,
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Bucketed table ``table``, stored at ``path``: joins/aggs on the
    bucket key later skip the shuffle entirely (co-located partitioning
    persisted on disk)."""
    (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def read_delta(spark: SparkSession, path: str) -> DataFrame:
    """Delta Lake connector (jar not in this container)."""
    try:
        return spark.read.format("delta").load(path)
    except Exception as exc:  # pragma: no cover - jar absent by design
        raise NotImplementedError(
            "Delta Lake requires the delta-spark jar on the classpath; "
            "not available in this environment"
        ) from exc


def read_iceberg(spark: SparkSession, table: str) -> DataFrame:
    """Apache Iceberg connector (jar not in this container)."""
    try:
        return spark.read.format("iceberg").load(table)
    except Exception as exc:  # pragma: no cover - jar absent by design
        raise NotImplementedError(
            "Iceberg requires the iceberg-spark-runtime jar; "
            "not available in this environment"
        ) from exc


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """Opaque-blob reader for multimodal payloads (image/audio/video
    files) via Spark's built-in ``binaryFile`` source.

    Yields (path, modificationTime, length, content: binary) — the
    typed-metadata + binary-column shape operators.multimodal consumes.
    ``glob`` keeps only file names matching the pattern. Partition size,
    not row count, bounds the decode step's memory; it is the session's
    ``spark.sql.files.maxPartitionBytes``, a deployment setting this
    reader leaves alone.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_text_lines(
    spark: SparkSession, path: str, whole_file: bool = False
) -> DataFrame:
    """Raw text source: one row per line (or per file) with a single
    ``value: string`` column — the entry point for unstructured corpus
    ingestion ahead of tokenize/language-ID/quality scoring."""
    return spark.read.text(path, wholetext=whole_file)


def compact(
    spark: SparkSession,
    path: str,
    target_files: int,
    fmt: str = "parquet",
) -> int:
    """Small-files compaction: rewrite a table directory into
    ``target_files`` files and atomically swap it in.

    The classic 100 TB maintenance op — streaming sinks and
    fine-grained partition writes accumulate kilobyte files whose
    per-file open/footer cost dominates scans. Returns the file count
    after compaction.

    Swap protocol: the compacted copy is written to a temp dir and
    VALIDATED (row count equals the source's) before any rename; the
    original is then moved aside and the temp dir renamed into place.
    Directory renames are not jointly atomic on POSIX, so readers can
    observe a missing path for the instant between the two renames; on
    a failed swap the original is restored from the backup, and the
    backup is only deleted after the new data is live. For
    transactional semantics use a table format (Delta/Iceberg — see the
    gated connectors above).
    """
    import os
    import shutil

    df = spark.read.format(fmt).load(path)
    n_before = df.count()
    tmp = path.rstrip("/") + "._compact_tmp"
    df.repartition(target_files).write.mode("overwrite").format(fmt).save(tmp)
    n_after = spark.read.format(fmt).load(tmp).count()
    if n_after != n_before:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"compaction row-count mismatch ({n_before} -> {n_after}); "
            f"original left untouched"
        )
    backup = path.rstrip("/") + "._compact_old"
    os.rename(path, backup)
    try:
        os.rename(tmp, path)
    except OSError:
        os.rename(backup, path)  # roll back; original data preserved
        raise
    shutil.rmtree(backup)
    return len(
        [f for f in os.listdir(path) if f.endswith(f".{fmt}") or f.startswith("part-")]
    )


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro connector (spark-avro module jar not in this container)."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as exc:  # pragma: no cover - jar absent by design
        raise NotImplementedError(
            "Avro requires the spark-avro module jar (external since "
            "Spark 2.4); not available in this environment"
        ) from exc
