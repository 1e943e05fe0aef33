"""Table catalog: parquet loaders for the driver-generated test tables.

Replaces the reference's CDAP source/sink framework glue
(MockSource/MockSink, NGramTransformTest.java:118-125) with plain
DataSource V2 parquet scans — columnar, predicate-pushdown and
column-pruning capable out of the box.

The reference rebuilds its SQL context on every call
(NGramTransform.java:99); here the per-session work is done once:

- Schemas are resolved once per file identity. Parquet schema
  inference runs a Spark job (~0.1 s) on every plain
  ``spark.read.parquet``; the catalog infers each table's schema the
  first time it is loaded and reads later loads with
  ``spark.read.schema(cached)``, which runs no job. The cache key is the
  file's identity — size, ``st_mtime_ns`` and inode of the table path —
  plus the ``nanosAsLong`` setting, which changes the inferred ``ts``
  type. Rewriting or appending a table (``sources.write`` on a
  directory table renames files into it, so its mtime moves) makes the
  next load infer again. Only the schema is cached, never the
  DataFrame: every load returns a fresh relation with fresh attribute
  ids, so self-joins of two loads still resolve.
- The session confs in :data:`SESSION_CONF` are set once for each
  session the catalog has not seen before (``session.get_spark``
  builds sessions with them; a session built elsewhere gets them on
  its first load).
- The ``events.ts`` layout is decided here only: batch loads and the
  events stream (``streaming.read_events_stream`` via
  :func:`read_stream`) share the cached schema and the normalization.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
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

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

#: Confs every query session needs. date_format/year/date_trunc results
#: depend on the session time zone, and Spark's vectorized reader
#: rejects parquet TIMESTAMP(NANOS) unless it surfaces as long.
SESSION_CONF = {
    "spark.sql.session.timeZone": "UTC",
    _NANOS_AS_LONG: "true",
}

# Both caches tolerate concurrent callers without a lock: a race costs
# at most a repeated conf set or a repeated inference of one schema.
_PINNED: weakref.WeakSet = weakref.WeakSet()
#: path -> (file identity, stored schema); one entry per path, so a
#: rewritten file replaces its stale entry.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _pin(spark: SparkSession) -> None:
    if spark not in _PINNED:
        for k, v in SESSION_CONF.items():
            spark.conf.set(k, v)
        _PINNED.add(spark)


def _stored_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The parquet schema at ``path``, inferred once per file identity.
    None when the path cannot be stat'ed locally (missing, or a
    non-local URI): the caller then reads with inference, and Spark
    reports a missing path as usual."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    ident = (
        st.st_size,
        st.st_mtime_ns,
        st.st_ino,
        spark.conf.get(_NANOS_AS_LONG, "false"),
    )
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == ident:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[path] = (ident, schema)
    return schema


def _normalize(df: DataFrame, name: str) -> DataFrame:
    """Give ``events.ts`` one type, ``timestamp``, whatever its stored
    layout."""
    if name != "events":
        return df
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # TIMESTAMP(NANOS) surfaced as long: integer division to
        # microseconds (no float precision loss; matches DuckDB's
        # ns->us truncation when formatting)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # TIMESTAMP(MICROS) without time zone; the engine's time
        # functions (unix_micros, window, ...) expect the session-TZ
        # type — with the session pinned to UTC the cast preserves
        # every instant
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _check(name: str) -> None:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table as a DataFrame (lazy parquet scan)."""
    _check(name)
    _pin(spark)
    path = table_path(sf_dir, name)
    schema = _stored_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return _normalize(reader.parquet(path), name)


def read_stream(
    spark: SparkSession, sf_dir: str, name: str, stage: str
) -> DataFrame:
    """File-source stream over the data files staged in ``stage``, with
    the stored schema and normalization of table ``name`` in ``sf_dir``
    (the streaming twin of :func:`load`)."""
    _check(name)
    _pin(spark)
    path = table_path(sf_dir, name)
    schema = _stored_schema(spark, path)
    if schema is None:
        raise FileNotFoundError(path)
    return _normalize(spark.readStream.schema(schema).parquet(stage), name)


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register all tables as temp views for spark.sql() queries."""
    for name in tables:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
