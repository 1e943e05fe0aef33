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
  next load infer again. No DataFrame is cached: every load returns a
  fresh relation with fresh attribute ids, so self-joins of two loads
  still resolve.
- The layout is decided once per file identity too. ``load(...,
  spread=True)`` is for callers whose per-row work dwarfs the scan. A
  table whose parquet footers hold fewer row groups than the session's
  ``defaultParallelism`` scans as that few tasks, and every per-row
  kernel above it runs on them. Its first spread load in a process
  writes one copy of it, ``defaultParallelism`` files, under
  :func:`scratch`; every later spread load scans that copy, one split
  per file, with no exchange in its plan. The copy is one job that
  reads, shuffles and writes the table once (measured in CHANGES.md),
  paid by the first spread load of each table version in a process.
  A table with enough row groups is served as the plain scan, and one
  without a local identity (a non-local URI) by a ``repartition`` of
  it.
- :func:`_pin` sets each session's confs once, on its first load
  (``session.get_spark`` builds sessions with :data:`SESSION_CONF`
  already; a session built elsewhere gets them here):

  - the confs in :data:`SESSION_CONF`;
  - AQE's ``coalescePartitions.initialPartitionNum`` to the session's
    ``spark.sql.shuffle.partitions``, unless already set: batch
    queries plan their shuffles with it, so their counts stay;
  - ``spark.sql.shuffle.partitions`` to half the cores, which only
    stateful streams read (they run with AQE off).

  Nothing else in the package sets a conf, so callers sharing a
  session never see one change under them.
- The ``events.ts`` layout is decided here only: batch loads and the
  streams (``streaming.read_events_stream`` and
  ``read_documents_stream``, via :func:`read_stream`) share the cached
  schema and the normalization.
- Every on-disk working directory of the package comes from
  :func:`scratch`: copies derived from the tables (the partitioned and
  bucketed ``orders``/``lineitem``, the staged stream inputs) and the
  per-run directories of the round-trip and sink queries. A path lives
  under one root per process, ``<tempdir>/nas-scratch-<pid>``, which is
  removed when the interpreter exits, or by the next process's first
  use if this one dies first. A derived copy is keyed by the file
  identity of the tables it copies, so it is reused only while they
  are unchanged, and :func:`publish` renames it into place whole, so
  two threads that make it at once cannot read or delete each other's
  files.
"""

from __future__ import annotations

import os
import threading
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
_SHUFFLE_PARTS = "spark.sql.shuffle.partitions"
_INITIAL_PARTS = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

#: Confs every query session needs. date_format/year/date_trunc results
#: depend on the session time zone, and Spark's vectorized reader
#: rejects parquet TIMESTAMP(NANOS) unless it surfaces as long.
SESSION_CONF = {
    "spark.sql.session.timeZone": "UTC",
    _NANOS_AS_LONG: "true",
}

# The schema cache tolerates concurrent callers without a lock: a race
# costs at most a repeated inference of one schema. Pinning takes a
# lock, because it reads a conf it then changes.
_PINNED: weakref.WeakSet = weakref.WeakSet()
_PIN_LOCK = threading.Lock()
#: path -> (file identity, stored schema); one entry per path, so a
#: rewritten file replaces its stale entry.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}
#: path -> (file identity and width, the cores-wide copy or None when
#: the table scans that wide already, the schema the copy is read with)
_LAYOUTS: dict[str, tuple[tuple, str | None, T.StructType]] = {}
_SCRATCH_PREFIX = "nas-scratch-"
#: scratch roots set up by :func:`scratch`; one per process, but a
#: forked child or a changed temp dir makes a new one
_ROOTS: set[str] = set()
_SCRATCH_LOCK = threading.Lock()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _pin(spark: SparkSession) -> None:
    """Set ``spark``'s session confs, once per session.

    Stream state partitions: a stateful stream runs with AQE off, so
    it plans its state operators with the raw
    ``spark.sql.shuffle.partitions``, and the count is pinned in its
    checkpoint for life. Every micro-batch pays a fixed state-store
    load and commit per partition. availableNow file streams run many
    small batches, so that fixed cost outweighs parallelism: half the
    cores was fastest in an interleaved A/B at local[32] (min of 5
    walls: leaderboard 2.93 -> 2.25 s, lww 1.85 -> 1.60 s, reach 1.82
    -> 1.24 s at 16 partitions against 32; the processing splits moved
    the same way). The count is derived from the cores, never a
    constant: 4 on 8 cores, 500 on a 1000-core cluster.
    Batch queries keep their count through ``initialPartitionNum``,
    which AQE reads in place of ``spark.sql.shuffle.partitions``.
    """
    with _PIN_LOCK:
        if spark in _PINNED:
            return
        for k, v in SESSION_CONF.items():
            spark.conf.set(k, v)
        if spark.conf.get(_INITIAL_PARTS, None) is None:
            spark.conf.set(_INITIAL_PARTS, spark.conf.get(_SHUFFLE_PARTS))
        spark.conf.set(
            _SHUFFLE_PARTS,
            str(max(1, spark.sparkContext.defaultParallelism // 2)),
        )
        _PINNED.add(spark)


def _identity(path: str) -> tuple | None:
    """Size, ``st_mtime_ns`` and inode of ``path``; None when it cannot
    be stat'ed locally (missing, or a non-local URI)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns, st.st_ino)


def _stored_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The parquet schema at ``path``, inferred once per file identity.
    None when the path has no identity: the caller then reads with
    inference, and Spark reports a missing path as usual."""
    ident = _identity(path)
    if ident is None:
        return None
    ident += (spark.conf.get(_NANOS_AS_LONG, "false"),)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == ident:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[path] = (ident, schema)
    return schema


def scratch(name: str, sf_dir: str | None = None, *tables: str) -> str:
    """The working directory ``name`` of this process for corpus
    ``sf_dir``: ``<tempdir>/nas-scratch-<pid>/<name>-<tag>``.

    ``tag`` hashes the absolute ``sf_dir`` and the file identity of
    each of ``tables``, so a copy derived from those tables is found
    again only while they are unchanged; rewriting one moves the path.
    A per-run directory names no tables, and its caller clears it; one
    that belongs to no corpus (a stream's checkpoint) passes no
    ``sf_dir`` and a ``name`` unique to the call.
    Only the path is returned; nothing is created under the root.

    The root is this process's alone. Its first use creates it,
    registers it once for removal at interpreter exit, and removes the
    roots of processes that are no longer running (ones that did not
    exit cleanly). Threads of one process share the root, and this
    function does not order their uses of one path.
    """
    import atexit
    import hashlib
    import shutil
    import tempfile

    tmp = tempfile.gettempdir()
    root = os.path.join(tmp, f"{_SCRATCH_PREFIX}{os.getpid()}")
    with _SCRATCH_LOCK:
        if root not in _ROOTS:
            os.makedirs(root, exist_ok=True)
            atexit.register(shutil.rmtree, root, ignore_errors=True)
            for entry in os.listdir(tmp):
                pid = entry.removeprefix(_SCRATCH_PREFIX)
                if pid != entry and pid.isdigit() and not _running(int(pid)):
                    shutil.rmtree(os.path.join(tmp, entry), ignore_errors=True)
            _ROOTS.add(root)
    key = [] if sf_dir is None else [os.path.abspath(sf_dir)]
    for t in tables:
        _check(t)
        key.append(_identity(table_path(sf_dir, t)))
    tag = hashlib.sha1(repr(key).encode()).hexdigest()[:12]
    return os.path.join(root, f"{name}-{tag}")


def _running(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by another user
        pass
    return True


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


def load(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load one synthetic table as a DataFrame (lazy parquet scan).

    ``spread=True`` scans it as at least ``defaultParallelism`` splits
    (see the module docstring): a small or single-row-group file
    otherwise scans as one task, which serializes every per-row kernel
    above it onto one core. Only worth it where the per-row work
    dwarfs the scan; cheap scans should stay on the plain load."""
    _check(name)
    _pin(spark)
    path = table_path(sf_dir, name)
    if spread:
        return _spread_load(spark, sf_dir, name, path)
    schema = _stored_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return _normalize(reader.parquet(path), name)


def _row_groups(path: str) -> tuple[int, int]:
    """(row groups, rows) of the parquet data files at ``path``, from
    their footers."""
    import pyarrow.parquet as pq

    files = [path]
    if os.path.isdir(path):
        files = []
        for d, dirs, names in os.walk(path):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            files += [
                os.path.join(d, f) for f in names if not f.startswith(("_", "."))
            ]
    metas = [pq.read_metadata(f) for f in files]
    return sum(m.num_row_groups for m in metas), sum(m.num_rows for m in metas)


def _spread_load(
    spark: SparkSession, sf_dir: str, name: str, path: str
) -> DataFrame:
    """Table ``name`` as a scan of at least ``defaultParallelism``
    splits: the plain scan when it has that many row groups, else its
    cores-wide copy, made on the first call per file identity."""
    width = spark.sparkContext.defaultParallelism
    ident = _identity(path)
    if ident is None:
        return load(spark, sf_dir, name).repartition(width)
    key = ident + (width,)
    hit = _LAYOUTS.get(path)
    if hit is None or hit[0] != key:
        df = load(spark, sf_dir, name)
        groups, rows = _row_groups(path)
        copy = None
        if rows and groups < width:
            # round-robin fills the files alike, and Spark packs files
            # into a split up to their mean size plus the open cost,
            # so each file scans as one split
            copy = publish(
                scratch(f"spread{width}-{name}", sf_dir, name),
                df.repartition(width).write.parquet,
            )
        hit = _LAYOUTS[path] = (key, copy, df.schema)
    _, copy, schema = hit
    if copy is None:
        return load(spark, sf_dir, name)
    # the copy holds the normalized columns, so it needs no _normalize
    return spark.read.schema(schema).parquet(copy)


def publish(path: str, write) -> str:
    """Make the derived copy at ``path`` once, and return ``path``.

    ``write(tmp)`` fills a fresh sibling directory, which is then
    renamed to ``path`` in one step: a reader finds the whole copy or
    none. Two callers that both find it missing both write; the one
    whose rename loses removes its own directory and uses the winner's,
    so neither deletes files under the other's running scan."""
    import shutil
    import uuid

    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    try:
        write(tmp)
        try:
            os.rename(tmp, path)
        except OSError:  # another caller published first
            if not os.path.isdir(path):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


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
