"""Python Data Source API (Spark 4): a deterministic synthetic-corpus
source.

The reference's source surface is CDAP framework glue (MockSource,
NGramTransformTest.java:118,151); the rebuild's primary sources are
DataSource-V2 file scans (catalog.py). This module adds the third kind
a Spark-4-native engine should exercise: a *programmatic* source built
on the Python Data Source API (SPARK-44076), the public extension point
for reading systems Spark has no connector for.

Scale design: ``partitions()`` returns one ``InputPartition`` per
contiguous doc-id range, so Spark schedules ``n_partitions`` parallel
``read()`` tasks — generation is embarrassingly parallel and never
touches the driver. Rows are pure functions of doc_id (mixed-constant
modular arithmetic over a fixed vocabulary), so any slice of the corpus
is reproducible on any executor — which is also what makes the source
SQL-oracle-checkable in DuckDB (the same arithmetic spelled over
``range()``).
"""

from __future__ import annotations

VOCAB = (
    "the", "fast", "key", "order", "sort", "table", "scan", "join",
    "merge", "hash", "index", "query", "spark", "shard", "batch", "plan",
)
# doc d has 5 + d % 7 tokens; token i is VOCAB[(d*31 + i*7) % 16].
_N_TOKENS = "5 + {d} % 7"
_TOK_IDX = "({d} * 31 + {i} * 7) % 16"


def synthetic_docs_oracle_sql(n_docs: int) -> str:
    """DuckDB SQL generating the identical corpus (oracle side)."""
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    n_tokens = _N_TOKENS.format(d="d")
    tok = f"({vocab})[({_TOK_IDX.format(d='d', i='i')}) + 1]"
    return f"""
        SELECT d AS doc_id,
               array_to_string(
                   list_transform(range(0, {n_tokens}), i -> {tok}), ' '
               ) AS text,
               CAST({n_tokens} AS INTEGER) AS n_tokens
        FROM (SELECT unnest(range(0, {n_docs})) AS d)
    """


def _doc_row(d: int) -> tuple[int, str, int]:
    n = 5 + d % 7
    text = " ".join(VOCAB[(d * 31 + i * 7) % 16] for i in range(n))
    return (d, text, n)


def register_synthetic_docs(spark) -> None:
    """Register the 'synthetic_docs' format on this session (idempotent).

    The source's classes reach this module's helpers, and the Python
    workers that unpickle them may not be able to import the package
    (a program that put it on ``sys.path`` itself), so the module is
    pickled by value."""
    import sys

    from pyspark import cloudpickle
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _RangePartition(InputPartition):
        def __init__(self, lo: int, hi: int):
            self.lo, self.hi = lo, hi

    class SyntheticDocsReader(DataSourceReader):
        def __init__(self, options):
            self.n_docs = int(options.get("n_docs", 1000))
            self.n_partitions = int(options.get("n_partitions", 8))

        def partitions(self):
            step = max(1, -(-self.n_docs // self.n_partitions))
            return [
                _RangePartition(lo, min(lo + step, self.n_docs))
                for lo in range(0, self.n_docs, step)
            ]

        def read(self, partition):
            for d in range(partition.lo, partition.hi):
                yield _doc_row(d)

    class SyntheticDocsSource(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_docs"

        def schema(self):
            return "doc_id bigint, text string, n_tokens int"

        def reader(self, schema):
            return SyntheticDocsReader(self.options)

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(SyntheticDocsSource)


def read_synthetic_docs(spark, n_docs: int = 1000, n_partitions: int = 8):
    register_synthetic_docs(spark)
    return (
        spark.read.format("synthetic_docs")
        .option("n_docs", str(n_docs))
        .option("n_partitions", str(n_partitions))
        .load()
    )
