"""Operator library: reusable, scale-designed dataflow operators."""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ngram_analytics_spark.operators.ngram import ngram, ngram_col, ngrams_sql


def spread(df: DataFrame, factor: int = 1) -> DataFrame:
    """Repartition up to ``factor * defaultParallelism`` if the input
    has fewer partitions.

    Small or single-row-group files scan as ONE task, which serializes
    every downstream per-row kernel onto one core — a local-mode symptom
    of the same problem a 1000-executor cluster has with a handful of
    giant unsplittable inputs. One narrow round-robin shuffle of the
    (small) input buys full-width parallelism for the expensive
    compute that follows. Only worth it when the per-row work dwarfs
    the exchange cost; cheap scans should stay shuffle-free.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def combo_pairs(col: Column) -> Column:
    """All unordered (a, b) pairs of a SORTED array as structs, via the
    indexed combinations lambda (the q_dedup_containment shape): for
    element i, pair with every later element. Quadratic only in the
    array length the caller has already bounded (band cap / emitted
    clone pairs)."""
    return F.flatten(
        F.transform(
            col,
            lambda a, i: F.transform(
                F.slice(col, i + 2, F.size(col)),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )


__all__ = ["combo_pairs", "ngram", "ngram_col", "ngrams_sql", "spread"]
