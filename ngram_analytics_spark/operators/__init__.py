"""Operator library: reusable, scale-designed dataflow operators."""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ngram_analytics_spark.operators.ngram import ngram, ngram_col, ngrams_sql


def spread(df: DataFrame) -> DataFrame:
    """Repartition a derived frame round-robin to ``defaultParallelism``
    if it has fewer partitions.

    A scanned table is spread by the catalog instead:
    ``catalog.load(..., spread=True)`` lays it out cores-wide once per
    file identity, so its queries run no exchange for it. This is for
    inputs that are not scans, where the exchange itself is wanted
    (``q_attribution_decay``'s join sides, whose reasons are at the
    call). The partition count is probed by planning the input."""
    target = df.sparkSession.sparkContext.defaultParallelism
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
