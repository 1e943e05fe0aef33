"""UDF / UDAF / UDTF surface (SURVEY.md §2.B).

Python is the slow path — these queries exist to prove the full UDF
plumbing (Arrow-vectorized scalar pandas UDF, Python UDTF with lateral
join, grouped applyInPandas), each against the same SQL oracle as its
built-in equivalent. The engine's default paths stay JVM-side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from ngram_analytics_spark.catalog import load
from ngram_analytics_spark.registry import QueryRegistry

REG = QueryRegistry()

TOKENS = "string_split(text, ' ')"


@F.pandas_udf(ArrayType(StringType()))
def _bigrams_pandas(tokens: pd.Series) -> pd.Series:
    """Arrow-batched bigram kernel (vectorized over row batches)."""
    return tokens.map(
        lambda toks: [
            f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
        ]
        if toks is not None
        else []
    )


@REG.register(
    "q_udf_pandas",
    oracle=f"""
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> array_to_string(toks[i:i+1], ' '))) AS ngram
        FROM (SELECT doc_id, {TOKENS} AS toks FROM documents)
    """,
)
def q_udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF re-implementing the bigram transform; must
    agree with the pure-SQL q_ngram_bigram oracle."""
    d = load(spark, sf_dir, "documents").withColumn(
        "tokens", F.split("text", " ")
    )
    return d.select(
        "doc_id", F.explode(_bigrams_pandas(F.col("tokens"))).alias("ngram")
    )


@REG.register(
    "q_udtf",
    oracle=f"""
        SELECT doc_id,
               unnest(range(0, len(toks) - 1)) AS pos,
               unnest(list_transform(range(1, len(toks)),
                      i -> array_to_string(toks[i:i+1], ' '))) AS ngram
        FROM (SELECT doc_id, {TOKENS} AS toks FROM documents)
    """,
)
def q_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) exploding bigrams with positions via
    LATERAL join."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, ngram string")
    class BigramUDTF:
        def eval(self, tokens):
            if tokens is not None:
                for i in range(len(tokens) - 1):
                    yield i, f"{tokens[i]} {tokens[i + 1]}"

    spark.udtf.register("bigram_udtf", BigramUDTF)
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.ngram
        FROM documents d,
             LATERAL bigram_udtf(split(d.text, ' ')) t
        """
    )


@REG.register(
    "q_udaf_grouped",
    oracle=f"""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(len({TOKENS})) AS BIGINT) AS total_tokens,
               CAST(max(len({TOKENS})) AS BIGINT) AS max_tokens
        FROM documents
        GROUP BY lang
    """,
)
def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via grouped applyInPandas: per-language corpus stats
    computed in pandas (one group per batch), oracle-checked against the
    SQL equivalent."""

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        tok_counts = pdf["text"].str.split(" ").str.len()
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [len(pdf)],
                "total_tokens": [int(tok_counts.sum())],
                "max_tokens": [int(tok_counts.max())],
            }
        )

    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").applyInPandas(
        stats, schema="lang string, n_docs bigint, total_tokens bigint, max_tokens bigint"
    )


@REG.register(
    "q_udf_arrow",
    oracle=f"""
        SELECT doc_id, CAST(len({TOKENS}) AS INTEGER) AS n_tokens
        FROM documents
    """,
)
def q_udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the zero-copy RecordBatch-level Python path (one rung
    below pandas UDFs — no pandas conversion at all). The kernel counts
    tokens with Arrow compute; the oracle is the built-in split+len."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def count_tokens(batches):
        for batch in batches:
            n = pc.add(pc.count_substring(batch.column("text"), " "), 1)
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pc.cast(n, pa.int32())],
                ["doc_id", "n_tokens"],
            )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(count_tokens, "doc_id long, n_tokens int")


@REG.register(
    "q_udtf_poly",
    oracle=f"""
        SELECT doc_id,
               CAST(t.i - 1 AS INTEGER) AS pos,
               toks[t.i] AS w0,
               toks[t.i + 1] AS w1,
               toks[t.i + 2] AS w2
        FROM (SELECT doc_id, {TOKENS} AS toks FROM documents),
             UNNEST(range(1, len(toks) - 1)) AS t(i)
    """,
)
def q_udtf_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF: the output schema is computed at
    analysis time by a static `analyze` method from a constant
    argument (n=3 -> columns pos, w0, w1, w2) instead of a fixed
    returnType — the table-function counterpart of generic operators
    whose arity depends on configuration (n-gram width, unpivot
    column count). The engine calls analyze() once during planning,
    so downstream resolution, pruning and codegen see a concrete
    schema; eval() then streams one tuple per window position.

    Scale note: like q_udtf this is a per-row LATERAL expansion —
    no shuffle introduced; the Python boundary is the cost, which is
    the point of the exercise (the production n-gram path is the
    JVM-side q_ngram_* family)."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import IntegerType, StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class PolyNGram:
        @staticmethod
        def analyze(
            tokens: AnalyzeArgument, n: AnalyzeArgument
        ) -> AnalyzeResult:
            width = n.value
            if not isinstance(width, int) or width < 1:
                raise ValueError("n must be a positive integer literal")
            st = StructType().add("pos", IntegerType())
            for i in range(width):
                st = st.add(f"w{i}", StringType())
            return AnalyzeResult(schema=st)

        def eval(self, tokens, n):
            if tokens is not None:
                for i in range(len(tokens) - n + 1):
                    yield (i, *tokens[i : i + n])

    spark.udtf.register("poly_ngram_udtf", udtf(PolyNGram))
    # spread load (r15): eval() is per-row Python, and the
    # single-split local file otherwise runs the whole LATERAL
    # expansion on ONE task (0.47 s of the 0.70 s wall in the stage
    # record of telemetry.run_query); per-row values unchanged.
    load(spark, sf_dir, "documents", spread=True).createOrReplaceTempView(
        "documents_poly"
    )
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.w0, t.w1, t.w2
        FROM documents_poly d,
             LATERAL poly_ngram_udtf(split(d.text, ' '), 3) t
        """
    )


@REG.register(
    "q_fn_sql_udf",
    oracle="""
        SELECT CASE WHEN l_quantity < 10 THEN 'small'
                    WHEN l_quantity < 30 THEN 'mid'
                    ELSE 'large' END AS band,
               count(*) AS n_lines,
               (CAST(SUM(CAST(floor(abs(l_extendedprice * (1 - l_discount))
                                    * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                / 10000.0) AS revenue
        FROM lineitem
        GROUP BY 1
    """,
)
def q_fn_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL user-defined functions (Spark 4 `CREATE FUNCTION ... RETURN
    <expr>`): banding and discounted-price logic declared ONCE as
    catalog-level SQL UDFs and reused across queries — unlike Python
    UDFs these are INLINED into the plan at analysis time, so the
    whole aggregate stays inside whole-stage codegen with zero
    serialization boundary (the fast path the UDF hierarchy always
    prefers when the logic is expressible). Revenue rides the
    fixed-point tick spelling inside the UDF body itself, so the
    shared definition carries the determinism discipline to every
    caller.

    Oracle: the same expressions written inline — identical semantics
    by UDF inlining, which is exactly the property under test."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION qty_band(q DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN q < 10 THEN 'small'
                    WHEN q < 30 THEN 'mid'
                    ELSE 'large' END
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION disc_price_ticks(
            p DOUBLE, d DOUBLE)
        RETURNS BIGINT
        RETURN CAST(floor(abs(p * (1 - d)) * 10000.0 + 0.5) AS BIGINT)
        """
    )
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_sqludf"
    )
    return spark.sql(
        """
        SELECT qty_band(l_quantity) AS band,
               count(*) AS n_lines,
               (CAST(SUM(disc_price_ticks(l_extendedprice, l_discount))
                     AS DOUBLE) / 10000.0) AS revenue
        FROM lineitem_sqludf
        GROUP BY 1
        """
    )


@REG.register(
    "q_udf_cogroup",
    oracle="""
        WITH c AS (
            SELECT user_id, count(*) AS n_clicks,
                   sum(CAST(floor(abs(value) * 10000.0 + 0.5) AS BIGINT)
                       * (CASE WHEN value < 0 THEN -1
                               WHEN value > 0 THEN 1 ELSE 0 END))
                       AS click_value_t
            FROM events
            WHERE event_type = 'click' AND value IS NOT NULL
            GROUP BY user_id
        ), p AS (
            SELECT user_id, count(*) AS n_purchases
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        )
        SELECT COALESCE(c.user_id, p.user_id) AS user_id,
               COALESCE(c.n_clicks, 0) AS n_clicks,
               COALESCE(p.n_purchases, 0) AS n_purchases,
               (CAST(COALESCE(c.click_value_t, 0) AS DOUBLE) / 10000.0)
                   AS click_value,
               CAST(floor(COALESCE(p.n_purchases, 0) * 1000000
                          / GREATEST(COALESCE(c.n_clicks, 0), 1))
                    AS BIGINT) AS conv_ppm
        FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
    """,
)
def q_udf_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COGROUPED applyInPandas: the clicks stream and the purchases
    stream cogroup on user_id and a single pandas function sees BOTH
    sides of each key at once (conversion accounting per user) —
    the two-table keyed escape hatch (df.groupBy(k).cogroup(other
    .groupBy(k)).applyInPandas) for per-key logic that needs two
    inputs and is awkward as a join, completing the pandas API
    ladder next to q_udaf_grouped (one-table groupBy) and
    q_udf_pandas (scalar).

    Semantics kept SQL-expressible on purpose (full-outer conditional
    aggregate with integer-tick click value and floor-ppm conversion)
    so the Arrow path itself is what the oracle certifies. Scale
    shape: ONE co-partitioned shuffle of both filtered slices on
    user_id; per-key pandas batches are user-sized, never
    corpus-sized.

    The co-partitioning is an EXPLICIT repartition(defaultParallelism,
    user_id) on both sides (r14, guide §2.5/§4): AQE sizes shuffle
    partitions by BYTES, and the per-key pandas stage's cost is
    per-KEY Python dispatch, so the ~400 KB shuffle coalesced to ONE
    partition and all ~1.5 k per-user calls ran serially on one core
    (the stage record of telemetry.run_query: a single 4.2 s task).
    Pinning the partition count floors Python-stage parallelism at
    the core count on any cluster size — interleaved A/B at sf0.1:
    4.67 -> 0.98 s, identical rows."""
    import pandas as pd

    ev = load(spark, sf_dir, "events")
    n_par = spark.sparkContext.defaultParallelism
    # NULL contract (tools/null_probe.py): NULL click values carry no
    # ticks — filtered on BOTH engines (NaN otherwise poisons the
    # numpy tick cast inside the cogroup batch).
    clicks = (
        ev.filter(
            (F.col("event_type") == "click") & F.col("value").isNotNull()
        )
        .select("user_id", "value")
        .repartition(n_par, "user_id")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .repartition(n_par, "user_id")
    )

    def merge(key, cdf: pd.DataFrame, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n_clicks = len(cdf)
        n_purchases = len(pdf)
        v = cdf["value"].to_numpy(dtype="float64") if n_clicks else np.array([])
        ticks = (
            (np.floor(np.abs(v) * 10000.0 + 0.5) * np.sign(v)).astype("int64")
            if n_clicks
            else np.array([], dtype="int64")
        )
        return pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_clicks": [n_clicks],
                "n_purchases": [n_purchases],
                "click_value": [float(ticks.sum()) / 10000.0],
                "conv_ppm": [
                    int(n_purchases * 1000000 // max(n_clicks, 1))
                ],
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            merge,
            schema=(
                "user_id long, n_clicks long, n_purchases long,"
                " click_value double, conv_ppm long"
            ),
        )
    )
