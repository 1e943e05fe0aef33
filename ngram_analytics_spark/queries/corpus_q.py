"""Corpus-modeling queries: bigram language-model scoring, boilerplate
span detection, deterministic shard assignment, and int8 embedding
quantization error analysis.

The reference engine has no counterpart (its sole operator is the
n-gram transform, NGramTransform.java:95-134); these extend the
SURVEY.md §2.B training-data-pipeline family: the corpus-level
modeling passes an LLM data pipeline runs between dedup and export —
fluency scoring against a self-trained LM, template/boilerplate
removal, stable sharding for distributed writes, and storage-side
embedding compression.

Scale notes: every aggregation below is map-side combinable; the only
broadcast dims are vocabulary-bounded (unigram counts, 64 per-dim
scales, one totals row). The bigram count table shuffles on the bigram
key — the same shape q_ngram_topk already certifies at the 100 TB
design point. Nothing collects on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ngram_analytics_spark.catalog import load
from ngram_analytics_spark.functions.deterministic import (
    davg,
    oracle_davg,
    oracle_round4det,
    round4det,
)
from ngram_analytics_spark.operators.ngram import ngram_col, ngrams_sql
from ngram_analytics_spark.registry import QueryRegistry

REG = QueryRegistry()

TOKENS = "string_split(text, ' ')"

#: boilerplate span width (tokens) and the doc-frequency cutoff above
#: which a span counts as corpus boilerplate.
_SPAN_N = 5
_SPAN_DF = 5

#: shard-assignment constants: Knuth multiplicative hash folded to 64
#: shards — spelled as plain int64 arithmetic so Spark and DuckDB
#: compute the identical shard id (no engine-specific hash function).
_SHARD_MOD = 999983  # prime < 2^20: doc_id folded before the multiply
_SHARD_MUL = 2654435761  # 2^32 / golden ratio (Knuth)
_SHARD_SPACE = 4294967296  # 2^32
_N_SHARDS = 64


@REG.register(
    "q_doc_lm_score",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {TOKENS} AS toks FROM documents
        ), bg AS (
            SELECT doc_id, unnest({ngrams_sql("toks", 2)}) AS bg FROM t
        ), bc AS (
            SELECT bg, count(*) AS c_bi FROM bg GROUP BY bg
        ), uc AS (
            SELECT w, count(*) AS c_uni
            FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
        )
        SELECT b.doc_id,
               count(*) AS n_bigrams,
               {oracle_davg("CAST(c.c_bi AS DOUBLE) / u.c_uni")} AS lm_score
        FROM bg b
        JOIN bc c ON b.bg = c.bg
        JOIN uc u ON u.w = string_split(b.bg, ' ')[1]
        GROUP BY b.doc_id
    """,
)
def q_doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fluency score under a corpus-trained bigram LM: the
    average conditional probability count(w1 w2)/count(w1) over the
    doc's bigrams — the self-supervised quality signal pipelines use to
    rank documents before sampling (high = built from common
    continuations, low = unusual token sequences).

    Plan: one explode for bigram counts (shuffle on the bigram key,
    map-side combined — the q_ngram_topk shape), a vocabulary-sized
    unigram dim joined BROADCAST, and the per-doc score as an
    order-independent decimal-accumulated average. Probabilities are
    averaged directly (no log) so the score stays bit-identical across
    engines — no libm transcendental in the differential surface.
    """
    # documents scan is a single row group -> one task; the spread
    # load buys plan-wide parallelism for the per-row n-gram kernels
    # (measured 3.4x on the explode at sf0.1 — the q_dedup_jaccard
    # discipline).
    t = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    # ngram_explode (r14): index-explode + post-explode gram assembly
    # keeps the bigram stage in codegen (no interpreted transform
    # lambda) — the r6 explode_outer/null-filter pushdown shape is
    # preserved inside the helper. Identical rows.
    from ngram_analytics_spark.operators.ngram import ngram_explode

    bg = ngram_explode(t, "toks", 2, out_col="bg", keep=["doc_id"])
    bc = bg.groupBy("bg").agg(F.count("*").alias("c_bi"))
    uc = (
        t.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c_uni"))
    )
    return (
        bg.join(bc, "bg")
        .join(
            F.broadcast(uc),
            F.col("w") == F.split(F.col("bg"), " ").getItem(0),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            davg(
                F.col("c_bi").cast("double") / F.col("c_uni"), "lm_score"
            ),
        )
    )


@REG.register(
    "q_boilerplate",
    oracle=f"""
        WITH g AS (
            SELECT doc_id, unnest({ngrams_sql("toks", _SPAN_N)}) AS g
            FROM (SELECT doc_id, {TOKENS} AS toks FROM documents)
        ), df AS (
            SELECT g, count(DISTINCT doc_id) AS df FROM g GROUP BY g
        )
        SELECT g.doc_id,
               count(*) AS n_spans,
               CAST(sum(CASE WHEN df.df >= {_SPAN_DF} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_boiler,
               {oracle_round4det(
                   f"CAST(sum(CASE WHEN df.df >= {_SPAN_DF} THEN 1 ELSE 0 END)"
                   " AS DOUBLE) / count(*)"
               )} AS boiler_ratio
        FROM g JOIN df ON g.g = df.g
        GROUP BY g.doc_id
    """,
)
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: a 5-token span occurring in >= 5 distinct
    documents is corpus boilerplate (templates, headers, navigation);
    each document reports what fraction of its spans are boilerplate —
    the removal signal upstream of dedup in a training-data pipeline.

    Plan: spread-load the single-row-group scan so the span construction
    runs plan-wide, then per-(doc, span) counts (one map-side-combined
    shuffle; makes the doc-frequency a PLAIN count, no countDistinct
    expand, and shrinks the join-back side to per-doc-distinct spans)
    -> span-key agg joined back on the same key -> per-doc ratio
    weighted by instance counts. A/B-measured at sf0.1: this shape
    1.5 s vs 4.1 s for the naive countDistinct+join and 5.9 s for a
    COUNT-window doc-frequency (240k tiny window partitions sort-
    dominate). The span-frequency table is corpus-bounded, never
    broadcast, never driver-side.
    """
    # ngram_explode (r14): index-explode + post-explode span assembly
    # keeps the 5-token span stage in codegen (both consumers of dg
    # re-run it, so the lambda removal pays twice).
    # tokenizer hoisted to its own projection (longdoc probe r9:
    # 8.5x at equal token mass with split() inside the slice lambda)
    from ngram_analytics_spark.operators.ngram import ngram_explode

    g = ngram_explode(
        load(spark, sf_dir, "documents", spread=True).select(
            "doc_id", F.split("text", " ").alias("toks")
        ),
        "toks",
        _SPAN_N,
        out_col="g",
        keep=["doc_id"],
    )
    dg = g.groupBy("doc_id", "g").agg(F.count("*").alias("cnt"))
    df = dg.groupBy("g").agg(F.count("*").alias("df"))
    boiler = F.sum(
        F.when(F.col("df") >= _SPAN_DF, F.col("cnt")).otherwise(0)
    )
    n_spans = F.sum("cnt")
    return (
        dg.join(df, "g")
        .groupBy("doc_id")
        .agg(
            n_spans.alias("n_spans"),
            boiler.alias("n_boiler"),
            round4det(boiler.cast("double") / n_spans).alias("boiler_ratio"),
        )
    )


@REG.register(
    "q_shard_assign",
    oracle=f"""
        SELECT ((doc_id % {_SHARD_MOD}) * {_SHARD_MUL})
                   % {_SHARD_SPACE} % {_N_SHARDS} AS shard,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               min(doc_id) AS min_doc,
               max(doc_id) AS max_doc
        FROM documents
        GROUP BY 1
    """,
)
def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard assignment for distributed export: Knuth
    multiplicative hash of doc_id folded to 64 shards, reported as
    per-shard balance stats (row and byte counts) — the writer-side
    layout step of a training-data pipeline, where a stable doc->shard
    map must reproduce across engines and runs.

    The hash is plain int64 arithmetic (fold, multiply, two mods) so
    any engine computes the identical assignment — no xxhash64 /
    murmur dependence. One map-side-combined aggregation over 64 keys;
    in a real export the same expression feeds repartition(shard) so
    each output file is one shard.
    """
    d = load(spark, sf_dir, "documents")
    shard = (
        (F.col("doc_id") % _SHARD_MOD) * F.lit(_SHARD_MUL)
    ) % _SHARD_SPACE % _N_SHARDS
    return (
        d.groupBy(shard.alias("shard"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


#: int8 quantization: symmetric per-dimension scale max|x|/127; the
#: round-half-away-from-zero + clamp spelled identically in both
#: engines (floor/abs/sign only — see functions.deterministic).
_Q_ERR_DUCK = """
    abs(least(127.0, CAST(floor(abs(x / s) + 0.5) AS DOUBLE))
        * (CASE WHEN x / s < 0 THEN -1.0
                WHEN x / s > 0 THEN 1.0 ELSE 0.0 END) * s - x)
"""


@REG.register(
    "q_quant_int8",
    oracle=f"""
        WITH d AS (
            SELECT vec_id, label,
                   unnest(range(1, len(embedding) + 1)) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        ), s AS (
            SELECT pos, max(abs(x)) / 127.0 AS s FROM d GROUP BY pos
        ), e AS (
            SELECT vec_id, label, {_Q_ERR_DUCK} AS err
            FROM d JOIN s ON d.pos = s.pos
            WHERE s.s != 0
        ), pv AS (
            SELECT vec_id, min(label) AS label,
                   CAST(sum(CAST(floor(err * 100000000.0 + 0.5) AS BIGINT))
                        AS DOUBLE) / 100000000.0 / count(*) AS mean_err,
                   max(err) AS max_err
            FROM e GROUP BY vec_id
        )
        SELECT label,
               count(*) AS n_vecs,
               {oracle_davg("mean_err")} AS avg_err,
               {oracle_round4det("max(max_err)")} AS max_err
        FROM pv GROUP BY label
    """,
)
def q_quant_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization error analysis: symmetric per-
    dimension scales (max|x|/127), round-half-away + clamp to int8,
    dequantize, and report per-label mean / max reconstruction error —
    the storage-compression validation step before shipping embeddings
    to an ANN index (4x smaller vectors, bounded error).

    Plan: one posexplode; per-dim scales are a 64-key map-side-combined
    agg joined back BROADCAST; per-vector error folds in exact int64
    fixed-point (1e-8 ticks — order-independent across engines), then
    a per-label decimal-accumulated average. max() is order-free by
    nature. No Python, no driver action, no unbounded state.
    """
    d = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos0", "x"
        ),
    )
    # DuckDB range(1,..) positions are 1-based; align.
    d = d.withColumn("pos", F.col("pos0") + 1).drop("pos0")
    s = d.groupBy("pos").agg((F.max(F.abs("x")) / 127.0).alias("s"))
    q = F.col("x") / F.col("s")
    dequant = (
        F.least(F.lit(127.0), F.floor(F.abs(q) + 0.5).cast("double"))
        * F.signum(q)
        * F.col("s")
    )
    e = (
        d.join(F.broadcast(s.filter(F.col("s") != 0)), "pos")
        .select("vec_id", "label", F.abs(dequant - F.col("x")).alias("err"))
    )
    pv = e.groupBy("vec_id").agg(
        F.min("label").alias("label"),
        (
            F.sum(F.floor(F.col("err") * 1e8 + 0.5).cast("long")).cast(
                "double"
            )
            / 1e8
            / F.count("*")
        ).alias("mean_err"),
        F.max("err").alias("max_err"),
    )
    return pv.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        davg("mean_err", "avg_err"),
        round4det(F.max("max_err")).alias("max_err"),
    )


@REG.register(
    "q_inverted_index",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, unnest({TOKENS}) AS term FROM documents
        )
        SELECT term,
               count(DISTINCT doc_id) AS df,
               count(*) AS cf,
               array_to_string(list_sort(list(DISTINCT doc_id))[1:10], ',')
                   AS postings_head
        FROM t GROUP BY term
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per term the document frequency,
    collection frequency, and the head of the sorted postings list —
    the retrieval-side index a corpus pipeline materializes next to
    its text analytics (the full postings write is this same plan
    without the head slice, sunk via repartition(term-range)).

    One explode into one map-side-combined aggregation on the term
    key; postings are sorted in-plan (collect_set + array_sort) so the
    head is deterministic on any partitioning, and emitted as a
    flattened string per the scalar-only output discipline."""
    t = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    return t.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count("*").alias("cf"),
        F.array_join(
            F.transform(
                F.slice(F.array_sort(F.collect_set("doc_id")), 1, 10),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings_head"),
    )


@REG.register(
    "q_vocab_coverage",
    oracle="""
        WITH vocab AS (
            SELECT t.tok, count(*) AS cnt
            FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
            GROUP BY t.tok
        ), tot AS (
            SELECT sum(cnt) AS total FROM vocab
        ), ranked AS (
            SELECT tok, cnt,
                   row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rnk,
                   sum(cnt) OVER (ORDER BY cnt DESC, tok ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS cum
            FROM vocab
        )
        SELECT r.rnk, r.tok, r.cnt,
               (CAST(floor(abs(CAST(r.cum AS DOUBLE)
                               / CAST(t.total AS DOUBLE))
                           * 10000.0 + 0.5) AS DOUBLE) / 10000.0)
                   AS coverage
        FROM ranked r, tot t
        WHERE r.rnk <= 32
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage curve: the frequency-ranked token
    list with each rank's CUMULATIVE share of all corpus tokens — the
    analysis run before fixing a BPE/vocab size (what fraction of the
    stream does a 32k / 64k vocabulary cover?). Reports the head
    (top 32) with rank, count, and cumulative coverage.

    The oracle ranks with a global window; the Spark plan must not
    (an empty PARTITION BY moves the whole vocab to one task — fine
    at 60 types, fatal at the ~1e7-type vocab of a real crawl). This
    uses the distributed global-order pattern q_sort_nulls pins:
    bucket by -floor(log2(cnt)) (monotone in the count ordering),
    rank and running-sum WITHIN buckets (partitioned window), then
    add per-bucket row/mass offsets from a triangular join over the
    tiny per-bucket summary (broadcast). Coverage divides exact int64
    token counts, then floor-quantizes to 4dp identically in both
    engines."""
    toks = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    # bucket key monotone DECREASING in cnt: -floor(log2(cnt)); ties
    # across tokens stay inside one bucket, so (cnt DESC, tok ASC)
    # within-bucket order + bucket offsets reproduce the global order.
    vocab = vocab.withColumn(
        "_b", -F.floor(F.log2(F.col("cnt").cast("double"))).cast("long")
    )
    per_bucket = vocab.groupBy("_b").agg(
        F.count("*").alias("_n"), F.sum("cnt").alias("_mass")
    )
    offsets = (
        per_bucket.alias("x")
        .join(
            per_bucket.alias("y"), F.col("y._b") < F.col("x._b"), "left"
        )
        .groupBy("x._b")
        .agg(
            F.coalesce(F.sum("y._n"), F.lit(0)).alias("_off_n"),
            F.coalesce(F.sum("y._mass"), F.lit(0)).alias("_off_mass"),
        )
    )
    w = W.partitionBy("_b").orderBy(F.col("cnt").desc(), F.col("tok").asc())
    total = vocab.agg(F.sum("cnt").alias("total"))
    ranked = (
        vocab.withColumn("_r", F.row_number().over(w))
        .withColumn(
            "_cum",
            F.sum("cnt").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .join(F.broadcast(offsets), "_b")
        .join(F.broadcast(total))
    )
    return (
        ranked.select(
            (F.col("_off_n") + F.col("_r")).alias("rnk"),
            "tok",
            "cnt",
            round4det(
                (F.col("_off_mass") + F.col("_cum")).cast("double")
                / F.col("total").cast("double")
            ).alias("coverage"),
        )
        .filter(F.col("rnk") <= 32)
    )


#: BM25 constants: exact binary fractions (1.25 = 5/4, 0.75 = 3/4) so
#: every multiply is bit-identical cross-engine; query terms are fixed
#: common-vocabulary literals; per-term scores quantize to 1e-6 ticks
#: so the cross-term sum is an order-independent integer add.
_BM25_K1 = 1.25
_BM25_B = 0.75
_BM25_TERMS = ("spark", "table", "window")
_BM25_TOPK = 10


@REG.register(
    "q_text_bm25",
    oracle=f"""
        WITH dl AS (
            SELECT doc_id, len({TOKENS}) AS dl FROM documents
        ), stats AS (
            SELECT count(*) AS n_docs,
                   CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
            FROM dl
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest({TOKENS}) AS term FROM documents)
            WHERE term IN {tuple(_BM25_TERMS)}
            GROUP BY doc_id, term
        ), df AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), scored AS (
            SELECT t.doc_id,
                   CAST(floor(
                       ((CAST(s.n_docs AS DOUBLE) - df.df + 0.5)
                        / (df.df + 0.5))
                       * ((t.tf * ({_BM25_K1} + 1.0))
                          / (t.tf + {_BM25_K1}
                             * ((1.0 - {_BM25_B})
                                + {_BM25_B} * (d.dl / s.avgdl))))
                       * 1000000.0 + 0.5) AS BIGINT) AS ticks
            FROM tf t
            JOIN df ON t.term = df.term
            JOIN dl d ON t.doc_id = d.doc_id
            CROSS JOIN stats s
        )
        SELECT doc_id,
               (CAST(sum(ticks) AS DOUBLE) / 1000000.0) AS score
        FROM scored GROUP BY doc_id
        ORDER BY sum(ticks) DESC, doc_id ASC
        LIMIT {_BM25_TOPK}
    """,
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k document ranking for a fixed term query — the
    retrieval scorer behind RAG corpus search and data-curation
    relevance filters (Robertson/Sparck-Jones probabilistic model,
    k1={k1}, b={b}). The idf is the log-free rational form
    (N - df + 0.5)/(df + 0.5): monotone-equivalent to the standard
    ln(1 + .) spelling per term, chosen because ln differs in the
    last ulp between JVM Math.log and libm (the q_doc_lm_score
    bit-identity discipline); with it every factor is an IEEE basic
    op on integer-derived inputs, so scores are bit-identical
    cross-engine with NO rounding tolerance. Per-term scores then
    quantize to 1e-6-tick int64 so the cross-term sum is
    order-independent and the top-k boundary is a pure integer
    comparison (score ties break on doc_id).

    Scale shape: term postings filter AT THE SCAN (3 of ~60 tokens
    per doc survive the explode filter); tf aggregates on (doc,
    term); df and the corpus stats are vocabulary-bounded broadcasts;
    the final top-k is TakeOrderedAndProject (per-partition heads,
    never a global sort). The posting-list shuffle is the same
    (doc, term) shape q_text_tfidf_exact certifies at 100 TB."""
    d = load(spark, sf_dir, "documents")
    dl = d.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    stats = dl.groupBy().agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        d.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = (F.col("n_docs").cast("double") - F.col("df") + 0.5) / (
        F.col("df") + 0.5
    )
    tf_part = (F.col("tf") * (_BM25_K1 + 1.0)) / (
        F.col("tf")
        + _BM25_K1
        * ((1.0 - _BM25_B) + _BM25_B * (F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl.withColumnRenamed("doc_id", "_did"),
              F.col("doc_id") == F.col("_did"))
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(idf * tf_part * 1000000.0 + 0.5)
            .cast("long")
            .alias("ticks"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("ticks").alias("t"))
        .orderBy(F.col("t").desc(), F.col("doc_id").asc())
        .limit(_BM25_TOPK)
        .select(
            "doc_id", (F.col("t").cast("double") / 1000000.0).alias("score")
        )
    )


q_text_bm25.__doc__ = q_text_bm25.__doc__.format(k1=_BM25_K1, b=_BM25_B)


@REG.register(
    "q_vocab_spectrum",
    oracle=f"""
        WITH tc AS (
            SELECT term, count(*) AS cnt
            FROM (SELECT unnest({TOKENS}) AS term FROM documents)
            GROUP BY term
        ), total AS (
            SELECT sum(cnt) AS mass FROM tc
        )
        SELECT cnt AS freq,
               count(*) AS n_terms,
               CAST(count(*) * cnt AS BIGINT) AS mass_at_freq,
               (CAST(floor(count(*) * cnt * 1000000 / t.mass) AS BIGINT))
                   AS ppm_of_corpus
        FROM tc CROSS JOIN total t
        GROUP BY cnt, t.mass
    """,
)
def q_vocab_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary frequency spectrum (frequency-of-frequencies): for
    each occurrence count, how many distinct terms occur exactly that
    often and what corpus share they carry — the lexical-statistics
    profile (hapax/dis legomena at freq 1/2, Zipf tail shape) used to
    size tokenizer vocabularies and detect synthetic/templated text
    (a natural corpus has a heavy hapax mass; boilerplate collapses
    the spectrum). Good-Turing smoothing consumes exactly this table.

    Scale shape: one term-count aggregation on the token key (the
    q_ngram_topk shuffle shape), then a second aggregation over the
    vocabulary-sized result, plus a 1-row totals broadcast. The share
    column is integer ppm (count*cnt*1e6 / mass in BIGINT) — no float
    division to drift cross-engine."""
    tc = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    total = tc.groupBy().agg(F.sum("cnt").alias("mass"))
    return (
        tc.groupBy("cnt")
        .agg(F.count("*").alias("n_terms"))
        .join(F.broadcast(total))
        .select(
            F.col("cnt").alias("freq"),
            "n_terms",
            (F.col("n_terms") * F.col("cnt")).cast("long").alias(
                "mass_at_freq"
            ),
            F.floor(
                F.col("n_terms") * F.col("cnt") * F.lit(1000000)
                / F.col("mass")
            ).cast("long").alias("ppm_of_corpus"),
        )
    )


_SQ_SHORT = 120  # chars below which a document counts as "short"


@REG.register(
    "q_source_quality",
    oracle=f"""
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               count(DISTINCT lang) AS n_langs,
               CAST(floor(sum(CASE WHEN n_chars < {_SQ_SHORT}
                                   THEN 1 ELSE 0 END) * 1000000.0
                          / count(*)) AS BIGINT) AS short_ppm,
               CAST(floor(sum(CAST(len({TOKENS}) AS BIGINT)) * 10000.0
                          / count(*)) AS BIGINT) AS toks_per_doc_t4
        FROM documents
        GROUP BY source
    """,
)
def q_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (domain-level) corpus quality report: doc count,
    total characters, language spread, short-document rate, and mean
    tokens per doc — the rollup behind source-level keep/drop rules
    (C4/Gopher-style pipelines filter whole domains whose aggregate
    stats are pathological, before any per-document scoring runs).

    One scan, one map-side-combined aggregate keyed on source; the
    distinct-lang count rides the same exchange (Spark plans
    count(distinct) as a two-phase expand over the grouped key —
    still source-keyed, no extra wide shuffle). Ratios are floor-ppm /
    1e-4 ticks over integer sums — no float surface."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.floor(
            F.sum(
                F.when(F.col("n_chars") < _SQ_SHORT, 1).otherwise(0)
            ).cast("double")
            * F.lit(1_000_000.0)
            / F.count("*").cast("double")
        ).cast("long").alias("short_ppm"),
        F.floor(
            F.sum(
                F.size(F.split("text", " ")).cast("long")
            ).cast("double")
            * F.lit(10_000.0)
            / F.count("*").cast("double")
        ).cast("long").alias("toks_per_doc_t4"),
    )


#: Gini numerator spelled ONCE and injected into both engines: all
#: inputs are exact integers (S = sum(rank*count) in exact decimal,
#: M = token mass, n = vocab size) cast to double right before the
#: arithmetic, so every product/difference/quotient is the same
#: correctly-rounded IEEE double on both sides.
_GINI_EXPR = (
    "(2.0 * {S} - ({n} + 1.0) * {M}) / ({n} * {M})"
)


@REG.register(
    "q_corpus_gini",
    oracle=f"""
        WITH v AS (
            SELECT tok, count(*) AS cnt
            FROM (SELECT unnest({TOKENS}) AS tok FROM documents)
            GROUP BY tok
        ), r AS (
            SELECT tok, cnt,
                   row_number() OVER (ORDER BY cnt ASC, tok ASC) AS i
            FROM v
        )
        SELECT CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(cnt) AS BIGINT) AS total_mass,
               {oracle_round4det(_GINI_EXPR.format(
                   S="CAST(sum(CAST(i AS DECIMAL(25,0)) * cnt) AS DOUBLE)",
                   n="CAST(count(*) AS DOUBLE)",
                   M="CAST(sum(cnt) AS DOUBLE)",
               ))} AS gini
        FROM r
    """,
)
def q_corpus_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-frequency Gini coefficient: how unequal is the corpus'
    token mass across its vocabulary (0 = uniform, ->1 = a few tokens
    dominate) — the one-number corpus-balance check run next to
    q_vocab_coverage's full curve when deciding vocab size and
    up/down-sampling (Zipfian corpora sit near 0.8+).

    Uses the standard sorted-rank identity
    G = (2*S - (n+1)*M) / (n*M) with S = sum of rank*count over counts
    sorted ASCENDING, M the token mass, n the vocab size — spelled via
    one shared expression template so both engines compute identical
    doubles. Rank ties (equal counts) contribute rank-sum-invariant
    terms, so any consistent within-tie order gives the same S.

    Plan: the oracle ranks with a GLOBAL window; the Spark plan must
    not (1e7+-type vocab at crawl scale) — it reuses the
    q_vocab_coverage distributed-global-rank machinery: log2(count)
    buckets (monotone in the sort key), row_number within bucket, and
    per-bucket row-count offsets from the triangular join over the
    tiny bucket summary. S accumulates rank*count in exact
    DECIMAL(38,0) (rank*count overflows int64 around 1e8 vocab x 1e14
    mass)."""
    toks = load(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    vb = vocab.withColumn(
        "_b", F.floor(F.log2(F.col("cnt").cast("double"))).cast("long")
    )
    per_bucket = vb.groupBy("_b").agg(F.count("*").alias("_n"))
    offsets = (
        per_bucket.alias("x")
        .join(
            F.broadcast(per_bucket.alias("y")),
            F.col("y._b") < F.col("x._b"),
            "left",
        )
        .groupBy(F.col("x._b").alias("_b"))
        .agg(F.coalesce(F.sum("y._n"), F.lit(0)).alias("_off"))
    )
    w = W.partitionBy("_b").orderBy(F.col("cnt").asc(), F.col("tok").asc())
    ranked = (
        vb.withColumn("_r", F.row_number().over(w))
        .join(F.broadcast(offsets), "_b")
        .withColumn("i", F.col("_off") + F.col("_r"))
    )
    s_dec = F.sum(
        F.col("i").cast("decimal(25,0)") * F.col("cnt")
    ).cast("double")
    n_d = F.count("*").cast("double")
    m_d = F.sum("cnt").cast("double")
    gini = (F.lit(2.0) * s_dec - (n_d + F.lit(1.0)) * m_d) / (
        n_d * m_d
    )
    return ranked.agg(
        F.count("*").alias("n_tokens"),
        F.sum("cnt").alias("total_mass"),
        round4det(gini).alias("gini"),
    )


# ------------------------------------------- Kneser-Ney smoothed LM

#: absolute discount 3/4 — exact in binary, so the discounted mass
#: arithmetic is bit-identical cross-engine
_KN_D = 0.75
_KN_TOPK = 30


@REG.register(
    "q_ngram_kneser_ney",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {TOKENS} AS toks FROM documents
        ), bg AS (
            SELECT unnest({ngrams_sql("toks", 2)}) AS bg FROM t
        ), bc AS (
            SELECT bg, string_split(bg, ' ')[1] AS w1,
                   string_split(bg, ' ')[2] AS w2,
                   CAST(count(*) AS BIGINT) AS c_bi
            FROM bg GROUP BY bg
        ), marg AS (
            SELECT w1, CAST(sum(c_bi) AS BIGINT) AS c_hist,
                   CAST(count(*) AS BIGINT) AS n_types_fwd
            FROM bc GROUP BY w1
        ), cont AS (
            SELECT w2, CAST(count(*) AS BIGINT) AS n_types_bwd
            FROM bc GROUP BY w2
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_types FROM bc
        )
        SELECT b.bg, b.c_bi,
               m.c_hist, m.n_types_fwd, c.n_types_bwd,
               {oracle_round4det(
                   f"(CAST(b.c_bi AS DOUBLE) - {_KN_D}) / m.c_hist"
                   f" + ({_KN_D} * m.n_types_fwd / m.c_hist)"
                   f" * (CAST(c.n_types_bwd AS DOUBLE) / t.n_types)"
               )} AS p_kn
        FROM bc b
        JOIN marg m ON b.w1 = m.w1
        JOIN cont c ON b.w2 = c.w2
        CROSS JOIN tot t
        ORDER BY b.c_bi DESC, b.bg ASC LIMIT {_KN_TOPK}
    """,
)
def q_ngram_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (discount 3/4) for
    the corpus' top-{k} bigrams — the smoothing that made n-gram LMs
    competitive (Kneser & Ney 1995; the estimation layer the reference
    domain's n-gram counts feed): discounted MLE mass plus a
    continuation-probability backoff, where P_cont(w2) counts how many
    DISTINCT histories precede w2 rather than raw frequency.

    Plan: after the one bigram explode (map-side-combined count,
    the q_ngram_topk shape), every table lives on the bigram-TYPE /
    vocabulary domain: forward marginals and continuation-type counts
    are groupBys over the type table, the type total is a 1-row
    broadcast, and the probability assembly joins on w1 / w2 keys. At
    100 TB the raw-token pass is the only data-sized stage.

    Determinism: all counts exact int64; D = 0.75 is exact binary, so
    the discount/interpolation arithmetic performs identical IEEE ops
    on identical inputs in both engines; top-{k} ties break on the
    bigram string."""
    from ngram_analytics_spark.operators.ngram import ngram_explode

    t = load(spark, sf_dir, "documents", spread=True).select(
        F.split("text", " ").alias("toks")
    )
    bg = ngram_explode(t, "toks", 2, out_col="bg", keep=[])
    bc = (
        bg.groupBy("bg")
        .agg(F.count("*").alias("c_bi"))
        .select(
            "bg",
            "c_bi",
            F.split("bg", " ").getItem(0).alias("w1"),
            F.split("bg", " ").getItem(1).alias("w2"),
        )
    )
    from ngram_analytics_spark.operators.ngram import kneser_ney_bigram

    return (
        kneser_ney_bigram(bc, discount=_KN_D)
        .select(
            "bg",
            "c_bi",
            "c_hist",
            "n_types_fwd",
            "n_types_bwd",
            round4det(F.col("p_kn")).alias("p_kn"),
        )
        .orderBy(F.col("c_bi").desc(), F.col("bg").asc())
        .limit(_KN_TOPK)
    )


q_ngram_kneser_ney.__doc__ = q_ngram_kneser_ney.__doc__.format(k=_KN_TOPK)


# ------------------------------------------------ lexical diversity

@REG.register(
    "q_text_diversity",
    oracle="""
        WITH t AS (
            SELECT lang, tok, CAST(count(*) AS BIGINT) AS f
            FROM (
                SELECT lang, unnest(string_split(text, ' ')) AS tok
                FROM documents
            )
            WHERE tok IS NOT NULL AND tok != ''
            GROUP BY lang, tok
        )
        SELECT lang,
               CAST(sum(f) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax,
               CAST(count(*) * 1000000 // sum(f) AS BIGINT) AS ttr_ppm,
               CAST(sum(CAST(f AS HUGEINT) * (f - 1)) * 1000000
                    // (CAST(sum(f) AS HUGEINT) * (sum(f) - 1))
                    AS BIGINT) AS simpson_ppm
        FROM t
        GROUP BY lang
        ORDER BY lang
    """,
)
def q_text_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity census per language: type-token ratio, hapax
    legomena count, and Simpson's repeat-rate D = sum f(f-1) / n(n-1)
    (the probability two random token draws are the SAME type — high D
    flags templated/boilerplate-heavy slices, the corpus-level
    counterpart of q_text_repetition's per-doc score and the
    diversity dial next to q_corpus_gini's concentration index).

    Determinism: D and TTR are exact integer rationals floored at ppm
    (f, n are counts; no doubles anywhere). Simpson's sum f(f-1) and
    n(n-1) grow as the SQUARE of slice token mass — int64 wraps at
    n ~ 3e9 tokens per language, well inside a 100 TB corpus — so
    both ride DECIMAL(38,0)/HUGEINT (r12 lint-widening audit).
    Closed-form fixture pin in tests/test_statistic_fixtures.py (the
    r10 statistic-key convention).

    Plan: ONE token explode -> ONE map-side-combined (lang, tok)
    groupBy (vocab-sized state), then a lang-domain rollup — the
    q_bpe_pair_counts distinct-vocabulary discipline; no joins, no
    windows."""
    t = (
        load(spark, sf_dir, "documents", spread=True)
        .select(
            "lang", F.explode_outer(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("f"))
    )
    return (
        t.groupBy("lang")
        .agg(
            F.sum("f").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_types"),
            F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
            F.expr("count(*) * 1000000 div sum(f)")
            .cast("long")
            .alias("ttr_ppm"),
            F.expr(
                "sum(cast(f as decimal(38,0)) * (f - 1)) * 1000000"
                " div (cast(sum(f) as decimal(38,0)) * (sum(f) - 1))"
            )
            .cast("long")
            .alias("simpson_ppm"),
        )
        .orderBy("lang")
    )


# ------------------------------------------------- vocabulary growth

#: id-ordered prefix sizes for the growth curve (log-spaced)
_VG_GRID = (4, 16, 64, 256, 1024)


@REG.register(
    "q_vocab_growth",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, tok
            FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents
            )
            WHERE tok IS NOT NULL AND tok != ''
        ), fd AS (
            SELECT tok, CAST(min(doc_id) AS BIGINT) AS firstdoc
            FROM t GROUP BY tok
        ), dt AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks
            FROM t GROUP BY doc_id
        ), grid AS (
            SELECT unnest([{", ".join(str(g) for g in _VG_GRID)}]) AS g
        ), ty AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n_types
            FROM grid JOIN fd ON fd.firstdoc < g
            GROUP BY g
        ), tok AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_toks) AS BIGINT) AS n_tokens
            FROM grid JOIN dt ON dt.doc_id < g
            GROUP BY g
        )
        SELECT CAST(tok.g AS BIGINT) AS g, tok.n_docs, tok.n_tokens,
               ty.n_types,
               CAST(ty.n_types * 1000000 // tok.n_tokens AS BIGINT)
                   AS ttr_ppm
        FROM tok JOIN ty ON tok.g = ty.g
        ORDER BY g
    """,
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law, empirically): distinct
    type count after the id-ordered {n}-doc prefixes {grid} — the
    curve that says whether more data still buys new vocabulary
    (plateauing types = a saturated/templated source; near-linear =
    open-domain text), read next to q_vocab_spectrum's
    frequency-of-frequencies and q_text_diversity's per-slice TTR.

    Plan: ONE token explode feeding TWO vocab/doc-domain tables —
    per-TYPE first-occurrence doc (min agg) and per-DOC token counts
    — each cross-joined with the broadcast {n}-point grid and
    rolled up; facts are touched once, everything after is
    vocab-sized (the q_bpe_pair_counts compression).

    Determinism: integer counts and one floor-div ppm per grid
    point."""
    d = (
        load(spark, sf_dir, "documents", spread=True)
        .select(
            "doc_id", F.explode_outer(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
    )
    fd = d.groupBy("tok").agg(F.min("doc_id").alias("firstdoc"))
    dt = d.groupBy("doc_id").agg(F.count("*").alias("n_toks"))
    grid = spark.createDataFrame(
        [(g,) for g in _VG_GRID], "g long"
    )
    ty = (
        fd.crossJoin(F.broadcast(grid))
        .filter(F.col("firstdoc") < F.col("g"))
        .groupBy("g")
        .agg(F.count("*").cast("long").alias("n_types"))
    )
    tok = (
        dt.crossJoin(F.broadcast(grid))
        .filter(F.col("doc_id") < F.col("g"))
        .groupBy("g")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
    )
    return (
        tok.join(ty, "g")
        .select(
            "g",
            "n_docs",
            "n_tokens",
            "n_types",
            F.expr("n_types * 1000000 div n_tokens")
            .cast("long")
            .alias("ttr_ppm"),
        )
        .orderBy("g")
    )


q_vocab_growth.__doc__ = q_vocab_growth.__doc__.format(
    n=len(_VG_GRID), grid=_VG_GRID
)


# ------------------------------------------------------- burstiness

#: burstiness census: terms must appear in >= 5 docs; top-20 reported.
_BURST_MIN_DF = 5
_BURST_TOPK = 20


@REG.register(
    "q_text_burstiness",
    oracle=f"""
        WITH dd AS (
            SELECT CAST(count(*) AS BIGINT) AS d FROM documents
            WHERE text IS NOT NULL
        ), tc AS (
            SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
            FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents WHERE text IS NOT NULL
            )
            GROUP BY doc_id, tok
        ), term AS (
            SELECT tok,
                   CAST(count(*) AS BIGINT) AS df,
                   CAST(sum(c) AS BIGINT) AS cf,
                   CAST(sum(c * c) AS BIGINT) AS s2
            FROM tc GROUP BY tok
            HAVING count(*) >= {_BURST_MIN_DF}
        )
        SELECT tok, df, cf,
               CAST((dd.d * s2 - cf * cf) * 1000000 // (dd.d * cf)
                    AS BIGINT) AS fano_ppm
        FROM term CROSS JOIN dd
        ORDER BY fano_ppm DESC, tok ASC
        LIMIT {_BURST_TOPK}
    """,
)
def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness census: the Fano factor (variance-to-mean of
    per-doc occurrence counts over ALL documents, zero-count docs
    included algebraically) for every term in >= {mindf} docs, top-{k}
    burstiest — the classic content-vs-function-word separator
    (Church & Gale: content words arrive in bursts, Fano >> 1;
    function words are Poisson-ish, Fano ~ 1) that q_text_keywords'
    extractor and q_doc_lm_score's smoothing both implicitly assume.

    Determinism: Fano = (D*sum(c^2) - cf^2) / (D*cf) — the zero-count
    docs enter EXACTLY through the D scaling, so the whole statistic
    is one integer floor-div over exact int64 moments (D*s2 bounded
    ~5e15 at sf1; headroom 3 orders). Top-{k} ties break on the term.

    Plan: the (doc, term) rollup happens INSIDE the row (r11 re-plan,
    VERDICT r10 watch item): sort the token array, mark run starts,
    and emit (term, run_length) structs via native array transforms —
    O(t log t) per document, zero exchange — so the ONLY shuffle is
    the map-side-combined term-domain moment rollup (per-task state =
    local vocab, the q_text_cooc lattice discipline; the old
    groupBy(doc_id, tok) shuffled every distinct doc x term pair).
    Then the df floor, a broadcast 1-row doc count, and
    TakeOrderedAndProject. Facts touched once; everything after the
    explode is term-domain sized.

    NULL contract: D counts only docs WITH text — a NULL doc has no
    terms and is not a zero-occurrence observation (both engines)."""
    d = load(spark, sf_dir, "documents", spread=True).filter(
        F.col("text").isNotNull()
    )
    dd = d.agg(F.count("*").cast("long").alias("d"))
    # 1-based run-start positions in the sorted token array; each run
    # is one (doc, term) observation with c = next_start - start.
    # element_at is guarded everywhere (ANSI mode): i >= 2 for the
    # i-1 probe, CASE for the past-the-end next start.
    runs = F.expr(
        """
        transform(
          sequence(1, size(starts)),
          j -> struct(
            element_at(srt, element_at(starts, j)) AS tok,
            CAST((CASE WHEN j < size(starts)
                       THEN element_at(starts, j + 1)
                       ELSE size(srt) + 1 END)
                 - element_at(starts, j) AS BIGINT) AS c))
        """
    )
    tc = (
        d.select(F.array_sort(F.split("text", " ")).alias("srt"))
        .select(
            "srt",
            F.expr(
                "filter(sequence(1, size(srt)),"
                " i -> i = 1 OR"
                " element_at(srt, i) != element_at(srt, i - 1))"
            ).alias("starts"),
        )
        .select(F.explode(runs).alias("r"))
        .select(F.col("r.tok").alias("tok"), F.col("r.c").alias("c"))
    )
    term = (
        tc.groupBy("tok")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("c").cast("long").alias("cf"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
        )
        .filter(F.col("df") >= _BURST_MIN_DF)
    )
    return (
        term.crossJoin(F.broadcast(dd))
        .select(
            "tok",
            "df",
            "cf",
            F.expr("(d * s2 - cf * cf) * 1000000 div (d * cf)")
            .cast("long")
            .alias("fano_ppm"),
        )
        .orderBy(F.col("fano_ppm").desc(), F.col("tok").asc())
        .limit(_BURST_TOPK)
    )


q_text_burstiness.__doc__ = q_text_burstiness.__doc__.format(
    mindf=_BURST_MIN_DF, k=_BURST_TOPK
)


# ------------------------------------------------------- Zipf slope

_ZIPF_TOPK = 100


@REG.register(
    "q_text_zipf",
    oracle=f"""
        WITH v AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS f
            FROM (
                SELECT unnest(string_split(text, ' ')) AS tok
                FROM documents
            )
            WHERE tok IS NOT NULL AND tok != ''
            GROUP BY tok
            ORDER BY f DESC, tok ASC
            LIMIT {_ZIPF_TOPK}
        ), pts AS (
            SELECT CAST(floor(log2(CAST(row_number() OVER
                              (ORDER BY f DESC, tok ASC) AS DOUBLE))
                              * 1000000.0 + 0.5) AS BIGINT) AS x,
                   CAST(floor(log2(CAST(f AS DOUBLE))
                              * 1000000.0 + 0.5) AS BIGINT) AS y,
                   f
            FROM v
        ), m AS (
            SELECT CAST(count(*) AS HUGEINT) AS n,
                   CAST(sum(x) AS HUGEINT) AS sx,
                   CAST(sum(y) AS HUGEINT) AS sy,
                   CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                   CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                   CAST(max(f) AS BIGINT) AS top_freq
            FROM pts
        )
        SELECT CAST(n AS BIGINT) AS n_ranks,
               top_freq,
               CAST((n * sxy - sx * sy) * 1000000
                    // (n * sxx - sx * sx) AS BIGINT) AS slope_ppm,
               CAST((sy * sxx - sx * sxy)
                    // (n * sxx - sx * sx) AS BIGINT) AS intercept_ppm
        FROM m
    """,
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the top-{k} vocabulary: the OLS slope of
    log2(freq) on log2(rank) — a healthy natural corpus reads
    slope ~ -1e6 ppm (Zipf's -1); a flat slope flags templated or
    synthetic text and a cliff flags truncated vocab, making this the
    corpus-level twin of q_text_diversity (which scores repetition
    without the rank structure) and the law q_vocab_spectrum eyeballs.

    Determinism: both log2 surfaces are quantized half-up to 1e-6
    ticks per point (the q_text_entropy log discipline — {k} points,
    each one libm call on identical doubles); the OLS moments are
    exact 128-bit integer sums (DECIMAL(38,0)/HUGEINT) and slope /
    intercept are ONE floor-div each — no float regression anywhere.

    Plan: vocab rollup (map-side-combined, vocab-domain state) ->
    TakeOrdered {k} -> the rank comes from a TRIANGULAR count join
    over the {k}-row RESULT (rank = 1 + number of strictly-better
    rows; bounded {k}x{k} BY CONSTRUCTION — the q_sort_nulls /
    q_mix_budget bounded-domain idiom, which keeps the repo's
    no-unpartitioned-windows invariant intact) -> 1-row moment
    aggregate."""
    t = (
        load(spark, sf_dir, "documents", spread=True)
        .select(F.explode_outer(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("f"))
        .orderBy(F.col("f").desc(), F.col("tok").asc())
        .limit(_ZIPF_TOPK)
    )
    o = t.select(F.col("tok").alias("tok2"), F.col("f").alias("f2"))
    ranked = (
        t.join(
            o,
            (F.col("f2") > F.col("f"))
            | ((F.col("f2") == F.col("f")) & (F.col("tok2") < F.col("tok"))),
            "left",
        )
        .groupBy("tok", "f")
        .agg((F.count("tok2") + 1).cast("long").alias("rank"))
    )
    pts = ranked.select(
        F.floor(F.log2(F.col("rank").cast("double")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("x"),
        F.floor(F.log2(F.col("f").cast("double")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("y"),
        "f",
    )
    dec = "decimal(38,0)"
    m = pts.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.max("f").cast("long").alias("top_freq"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_ranks"),
        "top_freq",
        F.expr(
            "(n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)"
        )
        .cast("long")
        .alias("slope_ppm"),
        F.expr("(sy * sxx - sx * sxy) div (n * sxx - sx * sx)")
        .cast("long")
        .alias("intercept_ppm"),
    )


q_text_zipf.__doc__ = q_text_zipf.__doc__.format(k=_ZIPF_TOPK)


# -------------------------------------------- bigram conditional entropy

@REG.register(
    "q_text_bigram_entropy",
    oracle=f"""
        WITH bg AS (
            SELECT lang, unnest({ngrams_sql(TOKENS, 2)}) AS bg
            FROM documents
        ), bc AS (
            SELECT lang, bg, CAST(count(*) AS BIGINT) AS c_bi
            FROM bg GROUP BY 1, 2
        ), uc AS (
            SELECT lang, string_split(bg, ' ')[1] AS w1,
                   CAST(sum(c_bi) AS BIGINT) AS c_uni
            FROM bc GROUP BY 1, 2
        ), terms AS (
            SELECT b.lang,
                   CAST(sum(b.c_bi) AS BIGINT) AS n_bigrams,
                   CAST(count(*) AS BIGINT) AS n_bigram_types,
                   CAST(sum(
                       CAST(b.c_bi AS HUGEINT)
                       * CAST(floor(ln(CAST(u.c_uni AS DOUBLE) / b.c_bi)
                                    * 1000000.0 + 0.5) AS BIGINT)
                   ) AS HUGEINT) AS mass
            FROM bc b
            JOIN uc u ON b.lang = u.lang
                     AND u.w1 = string_split(b.bg, ' ')[1]
            GROUP BY b.lang
        )
        SELECT lang, n_bigrams, n_bigram_types,
               CAST(mass // n_bigrams AS BIGINT)
                   AS cond_entropy_micronat
        FROM terms
        ORDER BY lang
    """,
)
def q_text_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram entropy H(w2 | w1) per language, in
    micro-nats: how predictable the next token is given the current
    one — LOW entropy flags templated/boilerplate-heavy text while
    q_text_entropy's unigram read stays normal (templates reuse normal
    words in fixed ORDER), and the statistic is exactly what
    q_doc_lm_score's bigram LM assumes is informative. H(w2|w1) =
    sum c_ij * ln(c_i / c_ij) / N over the bigram-type domain.

    Determinism: the unigram marginal is DERIVED from the bigram
    table (sum of c_ij over the continuation — so boundary tokens
    cannot desync the two counts); one ln per bigram TYPE of the
    exact integer ratio, quantized half-up to 1e-6 (the
    q_text_entropy log discipline; c_i >= c_ij so terms are >= 0);
    the weighted mass rides HUGEINT/DECIMAL(38,0) (c * tick wraps
    int64 past ~9e12 ln-units of corpus mass) and ONE trunc-div
    descales.

    Plan: ONE bigram explode (map-side combined to the bigram-type
    domain, the q_doc_lm_score shape); the marginal re-aggregates the
    TYPE table; join keys on (lang, w1). Nothing after the first
    rollup scales with corpus size — only with vocabulary."""
    from ngram_analytics_spark.operators.ngram import ngram_explode

    t = load(spark, sf_dir, "documents", spread=True).select(
        "lang", F.split("text", " ").alias("toks")
    )
    bg = ngram_explode(t, "toks", 2, out_col="bg", keep=["lang"])
    bc = bg.groupBy("lang", "bg").agg(
        F.count("*").cast("long").alias("c_bi")
    )
    uc = (
        bc.select(
            "lang",
            F.split(F.col("bg"), " ").getItem(0).alias("w1"),
            "c_bi",
        )
        .groupBy("lang", "w1")
        .agg(F.sum("c_bi").cast("long").alias("c_uni"))
    )
    dec = "decimal(38,0)"
    tick = F.floor(
        F.log(F.col("c_uni").cast("double") / F.col("c_bi")) * 1e6
        + F.lit(0.5)
    ).cast("long")
    terms = (
        bc.select(
            "lang",
            F.split(F.col("bg"), " ").getItem(0).alias("w1"),
            "c_bi",
        )
        .join(uc, ["lang", "w1"])
        .groupBy("lang")
        .agg(
            F.sum("c_bi").cast("long").alias("n_bigrams"),
            F.count("*").cast("long").alias("n_bigram_types"),
            F.sum(F.col("c_bi").cast(dec) * tick).alias("mass"),
        )
    )
    return terms.select(
        "lang",
        "n_bigrams",
        "n_bigram_types",
        F.expr("mass div n_bigrams")
        .cast("long")
        .alias("cond_entropy_micronat"),
    ).orderBy("lang")


# --------------------------------------------------- export manifest

@REG.register(
    "q_export_manifest",
    oracle=f"""
        WITH s AS (
            SELECT (doc_id % {_SHARD_MOD}) * {_SHARD_MUL}
                   % {_SHARD_SPACE} % {_N_SHARDS} AS shard,
                   doc_id, n_chars,
                   CAST('0x' || substring(
                       md5(CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) AS tkt
            FROM documents
        )
        SELECT shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(min(doc_id) AS BIGINT) AS min_doc_id,
               CAST(max(doc_id) AS BIGINT) AS max_doc_id,
               CAST(sum(CAST(tkt AS HUGEINT)) % 1000000007 AS BIGINT)
                   AS content_digest
        FROM s GROUP BY shard
        ORDER BY shard
    """,
)
def q_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export-integrity manifest per output shard (the q_shard_assign
    Knuth layout): row count, byte mass, id range, and an
    ORDER-INSENSITIVE membership digest (sum of 60-bit md5 tickets mod
    1e9+7) — what a 100 TB export writes beside its data files so a
    re-export, a migration, or a consumer can verify "same documents,
    nothing dropped or duplicated" WITHOUT re-reading payloads (the
    id-set digest catches a lost/duplicated doc that row counts+ranges
    miss; commutative sum = partition-order-free by construction).

    Determinism: the shard map is the shared plain-int64 Knuth
    expression (one definition with q_shard_assign); tickets are md5
    hex (bit-identical engines), 15 hex digits < 2^60 so each fits
    int64; the digest sums in HUGEINT/DECIMAL(38,0) then takes one
    mod.

    Plan: ONE scan, per-row shard + ticket expressions, ONE map-side
    combined groupBy to {ns} shard rows."""
    d = load(spark, sf_dir, "documents")
    shard = (
        (F.col("doc_id") % _SHARD_MOD) * F.lit(_SHARD_MUL)
    ) % _SHARD_SPACE % _N_SHARDS
    tkt = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
        16,
        10,
    ).cast("long")
    return (
        d.select(
            shard.alias("shard"),
            "doc_id",
            "n_chars",
            tkt.alias("tkt"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
            (F.sum(F.col("tkt").cast("decimal(38,0)")) % 1_000_000_007)
            .cast("long")
            .alias("content_digest"),
        )
        .orderBy("shard")
    )


q_export_manifest.__doc__ = q_export_manifest.__doc__.format(
    ns=_N_SHARDS
)
