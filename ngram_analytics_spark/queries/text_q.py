"""N-gram + text-analysis queries (reference parity + north-star text ops).

Reference parity: q_ngram_bigram / q_ngram_trigram cover the two golden
tests (NGramTransformTest.java:131-166 n=2, :168-198 n=3);
q_ngram_fewer_tokens covers the short-row edge (test :200-219, rebuilt
with MLlib empty-array semantics per SURVEY.md §7 Phase 1 decision).
q_ngram_topk is the corpus-level "analytics" aggregation.

All token arrays come from whitespace-splitting ``documents.text``
(FIXTURES.md: text is space-separated synthetic tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ngram_analytics_spark.catalog import load
from ngram_analytics_spark.functions.deterministic import (
    davg,
    dsum_fixed,
    oracle_davg,
    oracle_dsum_fixed,
    oracle_round4det,
    round4det,
)
from ngram_analytics_spark.operators.ngram import (
    ngram_col,
    ngram_explode,
    ngrams_sql,
    skipgrams_sql,
)
from ngram_analytics_spark.registry import QueryRegistry

REG = QueryRegistry()

TOKENS = "string_split(text, ' ')"  # DuckDB-side tokenizer


def tokenized_docs(
    spark: SparkSession, sf_dir: str, *, spread: bool = False
) -> DataFrame:
    """``documents`` plus ``tokens``, the whitespace split of ``text``;
    ``spread`` is :func:`catalog.load`'s."""
    docs = load(spark, sf_dir, "documents", spread=spread)
    return docs.withColumn("tokens", F.split(F.col("text"), " "))


def _exploded_ngrams(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    # spread scan -> split -> explode INDEX sequence -> concat after
    # the explode. The spread load is the single-split mitigation
    # (r6): the testdata file is one row group, and the explode pins
    # the per-row work to the scan's tasks (sf1: bigram 2.9 -> 1.6 s,
    # topk 3.6 -> 1.7 s). The catalog serves it as a cores-wide scan,
    # so the plan is shuffle-free up to the caller's own exchanges.
    #
    # r14 (guide §1.2 per-task work): exploding the gram STRINGS built
    # by the interpreted transform lambda (ngram_col) spent the stage
    # in per-element lambda eval + slice allocation; ngram_explode
    # (operators/ngram.py) explodes the positions and assembles each
    # gram AFTER the explode, keeping the whole stage in codegen.
    # Identical rows; measured 3.0x on the sf0.1x10 bigram-count
    # kernel. The array-valued ngram_col keeps its own (also sped-up)
    # spelling for array consumers.
    return ngram_explode(
        tokenized_docs(spark, sf_dir, spread=True).select(
            "doc_id", "tokens"
        ),
        "tokens",
        n,
    )


def _exploded_oracle(n: int) -> str:
    return f"""
        SELECT doc_id, unnest({ngrams_sql("toks", n)}) AS ngram
        FROM (SELECT doc_id, {TOKENS} AS toks FROM documents)
    """


@REG.register("q_ngram_bigram", oracle=_exploded_oracle(2))
def q_ngram_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A1 with n=2, exploded to (doc_id, ngram) rows."""
    return _exploded_ngrams(spark, sf_dir, 2)


@REG.register("q_ngram_trigram", oracle=_exploded_oracle(3))
def q_ngram_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A1 with n=3 (golden fixture NGramTransformTest.java:240-245)."""
    return _exploded_ngrams(spark, sf_dir, 3)


@REG.register(
    "q_ngram_fewer_tokens",
    oracle=f"""
        SELECT doc_id,
               len(toks) AS n_tokens,
               len({ngrams_sql("toks", 12)}) AS n_ngrams
        FROM (SELECT doc_id, {TOKENS} AS toks FROM documents)
        WHERE len(toks) < 15
    """,
)
def q_ngram_fewer_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Short-row edge: rows with < n tokens yield an EMPTY n-gram array.

    (MLlib semantics; the reference instead fails the whole pipeline,
    NGramTransformTest.java:200-219 — see operators.ngram docstring.)
    """
    return (
        tokenized_docs(spark, sf_dir)
        .withColumn("n_tokens", F.size("tokens"))
        .filter(F.col("n_tokens") < 15)
        .select(
            "doc_id",
            "n_tokens",
            F.size(ngram_col("tokens", 12)).alias("n_ngrams"),
        )
    )


@REG.register(
    "q_ngram_topk",
    oracle=f"""
        SELECT ngram, count(*) AS cnt
        FROM (SELECT unnest({ngrams_sql("toks", 2)}) AS ngram
              FROM (SELECT {TOKENS} AS toks FROM documents))
        GROUP BY ngram
        ORDER BY cnt DESC, ngram ASC
        LIMIT 20
    """,
)
def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent bigrams corpus-wide (top-20, ties broken by ngram).

    Plan shape: scan -> transform -> explode -> partial agg (map-side
    combine) -> single shuffle on ngram -> TakeOrderedAndProject. The
    explode fan-out stays distributed; only (ngram, count) pairs — a
    vocabulary-sized set, not a corpus-sized one — reach the shuffle.
    """
    return (
        _exploded_ngrams(spark, sf_dir, 2)
        .groupBy("ngram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram").asc())
        .limit(20)
    )


@REG.register(
    "q_tokenize",
    oracle=f"""
        SELECT doc_id,
               unnest(range(1, len(toks) + 1)) - 1 AS pos,
               unnest(toks) AS token
        FROM (SELECT doc_id, {TOKENS} AS toks FROM documents)
    """,
)
def q_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenizer, exploded with 0-based position."""
    return tokenized_docs(spark, sf_dir).select(
        "doc_id", F.posexplode("tokens").alias("pos", "token")
    )


# Deterministic heuristic shared by Spark + oracle: English stopword ratio.
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
_SW_SQL = "', '".join(_STOPWORDS)


@REG.register(
    "q_text_stats",
    oracle=f"""
        SELECT lang,
               count(*) AS n_docs,
               {oracle_davg(f"len({TOKENS})")} AS avg_tokens,
               {oracle_davg("length(text)")} AS avg_chars,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (token/char counts)."""
    return (
        tokenized_docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            davg(F.size("tokens").cast("double"), "avg_tokens"),
            davg(F.length("text").cast("double"), "avg_chars"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


_SW_RATIO = (
    f"CAST(len(list_filter({TOKENS}, t -> t IN ('{_SW_SQL}'))) AS DOUBLE)"
    f" / len({TOKENS})"
)


@REG.register(
    "q_text_langid",
    oracle=f"""
        SELECT doc_id,
               {oracle_round4det(_SW_RATIO)} AS stop_ratio,
               CASE WHEN {_SW_RATIO} >= 0.05
                    THEN 'en_like' ELSE 'other' END AS pred_lang
        FROM documents
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-ratio n-gram-free classifier.

    A deterministic, SQL-expressible stand-in for a real char-n-gram
    language model (the synthetic corpus has no language signal; the
    operator contract — per-doc score + argmax label — is what's tested).
    """
    df = tokenized_docs(spark, sf_dir)
    sw = F.array(*[F.lit(s) for s in _STOPWORDS])
    ratio = (
        F.size(F.filter(F.col("tokens"), lambda t: F.array_contains(sw, t))).cast(
            "double"
        )
        / F.size("tokens")
    )
    return df.select(
        "doc_id",
        round4det(ratio).alias("stop_ratio"),
        F.when(ratio >= 0.05, "en_like").otherwise("other").alias("pred_lang"),
    )


@REG.register(
    "q_text_quality",
    oracle=f"""
        SELECT doc_id,
               len({TOKENS}) AS n_tokens,
               {oracle_round4det(f"CAST(length(text) AS DOUBLE) / len({TOKENS})")}
                   AS avg_token_len,
               {oracle_round4det(
                   f"CAST(len(list_distinct({TOKENS})) AS DOUBLE) / len({TOKENS})"
               )} AS uniq_ratio,
               CASE WHEN len({TOKENS}) BETWEEN 20 AND 90
                         AND CAST(len(list_distinct({TOKENS})) AS DOUBLE)
                             / len({TOKENS}) >= 0.2
                    THEN 1 ELSE 0 END AS keep_flag
        FROM documents
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, mean token length, lexical diversity.

    The keep_flag mirrors LLM-pretraining quality filters (length window
    + repetition screen); thresholds are illustrative constants.
    """
    df = tokenized_docs(spark, sf_dir)
    n_tok = F.size("tokens")
    uniq_ratio = F.size(F.array_distinct("tokens")).cast("double") / n_tok
    return df.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        round4det(F.length("text").cast("double") / n_tok).alias("avg_token_len"),
        round4det(uniq_ratio).alias("uniq_ratio"),
        F.when((n_tok.between(20, 90)) & (uniq_ratio >= 0.2), 1)
        .otherwise(0)
        .alias("keep_flag"),
    )


@REG.register("q_text_tfidf")  # rows-only: HashingTF buckets are impl-specific
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF over tokens via MLlib HashingTF + IDF (the reference's own
    MLlib-transformer idiom, one step past its NGram kernel).

    Hash-bucketed features aren't SQL-reproducible => rows-only; the
    l2-norm invariants are asserted in tests. Output: (doc_id, n_terms,
    tfidf_norm) — scalar projections of the sparse vector, stable.
    """
    from pyspark.ml.feature import IDF, HashingTF
    from pyspark.ml.functions import vector_to_array

    # NULL contract (tools/null_probe.py): NULL text filtered —
    # HashingTF raises on a NULL token array.
    docs = (
        tokenized_docs(spark, sf_dir)
        .filter(F.col("tokens").isNotNull())
        .select("doc_id", "tokens")
    )
    tf = HashingTF(inputCol="tokens", outputCol="_tf", numFeatures=1 << 16)
    tfd = tf.transform(docs)
    # empty-slice contract (empty-probe r11): IDF.fit raises on a
    # 0-row input; the well-defined degenerate answer is an empty
    # frame with the output schema (the q_ml_scaler discipline).
    if tfd.isEmpty():
        return docs.select(
            "doc_id",
            F.lit(None).cast("int").alias("n_terms"),
            F.lit(None).cast("double").alias("tfidf_norm"),
        )
    idf = IDF(inputCol="_tf", outputCol="_tfidf").fit(tfd)
    out = idf.transform(tfd)
    arr = vector_to_array(F.col("_tfidf"))
    return out.select(
        "doc_id",
        F.size(F.filter(arr, lambda x: x != 0)).alias("n_terms"),
        F.round(
            F.sqrt(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x)), 4
        ).alias("tfidf_norm"),
    ).orderBy("doc_id")


@REG.register("q_text_fingerprint")  # rows-only: xxhash64 is Spark-specific
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: min/max xxhash64 over
    character 8-gram shingles of the normalized text — the classic
    rolling-hash near-dup fingerprint (deterministic within Spark).

    Shingles slice a hoisted lowercased-chars array: substring(lower
    (text), i, 8) in the lambda re-lowercases per element AND pays
    UTF8String's O(i) offset scan — O(len^2) per doc (longdoc probe
    r9); the array slice is O(8)."""
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.lower("text"), "").alias("_lc"))
        .withColumn(
            "_fp_hashes",
            F.expr(
                "transform(sequence(1, greatest(size(_lc) - 7, 1)),"
                " i -> xxhash64(array_join(slice(_lc, i, 8), '')))"
            ),
        )
    )
    return d.select(
        "doc_id",
        F.array_min("_fp_hashes").alias("fp_min"),
        F.array_max("_fp_hashes").alias("fp_max"),
        F.size("_fp_hashes").alias("n_shingles"),
    )


#: Winnowing window (Schleimer/Wilkerson/Aiken "local algorithms for
#: document fingerprinting"): every w consecutive shingle hashes
#: contribute their MIN, guaranteeing any match of length >= w + 7
#: chars shares a fingerprint. w=4 over 8-char shingles.
_FP_WINNOW_W = 4


@REG.register(
    "q_text_fingerprint_exact",
    oracle=f"""
        WITH h AS (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(len(text) - 7, 1) + 1),
                       i -> CAST('0x' || substring(
                                md5(substring(lower(text), i, 8)), 1, 8)
                            AS BIGINT)) AS hs
            FROM documents WHERE text IS NOT NULL
        )
        SELECT doc_id,
               list_min(hs) AS fp_min,
               list_max(hs) AS fp_max,
               CAST(len(hs) AS INTEGER) AS n_shingles,
               CAST(len(list_distinct(list_transform(
                   range(1, greatest(len(hs) - {_FP_WINNOW_W - 1}, 1) + 1),
                   j -> list_min(hs[j:j+{_FP_WINNOW_W - 1}])
               ))) AS INTEGER) AS n_winnow
        FROM h
    """,
)
def q_text_fingerprint_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certified winnowing fingerprint: md5-chunk rolling hashes over
    character 8-gram shingles with the window-min (w=4) fingerprint
    selection of Schleimer/Wilkerson/Aiken — the SQL-oracled twin of
    q_text_fingerprint (xxhash64, rows-only since r1), completing the
    hash-family certification program (MinHash / SimHash / Bloom /
    count-min / IVF / RP-LSH twins, the q_dedup_simhash_exact
    discipline; VERDICT r7 "What's missing" item 2).

    Emits per doc: min/max shingle hash (the r1 query's columns, now
    hash-certified values), shingle count, and the DISTINCT winnowed
    fingerprint count (every w-window's min hash — the statistic a
    fingerprint index would store per document).

    Plan: spread scan (single-row-group testdata; the plain scan on
    a many-split 100 TB input) -> ONE per-row projection computing the
    hash array (CollapseProject keeps it single-evaluation: transform()
    is non-cheap, so the 4 consumers below reference the materialized
    column) -> per-row array folds. Zero shuffles, zero joins; the
    md5-per-shingle cost is linear CPU that scales out with splits.

    Determinism: hashes are exact int64s from the first 8 md5 hex
    digits (bit-identical engines); min/max/distinct-count over exact
    ints; the winnow slice clamps identically at the array tail."""
    w = _FP_WINNOW_W
    # lowercased chars hoisted to an array column: the lambda's
    # substring(lower(text), i, 8) re-lowercases per element and pays
    # UTF8String's O(i) offset scan — O(len^2) per doc (longdoc probe
    # r9: 47.3x at equal token mass); slice on the array is O(8) and
    # size(_lc) == length(text) keeps the sequence bound identical
    # (empty text: _lc = [''] joins back to '' like substring did)
    # NULL contract (tools/null_probe.py): no fingerprint for absent
    # text — filtered on BOTH engines (NULL otherwise rides the
    # greatest() clamp into a phantom [NULL] shingle, and the two
    # engines disagree on its winnow count).
    d = (
        load(spark, sf_dir, "documents", spread=True)
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split(F.lower("text"), "").alias("_lc"))
        .withColumn(
            "_hs",
            F.expr(
                "transform(sequence(1, greatest(size(_lc) - 7, 1)),"
                " i -> CAST(conv(substring("
                "md5(array_join(slice(_lc, i, 8), '')),"
                " 1, 8), 16, 10) AS BIGINT))"
            ),
        )
    )
    return d.select(
        "doc_id",
        F.array_min("_hs").alias("fp_min"),
        F.array_max("_hs").alias("fp_max"),
        F.size("_hs").alias("n_shingles"),
        F.size(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(size(_hs) - {w - 1},"
                    f" 1)), j -> array_min(slice(_hs, j, {w})))"
                )
            )
        ).alias("n_winnow"),
    )


@REG.register(
    "q_text_tokens",
    oracle="""
        SELECT doc_id,
               len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_bpe_ish,
               len(regexp_extract_all(text, '[aeiou]+')) AS n_vowel_runs
        FROM documents
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish regex (letter runs | digit runs)."""
    df = load(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+"), 0)).alias(
            "n_bpe_ish"
        ),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[aeiou]+"), 0)).alias(
            "n_vowel_runs"
        ),
    )


@REG.register(
    "q_ngram_chars",
    oracle="""
        SELECT doc_id,
               CAST(greatest(len(text) - 4, 0) AS INTEGER) AS n_shingles,
               CAST(len(list_distinct(
                   list_transform(range(1, greatest(len(text) - 3, 1)),
                                  i -> text[i:i+4])
               )) AS INTEGER) AS n_distinct
        FROM documents
    """,
)
def q_ngram_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 5-gram shingles (the n-gram operator at character
    granularity — the shingling primitive behind MinHash/winnowing):
    per-doc total and distinct shingle counts. Per-row transform only —
    no shuffle.

    Shingles ride a hoisted CHARS array, not substr(text, i, 5):
    UTF8String.substring scans from the string head to find the char
    offset, so per-position substr is O(i) and the doc total O(len^2)
    (longdoc probe r9: 66.2x at equal token mass); slice() on the
    pre-split array indexes directly — O(5) per position. chars is
    referenced twice (sequence bound + lambda) so CollapseProject
    keeps it materialized. The spread load parallelizes the kernel
    across cores on few-split inputs (r10 adjudication: the
    single-row-group bench file ran the whole lambda on ONE task at
    4% cpu — 14.5 -> ~2 s at sf1)."""
    d = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text", F.split("text", "").alias("chars")
    )
    shingles = F.when(
        F.length("text") >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size("chars") - 4),
            lambda i: F.array_join(F.slice("chars", i, 5), ""),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return d.select(
        "doc_id",
        F.greatest(F.length("text") - 4, F.lit(0)).alias("n_shingles"),
        F.size(F.array_distinct(shingles)).alias("n_distinct"),
    )


@REG.register(
    "q_text_collocation",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({ngrams_sql(TOKENS, 1)}) AS w
        FROM documents
        ),
        bi AS (
            SELECT doc_id, unnest({ngrams_sql(TOKENS, 2)}) AS bigram
            FROM documents
        ),
        uni_counts AS (SELECT w, count(*) AS c_w FROM toks GROUP BY w),
        bi_counts AS (
            SELECT bigram, count(*) AS c_ab FROM bi GROUP BY bigram
        ),
        totals AS (
            SELECT (SELECT count(*) FROM toks) AS n_uni,
                   (SELECT count(*) FROM bi) AS n_bi
        )
        SELECT bigram, c_ab,
               {oracle_round4det(
                   "CAST(c_ab * n_uni * n_uni AS DOUBLE)"
                   " / CAST(a.c_w * b.c_w * n_bi AS DOUBLE)"
               )} AS lift
        FROM bi_counts
        JOIN uni_counts a ON a.w = string_split(bigram, ' ')[1]
        JOIN uni_counts b ON b.w = string_split(bigram, ' ')[2]
        CROSS JOIN totals
        WHERE c_ab >= 5
        ORDER BY lift DESC, bigram ASC
        LIMIT 20
    """,
)
def q_text_collocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 bigrams by lift
    p(ab)/(p(a)p(b)) — the PMI argument without the log, so the score
    is a pure ratio of exact integer counts (deterministic across
    engines; log()'s last-ulp variance would risk the 4dp rounding).

    Plan: two exploded aggregations (map-side combined), the unigram
    count table joined twice — broadcast at any scale because the
    vocabulary, not the corpus, bounds it.  The corpus totals are part
    of the SAME plan (1-row aggs over the already-aggregated count
    tables, broadcast-crossJoined in, mirroring the oracle's `totals`
    CTE) — no driver-side .count() action at plan-build time, so the
    whole query is one Spark job and the totals can never go stale."""
    toks = tokenized_docs(spark, sf_dir)
    uni = toks.select(F.explode("tokens").alias("w"))
    bi = ngram_explode(
        toks.select("tokens"), "tokens", 2, out_col="bigram", keep=[]
    )
    uni_counts = uni.groupBy("w").agg(F.count("*").alias("c_w"))
    bi_counts = bi.groupBy("bigram").agg(F.count("*").alias("c_ab"))
    totals = uni_counts.agg(F.sum("c_w").alias("_n_uni")).crossJoin(
        bi_counts.agg(F.sum("c_ab").alias("_n_bi"))
    )
    a = uni_counts.select(F.col("w").alias("_wa"), F.col("c_w").alias("_ca"))
    b = uni_counts.select(F.col("w").alias("_wb"), F.col("c_w").alias("_cb"))
    split = F.split("bigram", " ")
    scored = (
        bi_counts.filter(F.col("c_ab") >= 5)
        .withColumn("_w1", split.getItem(0))
        .withColumn("_w2", split.getItem(1))
        .join(F.broadcast(a), F.col("_w1") == F.col("_wa"))
        .join(F.broadcast(b), F.col("_w2") == F.col("_wb"))
        .crossJoin(F.broadcast(totals))
        .select(
            "bigram",
            "c_ab",
            round4det(
                (F.col("c_ab") * F.col("_n_uni") * F.col("_n_uni")).cast(
                    "double"
                )
                / (
                    F.col("_ca") * F.col("_cb") * F.col("_n_bi")
                ).cast("double")
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.col("lift").desc(), F.col("bigram").asc()).limit(20)


@REG.register(
    "q_ngram_skipgram",
    oracle=f"""
        WITH sg AS (
            SELECT doc_id, unnest({skipgrams_sql(TOKENS, 1)}) AS skipgram
            FROM documents
        )
        SELECT skipgram, count(*) AS n, min(doc_id) AS first_doc
        FROM sg GROUP BY skipgram
        HAVING count(*) >= 5
    """,
)
def q_ngram_skipgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-skip bigrams ((t[i], t[i+2]) pairs) — the context-window
    widening of the reference's n-gram operator — aggregated corpus-
    wide. Same shape as q_ngram_topk: per-row transform, explode, one
    map-side-combined aggregation.

    The tokenizer is hoisted to its OWN projection: split() passed as
    the lambda's array argument re-evaluates once per ELEMENT —
    O(tokens^2) per document (longdoc probe r9: 73.7x at equal token
    mass on 100x-longer docs; hoisted it reads ~1x). skipgram_col
    references toks 4x, so CollapseProject cannot re-inline the
    non-cheap split."""
    from ngram_analytics_spark.operators.ngram import skipgram_col

    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.explode(skipgram_col("toks", 1)).alias("skipgram"),
        )
        .groupBy("skipgram")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n") >= 5)
    )


@REG.register(
    "q_text_filter_pipeline",
    oracle=f"""
        SELECT source,
               count(*) AS n_docs,
               count(*) FILTER (WHERE keep = 1) AS n_kept,
               CAST(sum(n_tokens) FILTER (WHERE keep = 1) AS BIGINT) AS kept_tokens
        FROM (
            SELECT source,
                   len({TOKENS}) AS n_tokens,
                   CASE WHEN len({TOKENS}) BETWEEN 20 AND 90
                             AND CAST(len(list_distinct({TOKENS})) AS DOUBLE)
                                 / len({TOKENS}) >= 0.2
                             AND {_SW_RATIO} >= 0.05
                        THEN 1 ELSE 0 END AS keep
            FROM documents
        )
        GROUP BY source
    """,
)
def q_text_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-filter composite: the quality screen (length window +
    lexical diversity, q_text_quality), the language screen (stopword
    ratio, q_text_langid) and token accounting (q_text_stats) fused
    into the single keep/drop + yield-per-source report a pretraining
    data pipeline emits. One scan, one map-side-combined aggregation —
    the per-doc screens are all scan-stage expressions."""
    df = tokenized_docs(spark, sf_dir)
    n_tok = F.size("tokens")
    uniq_ratio = F.size(F.array_distinct("tokens")).cast("double") / n_tok
    sw = F.array(*[F.lit(s) for s in _STOPWORDS])
    sw_ratio = (
        F.size(
            F.filter(F.col("tokens"), lambda t: F.array_contains(sw, t))
        ).cast("double")
        / n_tok
    )
    keep = F.when(
        n_tok.between(20, 90) & (uniq_ratio >= 0.2) & (sw_ratio >= 0.05), 1
    ).otherwise(0)
    return (
        df.select("source", n_tok.alias("n_tokens"), keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("keep") == 1, 1)).alias("n_kept"),
            F.sum(F.when(F.col("keep") == 1, F.col("n_tokens"))).alias(
                "kept_tokens"
            ),
        )
    )


@REG.register(
    "q_text_tfidf_exact",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, unnest({TOKENS}) AS term FROM documents
        ), c AS (
            SELECT doc_id, term, count(*) AS tf FROM w
            GROUP BY doc_id, term
        ), df AS (
            SELECT term, count(*) AS df FROM c GROUP BY term
        ), totals AS (
            SELECT count(*) AS n_docs FROM documents
        ), scored AS (
            SELECT c.doc_id, c.term,
                   c.tf * log2((CAST(t.n_docs AS DOUBLE) + 1.0)
                               / (CAST(df.df AS DOUBLE) + 1.0)) AS s
            FROM c JOIN df ON c.term = df.term
            CROSS JOIN totals t
        )
        SELECT doc_id,
               count(*) AS n_terms,
               {oracle_round4det(
                   "sqrt(" + oracle_dsum_fixed("s * s", digits=6) + ")"
               )} AS tfidf_norm,
               max_by(term, lpad(CAST(CAST(floor(s * 1000000.0 + 0.5)
                                  AS BIGINT) AS VARCHAR), 15, '0')
                            || '|' || term) AS top_term
        FROM scored
        GROUP BY doc_id
    """,
)
def q_text_tfidf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact term-level TF-IDF (the SQL-certifiable twin of the
    MLlib-HashingTF q_text_tfidf): tf = per-(doc, term) count,
    idf = log2((N+1)/(df+1)), reporting per doc the distinct-term
    count, the l2 norm of the tf-idf vector, and the top-scoring term
    — the relevance weighting a corpus pipeline materializes next to
    its inverted index.

    Determinism: one log2 per distinct (term, df) pair and the final
    4-dp round are the only float surfaces; (tf*idf)^2 terms quantize
    to 1e-6 ticks and sum in int64 (order-free). The top term rides a
    lexicographic max_by key — zero-padded 1e-6-tick score || term —
    because DuckDB's max_by cannot order by a struct; scores are
    non-negative (df <= N so idf >= 0), making the padded-string
    order the numeric order, with ties broken on the larger term.

    Plan: per-(doc, term) counts shuffle once on the compound key;
    the doc-frequency is a COUNT WINDOW over the term key — one more
    exchange of the tf table and done, where the textbook groupBy +
    join-back shuffles the tf table on term TWICE (A/B at sf0.1,
    warm: 1.41 s join-back vs 1.11 s window). The corpus total is a
    1-row agg broadcast-crossJoined in (the q_text_collocation
    discipline — no driver-side count, nothing can go stale). No
    Python anywhere."""
    from pyspark.sql.window import Window as W

    w = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    c = w.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    c = c.withColumn("df", F.count("*").over(W.partitionBy("term")))
    totals = load(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs")
    )
    s = F.col("tf") * F.log2(
        (F.col("n_docs").cast("double") + 1.0)
        / (F.col("df").cast("double") + 1.0)
    )
    scored = (
        c.crossJoin(F.broadcast(totals))
        .select("doc_id", "term", s.alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_terms"),
        round4det(F.sqrt(dsum_fixed(F.col("s") * F.col("s"), digits=6))).alias(
            "tfidf_norm"
        ),
        F.max_by(
            "term",
            F.concat(
                F.lpad(
                    F.floor(F.col("s") * 1e6 + 0.5).cast("long").cast(
                        "string"
                    ),
                    15,
                    "0",
                ),
                F.lit("|"),
                F.col("term"),
            ),
        ).alias("top_term"),
    )


@REG.register(
    "q_text_keywords",
    oracle=f"""
        WITH pos AS (
            SELECT doc_id, CAST(t.i - 1 AS INTEGER) AS p,
                   toks[t.i] AS w,
                   (toks[t.i] IN ('{_SW_SQL}')) AS is_stop
            FROM (SELECT doc_id, {TOKENS} AS toks FROM documents),
                 UNNEST(range(1, len(toks) + 1)) AS t(i)
        ), runs AS (
            SELECT doc_id, p, w,
                   p - row_number() OVER (
                       PARTITION BY doc_id ORDER BY p
                   ) AS grp
            FROM pos WHERE NOT is_stop
        ), phr AS (
            SELECT doc_id, p, w,
                   count(*) OVER (PARTITION BY doc_id, grp) AS plen
            FROM runs
        ), wscore AS (
            SELECT doc_id, w,
                   count(*) AS freq,
                   CAST(sum(plen) AS BIGINT) AS deg
            FROM phr GROUP BY doc_id, w
        ), ranked AS (
            SELECT doc_id, w, freq, deg,
                   row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY CAST(floor(deg * 1000000 / freq) AS BIGINT)
                                DESC,
                                w ASC
                   ) AS rn
            FROM wscore
        )
        SELECT doc_id, w AS keyword, freq, deg,
               (CAST(floor(deg * 1000000 / freq) AS BIGINT)) AS score_ppm
        FROM ranked WHERE rn = 1
    """,
)
def q_text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-style keyword extraction: per document, the top word by
    degree/frequency, where phrases are maximal stopword-free token
    runs (the gaps-and-islands pattern applied to token positions),
    a word's degree is the summed length of every phrase containing
    it (its within-phrase co-occurrence mass, self included) and
    frequency is its occurrence count — Rapid Automatic Keyword
    Extraction's word-scoring core, the cheap unsupervised keyword
    signal pipelines attach before embedding-based tagging.

    Determinism: the score is integer ppm (floor(deg*1e6/freq)) and
    the per-doc argmax breaks ties on the word — pure integer/string
    ordering. Plan: one explode with positions, phrase islands via
    the shared (doc-partitioned) row_number discipline, word scores
    as a (doc, word) aggregate, and a per-doc top-1 window — every
    window keys on doc_id (no unpartitioned windows), every shuffle
    on doc-local keys."""
    pos = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("p", "w"),
        )
        .filter(~F.col("w").isin(*_STOPWORDS))
    )
    wp = Window.partitionBy("doc_id").orderBy("p")
    runs = pos.withColumn(
        "grp", F.col("p") - F.row_number().over(wp)
    )
    phr = runs.withColumn(
        "plen",
        F.count("*").over(Window.partitionBy("doc_id", "grp")),
    )
    wscore = phr.groupBy("doc_id", "w").agg(
        F.count("*").alias("freq"), F.sum("plen").alias("deg")
    )
    score = F.floor(F.col("deg") * 1000000 / F.col("freq")).cast("long")
    wr = Window.partitionBy("doc_id").orderBy(
        score.desc(), F.col("w").asc()
    )
    return (
        wscore.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("w").alias("keyword"),
            "freq",
            "deg",
            score.alias("score_ppm"),
        )
    )


#: shared confusion-cell CTEs (truth = lang=='en', pred = the langid
#: stopword heuristic) — ONE definition consumed by the q_ml_confusion
#: AND q_ml_mcc oracles so the heuristic threshold cannot desync
_CONF_CELLS_SQL = f"""
        p AS (
            SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS truth,
                   CASE WHEN {_SW_RATIO} >= 0.05 THEN 1 ELSE 0 END
                       AS pred
            FROM documents
        ), c AS (
            SELECT
                CAST(sum(truth * pred) AS BIGINT) AS tp,
                CAST(sum((1 - truth) * pred) AS BIGINT) AS fp,
                CAST(sum(truth * (1 - pred)) AS BIGINT) AS fn,
                CAST(sum((1 - truth) * (1 - pred)) AS BIGINT) AS tn
            FROM p
        )
"""


def _confusion_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row (tp, fp, fn, tn) frame for the langid-vs-label confusion —
    the shared Spark kernel under q_ml_confusion and q_ml_mcc (one
    copy of the 0.05 heuristic threshold and the 4-sum algebra)."""
    df = tokenized_docs(spark, sf_dir)
    sw = F.array(*[F.lit(s) for s in _STOPWORDS])
    ratio = (
        F.size(
            F.filter(F.col("tokens"), lambda t: F.array_contains(sw, t))
        ).cast("double")
        / F.size("tokens")
    )
    p = df.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("truth"),
        F.when(ratio >= 0.05, 1).otherwise(0).alias("pred"),
    )
    return p.agg(
        F.sum(F.col("truth") * F.col("pred")).alias("tp"),
        F.sum((1 - F.col("truth")) * F.col("pred")).alias("fp"),
        F.sum(F.col("truth") * (1 - F.col("pred"))).alias("fn"),
        F.sum((1 - F.col("truth")) * (1 - F.col("pred"))).alias("tn"),
    )


@REG.register(
    "q_ml_confusion",
    oracle=f"""
        WITH {_CONF_CELLS_SQL}
        SELECT tp, fp, fn, tn,
               CAST(floor((tp + tn) * 1000000.0 / (tp + fp + fn + tn))
                    AS BIGINT) AS accuracy_ppm,
               CAST(floor(tp * 1000000.0 / NULLIF(tp + fp, 0))
                    AS BIGINT) AS precision_ppm,
               CAST(floor(tp * 1000000.0 / NULLIF(tp + fn, 0))
                    AS BIGINT) AS recall_ppm,
               CAST(floor(2 * tp * 1000000.0
                          / NULLIF(2 * tp + fp + fn, 0))
                    AS BIGINT) AS f1_ppm
        FROM c
    """,
)
def q_ml_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval confusion census for the q_text_langid
    heuristic against the true lang label (en vs non-en): exact
    TP/FP/FN/TN counts plus floor-ppm accuracy / precision / recall /
    F1 — the eval aggregate every filtering-model training loop reads
    before promoting a classifier to the corpus pipeline (with
    q_ml_auc covering the threshold-free ranking view).

    Plan: ONE scan, per-row flag expressions, a single global
    aggregate (map-side combined, 4 integer sums). Nothing shuffles
    but the 4-cell partial aggregates — constant state at any corpus
    size.

    Determinism: integer counts, floor-ppm ratios, NULLIF guards on
    the degenerate all-one-class corpus."""
    c = _confusion_counts(spark, sf_dir)
    tp, fp, fn, tn = (F.col(x) for x in ("tp", "fp", "fn", "tn"))

    def ppm(num, den):
        return F.floor(num * F.lit(1_000_000.0) / F.nullif(den, F.lit(0))).cast(
            "long"
        )

    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        ppm(tp + tn, tp + fp + fn + tn).alias("accuracy_ppm"),
        ppm(tp, tp + fp).alias("precision_ppm"),
        ppm(tp, tp + fn).alias("recall_ppm"),
        ppm(2 * tp, 2 * tp + fp + fn).alias("f1_ppm"),
    )


# -------------------------------------------- chi-square token selection

#: top tokens kept per language class
_CHI2_TOPK = 5


@REG.register(
    "q_ml_chi2",
    oracle=f"""
        WITH dt AS (
            SELECT DISTINCT doc_id, lang,
                   unnest(string_split(lower(text), ' ')) AS tok
            FROM documents
        ), nn AS (
            SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
            FROM documents
        ), tok_df AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS df
            FROM dt GROUP BY tok
        ), lang_df AS (
            SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS nl
            FROM documents GROUP BY lang
        ), cell AS (
            SELECT d.lang, d.tok, CAST(count(*) AS BIGINT) AS a,
                   min(t.df) AS df, min(l.nl) AS nl
            FROM dt d
            JOIN tok_df t ON t.tok = d.tok
            JOIN lang_df l ON l.lang = d.lang
            GROUP BY d.lang, d.tok
        ), x2 AS (
            -- df=n (token in every doc) or nl=n (single-class corpus)
            -- zeroes a denominator: chi2 undefined, row excluded
            SELECT lang, tok, a, df - a AS b, nl - a AS c,
                   (SELECT n FROM nn) - nl - df + a AS d,
                   ((CAST((SELECT n FROM nn) AS DOUBLE)
                     * CAST(a * ((SELECT n FROM nn) - nl - df + a)
                            - (df - a) * (nl - a) AS DOUBLE))
                    / CAST(df * ((SELECT n FROM nn) - df) AS DOUBLE))
                   * (CAST(a * ((SELECT n FROM nn) - nl - df + a)
                           - (df - a) * (nl - a) AS DOUBLE)
                      / CAST(nl * ((SELECT n FROM nn) - nl) AS DOUBLE))
                       AS chi2
            FROM cell
            WHERE df < (SELECT n FROM nn) AND nl < (SELECT n FROM nn)
        )
        SELECT lang, tok, a, b, c, d,
               {oracle_round4det("chi2")} AS chi2
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY lang
                       ORDER BY chi2 DESC, tok ASC) AS rn
            FROM x2
        ) WHERE rn <= {_CHI2_TOPK}
        ORDER BY lang, tok
    """,
)
def q_ml_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature selection: for every (language, token) pair,
    the 2x2 contingency chi-square between document-level token
    presence and class membership, keeping the top {k} tokens per
    language — the classical supervised vocabulary-selection pass a
    text classifier runs before featurization (q_ml_feature_hash is
    its unsupervised complement).

    Determinism: all four contingency cells are exact int64 counts;
    chi2 = (N*x/((a+b)(c+d))) * (x/((a+c)(b+d))) with x = ad - bc is
    spelled as the identical multiply/divide chain on both engines
    over exactly-representable integer-valued doubles, then tie-safe
    round4det; the per-class top-{k} breaks ties on the token string.
    (Cell products ride int64 — exact up to ~3e9 docs per class;
    beyond that the cells would need DECIMAL widening.)

    Plan: ONE distinct (doc, token) explode feeds three
    map-side-combined aggs (cells, token doc-frequency, class sizes);
    token-df joins key on the token, class sizes broadcast (class
    domain); the top-k is a rank-limit window over the (class x vocab)
    aggregate — Spark lowers rn<=k to WindowGroupLimit, bounded per
    map task, never fact rows."""
    d = load(spark, sf_dir, "documents")
    dt = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower("text"), " ")).alias("tok"),
    ).distinct()
    n_total = d.select(F.countDistinct("doc_id").alias("n"))
    tok_df = dt.groupBy("tok").agg(F.count("*").alias("df"))
    lang_df = d.groupBy("lang").agg(F.countDistinct("doc_id").alias("nl"))
    cell = (
        dt.groupBy("lang", "tok")
        .agg(F.count("*").alias("a"))
        .join(tok_df, "tok")
        .join(F.broadcast(lang_df), "lang")
        .crossJoin(F.broadcast(n_total))
    )
    # degenerate guard (ANSI mode): df = n or nl = n zeroes a chi2
    # denominator — the statistic is undefined there (a universal
    # token / single-class corpus carries no selection signal), so
    # the row is excluded on BOTH engines rather than NULLed
    cell = cell.filter(
        (F.col("df") < F.col("n")) & (F.col("nl") < F.col("n"))
    )
    x2 = cell.select(
        "lang",
        "tok",
        "a",
        (F.col("df") - F.col("a")).alias("b"),
        (F.col("nl") - F.col("a")).alias("c"),
        (F.col("n") - F.col("nl") - F.col("df") + F.col("a")).alias("d"),
        F.expr(
            "((cast(n as double)"
            " * cast(a * (n - nl - df + a) - (df - a) * (nl - a)"
            "        as double))"
            " / cast(df * (n - df) as double))"
            " * (cast(a * (n - nl - df + a) - (df - a) * (nl - a)"
            "         as double)"
            "    / cast(nl * (n - nl) as double))"
        ).alias("chi2_raw"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("chi2_raw").desc(), F.col("tok").asc()
    )
    return (
        x2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CHI2_TOPK)
        .select(
            "lang",
            "tok",
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            F.col("c").cast("long").alias("c"),
            F.col("d").cast("long").alias("d"),
            round4det(F.col("chi2_raw")).alias("chi2"),
        )
        .orderBy("lang", "tok")
    )


q_ml_chi2.__doc__ = q_ml_chi2.__doc__.format(k=_CHI2_TOPK)


# ------------------------------------------ windowed co-occurrence

#: symmetric context window (tokens either side) and top-k pairs
_COOC_WIN = 2
_COOC_TOPK = 30


@REG.register(
    "q_text_cooc",
    oracle=f"""
        WITH pos AS (
            SELECT doc_id, CAST(u.i AS BIGINT) AS i,
                   string_split(lower(text), ' ')[u.i] AS w
            FROM documents,
                 UNNEST(range(1, len(string_split(text, ' ')) + 1))
                     AS u(i)
        ), pairs AS (
            SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN b.i - a.i = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_adjacent
            FROM pos a JOIN pos b
              ON a.doc_id = b.doc_id
             AND b.i > a.i AND b.i - a.i <= {_COOC_WIN}
            WHERE a.w != '' AND b.w != ''
            GROUP BY 1, 2
        )
        SELECT w1, w2, n, n_adjacent FROM pairs
        ORDER BY n DESC, w1 ASC, w2 ASC LIMIT {_COOC_TOPK}
    """,
)
def q_text_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed co-occurrence counts (symmetric +/-{w} token window,
    unordered pairs): the corpus statistic embedding trainers consume
    (GloVe factorizes exactly this matrix; word2vec negative sampling
    draws from it) — one window size up from q_text_collocation's
    adjacent-bigram PMI. Top-{k} pairs with total and adjacent-only
    counts.

    Plan: ZERO joins (r9 rewrite — VERDICT r8 "What's wrong" §1: the
    previous doc_id self-join with a band RESIDUAL enumerated all t^2
    position pairs per document before filtering, a skew bomb on a
    100k-token document). The offset lattice is built map-side inside
    the row: for each position i and offset k in 1..{w}, emit the
    (tok[i], tok[i+k], k) struct via nested array transforms — work is
    O(w x tokens) per document BY CONSTRUCTION, then ONE explode and
    ONE map-side-combined pair agg on the vocab x vocab domain;
    top-{k} is a TakeOrdered. At 100 TB the only shuffle is the pair
    agg exchange. tests/test_plans.py asserts the plan is join-free;
    the long-document stress test pins bounded work on a 50k-token
    row.

    Determinism: integer counts; unordered pairs canonicalized with
    least/greatest; ties break on the pair strings (ASCII corpus)."""
    d = load(spark, sf_dir, "documents", spread=True)
    toks = F.split(F.lower("text"), " ")
    # sequence(1, n) is DESCENDING for n=0 (memory: q_bpe_pair_counts
    # lesson) — the outer sequence(1, size-1) needs size >= 2; the
    # inner sequence(1, least(w, size-i)) is then always ascending
    # because i <= size-1 implies size-i >= 1.
    lattice = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(_COOC_WIN), F.size("toks") - i),
                ),
                lambda k: F.struct(
                    F.element_at("toks", i).alias("wa"),
                    F.element_at("toks", (i + k).cast("int")).alias("wb"),
                    k.alias("k"),
                ),
            ),
        )
    )
    pairs = (
        d.select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(F.explode_outer(lattice).alias("pr"))
        .filter(F.col("pr").isNotNull())
        .select("pr.wa", "pr.wb", "pr.k")
        .filter((F.col("wa") != "") & (F.col("wb") != ""))
        .groupBy(
            F.least("wa", "wb").alias("w1"),
            F.greatest("wa", "wb").alias("w2"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_adjacent"),
        )
    )
    return pairs.orderBy(
        F.col("n").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(_COOC_TOPK)


q_text_cooc.__doc__ = q_text_cooc.__doc__.format(
    w=_COOC_WIN, k=_COOC_TOPK
)


# ------------------------------------- chance-corrected agreement

@REG.register(
    "q_ml_mcc",
    oracle=f"""
        WITH {_CONF_CELLS_SQL}
        SELECT tp + fp + fn + tn AS n,
               CAST(floor((tp + fn) * 1000000.0 / (tp + fp + fn + tn))
                    AS BIGINT) AS prevalence_ppm,
               CAST(floor((tp * tn - fp * fn) * 1000000.0
                          / NULLIF(sqrt(CAST((tp + fp) * (tp + fn)
                                             AS DOUBLE))
                                   * sqrt(CAST((tn + fp) * (tn + fn)
                                               AS DOUBLE)), 0))
                    AS BIGINT) AS mcc_ppm,
               CAST(floor(((tp + fp + fn + tn) * (tp + tn)
                           - ((tp + fp) * (tp + fn)
                              + (fn + tn) * (fp + tn))) * 1000000.0
                          / NULLIF((tp + fp + fn + tn)
                                   * (tp + fp + fn + tn)
                                   - ((tp + fp) * (tp + fn)
                                      + (fn + tn) * (fp + tn)), 0))
                    AS BIGINT) AS kappa_ppm,
               CAST(floor(tp * 1000000.0 / NULLIF(tp + fn, 0))
                    + floor(tn * 1000000.0 / NULLIF(tn + fp, 0))
                    - 1000000 AS BIGINT) AS youden_ppm,
               CAST((CAST(floor(tp * 1000000.0 / NULLIF(tp + fn, 0))
                          AS BIGINT)
                     + CAST(floor(tn * 1000000.0 / NULLIF(tn + fp, 0))
                            AS BIGINT)) // 2 AS BIGINT) AS balacc_ppm
        FROM c
    """,
)
def q_ml_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected agreement metrics for the q_text_langid
    heuristic vs the true label: Matthews correlation, Cohen's kappa,
    Youden's J, and balanced accuracy — the imbalance-robust
    complement to q_ml_confusion's raw precision/recall (on a 90%-en
    corpus accuracy 0.9 is the trivial classifier; MCC/kappa are ~0
    there, which is why a corpus-filter promotion gate reads THESE).

    Determinism: kappa is EXACT-integer rational (N*(tp+tn) - pe_num
    over N^2 - pe_num, pe_num = row-marginal product sum); MCC's
    denominator is sqrt(ab)*sqrt(cd) — sqrt is IEEE correctly rounded
    on both engines and each factor product stays < 2^53 exact, so
    the double pipeline is spelled identically; Youden/balanced
    accuracy ride the integer floor-ppm recall/specificity.

    Plan: identical to q_ml_confusion — ONE scan, 4 integer sums,
    constant aggregate state; the metric algebra runs on the 1-row
    aggregate."""
    c = _confusion_counts(spark, sf_dir)
    tp, fp, fn, tn = (F.col(x) for x in ("tp", "fp", "fn", "tn"))
    n = tp + fp + fn + tn
    pe_num = (tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)
    mcc_den = F.sqrt(((tp + fp) * (tp + fn)).cast("double")) * F.sqrt(
        ((tn + fp) * (tn + fn)).cast("double")
    )
    recall_ppm = F.floor(
        tp * F.lit(1_000_000.0) / F.nullif(tp + fn, F.lit(0))
    )
    spec_ppm = F.floor(
        tn * F.lit(1_000_000.0) / F.nullif(tn + fp, F.lit(0))
    )
    return c.select(
        n.cast("long").alias("n"),
        F.floor((tp + fn) * F.lit(1_000_000.0) / n)
        .cast("long")
        .alias("prevalence_ppm"),
        F.floor(
            (tp * tn - fp * fn)
            * F.lit(1_000_000.0)
            / F.nullif(mcc_den, F.lit(0))
        )
        .cast("long")
        .alias("mcc_ppm"),
        F.floor(
            (n * (tp + tn) - pe_num)
            * F.lit(1_000_000.0)
            / F.nullif(n * n - pe_num, F.lit(0))
        )
        .cast("long")
        .alias("kappa_ppm"),
        (recall_ppm + spec_ppm - F.lit(1_000_000))
        .cast("long")
        .alias("youden_ppm"),
        F.expr(
            "(cast(floor(tp * 1000000.0 / nullif(tp + fn, 0)) as bigint)"
            " + cast(floor(tn * 1000000.0 / nullif(tn + fp, 0)) as bigint))"
            " div 2"
        )
        .cast("long")
        .alias("balacc_ppm"),
    )


# ----------------------------------------------------- readability

#: synthetic sentence segmentation: the corpus has no punctuation, so
#: a "sentence" is a 15-token chunk (ceil(words/15)) — deterministic
#: and documented, the schema-adaptation discipline of q_tpch_q21.
_READ_SENT_TOKENS = 15
#: vowel-group count as the syllable proxy (min 1 per word) — the
#: classic cheap estimator; identical regex split on both engines.
_SYL_SPARK = (
    "greatest(1, size(split(lower(tok), '[aeiou]+')) - 1)"
)
_SYL_SQL = (
    "greatest(1, len(string_split_regex(lower(tok), '[aeiou]+')) - 1)"
)


@REG.register(
    "q_text_readability",
    oracle=f"""
        WITH v AS (
            SELECT lang, tok, CAST(count(*) AS BIGINT) AS f
            FROM (
                SELECT lang, unnest(string_split(text, ' ')) AS tok
                FROM documents
            )
            WHERE tok IS NOT NULL AND tok != ''
            GROUP BY lang, tok
        ), syl AS (
            SELECT lang,
                   CAST(sum(f * {_SYL_SQL}) AS BIGINT) AS n_syllables,
                   CAST(sum(CASE WHEN {_SYL_SQL} >= 3 THEN f ELSE 0
                            END) AS BIGINT) AS n_poly
            FROM v GROUP BY lang
        ), dc AS (
            SELECT lang,
                   CAST(sum(w) AS BIGINT) AS n_words,
                   CAST(sum((w + {_READ_SENT_TOKENS - 1})
                            // {_READ_SENT_TOKENS}) AS BIGINT)
                       AS n_sents
            FROM (
                SELECT lang, len(string_split(text, ' ')) AS w
                FROM documents
            ) GROUP BY lang
        )
        SELECT dc.lang, dc.n_words, dc.n_sents,
               syl.n_syllables, syl.n_poly,
               CAST(206835 - (1015 * dc.n_words // dc.n_sents)
                           - (84600 * syl.n_syllables // dc.n_words)
                    AS BIGINT) AS fre_milli
        FROM dc JOIN syl USING (lang)
        ORDER BY dc.lang
    """,
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease census per language with a vowel-group
    syllable proxy and {st}-token synthetic sentences (the corpus has
    no punctuation): words, sentences, syllables, polysyllabic words
    (>= 3 vowel groups), and FRE x 1000 = 206835 - 1015*(words/sents)
    - 84600*(sylls/words) with floored integer terms — the quality
    dial a curation pipeline reads next to q_text_quality's
    length/stopword heuristics. Closed-form fixture pin in
    tests/test_statistic_fixtures.py (the r10 statistic-key
    convention).

    Plan: the syllable side runs on the DISTINCT (lang, token)
    vocabulary with frequency weights (the q_bpe_pair_counts
    compression — the regex splits once per TYPE, not per
    occurrence); the sentence side is a per-doc arithmetic projection
    + lang rollup; one lang-domain join joins the two. No windows,
    no fact joins.

    Determinism: exact integer counts; FRE terms are integer floor
    divisions. Headroom: the syllable mass sum(f * syllables) is
    LINEAR in corpus tokens (syllables per type is a per-word
    constant ~O(10), not a count), int64-safe to ~9e17 tokens —
    far past 100 TB, no 128-bit widening needed."""
    v = (
        load(spark, sf_dir, "documents", spread=True)
        .select(
            "lang", F.explode_outer(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("f"))
    )
    syl = v.groupBy("lang").agg(
        F.expr(f"sum(f * {_SYL_SPARK})").cast("long").alias("n_syllables"),
        F.expr(f"sum(case when {_SYL_SPARK} >= 3 then f else 0 end)")
        .cast("long")
        .alias("n_poly"),
    )
    dc = (
        load(spark, sf_dir, "documents")
        .select(
            "lang", F.size(F.split("text", " ")).alias("w")
        )
        .groupBy("lang")
        .agg(
            F.sum("w").cast("long").alias("n_words"),
            F.sum(
                F.expr(
                    f"(w + {_READ_SENT_TOKENS - 1})"
                    f" div {_READ_SENT_TOKENS}"
                )
            )
            .cast("long")
            .alias("n_sents"),
        )
    )
    return (
        dc.join(syl, "lang")
        .select(
            "lang",
            "n_words",
            "n_sents",
            "n_syllables",
            "n_poly",
            (
                F.lit(206835)
                - F.expr("1015 * n_words div n_sents")
                - F.expr("84600 * n_syllables div n_words")
            )
            .cast("long")
            .alias("fre_milli"),
        )
        .orderBy("lang")
    )


q_text_readability.__doc__ = q_text_readability.__doc__.format(
    st=_READ_SENT_TOKENS
)


# ------------------------------------------------- learning curve

#: id-ordered eval-prefix grid (the q_vocab_growth geometry).
_LC_GRID = (4, 16, 64, 256, 1024)


@REG.register(
    "q_ml_learning_curve",
    oracle=f"""
        WITH p AS (
            SELECT doc_id,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS truth,
                   CASE WHEN {_SW_RATIO} >= 0.05 THEN 1 ELSE 0 END
                       AS pred
            FROM documents
        ), grid AS (
            SELECT unnest([{", ".join(str(g) for g in _LC_GRID)}]) AS g
        ), c AS (
            SELECT g,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(truth * pred) AS BIGINT) AS tp,
                   CAST(sum((1 - truth) * pred) AS BIGINT) AS fp,
                   CAST(sum(truth * (1 - pred)) AS BIGINT) AS fn,
                   CAST(sum((1 - truth) * (1 - pred)) AS BIGINT) AS tn
            FROM grid JOIN p ON p.doc_id < grid.g
            GROUP BY g
        )
        SELECT CAST(g AS BIGINT) AS g, n_docs, tp, fp, fn, tn,
               CAST(floor((tp + tn) * 1000000.0 / n_docs) AS BIGINT)
                   AS accuracy_ppm,
               CAST(floor(2 * tp * 1000000.0
                          / NULLIF(2 * tp + fp + fn, 0)) AS BIGINT)
                   AS f1_ppm
        FROM c
        ORDER BY g
    """,
)
def q_ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-vs-eval-size curve for the q_text_langid heuristic:
    the full confusion census re-evaluated on the id-ordered corpus
    prefixes {grid} (the q_vocab_growth grid) — accuracy and F1 as a
    function of how much evaluation data the gate has seen, the
    stability read a pipeline does before trusting a small holdout
    (a metric still swinging between the 256- and 1024-doc prefixes
    is not converged, whatever its point value says).

    Plan: ONE tokenized scan projects per-doc (truth, pred), the
    broadcast {n}-point grid fans each doc into its covering
    prefixes, ONE map-side-combined groupBy to {n} rows. The metric
    algebra runs on the {n}-row rollup; every cell is an integer
    count, every rate one floor.

    Determinism: the 0.05 heuristic threshold and stopword list are
    the shared q_ml_confusion constants (one definition — the
    desync-proofing discipline of _CONF_CELLS_SQL). Headroom (r11
    tick-sum audit): the truth * pred confusion sums are 0/1 products
    — plain counts, int64-safe to 9.2e18 rows."""
    df = tokenized_docs(spark, sf_dir)
    sw = F.array(*[F.lit(s) for s in _STOPWORDS])
    ratio = (
        F.size(
            F.filter(F.col("tokens"), lambda t: F.array_contains(sw, t))
        ).cast("double")
        / F.size("tokens")
    )
    p = df.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("truth"),
        F.when(ratio >= 0.05, 1).otherwise(0).alias("pred"),
    )
    grid = spark.createDataFrame([(g,) for g in _LC_GRID], "g long")
    c = (
        p.crossJoin(F.broadcast(grid))
        .filter(F.col("doc_id") < F.col("g"))
        .groupBy("g")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("truth") * F.col("pred"))
            .cast("long")
            .alias("tp"),
            F.sum((1 - F.col("truth")) * F.col("pred"))
            .cast("long")
            .alias("fp"),
            F.sum(F.col("truth") * (1 - F.col("pred")))
            .cast("long")
            .alias("fn"),
            F.sum((1 - F.col("truth")) * (1 - F.col("pred")))
            .cast("long")
            .alias("tn"),
        )
    )
    return c.select(
        "g",
        "n_docs",
        "tp",
        "fp",
        "fn",
        "tn",
        F.floor(
            (F.col("tp") + F.col("tn")) * F.lit(1_000_000.0) / F.col("n_docs")
        )
        .cast("long")
        .alias("accuracy_ppm"),
        F.floor(
            2
            * F.col("tp")
            * F.lit(1_000_000.0)
            / F.nullif(
                2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0)
            )
        )
        .cast("long")
        .alias("f1_ppm"),
    ).orderBy("g")


q_ml_learning_curve.__doc__ = q_ml_learning_curve.__doc__.format(
    grid=_LC_GRID, n=len(_LC_GRID)
)


# ------------------------------------------- Cramer's V association

@REG.register(
    "q_ml_cramers_v",
    oracle="""
        WITH o AS (
            SELECT lang, source, CAST(count(*) AS BIGINT) AS o
            FROM documents GROUP BY 1, 2
        ), mr AS (
            SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM o GROUP BY 1
        ), mc AS (
            SELECT source, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT lang) AS BIGINT) AS nr,
                   CAST(count(DISTINCT source) AS BIGINT) AS nc
            FROM o
        ), grid AS (
            -- the FULL contingency grid: unobserved (lang, source)
            -- cells still contribute (0 - e)^2/e to chi-square
            SELECT mr.lang, mc.source, mr.r, mc.c,
                   coalesce(o.o, 0) AS o
            FROM mr CROSS JOIN mc
            LEFT JOIN o ON o.lang = mr.lang AND o.source = mc.source
        ), terms AS (
            SELECT CAST(sum(
                       CAST(g.o * t.n - g.r * g.c AS HUGEINT)
                       * (g.o * t.n - g.r * g.c) * 1000000
                       // (CAST(t.n AS HUGEINT) * g.r * g.c)
                   ) AS BIGINT) AS chi2_ppm,
                   CAST(max(t.n) AS BIGINT) AS n,
                   CAST(max(t.nr) AS BIGINT) AS nr,
                   CAST(max(t.nc) AS BIGINT) AS nc
            FROM grid g CROSS JOIN tot t
        )
        SELECT n, nr AS n_langs, nc AS n_sources, chi2_ppm,
               CAST(floor(sqrt(
                   CAST(chi2_ppm AS DOUBLE) / 1000000.0
                   / (n * least(nr - 1, nc - 1))) * 1000.0) AS BIGINT)
                   AS cramers_v_milli
        FROM terms
    """,
)
def q_ml_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V association between the two categorical corpus axes
    (lang x source): the normalized chi-square in [0, 1] — "are my
    sources language-balanced or does each source bring its own
    language?" — the corpus-composition diagnostic upstream of
    q_mix_budget / q_sample_balanced (a high V means you cannot
    rebalance one axis without skewing the other); per-token
    supervised selection is q_ml_chi2's job, this is the table-level
    verdict.

    Determinism: each chi-square term rides the exact integer identity
    (o*n - r*c)^2 / (n*r*c) with ONE ppm floor per cell (term-wise
    floor, the q_ml_auc_pr discipline) — products in
    HUGEINT/DECIMAL(38,0) from day one (o*n ~ n^2 wraps int64 at
    n ~ 3e9); V takes one sqrt of the identical double. The grid is
    the FULL marginal cross product, so unobserved cells pay their
    (0 - e)^2/e — the perfect-association fixture (V must read
    exactly 1) is what catches the observed-cells-only bug.

    Plan: ONE scan -> (lang, source)-domain cell rollup (map-side
    combined); marginals re-aggregate the CELLS, never the facts;
    everything after the first groupBy lives on the |langs|x|sources|
    grid."""
    d = load(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("o")
    )
    mr = o.groupBy("lang").agg(F.sum("o").cast("long").alias("r"))
    mc = o.groupBy("source").agg(F.sum("o").cast("long").alias("c"))
    tot = o.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("lang").cast("long").alias("nr"),
        F.countDistinct("source").cast("long").alias("nc"),
    )
    dec = "decimal(38,0)"
    # the FULL |langs| x |sources| grid — unobserved cells still owe
    # (0 - e)^2/e to chi-square; the cell rollup alone underestimates
    grid = (
        mr.crossJoin(F.broadcast(mc))
        .join(o, ["lang", "source"], "left")
        .select(
            "r", "c", F.coalesce(F.col("o"), F.lit(0)).alias("o")
        )
    )
    terms = (
        grid.crossJoin(F.broadcast(tot))
        .agg(
            F.expr(
                f"sum(cast(o * n - r * c as {dec})"
                f" * (o * n - r * c) * 1000000"
                f" div (cast(n as {dec}) * r * c))"
            )
            .cast("long")
            .alias("chi2_ppm"),
            F.max("n").cast("long").alias("n"),
            F.max("nr").cast("long").alias("nr"),
            F.max("nc").cast("long").alias("nc"),
        )
    )
    return terms.select(
        "n",
        F.col("nr").alias("n_langs"),
        F.col("nc").alias("n_sources"),
        "chi2_ppm",
        F.floor(
            F.sqrt(
                F.col("chi2_ppm").cast("double")
                / F.lit(1000000.0)
                / (F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1))
            )
            * F.lit(1000.0)
        )
        .cast("long")
        .alias("cramers_v_milli"),
    )


# ------------------------------------------------- mutual information

@REG.register(
    "q_ml_mutual_info",
    oracle="""
        WITH o AS (
            SELECT lang, source, CAST(count(*) AS BIGINT) AS n_cell
            FROM documents GROUP BY 1, 2
        ), mr AS (
            SELECT lang, CAST(sum(n_cell) AS BIGINT) AS r
            FROM o GROUP BY 1
        ), mc AS (
            SELECT source, CAST(sum(n_cell) AS BIGINT) AS c
            FROM o GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(n_cell) AS BIGINT) AS n FROM o
        )
        SELECT o.lang, o.source, o.n_cell,
               CAST(floor(abs(
                       (CAST(o.n_cell AS DOUBLE) / t.n)
                       * ln(CAST(o.n_cell AS DOUBLE) * t.n
                            / (CAST(mr.r AS DOUBLE) * mc.c))
                   ) * 1000000.0 + 0.5) AS BIGINT)
               * (CASE WHEN CAST(o.n_cell AS DOUBLE) * t.n
                            < CAST(mr.r AS DOUBLE) * mc.c THEN -1
                       WHEN CAST(o.n_cell AS DOUBLE) * t.n
                            > CAST(mr.r AS DOUBLE) * mc.c THEN 1
                       ELSE 0 END) AS mi_term_micronat
        FROM o
        JOIN mr ON o.lang = mr.lang
        JOIN mc ON o.source = mc.source
        CROSS JOIN tot t
        ORDER BY o.lang, o.source
    """,
)
def q_ml_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual-information census of the (lang, source)
    contingency: per cell, p_ij * ln(p_ij / (p_i p_j)) in micro-nats —
    the summands of MI(lang; source), the information-theoretic twin
    of q_ml_cramers_v (chi-square weighs squared deviations, MI weighs
    log surprise; together they bracket the association) with per-cell
    attribution of WHICH lang/source pairs carry the dependence.

    Determinism: the cell/marginal masses are exact int64; each term
    takes ONE ln of the exact integer ratio n_cell*n / (r*c) quantized
    half-up to 1e-6 (sign split — cells above/below independence carry
    opposite signs; the q_text_entropy log discipline). Zero cells are
    absent on BOTH engines (lim p->0 of the term is 0).

    Plan: identical to q_ml_cramers_v — one fact pass to the cell
    grid, marginals from the cells, broadcast scalars."""
    d = load(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_cell")
    )
    mr = o.groupBy("lang").agg(F.sum("n_cell").cast("long").alias("r"))
    mc = o.groupBy("source").agg(
        F.sum("n_cell").cast("long").alias("c")
    )
    tot = o.agg(F.sum("n_cell").cast("long").alias("n"))
    lhs = F.col("n_cell").cast("double") * F.col("n")
    rhs = F.col("r").cast("double") * F.col("c")
    term = (F.col("n_cell").cast("double") / F.col("n")) * F.log(
        F.col("n_cell").cast("double")
        * F.col("n")
        / (F.col("r").cast("double") * F.col("c"))
    )
    return (
        o.join(mr, "lang")
        .join(F.broadcast(mc), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_cell",
            (
                F.floor(F.abs(term) * 1e6 + F.lit(0.5))
                * F.signum(lhs - rhs)
            )
            .cast("long")
            .alias("mi_term_micronat"),
        )
        .orderBy("lang", "source")
    )


# --------------------------------------------- filter-rejection census

@REG.register(
    "q_filter_reasons",
    oracle=f"""
        WITH g AS (
            SELECT source,
                   len({TOKENS}) AS n_tokens,
                   (CASE WHEN len({TOKENS}) BETWEEN 20 AND 90
                         THEN 0 ELSE 1 END)
                   + 2 * (CASE WHEN CAST(len(list_distinct({TOKENS}))
                                        AS DOUBLE) / len({TOKENS}) >= 0.2
                               THEN 0 ELSE 1 END)
                   + 4 * (CASE WHEN {_SW_RATIO} >= 0.05
                               THEN 0 ELSE 1 END) AS reason_mask
            FROM documents
        )
        SELECT source, reason_mask,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM g GROUP BY 1, 2
        ORDER BY 1, 2
    """,
)
def q_filter_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-REJECTION census: the q_text_filter_pipeline gates
    (length window / lexical diversity / stopword ratio — the SAME
    shared constants, one definition) decomposed into a per-document
    reason bitmask (bit 0 = length fail, bit 1 = diversity fail,
    bit 2 = stopword fail; 0 = kept) and counted per (source, mask) —
    the "WHY did 40% of source X get dropped" report every pipeline
    retro needs; q_text_filter_pipeline tells you the yield, this
    tells you which gate to retune (and mask co-occurrence separates
    "two independent problems" from "one broken feed").

    Determinism: pure integer bitmask + counts; no float surface
    beyond the exact-rational gate comparisons shared with the
    certified filter query.

    Plan: ONE spread scan (the per-row array kernels otherwise run on
    the single-row-group scan task: 2.5x at sf1 without it, the
    q_dedup_jaccard discipline), per-row scan-stage gate expressions,
    ONE map-side-combined groupBy to <= |sources| x 8 rows."""
    df = tokenized_docs(spark, sf_dir, spread=True)
    n_tok = F.size("tokens")
    uniq_ratio = F.size(F.array_distinct("tokens")).cast("double") / n_tok
    sw = F.array(*[F.lit(s) for s in _STOPWORDS])
    sw_ratio = (
        F.size(
            F.filter(F.col("tokens"), lambda t: F.array_contains(sw, t))
        ).cast("double")
        / n_tok
    )
    mask = (
        F.when(n_tok.between(20, 90), 0).otherwise(1)
        + 2 * F.when(uniq_ratio >= 0.2, 0).otherwise(1)
        + 4 * F.when(sw_ratio >= 0.05, 0).otherwise(1)
    )
    return (
        df.select(
            "source",
            n_tok.alias("n_tokens"),
            mask.cast("long").alias("reason_mask"),
        )
        .groupBy("source", "reason_mask")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("source", "reason_mask")
    )
