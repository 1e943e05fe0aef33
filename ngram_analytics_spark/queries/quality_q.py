"""Data-quality and corpus-hygiene queries: PII redaction, overlapping
document chunking, token-entropy scoring, gaps-and-islands activity
detection, bitwise aggregates, and printf-style formatting parity.

The reference engine has no counterpart (its sole operator is the
n-gram transform, NGramTransform.java:95-134); these extend the
SURVEY.md §2.B training-data-pipeline family with the hygiene passes an
LLM data pipeline runs before export — scrubbing PII, splitting long
documents into overlapping context windows, and flagging low-entropy
(repetitive / degenerate) text.

Scale notes: every query is one scan -> narrow per-row expressions ->
at most one map-side-combined aggregation or one keyed window. The PII
and chunking passes are pure scan-stage projection (no shuffle at all
until the optional aggregate); nothing collects on the driver and no
Python UDF sits in any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ngram_analytics_spark.catalog import load
from ngram_analytics_spark.functions.deterministic import (
    oracle_round4det,
    oracle_dsum_fixed,
    round4det,
    dsum_fixed,
)
from ngram_analytics_spark.registry import QueryRegistry

REG = QueryRegistry()

#: PII patterns — RE2 (DuckDB) and java.util.regex (Spark) common
#: subset only: character classes and bounded repeats, no lookaround,
#: no backreferences.
_RE_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_RE_PHONE = "\\+1-555-[0-9]{4}"
_RE_IP = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

#: chunking geometry: 32-token windows every 24 tokens (8-token overlap)
_CHUNK = 32
_STRIDE = 24

#: islands: a >300 s silence starts a new activity island
_ISLAND_GAP_S = 300


@REG.register(
    "q_text_pii",
    oracle=f"""
        WITH p AS (
            SELECT doc_id,
                   concat(source, '.', CAST(doc_id AS VARCHAR),
                          '@mail.example call +1-555-',
                          lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                          ' from 10.', CAST(doc_id % 256 AS VARCHAR),
                          '.0.1 ', coalesce(text, '')) AS t
            FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(t, '{_RE_EMAIL}')) AS n_emails,
               len(regexp_extract_all(t, '{_RE_PHONE}')) AS n_phones,
               len(regexp_extract_all(t, '{_RE_IP}')) AS n_ips,
               substr(regexp_replace(regexp_replace(regexp_replace(
                   t, '{_RE_EMAIL}', '<EMAIL>', 'g'),
                      '{_RE_PHONE}', '<PHONE>', 'g'),
                      '{_RE_IP}', '<IP>', 'g'), 1, 80) AS red_head
        FROM p
    """,
)
def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: count and scrub emails, phone numbers
    and IPv4 addresses — the compliance pass a training-data pipeline
    runs before export. The synthetic corpus carries no natural PII, so
    the plan plants a deterministic PII-bearing header derived from
    existing columns and then detects/redacts it, exercising the real
    machinery (count + 3-stage chained redaction) end to end.

    Patterns stay inside the RE2/java.util.regex common subset so both
    engines compile the identical automaton. Pure scan-stage
    projection: no shuffle, no Python — regexp_count/regexp_replace are
    codegen'd JVM expressions, and at 100 TB this is the ideal shape
    (row-parallel, no state, pushdown-friendly).

    NULL contract (tools/null_probe.py): text coalesces to '' inside
    the concat on BOTH engines — Spark's concat is NULL-propagating
    while DuckDB's skips NULLs, the one concat-semantics divergence
    the probe caught; the scrubber still scans the planted header of
    a body-less doc."""
    p = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        F.concat(
            F.col("source"),
            F.lit("."),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example call +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.1 "),
            F.coalesce(F.col("text"), F.lit("")),
        ).alias("t"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _RE_EMAIL, "<EMAIL>"),
            _RE_PHONE,
            "<PHONE>",
        ),
        _RE_IP,
        "<IP>",
    )
    return p.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(_RE_EMAIL)).alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(_RE_PHONE)).alias("n_phones"),
        F.regexp_count(F.col("t"), F.lit(_RE_IP)).alias("n_ips"),
        F.substring(red, 1, 80).alias("red_head"),
    )


@REG.register(
    "q_text_chunk",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), s AS (
            SELECT doc_id, toks,
                   unnest(range(0, len(toks), {_STRIDE})) AS start
            FROM t
        )
        SELECT doc_id,
               start // {_STRIDE} AS chunk_idx,
               len(list_slice(toks, start + 1, start + {_CHUNK}))
                   AS n_toks,
               toks[start + 1] AS head_tok,
               list_slice(toks, start + 1, start + {_CHUNK})[-1] AS last_tok
        FROM s
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping document chunking: split each document into
    {_CHUNK}-token context windows every {_STRIDE} tokens (8-token
    overlap) — how a training pipeline turns long documents into
    model-sized sequences without losing cross-boundary context.

    Plan: one split + one explode of the stride lattice (sequence()),
    then pure array slicing per chunk — a 1:N row expansion identical
    in shape to the certified frame-sampling and n-gram explodes. The
    slice happens on the exploded row, so Tungsten never materializes
    more than one (doc, start) pair per output chunk. At 100 TB this
    is scan-stage work: no shuffle, no state."""
    t = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    s = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(
                F.lit(0), F.size("toks") - 1, F.lit(_STRIDE)
            )
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, _CHUNK)
    return s.select(
        "doc_id",
        F.floor(F.col("start") / _STRIDE).alias("chunk_idx"),
        F.size(chunk).alias("n_toks"),
        F.element_at(F.col("toks"), F.col("start") + 1).alias("head_tok"),
        F.element_at(chunk, -1).alias("last_tok"),
    )


@REG.register(
    "q_text_entropy",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents
        ), c AS (
            SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w
        )
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_toks,
               count(*) AS n_types,
               {oracle_round4det(
                   "log2(CAST(sum(c) AS DOUBLE)) - "
                   + oracle_dsum_fixed(
                       "CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))",
                       digits=6,
                   )
                   + " / sum(c)"
               )} AS entropy,
               {oracle_round4det(
                   "CAST(count(*) AS DOUBLE) / sum(c)"
               )} AS ttr
        FROM c GROUP BY doc_id
    """,
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-entropy quality scoring: per-document Shannon entropy of
    the token distribution plus type-token ratio — the repetitiveness
    signal pipelines use to drop degenerate documents (boilerplate
    loops, keyword stuffing) before training.

    Entropy is computed in the algebraic form log2(n) - sum(c*log2 c)/n
    so the per-row term is quantized to 1e-6 ticks and summed exactly
    in int64 (order-independent across partitionings and engines); the
    only cross-engine float surface is one log2 per distinct token and
    the final 4-dp round — the q_fn_trig determinism discipline. Two
    map-side-combined aggregations, no Python. Headroom (r11 tick-sum
    audit): the summed tick term is <= 1e6 * log2(c) per distinct
    token — int64-safe past 1e11 distinct tokens per doc."""
    w = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    c = w.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    n = F.sum("c")
    plogp = dsum_fixed(
        F.col("c").cast("double") * F.log2(F.col("c").cast("double")),
        digits=6,
    )
    return c.groupBy("doc_id").agg(
        n.alias("n_toks"),
        F.count("*").alias("n_types"),
        round4det(F.log2(n.cast("double")) - plogp / n).alias("entropy"),
        round4det(F.count("*").cast("double") / n).alias("ttr"),
    )


@REG.register(
    "q_ts_islands",
    oracle=f"""
        WITH o AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN date_diff('second',
                            lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id),
                            ts) > {_ISLAND_GAP_S}
                         OR lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS brk
            FROM events
        ), i AS (
            SELECT user_id, ts,
                   sum(brk) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS island
            FROM o
        ), g AS (
            SELECT user_id, island, count(*) AS n,
                   date_diff('second', min(ts), max(ts)) AS dur_s
            FROM i GROUP BY user_id, island
        )
        SELECT user_id,
               count(*) AS n_islands,
               CAST(sum(n) AS BIGINT) AS n_events,
               max(n) AS max_island_len,
               max(dur_s) AS max_island_dur_s
        FROM g GROUP BY user_id
    """,
)
def q_ts_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: contiguous activity runs per user, where a
    silence longer than {_ISLAND_GAP_S} s starts a new island — the
    classic sessionization-by-cumulative-break-count SQL pattern
    (complementary to q_stream_session's session_window operator:
    same semantics, window-function formulation).

    Plan: one shuffle on user_id feeds BOTH window passes; both order
    by (ts, event_id), so they share ONE sort as well as the exchange
    (Spark plans one Exchange, one Sort, two Window nodes) and the
    same partitioning then serves the (user, island) aggregate
    map-side. The shared tiebreak also makes island membership
    deterministic when a brk=1 row ties on ts with siblings: a
    ts-only running sum would assign the tie group to the old vs new
    island per engine's internal row order (ADVICE r3)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    o = load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (gap_s > _ISLAND_GAP_S) | F.lag("ts").over(w).isNull(), 1
        )
        .otherwise(0)
        .alias("brk"),
    )
    i = o.select(
        "user_id",
        "ts",
        F.sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    g = i.groupBy("user_id", "island").agg(
        F.count("*").alias("n"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("dur_s"),
    )
    return g.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum("n").alias("n_events"),
        F.max("n").alias("max_island_len"),
        F.max("dur_s").alias("max_island_dur_s"),
    )


@REG.register(
    "q_agg_bitwise",
    oracle="""
        SELECT o_orderstatus,
               count(*) AS n,
               bit_and(o_custkey) AS and_cust,
               bit_or(o_custkey) AS or_cust,
               bit_xor(o_orderkey) AS xor_key
        FROM orders
        GROUP BY o_orderstatus
    """,
)
def q_agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (bit_and / bit_or / bit_xor) — the
    bitmap-accumulator aggregates behind permission masks, feature
    flags and xor-checksums. All three are commutative/associative, so
    Spark runs them map-side-combined in one shuffle on the 3-value
    status key (complements q_fn_bitwise's scalar operators)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.bit_and("o_custkey").alias("and_cust"),
        F.bit_or("o_custkey").alias("or_cust"),
        F.bit_xor("o_orderkey").alias("xor_key"),
    )


@REG.register(
    "q_fn_format",
    oracle="""
        SELECT p_partkey,
               printf('%s|%05d|%09d', p_brand, p_partkey,
                      CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
                   AS part_code,
               printf('sz=%03d', p_size) AS size_code,
               hex(p_partkey) AS key_hex,
               concat_ws('-', p_brand, CAST(p_size AS VARCHAR)) AS brand_size
        FROM part
    """,
)
def q_fn_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """printf-style formatting parity: format_string/printf with %s,
    zero-padded %d widths, hex(), and concat_ws — the deterministic
    record-id/file-name construction used by export and shard writers.
    Prices format as integer cents (deterministic fixed-point), never
    %f — C and Java printf disagree on float midpoint rounding."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.format_string(
            "%s|%05d|%09d",
            F.col("p_brand"),
            F.col("p_partkey"),
            F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long"),
        ).alias("part_code"),
        F.format_string("sz=%03d", F.col("p_size")).alias("size_code"),
        F.hex(F.col("p_partkey")).alias("key_hex"),
        F.concat_ws(
            "-", F.col("p_brand"), F.col("p_size").cast("string")
        ).alias("brand_size"),
    )


@REG.register(
    "q_fn_binary",
    oracle="""
        SELECT p_partkey,
               base64(encode(p_name)) AS name_b64,
               decode(from_base64(base64(encode(p_name)))) AS name_rt,
               hex(p_name) AS name_hex,
               decode(unhex(hex(p_name))) AS name_unhex_rt,
               bit_length(p_name) AS name_bits,
               octet_length(encode(p_name)) AS name_bytes
        FROM part
    """,
)
def q_fn_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec family: base64 and hex encode/decode round-trips
    plus bit/byte lengths — the payload-safe serialization path export
    writers use for binary columns inside text formats (JSON/CSV).
    Pure scan-stage codegen expressions; round-trips certify that both
    directions agree byte-for-byte across engines."""
    p = load(spark, sf_dir, "part")
    b64 = F.base64(F.encode("p_name", "UTF-8"))
    hx = F.hex(F.col("p_name"))
    return p.select(
        "p_partkey",
        b64.alias("name_b64"),
        F.decode(F.unbase64(b64), "UTF-8").alias("name_rt"),
        hx.alias("name_hex"),
        F.decode(F.unhex(hx), "UTF-8").alias("name_unhex_rt"),
        F.bit_length("p_name").alias("name_bits"),
        F.octet_length(F.encode("p_name", "UTF-8")).alias("name_bytes"),
    )


#: paragraph-dedup geometry: NON-overlapping 32-token chunks (stride =
#: chunk so every token belongs to exactly one "paragraph")
_PARA = 32


@REG.register(
    "q_dedup_paragraph",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), s AS (
            SELECT doc_id, toks,
                   unnest(range(0, len(toks), {_PARA})) AS start
            FROM t
        ), ch AS (
            SELECT doc_id,
                   md5(array_to_string(
                       list_slice(toks, start + 1, start + {_PARA}), ' '
                   )) AS h
            FROM s
        ), df AS (
            SELECT h, count(*) AS c FROM ch GROUP BY h
        )
        SELECT doc_id,
               count(*) AS n_paras,
               CAST(sum(CASE WHEN df.c > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup,
               {oracle_round4det(
                   "CAST(sum(CASE WHEN df.c > 1 THEN 1 ELSE 0 END)"
                   " AS DOUBLE) / count(*)"
               )} AS dup_ratio
        FROM ch JOIN df USING (h)
        GROUP BY doc_id
    """,
)
def q_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (paragraph-level) exact dedup: split every document
    into non-overlapping {_PARA}-token paragraphs, hash each, and
    report per document how much of it duplicates a paragraph seen
    anywhere in the corpus — the line/paragraph-level dedup pass (the
    CCNet discipline) pipelines run BEFORE whole-document dedup,
    because boilerplate-heavy pages are near-unique at document
    granularity while being mostly duplicated text.

    Plan: the chunk lattice explodes scan-side (the q_text_chunk
    shape); paragraphs travel as 128-bit md5 hashes, never as text, so
    the frequency shuffle carries 16 bytes/paragraph regardless of
    document size; the frequency table joins back on the same hash key
    (one shuffle, co-partitioned), then one per-doc agg. Same shape as
    the certified q_boilerplate at a coarser, hashed granularity."""
    t = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    s = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_PARA))
        ).alias("start"),
    )
    ch = s.select(
        "doc_id",
        F.md5(
            F.array_join(
                F.slice(F.col("toks"), F.col("start") + 1, _PARA), " "
            )
        ).alias("h"),
    )
    df = ch.groupBy("h").agg(F.count("*").alias("c"))
    dup = F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
    return (
        ch.join(df, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            dup.alias("n_dup"),
            round4det(dup.cast("double") / F.count("*")).alias("dup_ratio"),
        )
    )


@REG.register(
    "q_fn_collation",
    oracle="""
        SELECT lower(c_mktsegment) AS segment,
               count(*) AS n_cust,
               count(*) FILTER (
                   WHERE lower(c_mktsegment) IN ('building', 'machinery')
               ) AS n_target,
               count(*) FILTER (
                   WHERE contains(lower(c_name), 'er#00')
               ) AS n_name_hit
        FROM customer
        GROUP BY lower(c_mktsegment)
    """,
)
def q_fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware string semantics (Spark 4 collations): grouping,
    set membership and substring search under UTF8_LCASE — the engine
    resolves case-insensitivity inside the comparison operators
    instead of rewriting every expression with lower().

    Determinism note: a collated GROUP BY key keeps an arbitrary
    representative casing per group (whichever row the partial agg saw
    first), so the OUTPUT key is normalized with lower() explicitly —
    collation drives the comparisons, normalization drives the
    display. The oracle spells the same semantics with lower()
    rewrites (DuckDB's NOCASE collation exists but ICU-vs-UTF8_LCASE
    edge cases differ; lower() is the cross-engine common ground for
    this ASCII domain).

    Plan: pure scan-stage expressions + one map-side-combined
    aggregate on the 5-value segment domain — collation adds no
    operator, only a comparison strategy."""
    seg = F.collate(F.col("c_mktsegment"), "UTF8_LCASE")
    name = F.collate(F.col("c_name"), "UTF8_LCASE")
    return (
        load(spark, sf_dir, "customer")
        .groupBy(seg.alias("k"))
        .agg(
            F.count("*").alias("n_cust"),
            F.count(
                F.when(seg.isin("Building", "MACHINERY"), 1)
            ).alias("n_target"),
            F.count(F.when(name.contains("ER#00"), 1)).alias(
                "n_name_hit"
            ),
        )
        .select(
            F.lower(F.col("k")).alias("segment"),
            "n_cust",
            "n_target",
            "n_name_hit",
        )
    )


@REG.register(
    "q_fn_xpath",
    oracle="""
        SELECT p_partkey,
               CAST(p_size AS BIGINT) AS x_size,
               p_name AS x_name,
               p_retailprice AS x_price,
               CAST(2 AS BIGINT) AS n_text_nodes
        FROM part
    """,
)
def q_fn_xpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XPath scalar family (xpath_long / xpath_string / xpath_double /
    xpath node-set) — per-row XML parsing for feeds that arrive as
    markup fields rather than whole XML files (the scalar complement
    of q_source_xml): each part row is packed into an XML fragment
    with both ATTRIBUTE and element content, then every value is
    recovered through a different XPath accessor, including a
    node-set count via the array-returning xpath().

    Oracle strategy (the q_fn_str_to_map discipline): expected
    values are the ORIGINAL columns — the query certifies the
    build-parse round-trip is lossless, including double re-parsing
    of Java's shortest-representation formatting. Plan: pure per-row
    expressions, no shuffle at all.

    Performance note (A/B at sf0.1): one `xpath_*` call re-parses
    the XML document per accessor — four accessors measured 5.9 s
    where the parse-once `from_xml` struct path measures ~1 s (the
    q_fn_json2 json_tuple lesson, XML edition). The struct therefore
    carries the scalar fields and a single xpath() node-set call
    remains to exercise that accessor family. Spread load (r15): the
    per-row XML build+parse otherwise runs entirely on the single
    scan task of the one-split local file (2.4 s of the 2.6 s wall
    at sf0.1, in the stage record of telemetry.run_query); per-row
    values unchanged."""
    p = load(spark, sf_dir, "part", spread=True)
    xml = F.concat(
        F.lit('<part key="'),
        F.col("p_partkey"),
        F.lit('" size="'),
        F.col("p_size"),
        F.lit('"><name>'),
        F.col("p_name"),
        F.lit("</name><price>"),
        F.col("p_retailprice"),
        F.lit("</price></part>"),
    )
    return (
        p.withColumn("x", xml)
        .select(
            "p_partkey",
            F.from_xml(
                "x", "_size BIGINT, name STRING, price DOUBLE"
            ).alias("s"),
            F.size(F.expr("xpath(x, '/part/*/text()')"))
            .cast("long")
            .alias("n_text_nodes"),
        )
        .select(
            "p_partkey",
            F.col("s._size").alias("x_size"),
            F.col("s.name").alias("x_name"),
            F.col("s.price").alias("x_price"),
            "n_text_nodes",
        )
    )


# ---------------------------------------------------- k-anonymity census

#: minimum equivalence-class size for a quasi-identifier tuple to be
#: releasable without suppression
_KANON_K = 5


@REG.register(
    "q_privacy_kanon",
    oracle=f"""
        WITH cls AS (
            SELECT n.n_name, c.c_mktsegment,
                   CAST(floor(c.c_acctbal) AS BIGINT) // 1000 AS bal_kb,
                   CAST(count(*) AS BIGINT) AS sz
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name, c.c_mktsegment,
                     CAST(floor(c.c_acctbal) AS BIGINT) // 1000
        )
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(CASE WHEN sz < {_KANON_K} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_small_classes,
               CAST(sum(sz) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END)
                    AS BIGINT) AS n_suppressed,
               CAST(floor(sum(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END)
                          * 1000000.0 / sum(sz)) AS BIGINT)
                   AS suppressed_ppm
        FROM cls GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
)
def q_privacy_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity census before a data release: group customers by
    quasi-identifier tuple (nation, market segment, account-balance
    kilobucket), measure every equivalence class, and report — per
    segment — how many classes fall below k={_KANON_K} and what row
    mass a suppression pass would redact (the Sweeney k-anonymity
    model; the privacy complement to q_text_pii's content scrubbing
    and q_gdpr_cascade's deletion propagation).

    Plan: ONE map-side-combined groupBy on the QI tuple (class sizes),
    then a segment-keyed rollup of the class table — the second agg
    runs over |classes| rows, not |customers|, so the heavy shuffle is
    the first one only and it pre-combines. nation is a broadcast dim.
    At 100 TB the class table is bounded by the QI domain, not the row
    count.

    Determinism: integer counts; the balance bucket floors through the
    integer-`div` convention; the ppm ratio is floor-quantized.

    Bucket semantics note (ADVICE r7): `floor(c_acctbal) div 1000`
    truncates toward zero at the div step, so balances in (-1000, 0)
    share bucket 0 with [0, 1000) — a deliberately COARSER (more
    k-anonymous) merged bucket around zero, identical in both engines
    (DuckDB integer `//` truncates the same way). Distinct negative
    buckets would need floor(c_acctbal / 1000.0) on both sides; the
    merged spelling is kept because changing a certified QI definition
    re-keys every equivalence class."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    cls = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            "c_mktsegment",
            F.expr(
                "floor(c_acctbal) div 1000"
            ).alias("bal_kb"),
        )
        .groupBy("n_name", "c_mktsegment", "bal_kb")
        .agg(F.count("*").alias("sz"))
    )
    small = F.col("sz") < _KANON_K
    return (
        cls.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_classes"),
            F.sum(F.when(small, 1).otherwise(0)).alias("n_small_classes"),
            F.sum("sz").alias("n_rows"),
            F.sum(F.when(small, F.col("sz")).otherwise(0)).alias(
                "n_suppressed"
            ),
            F.floor(
                F.sum(F.when(small, F.col("sz")).otherwise(0))
                * F.lit(1_000_000.0)
                / F.sum("sz")
            )
            .cast("long")
            .alias("suppressed_ppm"),
        )
        .orderBy("c_mktsegment")
    )


# ------------------------------------------------- l-diversity census

#: minimum distinct sensitive values per equivalence class (Machanavajjhala
#: et al., "l-diversity: privacy beyond k-anonymity")
_LDIV_L = 3


@REG.register(
    "q_privacy_ldiversity",
    oracle=f"""
        WITH cls AS (
            SELECT n.n_name, c.c_mktsegment,
                   CAST(count(*) AS BIGINT) AS sz,
                   CAST(count(DISTINCT o.o_orderpriority) AS BIGINT) AS l
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY n.n_name, c.c_mktsegment
        )
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(min(l) AS BIGINT) AS min_l,
               CAST(sum(CASE WHEN l < {_LDIV_L} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_low_div,
               CAST(sum(CASE WHEN l < {_LDIV_L} THEN sz ELSE 0 END)
                    AS BIGINT) AS n_rows_low,
               CAST(floor(sum(CASE WHEN l < {_LDIV_L} THEN sz ELSE 0 END)
                          * 1000000.0 / sum(sz)) AS BIGINT) AS low_div_ppm
        FROM cls GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
)
def q_privacy_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity census (Machanavajjhala et al.): k-anonymity's
    class-SIZE guarantee (q_privacy_kanon) says nothing when every
    order in a small class shares one priority — this query measures,
    per quasi-identifier class (nation, market segment), how many
    DISTINCT sensitive values (order priority) the class holds, and
    reports per segment the classes below l={_LDIV_L} plus the row
    mass a generalization pass would have to rework.

    Plan: customer->nation is a broadcast dim join; customer->orders
    keys on custkey (the fact shuffle); then ONE map-side-combined
    groupBy on the QI tuple carrying (count, count distinct priority)
    — the distinct rides the 5-value priority domain so the partial
    state is bounded — and a segment rollup over |classes| rows. At
    100 TB the class table is QI-domain-bounded, exactly like kanon.

    Determinism: pure integer counts; the ppm ratio floor-quantizes
    through identical doubles."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    cls = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(
            F.count("*").alias("sz"),
            F.countDistinct("o_orderpriority").alias("l"),
        )
    )
    low = F.col("l") < _LDIV_L
    return (
        cls.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_classes"),
            F.min("l").alias("min_l"),
            F.sum(F.when(low, 1).otherwise(0)).alias("n_low_div"),
            F.sum(F.when(low, F.col("sz")).otherwise(0)).alias(
                "n_rows_low"
            ),
            F.floor(
                F.sum(F.when(low, F.col("sz")).otherwise(0))
                * F.lit(1_000_000.0)
                / F.sum("sz")
            )
            .cast("long")
            .alias("low_div_ppm"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------- pseudonymization audit

@REG.register(
    "q_privacy_pseudonym",
    oracle="""
        WITH k AS (
            SELECT c_custkey,
                   substring(md5('cust|' || CAST(c_custkey AS VARCHAR)),
                             1, 16) AS surrogate
            FROM customer
        ), j AS (
            SELECT k.surrogate, o.o_totalprice
            FROM orders o JOIN k ON o.o_custkey = k.c_custkey
        )
        SELECT CAST(count(DISTINCT surrogate) AS BIGINT)
                   AS n_surrogates,
               CAST((SELECT count(DISTINCT c_custkey) FROM customer)
                    AS BIGINT) AS n_keys,
               CAST(count(*) AS BIGINT) AS n_orders_linked,
               CAST(sum(CAST(floor(abs(o_totalprice) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS linked_cents
        FROM j
    """,
)
def q_privacy_pseudonym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymization with referential integrity: replace the
    customer key by a keyed-md5 surrogate (16 hex chars, domain-
    prefixed so the same integer in another table can never collide
    into the same pseudonym space), then prove the de-identified fact
    table still joins losslessly — surrogate cardinality equals key
    cardinality (collision-free at this scale) and every order still
    links with its full revenue mass. The release-side complement to
    q_text_pii (content scrubbing) and q_gdpr_cascade (deletion):
    analytics continue on pseudonyms, re-identification requires the
    (absent) key table.

    Plan: surrogate projection is per-row md5 (scan-stage); the link
    proof is the natural custkey join re-keyed on the surrogate; ONE
    global aggregate. Counts exact; revenue rides int64 cents.

    At 100 TB, 64-bit surrogates would birthday-collide above ~5e9
    keys — the 16-hex (64-bit) prefix is sized for this corpus and the
    census COUNTS collisions instead of assuming none (n_surrogates
    < n_keys would be the alarm)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    k = c.select(
        "c_custkey",
        F.substring(
            F.md5(F.concat(F.lit("cust|"), F.col("c_custkey").cast("string"))),
            1,
            16,
        ).alias("surrogate"),
    )
    nk = c.agg(F.countDistinct("c_custkey").alias("n_keys"))
    j = o.join(k, o.o_custkey == k.c_custkey)
    return (
        j.agg(
            F.countDistinct("surrogate").cast("long").alias("n_surrogates"),
            F.count("*").cast("long").alias("n_orders_linked"),
            F.sum(
                F.floor(F.abs("o_totalprice") * F.lit(100.0) + F.lit(0.5))
                .cast("long")
            )
            .cast("long")
            .alias("linked_cents"),
        )
        .crossJoin(F.broadcast(nk))
        .select(
            "n_surrogates",
            F.col("n_keys").cast("long").alias("n_keys"),
            "n_orders_linked",
            "linked_cents",
        )
    )


# ------------------------------------------------- freshness audit

@REG.register(
    "q_dq_freshness",
    oracle="""
        WITH days AS (
            SELECT event_type,
                   date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                       AS d,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), span AS (
            SELECT event_type, min(d) AS d0, max(d) AS d1,
                   CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(n) AS BIGINT) AS n_events
            FROM days GROUP BY event_type
        )
        SELECT event_type, d0 AS first_day, d1 AS last_day,
               CAST(d1 - d0 + 1 AS BIGINT) AS span_days,
               n_days AS present_days,
               CAST(d1 - d0 + 1 - n_days AS BIGINT) AS missing_days,
               n_events,
               CAST((SELECT max(d) FROM days) - d1 AS BIGINT)
                   AS staleness_days
        FROM span ORDER BY event_type
    """,
)
def q_dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness / completeness audit per event type: calendar span,
    days with data vs missing days inside the span, and staleness
    relative to the newest day anywhere in the feed — the
    data-quality monitor a pipeline reads before trusting a partition
    (q_dq_checks validates VALUES; this validates ARRIVAL; q_ts_gapfill
    then repairs the gaps it finds).

    Plan: daily rollup (the only fact-width pass, map-side combined),
    per-type span agg over the ~365-row-per-type day table, 1-row
    global-max broadcast for staleness. All integers (epoch days)."""
    e = load(spark, sf_dir, "events")
    days = e.groupBy(
        "event_type",
        F.datediff(
            F.to_date("ts"), F.to_date(F.lit("1970-01-01"))
        ).alias("d"),
    ).agg(F.count("*").alias("n"))
    span = days.groupBy("event_type").agg(
        F.min("d").alias("first_day"),
        F.max("d").alias("last_day"),
        F.count("*").alias("present_days"),
        F.sum("n").alias("n_events"),
    )
    gmax = days.agg(F.max("d").alias("gmax"))
    return (
        span.crossJoin(F.broadcast(gmax))
        .select(
            "event_type",
            F.col("first_day").cast("long").alias("first_day"),
            F.col("last_day").cast("long").alias("last_day"),
            (F.col("last_day") - F.col("first_day") + 1)
            .cast("long")
            .alias("span_days"),
            F.col("present_days").cast("long").alias("present_days"),
            (
                F.col("last_day") - F.col("first_day") + 1
                - F.col("present_days")
            )
            .cast("long")
            .alias("missing_days"),
            F.col("n_events").cast("long").alias("n_events"),
            (F.col("gmax") - F.col("last_day"))
            .cast("long")
            .alias("staleness_days"),
        )
        .orderBy("event_type")
    )


# ----------------------------------------------- t-closeness audit

#: release threshold: a class violates t-closeness when its sensitive
#: distribution sits more than 0.15 EMD from the global one
_TCLOSE_T_PPM = 150_000


@REG.register(
    "q_privacy_tcloseness",
    oracle=f"""
        WITH j AS (
            SELECT n.n_name, c.c_mktsegment,
                   o.o_orderpriority AS s
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN orders o ON o.o_custkey = c.c_custkey
        ), gs AS (
            SELECT s, CAST(count(*) AS BIGINT) AS cs FROM j GROUP BY s
        ), g AS (SELECT CAST(count(*) AS BIGINT) AS n FROM j),
        cls_s AS (
            SELECT n_name, c_mktsegment, s,
                   CAST(count(*) AS BIGINT) AS cgs
            FROM j GROUP BY n_name, c_mktsegment, s
        ), cls AS (
            SELECT n_name, c_mktsegment, CAST(sum(cgs) AS BIGINT) AS ng
            FROM cls_s GROUP BY n_name, c_mktsegment
        ), terms AS (
            SELECT x.n_name, x.c_mktsegment,
                   CAST(min(cls.ng) AS BIGINT) AS ng,
                   CAST(sum(abs(x.cgs * g.n - gs.cs * cls.ng)
                            - gs.cs * cls.ng) AS BIGINT) AS adj
            FROM cls_s x
            JOIN gs USING (s)
            JOIN cls USING (n_name, c_mktsegment)
            CROSS JOIN g
            GROUP BY x.n_name, x.c_mktsegment
        ), tt AS (
            SELECT t.c_mktsegment, t.ng,
                   CAST((g.n * t.ng + t.adj) * 1000000
                        // (2 * t.ng * g.n) AS BIGINT) AS t_ppm
            FROM terms t CROSS JOIN g
        )
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(max(t_ppm) AS BIGINT) AS max_t_ppm,
               CAST(sum(t_ppm) // count(*) AS BIGINT) AS avg_t_ppm,
               CAST(sum(CASE WHEN t_ppm > {_TCLOSE_T_PPM}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
               CAST(sum(CASE WHEN t_ppm > {_TCLOSE_T_PPM}
                        THEN ng ELSE 0 END) AS BIGINT)
                   AS rows_violating
        FROM tt GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
)
def q_privacy_tcloseness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness census (Li/Li/Venkatasubramanian) — completes the
    privacy-release triad: q_privacy_kanon bounds class SIZE,
    q_privacy_ldiversity bounds sensitive-value VARIETY, and this
    query bounds sensitive-value DISTRIBUTION distance: per QI class
    (nation, market segment), the earth-mover's distance between the
    class's order-priority distribution and the global one
    (categorical ground distance: EMD = 1/2 sum |p_g(s) - p(s)|),
    rolled up per segment with the classes above t=0.15.

    Determinism: the EMD is computed as an EXACT integer rational —
    sum_s |cgs*N - cs*ng| has absent-(class, s) terms folded in
    algebraically (sum over absent s of cs*ng == N*ng minus the
    present-row cs*ng sum), so t_ppm = (N*ng + adj) * 1e6 div
    (2*ng*N) with zero doubles.

    Plan: ONE fact shuffle (orders->customer), ONE map-side-combined
    groupBy on (QI, sensitive) — the sensitive domain is 5-valued so
    the class-sensitive table is QI-domain-bounded; the global
    distribution is a 5-row broadcast, the total a 1-row broadcast;
    everything after lives on the class domain (the kanon/ldiversity
    discipline)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    j = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .select("n_name", "c_mktsegment", F.col("o_orderpriority").alias("s"))
    )
    # ONE fact scan: the (QI, sensitive) table is domain-bounded
    # (|nations| x |segments| x 5 rows), so it checkpoints eagerly and
    # the global/sensitive totals derive from IT — without this, gs /
    # g / cls / terms each re-execute the customer->orders fact join
    # (plan-audited r9: five scans collapsed to one)
    cls_s = (
        j.groupBy("n_name", "c_mktsegment", "s")
        .agg(F.count("*").alias("cgs"))
        .localCheckpoint(eager=True)
    )
    gs = cls_s.groupBy("s").agg(F.sum("cgs").cast("long").alias("cs"))
    g = cls_s.agg(F.sum("cgs").cast("long").alias("n"))
    cls = cls_s.groupBy("n_name", "c_mktsegment").agg(
        F.sum("cgs").alias("ng")
    )
    terms = (
        cls_s.join(F.broadcast(gs), "s")
        .join(F.broadcast(cls), ["n_name", "c_mktsegment"])
        .crossJoin(F.broadcast(g))
        .groupBy("n_name", "c_mktsegment")
        .agg(
            F.min("ng").cast("long").alias("ng"),
            F.sum(
                F.abs(F.col("cgs") * F.col("n") - F.col("cs") * F.col("ng"))
                - F.col("cs") * F.col("ng")
            )
            .cast("long")
            .alias("adj"),
        )
    )
    tt = terms.crossJoin(F.broadcast(g)).select(
        "c_mktsegment",
        "ng",
        F.expr("(n * ng + adj) * 1000000 div (2 * ng * n)")
        .cast("long")
        .alias("t_ppm"),
    )
    viol = F.col("t_ppm") > _TCLOSE_T_PPM
    return (
        tt.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_classes"),
            F.max("t_ppm").alias("max_t_ppm"),
            F.expr("sum(t_ppm) div count(*)")
            .cast("long")
            .alias("avg_t_ppm"),
            F.sum(F.when(viol, 1).otherwise(0))
            .cast("long")
            .alias("n_violating"),
            F.sum(F.when(viol, F.col("ng")).otherwise(0))
            .cast("long")
            .alias("rows_violating"),
        )
        .orderBy("c_mktsegment")
    )


# ------------------------------------------- distribution homogeneity

@REG.register(
    "q_dq_homogeneity",
    oracle="""
        WITH cells AS (
            SELECT source, coalesce(lang, 'und') AS lang,
                   CAST(count(*) AS BIGINT) AS o
            FROM documents GROUP BY 1, 2
        ), rt AS (
            SELECT source, CAST(sum(o) AS BIGINT) AS r
            FROM cells GROUP BY source
        ), ct AS (
            SELECT lang, CAST(sum(o) AS BIGINT) AS c
            FROM cells GROUP BY lang
        ), tot AS (
            SELECT CAST(sum(o) AS BIGINT) AS n FROM cells
        ), terms AS (
            SELECT CAST(floor(
                       (CAST(o * n - r * c AS DOUBLE)
                        * CAST(o * n - r * c AS DOUBLE)) * 1000.0
                       / (CAST(n AS DOUBLE) * r * c)
                   ) AS BIGINT) AS t
            FROM cells
            JOIN rt USING (source)
            JOIN ct USING (lang)
            CROSS JOIN tot
        )
        SELECT (SELECT n FROM tot) AS n,
               (SELECT CAST(count(*) AS BIGINT) FROM rt) AS n_sources,
               (SELECT CAST(count(*) AS BIGINT) FROM ct) AS n_langs,
               (SELECT CAST((count(*) - 1) AS BIGINT) FROM rt)
                   * (SELECT CAST((count(*) - 1) AS BIGINT) FROM ct)
                   AS dof,
               CAST(sum(t) AS BIGINT) AS chi2_milli,
               CAST(max(t) AS BIGINT) AS max_cell_milli
        FROM terms
    """,
)
def q_dq_homogeneity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of homogeneity across corpus slices: is the
    language distribution the SAME in every source? The data-quality
    gate a multi-source ingest runs before mixing (a source whose
    language mix drifts from the pool is mislabeled, scraped wrong,
    or newly poisoned) — the cross-slice complement of q_ks_drift's
    two-window numeric drift and q_ml_chi2's feature-label test.

    Determinism: per cell, (O*N - r*c) is an exact int64 cast to
    double EXACTLY (< 2^53 to ~9e7 rows); its square and the division
    by N*r*c are IEEE-identical on both engines, and each cell term
    floors to 1e-3 ticks BEFORE the sum (per-term tick flooring, the
    q_embed_centroid_drift discipline) so the total is an exact int
    sum over the tiny (source x lang) domain. Closed-form fixture pin
    in tests/test_statistic_fixtures.py.

    Plan: ONE map-side-combined (source, lang) groupBy — everything
    after lives on the cell domain (row/column totals re-aggregate
    the cells, never the facts).

    NULL contract (tools/null_probe.py): unknown lang is a REAL
    category for a homogeneity gate — coalesced to 'und' on BOTH
    engines (a NULL lang cell otherwise falls out of the lang-keyed
    equi-joins and the two engines count the domain differently)."""
    d = load(spark, sf_dir, "documents").select(
        "source", F.coalesce("lang", F.lit("und")).alias("lang")
    )
    cells = d.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("o")
    )
    rt = cells.groupBy("source").agg(F.sum("o").cast("long").alias("r"))
    ct = cells.groupBy("lang").agg(F.sum("o").cast("long").alias("c"))
    tot = cells.agg(F.sum("o").cast("long").alias("n"))
    dlt = (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast(
        "double"
    )
    terms = (
        cells.join(F.broadcast(rt), "source")
        .join(F.broadcast(ct), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            F.floor(
                dlt * dlt * F.lit(1000.0)
                / (
                    F.col("n").cast("double")
                    * F.col("r")
                    * F.col("c")
                )
            )
            .cast("long")
            .alias("t"),
            "n",
            "source",
            "lang",
        )
    )
    return terms.agg(
        F.max("n").alias("n"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        (
            (F.countDistinct("source") - 1)
            * (F.countDistinct("lang") - 1)
        )
        .cast("long")
        .alias("dof"),
        F.sum("t").cast("long").alias("chi2_milli"),
        F.max("t").cast("long").alias("max_cell_milli"),
    )


# -------------------------------------------- generalization ladder

#: coarsening ladder for the k-anonymity release planner: each level
#: re-aggregates the PREVIOUS level's equivalence-class table (cells,
#: never facts) — L0 is q_privacy_kanon's QI.
_GEN_K = 10


@REG.register(
    "q_privacy_generalization",
    oracle=f"""
        WITH l0 AS (
            SELECT n.n_name, n.n_regionkey, c.c_mktsegment,
                   CAST(floor(c.c_acctbal) AS BIGINT) // 1000 AS kb,
                   CAST(count(*) AS BIGINT) AS sz
            FROM customer c JOIN nation n
              ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2, 3, 4
        ), l1 AS (
            SELECT r.r_name, l0.c_mktsegment, l0.kb,
                   CAST(sum(sz) AS BIGINT) AS sz
            FROM l0 JOIN region r ON l0.n_regionkey = r.r_regionkey
            GROUP BY 1, 2, 3
        ), l2 AS (
            SELECT c_mktsegment, kb, CAST(sum(sz) AS BIGINT) AS sz
            FROM l1 GROUP BY 1, 2
        ), l3 AS (
            SELECT c_mktsegment, CAST(sum(sz) AS BIGINT) AS sz
            FROM l2 GROUP BY 1
        ), census AS (
            SELECT 0 AS level, count(*) AS n_classes, min(sz) AS k_min,
                   sum(CASE WHEN sz < {_GEN_K} THEN 1 ELSE 0 END)
                       AS n_small,
                   sum(CASE WHEN sz < {_GEN_K} THEN sz ELSE 0 END)
                       AS rows_suppressed
            FROM l0
            UNION ALL
            SELECT 1, count(*), min(sz),
                   sum(CASE WHEN sz < {_GEN_K} THEN 1 ELSE 0 END),
                   sum(CASE WHEN sz < {_GEN_K} THEN sz ELSE 0 END)
            FROM l1
            UNION ALL
            SELECT 2, count(*), min(sz),
                   sum(CASE WHEN sz < {_GEN_K} THEN 1 ELSE 0 END),
                   sum(CASE WHEN sz < {_GEN_K} THEN sz ELSE 0 END)
            FROM l2
            UNION ALL
            SELECT 3, count(*), min(sz),
                   sum(CASE WHEN sz < {_GEN_K} THEN 1 ELSE 0 END),
                   sum(CASE WHEN sz < {_GEN_K} THEN sz ELSE 0 END)
            FROM l3
        )
        SELECT CAST(level AS BIGINT) AS level,
               CAST(n_classes AS BIGINT) AS n_classes,
               CAST(k_min AS BIGINT) AS k_min,
               CAST(n_small AS BIGINT) AS n_small,
               CAST(rows_suppressed AS BIGINT) AS rows_suppressed
        FROM census
        ORDER BY level
    """,
)
def q_privacy_generalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalization-ladder planning for a k-anonymous release: the
    k-anonymity census (achieved k, sub-k classes, suppressible row
    mass at k={k}) at FOUR coarsening levels of q_privacy_kanon's QI
    — (nation, segment, balance-kilobucket) -> nation coarsened to
    region -> geography dropped -> balance dropped. The table a
    release planner reads to pick the cheapest level that clears the
    k floor (Sweeney's generalization lattice, one chain of it).

    Plan: ONE fact shuffle builds the L0 class table; every coarser
    level re-aggregates the PREVIOUS level's cells (nation->region is
    a broadcast dim join on the cell table), so facts are touched
    once and the ladder lives on the QI domain (the tcloseness
    discipline). The census per level is a 1-row aggregate over
    cells.

    Determinism: integer class sizes; the kilobucket keeps kanon's
    certified floor-then-div spelling (truncation bucket 0 merge
    documented there)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    kb = F.expr("cast(floor(c_acctbal) as bigint) div 1000")
    l0 = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "n_regionkey", "c_mktsegment", kb.alias("kb"))
        .agg(F.count("*").alias("sz"))
    )
    l1 = (
        l0.join(F.broadcast(r), l0.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "c_mktsegment", "kb")
        .agg(F.sum("sz").alias("sz"))
    )
    l2 = l1.groupBy("c_mktsegment", "kb").agg(F.sum("sz").alias("sz"))
    l3 = l2.groupBy("c_mktsegment").agg(F.sum("sz").alias("sz"))

    def census(df: DataFrame, level: int) -> DataFrame:
        return df.agg(
            F.lit(level).cast("long").alias("level"),
            F.count("*").cast("long").alias("n_classes"),
            F.min("sz").cast("long").alias("k_min"),
            F.sum(F.when(F.col("sz") < _GEN_K, 1).otherwise(0))
            .cast("long")
            .alias("n_small"),
            F.sum(F.when(F.col("sz") < _GEN_K, F.col("sz")).otherwise(0))
            .cast("long")
            .alias("rows_suppressed"),
        ).select(
            "level", "n_classes", "k_min", "n_small", "rows_suppressed"
        )

    out = census(l0, 0)
    for lvl, df in ((1, l1), (2, l2), (3, l3)):
        out = out.unionByName(census(df, lvl))
    return out.orderBy("level")


q_privacy_generalization.__doc__ = q_privacy_generalization.__doc__.format(
    k=_GEN_K
)


# ------------------------------------------------------------ Benford

#: Benford's-law expected first-digit mass in ppm: floor/round of
#: log10(1 + 1/d) * 1e6, hand-derived Python-literal constants (the
#: q_ml_ndcg discipline — transcendentals are NOT cross-engine-safe,
#: so the law's table is data, not computation). Sums to exactly 1e6.
_BENFORD_PPM = {
    1: 301030,
    2: 176091,
    3: 124939,
    4: 96910,
    5: 79181,
    6: 66947,
    7: 57992,
    8: 51153,
    9: 45757,
}

_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items())
    + " END"
)


@REG.register(
    "q_dq_benford",
    oracle=f"""
        WITH t AS (
            SELECT event_type,
                   CAST(substr(CAST(CAST(floor(abs(value) * 10000.0
                                                + 0.5) AS BIGINT)
                                    AS VARCHAR), 1, 1) AS BIGINT)
                       AS digit
            FROM events
            WHERE CAST(floor(abs(value) * 10000.0 + 0.5) AS BIGINT) > 0
              AND abs(value) < 1e12
        ), c AS (
            SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
            FROM t GROUP BY 1, 2
        ), w AS (
            SELECT event_type, digit, n,
                   sum(n) OVER (PARTITION BY event_type) AS total
            FROM c
        ), o AS (
            SELECT event_type, digit, n,
                   CAST(n * 1000000 // total AS BIGINT) AS obs_ppm,
                   CAST({_BENFORD_CASE} AS BIGINT) AS exp_ppm
            FROM w
        )
        SELECT event_type, digit, n, obs_ppm, exp_ppm,
               obs_ppm - exp_ppm AS dev_ppm,
               CAST((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm)
                    // exp_ppm AS BIGINT) AS chi2_term_ppm
        FROM o
        ORDER BY event_type, digit
    """,
)
def q_dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit per event type:
    observed vs expected digit mass and the per-digit chi-square
    terms — the classic fabricated-/corrupted-numbers forensic for a
    metrics column (a synthetic or truncated feed shows up as a flat
    or spiked digit histogram long before any distributional test).

    Determinism: values ride the 1e-4 tick quantization, the first
    significant digit is string-of-integer (exact on both engines —
    no log10 anywhere), and the law's expected masses are hand-derived
    ppm literals summing to exactly 1e6 (_BENFORD_PPM). Every output
    is an integer count, floor-div ppm, or their difference. The tick
    domain is GUARDED in-plan on both engines (abs(value) < 1e12,
    ADVICE r10): past ~9.2e14 Spark's non-ANSI double->long cast
    clamps to Long.MAX while DuckDB's CAST raises, so an extreme
    outlier would diverge — the mirrored guard makes the contract
    enforced rather than assumed (and a first-digit audit of a
    bounded metrics feed loses nothing to it).

    Plan: ONE scan -> per-row tick + digit expressions -> ONE
    map-side-combined groupBy to at most |event_type| x 9 rows; the
    share window runs on that digit-domain rollup, never on fact
    rows. At 100 TB state is still |types| x 9 integers."""
    e = load(spark, sf_dir, "events")
    ticks = F.floor(F.abs(F.col("value")) * 10000.0 + 0.5).cast("long")
    t = (
        e.filter(F.abs(F.col("value")) < 1e12)
        .select(
            "event_type",
            F.substring(ticks.cast("string"), 1, 1).cast("long").alias(
                "digit"
            ),
        )
        .filter(ticks > 0)
    )
    c = t.groupBy("event_type", "digit").agg(
        F.count("*").cast("long").alias("n")
    )
    w = c.select(
        "event_type",
        "digit",
        "n",
        F.sum("n").over(Window.partitionBy("event_type")).alias(
            "total"
        ),
    )
    o = w.select(
        "event_type",
        "digit",
        "n",
        F.expr("n * 1000000 div total").cast("long").alias("obs_ppm"),
        F.expr(_BENFORD_CASE).cast("long").alias("exp_ppm"),
    )
    return o.select(
        "event_type",
        "digit",
        "n",
        "obs_ppm",
        "exp_ppm",
        (F.col("obs_ppm") - F.col("exp_ppm")).alias("dev_ppm"),
        F.expr(
            "(obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) div exp_ppm"
        )
        .cast("long")
        .alias("chi2_term_ppm"),
    ).orderBy("event_type", "digit")


# ------------------------------------------------------- mixed script

#: a doc whose non-letter/digit/space mass exceeds 10% is flagged as
#: symbol-garbage (the OCR-noise / markup-residue curation signal).
_GARBAGE_PPM = 100_000


@REG.register(
    "q_text_mixed_script",
    oracle=f"""
        WITH p AS (
            SELECT lang, source,
                   CAST(length(text) AS BIGINT) AS n_total,
                   CAST(length(text)
                        - length(regexp_replace(text, '[A-Za-z]', '',
                                                'g')) AS BIGINT)
                       AS n_letter,
                   CAST(length(text)
                        - length(regexp_replace(text, '[0-9]', '',
                                                'g')) AS BIGINT)
                       AS n_digit,
                   CAST(length(text)
                        - length(regexp_replace(text, '[ ]', '',
                                                'g')) AS BIGINT)
                       AS n_space
            FROM documents
            WHERE length(text) > 0
        ), d AS (
            SELECT lang, source, n_total,
                   n_total - n_letter - n_digit - n_space AS n_other,
                   (n_total - n_letter - n_digit - n_space) * 1000000
                       // n_total AS sym_ppm
            FROM p
        )
        SELECT lang, source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n_other > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_mixed,
               CAST(sum(CASE WHEN sym_ppm > {_GARBAGE_PPM} THEN 1
                        ELSE 0 END) AS BIGINT) AS n_garbage,
               CAST(sum(sym_ppm) // count(*) AS BIGINT)
                   AS mean_sym_ppm,
               CAST(max(sym_ppm) AS BIGINT) AS max_sym_ppm
        FROM d
        GROUP BY lang, source
        ORDER BY lang, source
    """,
)
def q_text_mixed_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class census + symbol-garbage gate per (lang,
    source): letter / digit / space / other masses via
    length-difference counting, the per-doc symbol ratio, and the
    mixed-content and garbage (>{g}% symbols) flags — the OCR-noise /
    markup-residue detector that complements q_text_entropy
    (repetition) and q_text_quality (stopword shape) in the curation
    gate stack.

    Counting is length(text) - length(regexp_replace(class, '')) —
    the one regexp idiom whose semantics are bit-identical across
    java.util.regex and RE2 for explicit ASCII classes (no \\w, no
    unicode properties). All ratios are integer ppm floor-divs.

    Plan: ONE scan -> four narrow per-row regexp projections (scan
    stage, whole-stage codegen) -> ONE map-side-combined groupBy to
    the (lang, source) cell domain. No shuffle carries doc text."""
    d = load(spark, sf_dir, "documents")

    def cnt(cls: str):
        return F.length("text") - F.length(
            F.regexp_replace("text", cls, "")
        )

    p = d.filter(F.length("text") > 0).select(
        "lang",
        "source",
        F.length("text").cast("long").alias("n_total"),
        cnt("[A-Za-z]").cast("long").alias("n_letter"),
        cnt("[0-9]").cast("long").alias("n_digit"),
        cnt("[ ]").cast("long").alias("n_space"),
    )
    dd = p.select(
        "lang",
        "source",
        "n_total",
        (
            F.col("n_total")
            - F.col("n_letter")
            - F.col("n_digit")
            - F.col("n_space")
        ).alias("n_other"),
        F.expr(
            "(n_total - n_letter - n_digit - n_space) * 1000000"
            " div n_total"
        ).alias("sym_ppm"),
    )
    return (
        dd.groupBy("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_other") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_mixed"),
            F.sum(
                F.when(F.col("sym_ppm") > _GARBAGE_PPM, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_garbage"),
            F.expr("sum(sym_ppm) div count(*)")
            .cast("long")
            .alias("mean_sym_ppm"),
            F.max("sym_ppm").cast("long").alias("max_sym_ppm"),
        )
        .orderBy("lang", "source")
    )


q_text_mixed_script.__doc__ = q_text_mixed_script.__doc__.format(
    g=_GARBAGE_PPM // 10_000
)


# ------------------------------------------------------ noisy release

#: folded-geometric(1/2) magnitude thresholds in ppm of the md5
#: ticket: P(0)=1/2, P(k)=2^-(k+1) up to the lumped tail at 5 — the
#: discrete two-sided noise shape of a private count release.
_DP_MAG_CASE = (
    "CASE WHEN u < 500000 THEN 0 WHEN u < 750000 THEN 1"
    " WHEN u < 875000 THEN 2 WHEN u < 937500 THEN 3"
    " WHEN u < 968750 THEN 4 ELSE 5 END"
)


@REG.register(
    "q_privacy_dp_hist",
    oracle=f"""
        WITH h AS (
            SELECT c_nationkey, CAST(count(*) AS BIGINT) AS true_n
            FROM customer GROUP BY c_nationkey
        ), t AS (
            SELECT c_nationkey, true_n,
                   CAST('0x' || substring(
                       md5('dp:' || CAST(c_nationkey AS VARCHAR)),
                       1, 8) AS BIGINT) % 1000000 AS u,
                   CASE WHEN CAST('0x' || substring(
                       md5('dp:' || CAST(c_nationkey AS VARCHAR)),
                       9, 1) AS BIGINT) % 2 = 0
                        THEN 1 ELSE -1 END AS sgn
            FROM h
        ), z AS (
            SELECT c_nationkey, true_n,
                   sgn * ({_DP_MAG_CASE}) AS noise
            FROM t
        )
        SELECT n.n_name, z.true_n, z.noise,
               greatest(0, z.true_n + z.noise) AS released_n
        FROM z JOIN nation n ON z.c_nationkey = n.n_nationkey
        ORDER BY n.n_name
    """,
)
def q_privacy_dp_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noisy-count release plumbing for the per-nation customer
    histogram: each cell's count is perturbed by symmetric integer
    noise (folded-geometric(1/2) magnitude, md5-derived sign — the
    discrete two-sided shape a differentially-private count release
    uses) and clamped at zero (post-processing) — the release stage
    that follows the k-anonymity/l-diversity/t-closeness gates in
    the privacy family.

    HONEST SCOPE: the noise here is SEEDED (md5 of the cell key) so
    both engines derive bit-identical tickets and the release
    pipeline is differentially CERTIFIABLE end to end; a production
    deployment swaps the ticket expression for true randomness drawn
    per release (deterministic noise is reproducible-test plumbing,
    not a privacy guarantee — the operators/multimodal.py
    capability-gate discipline applied to RNG). true_n rides along
    for certification only; the release view projects n_name +
    released_n.

    Plan: ONE map-side-combined groupBy to the 25-cell nation
    domain; noise arithmetic and the broadcast nation-name join run
    on cells. Constant state at any customer count."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    h = c.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("true_n")
    )
    ticket = F.md5(
        F.concat(F.lit("dp:"), F.col("c_nationkey").cast("string"))
    )
    t = h.select(
        "c_nationkey",
        "true_n",
        (
            F.conv(F.substring(ticket, 1, 8), 16, 10).cast("long")
            % 1000000
        ).alias("u"),
        F.when(
            F.conv(F.substring(ticket, 9, 1), 16, 10).cast("long") % 2
            == 0,
            1,
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    z = t.select(
        "c_nationkey",
        "true_n",
        (F.col("sgn") * F.expr(_DP_MAG_CASE)).alias("noise"),
    )
    return (
        z.join(
            F.broadcast(n),
            z.c_nationkey == n.n_nationkey,
        )
        .select(
            "n_name",
            "true_n",
            "noise",
            F.greatest(
                F.lit(0), F.col("true_n") + F.col("noise")
            ).alias("released_n"),
        )
        .orderBy("n_name")
    )


# --------------------------------------------------- DP mean release

#: per-order contribution bound for the DP sum (1e-4 price ticks):
#: the clamp is the mechanism's sensitivity knob and is part of the
#: release contract.
_DPM_BOUND_TICK = 3_000_000_000  # 300000.0000

@REG.register(
    "q_privacy_dp_mean",
    oracle=f"""
        WITH h AS (
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS true_n,
                   CAST(sum(least(CAST(floor(o_totalprice * 10000.0
                                             + 0.5) AS BIGINT),
                                  {_DPM_BOUND_TICK})) AS BIGINT)
                       AS true_sum_tick
            FROM orders GROUP BY o_orderpriority
        ), t AS (
            SELECT *,
                   CAST('0x' || substring(md5('dpm:' || o_orderpriority),
                        1, 8) AS BIGINT) % 1000000 AS un,
                   CASE WHEN CAST('0x' || substring(
                        md5('dpm:' || o_orderpriority), 9, 1)
                        AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sn,
                   CAST('0x' || substring(md5('dps:' || o_orderpriority),
                        1, 8) AS BIGINT) % 1000000 AS us,
                   CASE WHEN CAST('0x' || substring(
                        md5('dps:' || o_orderpriority), 9, 1)
                        AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS ss
            FROM h
        ), z AS (
            SELECT o_orderpriority, true_n, true_sum_tick,
                   sn * (CASE WHEN un < 500000 THEN 0
                              WHEN un < 750000 THEN 1
                              WHEN un < 875000 THEN 2
                              WHEN un < 937500 THEN 3
                              WHEN un < 968750 THEN 4
                              ELSE 5 END) AS noise_n,
                   ss * (CASE WHEN us < 500000 THEN 0
                              WHEN us < 750000 THEN 1
                              WHEN us < 875000 THEN 2
                              WHEN us < 937500 THEN 3
                              WHEN us < 968750 THEN 4
                              ELSE 5 END)
                      * ({_DPM_BOUND_TICK} // 1000) AS noise_sum_tick
            FROM t
        )
        SELECT o_orderpriority, true_n, noise_n, noise_sum_tick,
               greatest(1, true_n + noise_n) AS released_n,
               CAST(greatest(0, true_sum_tick + noise_sum_tick)
                    // greatest(1, true_n + noise_n) AS BIGINT)
                   AS released_mean_tick
        FROM z
        ORDER BY o_orderpriority
    """,
)
def q_privacy_dp_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noisy-MEAN release plumbing per order priority: the standard
    DP mean decomposition — CLAMP each contribution to a fixed bound
    (the sensitivity knob, part of the release contract), perturb the
    clamped sum and the count with independent symmetric
    folded-geometric noise, release clamped-sum/clamped-count — the
    aggregate-release companion to q_privacy_dp_hist's counts (a mean
    leaks through BOTH numerator and denominator; this query releases
    neither raw).

    HONEST SCOPE (the q_privacy_dp_hist contract): noise tickets are
    SEEDED (md5 of the cell key) so both engines derive bit-identical
    releases and the mechanism is differentially CERTIFIABLE;
    production swaps the tickets for true per-release randomness.
    true_n / true_sum ride along for certification only.

    Determinism: contribution clamp and sums are exact int64 price
    ticks; noise magnitudes are the shared hand-literal pmf; the
    released mean is ONE integer div with a floor-at-zero/one
    post-processing clamp.

    Plan: ONE map-side-combined groupBy to the 5-cell priority
    domain; everything after is cell-local arithmetic."""
    o = load(spark, sf_dir, "orders")
    clamp = F.least(
        F.floor(F.col("o_totalprice") * 10000.0 + F.lit(0.5)).cast(
            "long"
        ),
        F.lit(_DPM_BOUND_TICK),
    )
    h = o.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("true_n"),
        F.sum(clamp).cast("long").alias("true_sum_tick"),
    )

    def ticket(prefix: str):
        m = F.md5(F.concat(F.lit(prefix), F.col("o_orderpriority")))
        u = F.conv(F.substring(m, 1, 8), 16, 10).cast("long") % 1_000_000
        sgn = F.when(
            F.conv(F.substring(m, 9, 1), 16, 10).cast("long") % 2 == 0,
            1,
        ).otherwise(-1)
        mag = (
            F.when(u < 500_000, 0)
            .when(u < 750_000, 1)
            .when(u < 875_000, 2)
            .when(u < 937_500, 3)
            .when(u < 968_750, 4)
            .otherwise(5)
        )
        return sgn * mag

    z = h.select(
        "o_orderpriority",
        "true_n",
        "true_sum_tick",
        ticket("dpm:").cast("long").alias("noise_n"),
        (ticket("dps:") * (_DPM_BOUND_TICK // 1000))
        .cast("long")
        .alias("noise_sum_tick"),
    )
    return z.select(
        "o_orderpriority",
        "true_n",
        "noise_n",
        "noise_sum_tick",
        F.greatest(F.lit(1), F.col("true_n") + F.col("noise_n"))
        .cast("long")
        .alias("released_n"),
        F.expr(
            "greatest(0, true_sum_tick + noise_sum_tick)"
            " div greatest(1, true_n + noise_n)"
        )
        .cast("long")
        .alias("released_mean_tick"),
    ).orderBy("o_orderpriority")


# ------------------------------------------ Gopher quality-rule census

#: the published Gopher rule constants (Rae et al. 2021, Appendix A):
#: word count in [50, 100000], mean word length in [3, 10], symbol
#: ('#'/'…') to word ratio <= 0.1, <= 10% bullet-started and <= 30%
#: ellipsis-ended lines, >= 80% words containing an ASCII letter,
#: >= 2 distinct required stopwords present
_GOPHER_WC_LO, _GOPHER_WC_HI = 50, 100_000
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


@REG.register(
    "q_quality_gopher",
    oracle=f"""
        WITH g AS (
            SELECT source,
                   len(string_split(text, ' ')) AS nw,
                   list_sum(list_transform(string_split(text, ' '),
                            w -> len(w))) AS sumlen,
                   len(text) - len(replace(text, '#', ''))
                   + len(text) - len(replace(text, '…', '')) AS nsym,
                   len(string_split(text, chr(10))) AS nl,
                   len(list_filter(string_split(text, chr(10)),
                       x -> starts_with(x, '-') OR starts_with(x, '•')
                            OR starts_with(x, '*'))) AS nbullet,
                   len(list_filter(string_split(text, chr(10)),
                       x -> suffix(x, '...') OR suffix(x, '…')))
                       AS nell,
                   len(list_filter(string_split(text, ' '),
                       w -> regexp_matches(w, '[A-Za-z]'))) AS nalpha,
                   len(list_intersect(
                       list_distinct(string_split(text, ' ')),
                       ['the', 'be', 'to', 'of', 'and', 'that',
                        'have', 'with'])) AS nsw
            FROM documents
        ), r AS (
            SELECT source,
                   CASE WHEN nw BETWEEN {_GOPHER_WC_LO}
                                    AND {_GOPHER_WC_HI}
                        THEN 0 ELSE 1 END AS f_wordcount,
                   CASE WHEN sumlen >= 3 * nw AND sumlen <= 10 * nw
                        THEN 0 ELSE 1 END AS f_wordlen,
                   CASE WHEN 10 * nsym <= nw THEN 0 ELSE 1 END
                       AS f_symbol,
                   CASE WHEN 10 * nbullet <= nl THEN 0 ELSE 1 END
                       AS f_bullet,
                   CASE WHEN 10 * nell <= 3 * nl THEN 0 ELSE 1 END
                       AS f_ellipsis,
                   CASE WHEN 5 * nalpha >= 4 * nw THEN 0 ELSE 1 END
                       AS f_alpha,
                   CASE WHEN nsw >= 2 THEN 0 ELSE 1 END AS f_stopword
            FROM g
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(f_wordcount) AS BIGINT) AS n_fail_wordcount,
               CAST(sum(f_wordlen) AS BIGINT) AS n_fail_wordlen,
               CAST(sum(f_symbol) AS BIGINT) AS n_fail_symbol,
               CAST(sum(f_bullet) AS BIGINT) AS n_fail_bullet,
               CAST(sum(f_ellipsis) AS BIGINT) AS n_fail_ellipsis,
               CAST(sum(f_alpha) AS BIGINT) AS n_fail_alpha,
               CAST(sum(f_stopword) AS BIGINT) AS n_fail_stopword,
               CAST(count(*) FILTER (WHERE f_wordcount + f_wordlen
                    + f_symbol + f_bullet + f_ellipsis + f_alpha
                    + f_stopword = 0) AS BIGINT) AS n_pass
        FROM r GROUP BY source
        ORDER BY source
    """,
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PUBLISHED Gopher quality-filter rules (Rae et al. 2021,
    Appendix A) as a per-source rule census: for each of the seven
    rules — word count in [{lo}, {hi}], mean word length in [3, 10],
    symbol('#'/'…')-to-word ratio <= 0.1, <= 10% bullet-started
    lines, <= 30% ellipsis-ended lines, >= 80% words with an ASCII
    letter, >= 2 distinct required stopwords — the count of docs
    FAILING it, plus the all-rules pass count. Complements the
    engine-native gates: q_text_filter_pipeline yields, q_filter_reasons
    explains, this key reproduces the literature-standard screen a
    pretraining pipeline is benchmarked against.

    Determinism: ZERO floating point — every ratio rule is an exact
    integer cross-multiplication (mean-word-length in [3, 10] <=>
    3*nw <= sumlen <= 10*nw; symbol ratio <= 0.1 <=> 10*nsym <= nw;
    bullet <= 10% <=> 10*nbullet <= nl; ellipsis <= 30% <=>
    10*nell <= 3*nl; alpha >= 80% <=> 5*nalpha >= 4*nw), the
    strongest cross-engine class (the q_mix_doremi precedent).
    Tokens = whitespace split, lengths = code points, the alphabetic
    test = explicit-ASCII regex (the unicode contract); '…' is one
    code point on both engines.

    Plan: ONE spread scan (per-row array kernels off the
    single-file scan task, the q_filter_reasons discipline), all
    rules scan-stage expressions, ONE map-side-combined groupBy to
    |sources| rows."""
    d = load(spark, sf_dir, "documents", spread=True)
    toks = F.split("text", " ")
    lines = F.split("text", "\n")
    nw = F.size(toks)
    sumlen = F.aggregate(
        F.transform(toks, lambda w: F.length(w)),
        F.lit(0),
        lambda a, x: a + x,
    )
    nsym = (
        F.length("text")
        - F.length(F.regexp_replace("text", "#", ""))
        + F.length("text")
        - F.length(F.regexp_replace("text", "…", ""))
    )
    nl = F.size(lines)
    nbullet = F.size(
        F.filter(
            lines,
            lambda x: x.startswith("-")
            | x.startswith("•")
            | x.startswith("*"),
        )
    )
    nell = F.size(
        F.filter(lines, lambda x: x.endswith("...") | x.endswith("…"))
    )
    nalpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    sw = F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS])
    nsw = F.size(F.array_intersect(F.array_distinct(toks), sw))

    def fail(cond):
        return F.when(cond, 0).otherwise(1)

    g = d.select(
        "source",
        fail(nw.between(_GOPHER_WC_LO, _GOPHER_WC_HI)).alias("f_wordcount"),
        fail((sumlen >= 3 * nw) & (sumlen <= 10 * nw)).alias("f_wordlen"),
        fail(10 * nsym <= nw).alias("f_symbol"),
        fail(10 * nbullet <= nl).alias("f_bullet"),
        fail(10 * nell <= 3 * nl).alias("f_ellipsis"),
        fail(5 * nalpha >= 4 * nw).alias("f_alpha"),
        fail(nsw >= 2).alias("f_stopword"),
    )
    allf = sum(
        (F.col(c) for c in (
            "f_wordcount", "f_wordlen", "f_symbol", "f_bullet",
            "f_ellipsis", "f_alpha", "f_stopword",
        )),
        F.lit(0),
    )
    return (
        g.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            *[
                F.sum(c).cast("long").alias(f"n_fail_{c[2:]}")
                for c in (
                    "f_wordcount", "f_wordlen", "f_symbol", "f_bullet",
                    "f_ellipsis", "f_alpha", "f_stopword",
                )
            ],
            F.count(F.when(allf == 0, 1)).cast("long").alias("n_pass"),
        )
        .orderBy("source")
    )


q_quality_gopher.__doc__ = q_quality_gopher.__doc__.format(
    lo=_GOPHER_WC_LO, hi=_GOPHER_WC_HI
)
