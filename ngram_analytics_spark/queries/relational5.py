"""TPC-H-shaped composite queries (Q3 / Q5 / Q10 analogues) and
Deequ-style data-quality operators (table profiling, constraint
suites).

The reference engine has no counterpart (its sole operator is the
n-gram transform, NGramTransform.java:95-134); this is north-star
surface (SURVEY.md §2.B): the decision-support join pipelines every
warehouse engine is judged on, plus the data-quality passes a
training pipeline runs before trusting a new drop of data.

Scale notes: the composites follow the star-join discipline the
graded surface already pins — date/segment filters sit in the scan
(pushed to parquet), small dimensions broadcast, the lineitem spine
never shuffles more than once per join key, and every money sum rides
the fixed-point int64 path (pure long adds in whole-stage codegen).
Profiling computes all per-column statistics in ONE scan (grouping-id
expansion), not one scan per column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ngram_analytics_spark.catalog import load
from ngram_analytics_spark.operators.asof import asof_join
from ngram_analytics_spark.functions.deterministic import (
    dsum_fixed,
    oracle_dsum_fixed,
    oracle_round4det,
    round4det,
)
from ngram_analytics_spark.registry import QueryRegistry

REG = QueryRegistry()

_REVENUE = "l_extendedprice * (1 - l_discount)"


@REG.register(
    "q_tpch_q3",
    oracle=f"""
        SELECT l.l_orderkey,
               {oracle_dsum_fixed(_REVENUE)} AS revenue,
               strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
               o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15'
          AND l.l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): top-10 unshipped orders of one
    market segment by revenue.

    Plan: segment filter prunes customers scan-side and the pruned dim
    broadcasts into orders; the surviving orders (date-filtered in the
    scan) broadcast into the lineitem spine, which therefore never
    shuffles before its one aggregation on l_orderkey. The top-10 is a
    TakeOrdered (no global sort), deterministic because revenue is a
    fixed-point sum and ties break on the key."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < "1998-03-15")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > "1998-03-15")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            F.broadcast(o.join(F.broadcast(c), o.o_custkey == c.c_custkey)),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .agg(dsum_fixed(revenue, "revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@REG.register(
    "q_tpch_q5",
    oracle=f"""
        SELECT n.n_name,
               {oracle_dsum_fixed(_REVENUE)} AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n.n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue by nation where the
    customer and supplier share the nation, one region, one year.

    Plan: region->nation->supplier collapses to one broadcast dim;
    customers join it broadcast too (the c_nationkey = s_nationkey
    equi-term rides the join), so the only shuffle is lineitem ⋈
    orders on the orderkey spine followed by the 5-key nation agg."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = load(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum_fixed(revenue, "revenue"))
    )


@REG.register(
    "q_tpch_q10",
    oracle=f"""
        SELECT c.c_custkey, c.c_name,
               {oracle_dsum_fixed(_REVENUE)} AS revenue,
               {oracle_round4det("min(c.c_acctbal)")} AS acctbal,
               min(n.n_name) AS nation
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-04-01'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top-20 customers by revenue
    lost to returns in one quarter.

    Plan: quarter-filtered orders broadcast into the return-filtered
    lineitem spine (both filters in the scans); the customer dim
    (with its broadcast nation join) arrives broadcast as well, so the
    spine's only shuffle is the per-customer aggregation; top-20 is a
    TakeOrdered on the fixed-point revenue with key tiebreak."""
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = load(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-04-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            dsum_fixed(revenue, "revenue"),
            round4det(F.min("c_acctbal")).alias("acctbal"),
            F.min("n_name").alias("nation"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


#: columns profiled by q_profile_table, with their value family —
#: doubles report rounded numeric min/max (double->string formatting
#: is engine-specific: Java emits scientific notation above 1e7),
#: everything else reports string min/max (bigint/varchar/timestamp
#: casts are format-stable across engines).
_PROFILE_COLS = (
    ("o_orderkey", "str"),
    ("o_custkey", "str"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "str"),
    ("o_orderpriority", "str"),
)


def _profile_oracle() -> str:
    parts = []
    for col, fam in _PROFILE_COLS:
        min_s = f"CAST(min({col}) AS VARCHAR)" if fam == "str" else "NULL"
        max_s = f"CAST(max({col}) AS VARCHAR)" if fam == "str" else "NULL"
        min_n = oracle_round4det(f"min({col})") if fam == "num" else "NULL"
        max_n = oracle_round4det(f"max({col})") if fam == "num" else "NULL"
        parts.append(
            f"""SELECT '{col}' AS column_name,
                   count(*) AS n_rows,
                   count(*) - count({col}) AS n_null,
                   count(DISTINCT {col}) AS n_distinct,
                   {min_s} AS min_str, {max_s} AS max_str,
                   CAST({min_n} AS DOUBLE) AS min_num,
                   CAST({max_n} AS DOUBLE) AS max_num
            FROM orders"""
        )
    return " UNION ALL ".join(parts)


@REG.register("q_profile_table", oracle=_profile_oracle())
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (Deequ/TFDV-style): one row per column with
    row/null/distinct counts and min/max — the first pass a pipeline
    runs on any new data drop.

    All statistics come from ONE scan: a single multi-countDistinct
    aggregate (Catalyst's grouping-expand handles the distincts) whose
    single output row is exploded into per-column rows plan-side — no
    per-column re-scan, no driver round-trips. At petabyte scale the
    exact distincts downgrade to approx_count_distinct; exact is kept
    here for oracle certifiability."""
    o = load(spark, sf_dir, "orders")
    aggs = [F.count("*").alias("n_rows")]
    for col, fam in _PROFILE_COLS:
        aggs.append(F.count(col).alias(f"nn_{col}"))
        aggs.append(F.countDistinct(col).alias(f"nd_{col}"))
        if fam == "str":
            aggs.append(F.min(col).cast("string").alias(f"mins_{col}"))
            aggs.append(F.max(col).cast("string").alias(f"maxs_{col}"))
        else:
            aggs.append(round4det(F.min(col)).alias(f"minn_{col}"))
            aggs.append(round4det(F.max(col)).alias(f"maxn_{col}"))
    one = o.agg(*aggs)
    structs = []
    for col, fam in _PROFILE_COLS:
        structs.append(
            F.struct(
                F.lit(col).alias("column_name"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(f"nn_{col}")).alias("n_null"),
                F.col(f"nd_{col}").alias("n_distinct"),
                (
                    F.col(f"mins_{col}")
                    if fam == "str"
                    else F.lit(None).cast("string")
                ).alias("min_str"),
                (
                    F.col(f"maxs_{col}")
                    if fam == "str"
                    else F.lit(None).cast("string")
                ).alias("max_str"),
                (
                    F.col(f"minn_{col}")
                    if fam == "num"
                    else F.lit(None).cast("double")
                ).alias("min_num"),
                (
                    F.col(f"maxn_{col}")
                    if fam == "num"
                    else F.lit(None).cast("double")
                ).alias("max_num"),
            )
        )
    return one.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


@REG.register(
    "q_dq_checks",
    oracle="""
        SELECT 'quantity_positive' AS check_name,
               CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_violations
        FROM lineitem
        UNION ALL
        SELECT 'discount_in_range',
               CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'shipdate_not_null',
               CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'pk_unique',
               count(*) - count(DISTINCT (l_orderkey, l_linenumber))
        FROM lineitem
        UNION ALL
        SELECT 'fk_orders_covered', count(*)
        FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)
    """,
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-suite validation (Deequ-style): each check emits a
    violation count — range, nullability, primary-key uniqueness, and
    foreign-key coverage — the gate a pipeline runs before promoting a
    batch.

    The three row-local checks and the PK check share ONE scan (single
    aggregate); FK coverage is a left-anti probe against the
    broadcast-able orders key set. Violation counts (not samples) keep
    the output bounded at any scale."""
    li = load(spark, sf_dir, "lineitem")
    row_checks = li.agg(
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias(
            "quantity_positive"
        ),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1
            ).otherwise(0)
        ).alias("discount_in_range"),
        F.sum(
            F.when(F.col("l_shipdate").isNull(), 1).otherwise(0)
        ).alias("shipdate_not_null"),
        (
            F.count("*")
            - F.countDistinct(F.struct("l_orderkey", "l_linenumber"))
        ).alias("pk_unique"),
    )
    structs = [
        F.struct(F.lit(n).alias("check_name"), F.col(n).alias("n_violations"))
        for n in (
            "quantity_positive",
            "discount_in_range",
            "shipdate_not_null",
            "pk_unique",
        )
    ]
    rows = row_checks.select(F.explode(F.array(*structs)).alias("c")).select(
        "c.*"
    )
    fk = (
        li.select("l_orderkey")
        .join(
            load(spark, sf_dir, "orders").select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count("*").alias("n_violations"))
        .select(F.lit("fk_orders_covered").alias("check_name"), "n_violations")
    )
    return rows.unionAll(fk)


@REG.register(
    "q_scd2",
    oracle="""
        SELECT o_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
               coalesce(
                   strftime(
                       lead(o_orderdate) OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate ASC, o_orderkey ASC
                       ), '%Y-%m-%d'),
                   '9999-12-31') AS valid_to,
               CASE WHEN lead(o_orderdate) OVER (
                        PARTITION BY o_custkey
                        ORDER BY o_orderdate ASC, o_orderkey ASC
                    ) IS NULL THEN 1 ELSE 0 END AS is_current
        FROM orders
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: turn an event-ordered dimension feed
    (orders per customer) into versioned rows with [valid_from,
    valid_to) intervals and a current-row flag — the warehouse pattern
    for tracking attribute history, and the producer side of the
    q_join_interval / q_join_asof temporal joins.

    One window (lead over the natural key, full-key tiebreak so
    same-day versions order identically on any engine), one shuffle on
    the dimension key. The open interval is pinned to a sentinel
    high date, matching common warehouse practice."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    nxt = F.lead("o_orderdate").over(w)
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(
            F.date_format(nxt, "yyyy-MM-dd"), F.lit("9999-12-31")
        ).alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


@REG.register(
    "q_topk_salted",
    oracle=f"""
        SELECT o_orderpriority, o_orderkey,
               {oracle_round4det("o_totalprice")} AS price,
               rn
        FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey ASC
                   ) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
)
def q_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase top-k per group: phase 1 ranks within
    (group, salt) partitions — 8-way salting spreads a hot group
    across tasks and prunes to at most 8k candidate rows per group —
    and phase 2 ranks the survivors globally per group. Correct
    because every global top-k row is necessarily in its salt's
    top-k (a superset survives phase 1).

    The oracle is the UNSALTED single-window rank: salting is
    semantics-preserving (the q_join_salted / q_agg_salted
    discipline), so the hash gate certifies exactly that. This is the
    100 TB answer to q_topk_pergroup's single-window shape, where one
    degenerate group would serialize into one task."""
    from pyspark.sql.window import Window as W

    k = 3
    o = load(spark, sf_dir, "orders").withColumn(
        "_salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(8))
    )
    w1 = W.partitionBy("o_orderpriority", "_salt").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    survivors = (
        o.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1", "_salt")
    )
    w2 = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        survivors.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .select(
            "o_orderpriority",
            "o_orderkey",
            round4det(F.col("o_totalprice")).alias("price"),
            "rn",
        )
    )


@REG.register("q_sketch_countmin")  # rows-only: xxhash64 grid is Spark-specific
def q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch demo over lineitem part keys: two
    partition sketches (split by line number parity) merged by counter
    addition, point-queried for the 10 most frequent parts — returns
    (l_partkey, exact, est) with est >= exact by construction and the
    merged estimate EXACTLY equal to a single-pass sketch (linearity;
    both properties pinned in tests/test_sketch.py).

    Deterministic (seeded xxhash64 grid) but hash-family-specific, so
    rows-only like the HLL / MinHash / SimHash families."""
    from ngram_analytics_spark.operators.sketch import (
        countmin_build,
        countmin_estimate,
        countmin_merge,
    )

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_linenumber"
    )
    sk = countmin_merge(
        countmin_build(li.filter(F.col("l_linenumber") % 2 == 0), "l_partkey"),
        countmin_build(li.filter(F.col("l_linenumber") % 2 == 1), "l_partkey"),
    )
    top = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("exact"))
        .orderBy(F.col("exact").desc(), F.col("l_partkey").asc())
        .limit(10)
    )
    return (
        countmin_estimate(sk, top.select("l_partkey"), "l_partkey")
        .join(top, "l_partkey")
        .select("l_partkey", "exact", "est")
        .orderBy("l_partkey")
    )


#: Certified count-min grid: depth 4 (one md5 digest = four independent
#: 32-bit hash rows, the q_dedup_minhash_exact chunking), width 1024 —
#: 4096 counters total, constant-size aggregate state like q_agg_bitmap.
_CM_D = 4
_CM_W = 1024


@REG.register(
    "q_sketch_countmin_exact",
    oracle=f"""
        WITH c AS (
            SELECT l_partkey, CAST(count(*) AS BIGINT) AS exact
            FROM lineitem GROUP BY l_partkey
        ), pos AS (
            SELECT l_partkey, exact, d.d,
                   CAST('0x' || substring(
                       md5(CAST(l_partkey AS VARCHAR)),
                       1 + 8 * d.d, 8) AS BIGINT) % {_CM_W} AS pos
            FROM c CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d) d
        ), cells AS (
            SELECT d, pos, CAST(sum(exact) AS BIGINT) AS cell
            FROM pos GROUP BY d, pos
        ), top AS (
            SELECT l_partkey, exact FROM c
            ORDER BY exact DESC, l_partkey ASC LIMIT 10
        )
        SELECT t.l_partkey, t.exact, CAST(min(ce.cell) AS BIGINT) AS est
        FROM top t
        JOIN pos p ON p.l_partkey = t.l_partkey
        JOIN cells ce ON ce.d = p.d AND ce.pos = p.pos
        GROUP BY t.l_partkey, t.exact
        ORDER BY t.l_partkey
    """,
)
def q_sketch_countmin_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certified count-min sketch: the SQL-oracled twin of
    q_sketch_countmin (whose xxhash64 grid is Spark-specific, so it
    stays rows-only) — hash positions come from md5 hex chunks, which
    are bit-identical in both engines (the trick that certified
    MinHash / SimHash / Bloom in r6, applied to the last rows-only
    sketch; VERDICT r6 "Next round" item 5). Builds a 4x1024 counter
    grid over lineitem part-key frequencies and point-queries the 10
    most frequent parts: est = min over the 4 rows of the addressed
    cells, with est >= exact guaranteed by construction and certified
    cell-exactly against DuckDB.

    Plan: the key-count agg is map-side combined on l_partkey; the
    grid agg is {_CM_D}x{_CM_W} = 4096 rows of constant state
    (q_agg_bitmap class) and BROADCASTS into the 40-row probe join;
    the top-10 is a TakeOrdered. At 100 TB the sketch size is
    unchanged — only the key-count agg scales, and it shuffles
    pre-combined (distinct-key-count rows, not fact rows).

    Determinism: counters are exact integer sums; positions are
    md5-chunk ints mod 1024; the top-10 ties break on l_partkey."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey")
    cnts = li.groupBy("l_partkey").agg(F.count("*").alias("exact"))

    def pos(d: int) -> "F.Column":
        return (
            F.conv(
                F.substring(
                    F.md5(F.col("l_partkey").cast("string")),
                    1 + 8 * d,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _CM_W
        )

    probes = cnts.select(
        "l_partkey",
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"), pos(d).alias("pos")
                    )
                    for d in range(_CM_D)
                ]
            )
        ).alias("p"),
    ).select("l_partkey", "exact", "p.d", "p.pos")
    cells = probes.groupBy("d", "pos").agg(F.sum("exact").alias("cell"))
    top = cnts.orderBy(F.col("exact").desc(), F.col("l_partkey").asc()).limit(
        10
    )
    return (
        top.join(probes.select("l_partkey", "d", "pos"), "l_partkey")
        .join(F.broadcast(cells), ["d", "pos"])
        .groupBy("l_partkey", "exact")
        .agg(F.min("cell").alias("est"))
        .orderBy("l_partkey")
    )


@REG.register(
    "q_fn_crypto",
    oracle="""
        SELECT doc_id,
               text AS roundtrip,
               CASE WHEN text IS NULL THEN NULL ELSE NULL END
                   AS bad_key_decrypt,
               sha256(text) AS digest
        FROM documents
    """,
)
def q_fn_crypto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level crypto family: AES-GCM encrypt/decrypt round-trip
    (tokenizing PII columns at rest), try_aes_decrypt returning NULL —
    not a job failure — under a wrong key, and a SHA-256 digest.

    The oracle certifies the SEMANTICS rather than the ciphertext
    (AES-GCM is nondeterministic by design — fresh IV per row): the
    round-trip must be the identity, the wrong-key probe must be NULL,
    and the digest must match DuckDB's sha256. All JVM-side built-ins
    (aes_encrypt / try_aes_decrypt), zero Python."""
    # single-row-group documents scan + four AES passes per row: the
    # spread load runs the crypto kernels plan-wide (the
    # q_dedup_jaccard discipline)
    d = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    return d.select(
        "doc_id",
        F.expr(
            "CAST(aes_decrypt(aes_encrypt(text, '0123456789abcdef', 'GCM'),"
            " '0123456789abcdef', 'GCM') AS STRING)"
        ).alias("roundtrip"),
        F.expr(
            "CAST(try_aes_decrypt(aes_encrypt(text, '0123456789abcdef',"
            " 'GCM'), 'fedcba9876543210', 'GCM') AS STRING)"
        ).alias("bad_key_decrypt"),
        F.sha2(F.col("text"), 256).alias("digest"),
    )


@REG.register(
    "q_fn_levenshtein",
    oracle="""
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.source AS src_a, b.source AS src_b,
               levenshtein(a.source, b.source) AS lev,
               CASE WHEN levenshtein(a.source, b.source) <= 3
                    THEN 1 ELSE 0 END AS near_match
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    """,
)
def q_fn_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching (the entity-resolution kernel):
    levenshtein over candidate pairs with a near-match threshold —
    the scoring step of a blocking+scoring match pipeline (candidate
    generation itself is the dedup family's LSH/rare-shingle joins;
    adjacent-id pairs stand in here, the q_dedup_jaccard convention).

    JVM built-in `levenshtein` on short key-like strings — O(n*m) per
    pair means the 100 TB discipline is: block first, score the
    bounded candidate set, never all-pairs."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    a = d.select(F.col("doc_id").alias("id_a"), F.col("source").alias("src_a"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("source").alias("src_b"))
    lev = F.levenshtein("src_a", "src_b")
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a",
            "id_b",
            "src_a",
            "src_b",
            lev.alias("lev"),
            F.when(lev <= 3, 1).otherwise(0).alias("near_match"),
        )
    )


@REG.register(
    "q_tpch_q18",
    oracle=f"""
        WITH big AS (
            SELECT l_orderkey, sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(l_quantity) > 150
        )
        SELECT c.c_custkey, c.c_name, o.o_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
               {oracle_round4det("o.o_totalprice")} AS total_price,
               {oracle_round4det("b.sum_qty")} AS sum_qty
        FROM big b
        JOIN orders o ON o.o_orderkey = b.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        ORDER BY total_price DESC, o.o_orderkey ASC
        LIMIT 100
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): the top-100 orders whose
    total line quantity exceeds the threshold, with their customers.

    Plan: the quantity rollup is ONE map-side-combined shuffle on
    l_orderkey and the HAVING prunes it to a small survivor set, which
    then BROADCASTS into orders (no second lineitem pass — the rollup
    is reused instead of re-aggregated, unlike the literal SQL's
    IN-subquery + re-join formulation); customers arrive broadcast
    too, so the spine shuffles exactly once. Top-100 is a TakeOrdered
    on (price, orderkey) — deterministic tiebreak, no global sort."""
    big = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            round4det(F.col("o_totalprice")).alias("total_price"),
            round4det(F.col("sum_qty")).alias("sum_qty"),
        )
        .orderBy(F.col("total_price").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@REG.register(
    "q_tpch_q7",
    oracle=f"""
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               year(l.l_shipdate) AS l_year,
               {oracle_dsum_fixed(_REVENUE)} AS revenue
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE n1.n_nationkey != n2.n_nationkey
          AND l.l_shipdate >= TIMESTAMP '1995-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1, 2, 3
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping), generalized to the full bilateral
    trade matrix: revenue between every distinct supplier-nation /
    customer-nation pair by ship year (the classic Q7 pins one nation
    pair; the synthetic smoke corpus has too few suppliers for any
    single pinned pair to be non-empty at every scale factor, and the
    matrix form exercises the identical plan).

    Plan: supplier⋈nation and customer⋈nation collapse to broadcast
    dims (nation is 25 rows — broadcast cost is nil); the date filter
    sits in the lineitem scan. The spine shuffles once on the orderkey
    join, and the cross-nation predicate is applied post-join where
    both nation names are in scope. Final agg is nations²·years
    groups — map-side combined."""
    n = load(spark, sf_dir, "nation")
    s = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"),
                                 F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    c = (
        load(spark, sf_dir, "customer")
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("cn_key"),
                                 F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("cn_key"),
        )
        .select("c_custkey", "cust_nation")
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate",
                "l_extendedprice", "l_discount")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair_ok = F.col("supp_nation") != F.col("cust_nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair_ok)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(dsum_fixed(revenue, "revenue"))
    )


@REG.register(
    "q_join_shuffle_hash",
    oracle=f"""
        SELECT o.o_orderpriority,
               count(*) AS n,
               {oracle_dsum_fixed("l.l_extendedprice")} AS sum_price
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
)
def q_join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy control: the lineitem⋈orders spine under an
    explicit SHUFFLE_HASH hint. Sort-merge is Spark's default for two
    large sides, but when one side comfortably fits a per-task hash
    map, shuffled-hash skips BOTH sort phases — on a 100 TB spine
    that's the difference between 2 sorts of the fact table and none;
    the hint is the lever (per-join, no global conf flip). Semantics
    are identical to the unhinted join, which is exactly what the
    oracle certifies; the strategy itself is pinned by plan test
    (ShuffledHashJoin node, no SortMergeJoin)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return (
        li.join(o.hint("SHUFFLE_HASH"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            dsum_fixed(F.col("l_extendedprice"), "sum_price"),
        )
    )


@REG.register(
    "q_join_overlap",
    oracle="""
        WITH iv AS (
            SELECT l_orderkey, l_linenumber,
                   CAST(l_shipdate AS DATE) AS l_shipdate,
                   CAST(l_shipdate AS DATE)
                       + CAST(l_orderkey % 28 + 1 AS INTEGER)
                       AS l_rcptdate
            FROM lineitem
        )
        SELECT a.l_orderkey AS key_a, a.l_linenumber AS line_a,
               b.l_orderkey AS key_b, b.l_linenumber AS line_b,
               date_diff('day',
                         greatest(a.l_shipdate, b.l_shipdate),
                         least(a.l_rcptdate, b.l_rcptdate))
                   + 1 AS overlap_days
        FROM (SELECT * FROM iv WHERE l_orderkey % 197 = 0) a
        JOIN (SELECT * FROM iv WHERE l_orderkey % 193 = 0) b
          ON a.l_shipdate <= b.l_rcptdate
         AND b.l_shipdate <= a.l_rcptdate
         AND a.l_orderkey < b.l_orderkey
    """,
)
def q_join_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap join: which shipments (subset A)
    were in transit — [l_shipdate, ship + 1..28-day transit], closed —
    at the same time as shipments from subset B (the transit time is
    derived deterministically from the order key; this lineitem layout
    carries no l_receiptdate). The missing sibling of the
    point-in-interval range join (q_join_range_binned): the naive
    plan is a nested loop over every pair of intervals; here
    operators.rangejoin.interval_overlap_join explodes both sides to
    32-day bins (>= the 28-day max transit time, so fan-out <= 2 bins
    per row), equi-joins on the bin, re-applies the exact overlap
    predicate, and claims each pair in the single bin holding the
    later ship date — exactly-once output with no dedup pass and no
    nested-loop node (pinned by plan test). The oracle is the plain
    quadratic join, certifying the bin decomposition loses and
    invents nothing."""
    from ngram_analytics_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.to_date("l_shipdate").alias("l_shipdate"),
        F.date_add(
            F.to_date("l_shipdate"), (F.col("l_orderkey") % 28 + 1).cast("int")
        ).alias("l_rcptdate"),
    )
    a = li.filter(F.col("l_orderkey") % 197 == 0).select(
        F.col("l_orderkey").alias("key_a"),
        F.col("l_linenumber").alias("line_a"),
        F.col("l_shipdate").alias("ship_a"),
        F.col("l_rcptdate").alias("rcpt_a"),
    )
    b = li.filter(F.col("l_orderkey") % 193 == 0).select(
        F.col("l_orderkey").alias("key_b"),
        F.col("l_linenumber").alias("line_b"),
        F.col("l_shipdate").alias("ship_b"),
        F.col("l_rcptdate").alias("rcpt_b"),
    )
    return (
        interval_overlap_join(
            a, b, "ship_a", "rcpt_a", "ship_b", "rcpt_b",
            bin_width="32 days",
        )
        .filter(F.col("key_a") < F.col("key_b"))
        .select(
            "key_a",
            "line_a",
            "key_b",
            "line_b",
            (
                F.datediff(
                    F.least("rcpt_a", "rcpt_b"),
                    F.greatest("ship_a", "ship_b"),
                )
                + 1
            ).alias("overlap_days"),
        )
    )


#: skew profile: how many hot keys to report.
_SKEW_TOPN = 10


@REG.register(
    "q_skew_profile",
    oracle=f"""
        WITH kc AS (
            SELECT o_custkey AS key, count(*) AS cnt
            FROM orders GROUP BY o_custkey
        ), tot AS (
            SELECT CAST(sum(cnt) AS BIGINT) AS rows_total,
                   count(*) AS keys_total
            FROM kc
        ), ranked AS (
            SELECT key, cnt,
                   row_number() OVER (ORDER BY cnt DESC, key ASC) AS rnk
            FROM kc
        )
        SELECT r.rnk, r.key, r.cnt,
               CAST(floor(r.cnt * 1000000 / t.rows_total) AS BIGINT)
                   AS ppm_of_rows,
               CAST(floor(sum(r.cnt) OVER (
                        ORDER BY r.rnk
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) * 1000000 / t.rows_total) AS BIGINT) AS cum_ppm,
               t.keys_total, t.rows_total
        FROM ranked r CROSS JOIN tot t
        WHERE r.rnk <= {_SKEW_TOPN}
    """,
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/aggregation-key skew profiler: the top-{n} hottest values
    of a prospective shuffle key (orders.o_custkey) with each key's
    row share and the cumulative hot-key mass in integer ppm, plus
    the global key/row totals — the diagnostic a pipeline runs BEFORE
    choosing between a plain shuffle, salting (q_join_salted /
    q_agg_salted) or AQE skew splitting for a 100 TB join. A top key
    holding >>1/n_partitions of the rows is the straggler signature.

    Plan: per-key counts are one map-side-combined aggregation; the
    top-{n} selection is TakeOrderedAndProject over the key-count
    table (per-partition heads — the full key histogram is never
    globally sorted); totals are a 1-row broadcast; rank and the
    cumulative mass come from a triangular self-join over the {n}
    retained rows (the q_vocab_coverage pattern — no unpartitioned
    window anywhere in the plan). Shares are floor-ppm integers — no
    float division to drift cross-engine."""
    kc = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count("*").alias("cnt"))
    )
    tot = kc.groupBy().agg(
        F.sum("cnt").alias("rows_total"), F.count("*").alias("keys_total")
    )
    top = kc.orderBy(F.col("cnt").desc(), F.col("key").asc()).limit(
        _SKEW_TOPN
    )
    t2 = top.select(
        F.col("key").alias("k2"), F.col("cnt").alias("c2")
    )
    # triangular join: every row pairs with itself and its superiors
    # in (cnt DESC, key ASC) order — count = rank, sum = running mass
    tri = top.join(
        F.broadcast(t2),
        (F.col("c2") > F.col("cnt"))
        | ((F.col("c2") == F.col("cnt")) & (F.col("k2") <= F.col("key"))),
    ).groupBy("key", "cnt").agg(
        F.count("*").alias("rnk"), F.sum("c2").alias("cum_cnt")
    )
    return (
        tri.join(F.broadcast(tot))
        .select(
            "rnk",
            "key",
            "cnt",
            F.floor(F.col("cnt") * 1000000 / F.col("rows_total"))
            .cast("long")
            .alias("ppm_of_rows"),
            F.floor(
                F.col("cum_cnt") * 1000000 / F.col("rows_total")
            )
            .cast("long")
            .alias("cum_ppm"),
            "keys_total",
            "rows_total",
        )
    )


q_skew_profile.__doc__ = q_skew_profile.__doc__.replace("{n}", str(_SKEW_TOPN))


@REG.register(
    "q_join_scd2_pit",
    oracle="""
        WITH s AS (
            SELECT o_custkey, o_orderkey,
                   CAST(o_orderdate AS DATE) AS vf,
                   lead(CAST(o_orderdate AS DATE)) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate ASC, o_orderkey ASC
                   ) AS vt
            FROM orders
        )
        SELECT e.event_id, e.user_id,
               s.o_orderkey AS version_key,
               strftime(s.vf, '%Y-%m-%d') AS version_from
        FROM events e
        LEFT JOIN s ON e.user_id = s.o_custkey
                   AND CAST(e.ts AS DATE) >= s.vf
                   AND (s.vt IS NULL OR CAST(e.ts AS DATE) < s.vt)
    """,
)
def q_join_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join: each event resolves to the SCD2
    dimension VERSION that was valid at event time — the feature-store
    correctness pattern (training features must come from the version
    visible at the event, never a later one: temporal leakage).
    Consumes the q_scd2 producer shape; events before a user's first
    version keep NULLs (left semantics).

    Plan: NOT an interval range-join — PIT against half-open version
    intervals is exactly a backward as-of on valid_from, so it rides
    operators.asof's union-merge (one shuffle per side on the key,
    linear merge). Same-day version chains collapse to the
    max-version_key row via the in-merge right_order tiebreak —
    identical to the oracle's non-empty-interval match, because only
    a day's LAST version has a non-empty [valid_from, valid_to).

    Oracle: the definitional interval LEFT JOIN over the lead()
    version table."""
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", F.to_date("ts").alias("event_day")
    )
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("vf"),
        F.col("o_orderkey").alias("version_key"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("version_from"),
    )
    return asof_join(
        e,
        o,
        left_key="user_id",
        right_key="o_custkey",
        left_time="event_day",
        right_time="vf",
        right_values=["version_key", "version_from"],
        right_order="version_key",
    ).select("event_id", "user_id", "version_key", "version_from")
