"""Relational coverage, batch 4: multiset set-ops, inline VALUES
relations, calendar-interval arithmetic, IGNORE NULLS windows, linear
regression aggregates, second regexp family, transcendental scalar
functions, Spark 4 SQL pipe syntax, and the VARIANT semi-structured
type. Same determinism conventions as relational.py (FIXTURES.md).

Reference parity note: the reference engine has none of these (its sole
operator is the n-gram transform, NGramTransform.java:95-134); this
module is north-star surface mandated by BASELINE.json / SURVEY.md §2.B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ngram_analytics_spark.catalog import load, publish, register_views, scratch
from ngram_analytics_spark.functions.deterministic import (
    oracle_dsum,
    oracle_round_det,
    round_det,
)
from ngram_analytics_spark.registry import QueryRegistry
from ngram_analytics_spark.sources.pyds import synthetic_docs_oracle_sql

REG = QueryRegistry()


@REG.register(
    "q_set_ops_all",
    oracle="""
        SELECT 'both' AS op, k FROM (
            SELECT o_custkey AS k FROM orders
            INTERSECT ALL
            SELECT c_custkey AS k FROM customer
        )
        UNION ALL
        SELECT 'orders_only' AS op, k FROM (
            SELECT o_custkey AS k FROM orders
            EXCEPT ALL
            SELECT c_custkey AS k FROM customer
        )
    """,
)
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations (INTERSECT ALL / EXCEPT ALL), the
    bag-semantics complement of q_set_intersect/q_set_except.

    Spark plans both as aggregate-with-counters (no sort needed) — the
    same hash-partition-by-key shape as a groupBy, so the scale story is
    identical to a shuffle agg on the key.
    """
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    both = o.intersectAll(c).select(F.lit("both").alias("op"), "k")
    only = o.exceptAll(c).select(F.lit("orders_only").alias("op"), "k")
    return both.unionAll(only)


@REG.register(
    "q_values_inline",
    oracle="""
        SELECT t.prio, t.weight, count(*) AS n
        FROM orders o
        JOIN (VALUES ('1-URGENT', 5), ('2-HIGH', 4), ('3-MEDIUM', 3))
             AS t(prio, weight)
          ON o.o_orderpriority = t.prio
        GROUP BY t.prio, t.weight
    """,
)
def q_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES relation (a local, driver-defined dim) joined to a
    fact table. The 3-row dim is below every broadcast threshold, so
    Catalyst plans a broadcast hash join — zero shuffle on the fact side;
    at 100 TB this is the canonical tiny-dim enrichment pattern."""
    o = load(spark, sf_dir, "orders")
    dim = spark.createDataFrame(
        [("1-URGENT", 5), ("2-HIGH", 4), ("3-MEDIUM", 3)], ["prio", "weight"]
    )
    return (
        o.join(F.broadcast(dim), o.o_orderpriority == dim.prio)
        .groupBy("prio", "weight")
        .agg(F.count("*").alias("n"))
    )


@REG.register(
    "q_fn_interval",
    oracle="""
        SELECT o_orderkey,
               last_day(CAST(o_orderdate AS DATE)) AS month_end,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
                   AS plus3m,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 45 DAY AS DATE)
                   AS plus45d,
               CAST(CAST(o_orderdate AS DATE)
                    + CAST(((7 - isodow(CAST(o_orderdate AS DATE))) % 7 + 1)
                           || ' days' AS INTERVAL) AS DATE) AS next_monday,
               date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')
                   AS days_to_eoy
        FROM orders
    """,
)
def q_fn_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval arithmetic family: month-end, month addition
    (with end-of-month clamping), day offsets, next-weekday, day diffs.

    DuckDB has no next_day(); the oracle derives it from isodow — both
    sides define "next Monday" as strictly after the input date.
    """
    o = load(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.last_day(d).alias("month_end"),
        F.add_months(d, 3).alias("plus3m"),
        F.date_add(d, 45).alias("plus45d"),
        F.next_day(d, "Mon").alias("next_monday"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).alias("days_to_eoy"),
    )


@REG.register(
    "q_win_ignorenulls",
    oracle="""
        SELECT event_id,
               lag(v, 1 IGNORE NULLS)
                   OVER (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC) AS prev_v,
               lead(v, 1 IGNORE NULLS)
                   OVER (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC) AS next_v,
               last_value(v IGNORE NULLS)
                   OVER (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS last_seen_v
        FROM (
            SELECT event_id, user_id, ts,
                   CASE WHEN CAST(floor(value) AS BIGINT) % 5 = 0
                        THEN NULL ELSE value END AS v
            FROM events
        )
    """,
)
def q_win_ignorenulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS navigation windows (lag/lead/last_value) — the
    sparse-sensor pattern: skip over missing readings to the nearest
    real one. Nulls are injected deterministically (floor(value)%5=0)
    so both engines see the identical null mask.

    Spark's DataFrame API exposes ignorenulls only on first/last; the
    lag/lead forms are SQL-only, so this query is built as SQL text
    (identical window spec both engines; DuckDB differs only in where
    the IGNORE NULLS token sits).
    """
    register_views(spark, sf_dir, tables=("events",))
    return spark.sql(
        """
        SELECT event_id,
               lag(v, 1) IGNORE NULLS
                   OVER (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC) AS prev_v,
               lead(v, 1) IGNORE NULLS
                   OVER (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC) AS next_v,
               last_value(v) IGNORE NULLS
                   OVER (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS last_seen_v
        FROM (
            SELECT event_id, user_id, ts,
                   CASE WHEN CAST(floor(value) AS BIGINT) % 5 = 0
                        THEN NULL ELSE value END AS v
            FROM events
        )
        """
    )


@REG.register(
    "q_agg_regr",
    oracle=f"""
        SELECT l_returnflag,
               {oracle_round_det("regr_slope(l_extendedprice, l_quantity)")}
                   AS slope,
               {oracle_round_det("regr_intercept(l_extendedprice, l_quantity)", 2)}
                   AS intercept,
               {oracle_round_det("regr_r2(l_extendedprice, l_quantity)")}
                   AS r2,
               regr_count(l_extendedprice, l_quantity) AS n,
               {oracle_round_det("regr_avgx(l_extendedprice, l_quantity)")}
                   AS avg_x
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def q_agg_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (regr_slope/intercept/r2/count/avgx)
    per group — single-pass co-moment aggregation, map-side combinable,
    one shuffle on the group key. Intercept is rounded at 2dp (it mixes
    co-moments of ~1e5-magnitude prices, so its float noise floor is
    higher than the slope's)."""
    li = load(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        round_det(F.regr_slope(y, x)).alias("slope"),
        round_det(F.regr_intercept(y, x), 2).alias("intercept"),
        round_det(F.regr_r2(y, x)).alias("r2"),
        F.regr_count(y, x).alias("n"),
        round_det(F.regr_avgx(y, x)).alias("avg_x"),
    )


@REG.register(
    "q_fn_regexp2",
    oracle="""
        SELECT doc_id,
               len(regexp_extract_all(text, 'the')) AS n_the,
               coalesce(regexp_extract(text, '[a-z]*an[a-z]*'), '')
                   AS first_an,
               regexp_matches(text, 'scan (table|index)') AS has_scan_phrase,
               split_part(text, ' ', 3) AS third_token
        FROM documents WHERE text IS NOT NULL
    """,
)
def q_fn_regexp2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second regexp family: occurrence counting (regexp_count), first
    match extraction (regexp_substr), boolean match (rlike), and
    split_part. All JVM-side codegen'd expressions — no Python in the
    row path.

    NULL contract (tools/null_probe.py): NULL text filtered on BOTH
    engines — split_part(NULL) is NULL in Spark but '' in DuckDB."""
    d = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit("the")).alias("n_the"),
        F.coalesce(
            F.regexp_substr("text", F.lit("[a-z]*an[a-z]*")), F.lit("")
        ).alias("first_an"),
        F.col("text").rlike("scan (table|index)").alias("has_scan_phrase"),
        F.split_part("text", F.lit(" "), F.lit(3)).alias("third_token"),
    )


@REG.register(
    "q_fn_trig",
    oracle=f"""
        SELECT c_custkey,
               {oracle_round_det("sin(c_acctbal)")} AS sin_v,
               {oracle_round_det("cos(c_acctbal)")} AS cos_v,
               {oracle_round_det("atan2(c_acctbal, 7.0)")} AS atan2_v,
               {oracle_round_det("exp(c_acctbal / 10000.0)")} AS exp_v,
               {oracle_round_det("ln(abs(c_acctbal) + 1.0)")} AS ln_v
        FROM customer
    """,
)
def q_fn_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcendental scalar family (sin/cos/atan2/exp/ln). JVM Math and
    DuckDB's libm agree to <=1 ulp; with the 4-decimal floor-rounding a
    cross-engine flip needs the true value within 1 ulp of a rounding
    boundary (~1e-12/row) — measured 0 flips over sf0.1."""
    c = load(spark, sf_dir, "customer")
    b = F.col("c_acctbal")
    return c.select(
        "c_custkey",
        round_det(F.sin(b)).alias("sin_v"),
        round_det(F.cos(b)).alias("cos_v"),
        round_det(F.atan2(b, F.lit(7.0))).alias("atan2_v"),
        round_det(F.exp(b / F.lit(10000.0))).alias("exp_v"),
        round_det(F.log(F.abs(b) + F.lit(1.0))).alias("ln_v"),
    )


@REG.register(
    "q_sql_pipe",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               {oracle_dsum("l_extendedprice * (1 - l_discount)")} AS revenue
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        HAVING count(*) > 10
    """,
)
def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (|> operators): the TPC-H Q1 shape
    written as a linear dataflow. Parses to the exact same logical plan
    as the nested-SELECT form, so every Catalyst optimization (pushdown,
    partial agg, AQE) applies unchanged; the oracle is the classic SQL
    spelling."""
    register_views(spark, sf_dir, tables=("lineitem",))
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |> AGGREGATE count(*) AS n,
                     CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                         AS DECIMAL(25,8))), 4) AS DOUBLE)
                         AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n > 10
        """
    )


def _partitioned_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize a hive-partitioned copy of orders (dir-per-priority)
    in this process's scratch, once per version of the orders table.
    The directory layout IS the index: any later reader that filters on
    o_orderpriority prunes whole directories before reading a byte of
    data."""
    from ngram_analytics_spark.sources import write

    return publish(
        scratch("orders_by_prio", sf_dir, "orders"),
        lambda tmp: write(
            load(spark, sf_dir, "orders"), tmp, partition_by=["o_orderpriority"]
        ),
    )


@REG.register(
    "q_scan_partitioned",
    oracle=f"""
        SELECT o_orderstatus,
               count(*) AS n,
               {oracle_dsum("o_totalprice")} AS total
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY o_orderstatus
    """,
)
def q_scan_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static partition pruning: scan a hive-partitioned dataset with a
    literal predicate on the partition column. The scan's
    PartitionFilters (pinned in tests/test_plans.py) prove only the
    1-URGENT directory is read — at 100 TB this turns a full-table scan
    into a 1/5th-table scan with zero compute."""
    from ngram_analytics_spark.functions.deterministic import dsum

    path = _partitioned_orders_path(spark, sf_dir)
    # explicit schema: an EMPTY source writes a partition dir with no
    # data files, and schema inference would fail where the contract
    # answer is an empty frame (empty-probe r11)
    po = spark.read.schema(load(spark, sf_dir, "orders").schema).parquet(
        path
    )
    return (
        po.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), dsum("o_totalprice", "total"))
    )


@REG.register(
    "q_join_dpp",
    oracle=f"""
        SELECT d.prio, count(*) AS n, {oracle_dsum("o_totalprice")} AS total
        FROM orders o
        JOIN (VALUES ('1-URGENT', 1), ('2-HIGH', 2), ('3-MEDIUM', 3),
                     ('4-NOT SPECIFIED', 4), ('5-LOW', 5))
             AS d(prio, urgency)
          ON o.o_orderpriority = d.prio
        WHERE d.urgency <= 2
        GROUP BY d.prio
    """,
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact is partitioned on the join
    key, the dim filter (urgency <= 2) is only known at runtime, and
    Spark injects the dim's key set into the fact scan's
    PartitionFilters (dynamicpruning subquery, reusing the broadcast).
    The fact never reads the 3 pruned directories — the 100 TB pattern
    for star-schema queries with selective dims."""
    from ngram_analytics_spark.functions.deterministic import dsum

    path = _partitioned_orders_path(spark, sf_dir)
    # explicit schema — empty-slice contract (empty-probe r11), the
    # q_scan_partitioned discipline
    fact = spark.read.schema(
        load(spark, sf_dir, "orders").schema
    ).parquet(path)
    dim = spark.createDataFrame(
        [
            ("1-URGENT", 1),
            ("2-HIGH", 2),
            ("3-MEDIUM", 3),
            ("4-NOT SPECIFIED", 4),
            ("5-LOW", 5),
        ],
        ["prio", "urgency"],
    )
    return (
        fact.join(
            F.broadcast(dim.filter(F.col("urgency") <= 2)),
            fact.o_orderpriority == dim.prio,
        )
        .groupBy("prio")
        .agg(F.count("*").alias("n"), dsum("o_totalprice", "total"))
    )


@REG.register(
    "q_fn_variant",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
               CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_dbl,
               json_extract_string(props, '$.missing') IS NULL AS no_such_key
        FROM events
    """,
)
def q_fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT semi-structured type: parse once with
    parse_json, then typed variant_get extraction. Unlike
    get_json_object (string re-parse per access), VARIANT stores a
    binary-encoded tree, so repeated field access is O(field) — the
    100 TB pattern for wide semi-structured event logs."""
    e = load(spark, sf_dir, "events")
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.try_variant_get(v, "$.k", "bigint").alias("k_int"),
        F.try_variant_get(v, "$.k", "double").alias("k_dbl"),
        F.try_variant_get(v, "$.missing", "string").isNull().alias(
            "no_such_key"
        ),
    )


@REG.register(
    "q_source_pyds",
    oracle=synthetic_docs_oracle_sql(1000),
)
def q_source_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python Data Source API (Spark 4): read a programmatic source
    ('synthetic_docs', sources/pyds.py) whose partitions() plan fans
    generation across n_partitions parallel read() tasks. The corpus is
    a pure function of doc_id, so the DuckDB oracle regenerates it with
    the same arithmetic — certifying the source end-to-end, not just
    smoke-reading it. sf_dir is unused: the source IS the data."""
    from ngram_analytics_spark.sources.pyds import read_synthetic_docs

    return read_synthetic_docs(spark, n_docs=1000, n_partitions=8)


@REG.register(
    "q_fn_explode_pos",
    oracle="""
        SELECT doc_id,
               unnest(range(0, len(string_split(text, ' ')))) AS pos,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
        WHERE doc_id < 100
    """,
)
def q_fn_explode_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (posexplode): array -> (ordinal, element)
    rows. The generator runs inside the scan stage (no shuffle); the
    DuckDB oracle zips two parallel unnests."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    )


# Windowed deterministic sum: fixed-point int64 ticks summed over the
# frame, descaled once — the same SQL text runs on BOTH engines, so
# every arithmetic step is spelled (and rounded) identically.
_WIN_DSUM_VALUE = (
    "(CAST(SUM(CAST(floor(abs(value) * 10000.0 + 0.5) AS BIGINT)"
    " * (CASE WHEN value < 0 THEN -1 WHEN value > 0 THEN 1 ELSE 0 END))"
    " OVER w AS DOUBLE) / 10000.0)"
)

_WIN_RANGE_INTERVAL_SQL = f"""
    SELECT event_id,
           count(*) OVER w AS n_last_hour,
           {_WIN_DSUM_VALUE} AS sum_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                       AND CURRENT ROW)
"""


@REG.register("q_win_range_interval", oracle=_WIN_RANGE_INTERVAL_SQL)
def q_win_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval RANGE frame: per user, count/sum of events in
    the trailing 1-hour window of each event — the time-decayed-metrics
    shape. RANGE frames bound by value (not row count), so ties and
    gaps in ts are handled identically on both engines; the query text
    itself is identical SQL on both."""
    register_views(spark, sf_dir, tables=("events",))
    return spark.sql(_WIN_RANGE_INTERVAL_SQL)


@REG.register(
    "q_fn_url",
    oracle="""
        SELECT c_custkey,
               regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
               regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
               regexp_extract(url, '[?&]seg=([^&]*)', 1) AS seg_param
        FROM (
            SELECT c_custkey,
                   'https://shop.example.com/c/' || c_custkey
                       || '?seg=' || lower(c_mktsegment) || '&v=1' AS url
            FROM customer
        )
    """,
)
def q_fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing family (parse_url HOST/PATH/QUERY-param) over
    deterministically constructed URLs; DuckDB has no URL parser, so
    the oracle extracts the same components by regex."""
    c = load(spark, sf_dir, "customer")
    url = F.concat(
        F.lit("https://shop.example.com/c/"),
        F.col("c_custkey"),
        F.lit("?seg="),
        F.lower("c_mktsegment"),
        F.lit("&v=1"),
    )
    return c.select(
        "c_custkey",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("seg")).alias("seg_param"),
    )


@REG.register("q_agg_hll_merge")  # rows-only: sketch bytes are
# implementation-specific; estimate accuracy asserted in tests
def q_agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches, Spark 3.5+): build
    one sketch per l_returnflag partition, union them, estimate global
    NDV — the 100 TB rollup pattern (partial sketches are tiny,
    shuffle-light, and re-aggregable across any grouping without
    rescanning the fact table)."""
    li = load(spark, sf_dir, "lineitem")
    per_group = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    return per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("ndv_est")
    )


@REG.register(
    "q_fn_higher_order",
    oracle="""
        SELECT doc_id,
               list_reduce(
                   list_transform(range(1, len(toks) + 1),
                                  i -> CAST(length(toks[i]) * i AS BIGINT)),
                   (a, b) -> a + b) AS pos_weighted_len,
               len(list_filter(toks, t -> t = 'the')) > 0 AS has_the,
               list_bool_and(
                   list_transform(toks, t -> length(t) >= 2)) AS all_len2,
               CAST(len(list_filter(toks, t -> length(t) > 4))
                    AS INTEGER) AS n_long
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents)
    """,
)
def q_fn_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function family: zip_with + aggregate (fold),
    exists, forall, filter — all JVM lambda expressions evaluated
    per-row in the scan stage (integer arithmetic only, so no float
    determinism caveats). The fold computes a position-weighted token
    length, the classic pattern for order-sensitive array reductions
    without exploding."""
    d = load(spark, sf_dir, "documents").withColumn(
        "toks", F.split("text", " ")
    )
    toks = F.col("toks")
    weighted = F.aggregate(
        F.zip_with(
            toks,
            F.sequence(F.lit(1), F.size(toks)),
            lambda t, i: F.length(t).cast("long") * i,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        weighted.alias("pos_weighted_len"),
        F.exists(toks, lambda t: t == "the").alias("has_the"),
        F.forall(toks, lambda t: F.length(t) >= 2).alias("all_len2"),
        F.size(F.filter(toks, lambda t: F.length(t) > 4)).alias("n_long"),
    )


@REG.register(
    "q_merge_upsert",
    oracle=f"""
        WITH src AS (
            SELECT o_orderkey + 10000000 AS o_orderkey,
                   'N' AS o_orderstatus,
                   {oracle_round_det('o_totalprice * 0.5', 2)} AS o_totalprice
            FROM orders WHERE o_orderkey % 97 = 0
            UNION ALL
            SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey % 10 = 0
        )
        SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
               CASE WHEN s.o_orderkey IS NOT NULL
                    THEN s.o_orderstatus ELSE t.o_orderstatus END
                   AS o_orderstatus,
               CASE WHEN s.o_orderkey IS NOT NULL
                    THEN s.o_totalprice ELSE t.o_totalprice END
                   AS o_totalprice
        FROM (SELECT o_orderkey, o_orderstatus, o_totalprice
              FROM orders) t
        FULL JOIN src s ON t.o_orderkey = s.o_orderkey
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics without a lakehouse format
    (operators/upsert.py): a deterministic source batch updates every
    key % 10 == 0 (status -> 'X') and inserts shifted new keys; the
    result is the post-merge snapshot. One full-outer join on the key —
    with a bucketed target the 100 TB nightly-merge runs shuffle-free
    on the target side."""
    from ngram_analytics_spark.operators.upsert import merge_into

    t = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        t.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
    )
    inserts = t.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        round_det(F.col("o_totalprice") * 0.5, 2).alias("o_totalprice"),
    )
    return merge_into(t, inserts.unionByName(updates), key="o_orderkey")


@REG.register(
    "q_fn_try",
    oracle=f"""
        SELECT l_orderkey, l_linenumber,
               (10.0 / nullif(l_discount - l_discount, 0.0)) AS div_zero,
               TRY_CAST(l_returnflag AS INTEGER) AS bad_cast,
               CAST(NULL AS BIGINT) AS add_overflow,
               {oracle_round_det("l_extendedprice / l_quantity")}
                   AS unit_price
        FROM lineitem
    """,
)
def q_fn_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe family: try_divide/try_cast/try_add return
    NULL instead of failing the job — the difference between one bad
    row poisoning a 100 TB batch and a null you can quarantine. The
    overflow case always overflows by construction, so the oracle pins
    the NULL literal."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.lit(10.0), F.col("l_discount") - F.col("l_discount"))
            .alias("div_zero"),
        F.col("l_returnflag").try_cast("int").alias("bad_cast"),
        F.try_add(
            F.lit(9223372036854775807), F.col("l_orderkey") + F.lit(1)
        ).alias("add_overflow"),
        round_det(F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "unit_price"
        ),
    )


@REG.register(
    "q_sort_nulls",
    oracle="""
        SELECT c_custkey, v,
               row_number() OVER (ORDER BY v ASC NULLS FIRST,
                                  c_custkey ASC) AS pos_nf,
               row_number() OVER (ORDER BY v DESC NULLS LAST,
                                  c_custkey ASC) AS pos_nl
        FROM (
            SELECT c_custkey,
                   CASE WHEN c_custkey % 7 = 0 THEN NULL
                        ELSE c_acctbal END AS v
            FROM customer
        )
    """,
)
def q_sort_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit null-ordering semantics: the same nulls-injected column
    ranked under NULLS FIRST ascending and NULLS LAST descending (Spark
    and DuckDB have opposite defaults, so both orders are spelled).
    Emitting row_number makes the ORDER itself hash-checkable — the
    multiset compare would otherwise ignore sort direction.

    A naive global `row_number() OVER (ORDER BY ...)` moves ALL rows to
    one partition (WindowExec warns exactly that) — the one plan shape
    that serializes at scale. Instead this computes the global rank the
    distributed way: bucket every row by a range key MONOTONE in the
    sort order (nulls get the extreme bucket), rank WITHIN buckets
    (partitioned window), and add each bucket's global offset = total
    rows in all earlier buckets (a triangular self-join over the tiny
    per-bucket count table — broadcast, no unpartitioned window
    anywhere in the plan). Same output, executes range-parallel like a
    global sort."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("c_acctbal"))
        .alias("v"),
    )
    # c_acctbal spans [-999.99, 9999.99] -> ~11 value buckets of width
    # 1000 (bucket count is a constant of the DOMAIN, not the row count)
    c = c.withColumn(
        "_bnf",
        F.when(F.col("v").isNull(), F.lit(-2)).otherwise(
            F.floor(F.col("v") / 1000)
        ),
    ).withColumn(
        "_bnl",
        F.when(F.col("v").isNull(), F.lit(99)).otherwise(
            -F.floor(F.col("v") / 1000)
        ),
    )

    def bucket_offsets(df: DataFrame, bcol: str) -> DataFrame:
        cn = df.groupBy(bcol).agg(F.count("*").alias("_n"))
        return (
            cn.alias("x")
            .join(
                cn.alias("y"),
                F.col(f"y.{bcol}") < F.col(f"x.{bcol}"),
                "left",
            )
            .groupBy(f"x.{bcol}")
            .agg(F.coalesce(F.sum("y._n"), F.lit(0)).alias(f"_off{bcol}"))
        )

    w_nf = W.partitionBy("_bnf").orderBy(
        F.col("v").asc_nulls_first(), F.col("c_custkey").asc()
    )
    w_nl = W.partitionBy("_bnl").orderBy(
        F.col("v").desc_nulls_last(), F.col("c_custkey").asc()
    )
    return (
        c.withColumn("_rnf", F.row_number().over(w_nf))
        .withColumn("_rnl", F.row_number().over(w_nl))
        .join(F.broadcast(bucket_offsets(c, "_bnf")), "_bnf")
        .join(F.broadcast(bucket_offsets(c, "_bnl")), "_bnl")
        .select(
            "c_custkey",
            "v",
            (F.col("_off_bnf") + F.col("_rnf")).alias("pos_nf"),
            (F.col("_off_bnl") + F.col("_rnl")).alias("pos_nl"),
        )
    )


@REG.register(
    "q_fn_explode_outer",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '),
                               x -> length(x) > 8) AS longs
            FROM documents
            WHERE doc_id < 200
        )
        SELECT doc_id,
               CAST(len(longs) AS INT) AS n_long,
               unnest(CASE WHEN longs IS NULL OR len(longs) = 0
                           THEN [CAST(NULL AS VARCHAR)]
                           ELSE longs END) AS tok
        FROM t
    """,
)
def q_fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTER explode (null-preserving generator): docs whose filtered
    token array is EMPTY survive as one NULL-token row instead of
    vanishing — the LATERAL VIEW OUTER semantics a pipeline needs when
    the exploded attribute is optional but the parent row must be kept
    (inner explode silently drops parents, the classic row-loss bug).

    The generator runs inside the scan stage (no shuffle). DuckDB has
    no outer unnest, so the oracle lifts empty AND NULL lists to
    [NULL] before unnesting — spelling out exactly the semantics
    under test (Spark's explode_outer preserves the parent for a NULL
    array too; tools/null_probe.py caught the oracle covering only
    the empty case)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    longs = F.filter(F.split("text", " "), lambda x: F.length(x) > 8)
    return d.select(
        "doc_id",
        F.size(longs).alias("n_long"),
        F.explode_outer(longs).alias("tok"),
    )


_GROUP_BY_ALL_SQL = """
    SELECT o_orderpriority,
           year(CAST(o_orderdate AS DATE)) AS yr,
           count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
               AS price_floor_sum
    FROM orders
    GROUP BY ALL
"""


@REG.register("q_sql_group_by_all", oracle=_GROUP_BY_ALL_SQL)
def q_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark >= 3.4 / DuckDB dialect parity): every
    non-aggregate select item becomes a grouping key, the exact same
    SQL text running on BOTH engines (the q_cte discipline) — the
    ergonomic form analysts actually write, certified to plan as an
    ordinary hash aggregate. floor() before the BIGINT cast per the
    truncate-vs-round convention; the sum is CAST to BIGINT so the
    oracle cannot emit HUGEINT."""
    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(_GROUP_BY_ALL_SQL)


_FILTER_CLAUSE_SQL = """
    SELECT o_orderpriority,
           count(*) AS n_all,
           count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
           CAST(sum(CAST(floor(o_totalprice) AS BIGINT))
                FILTER (WHERE o_totalprice > 150000) AS BIGINT)
               AS big_floor_sum,
           count(*) FILTER (WHERE year(CAST(o_orderdate AS DATE)) = 1999)
               AS n_1999
    FROM orders
    GROUP BY o_orderpriority
"""


@REG.register("q_agg_filter_clause", oracle=_FILTER_CLAUSE_SQL)
def q_agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregates via the standard-SQL FILTER (WHERE ...)
    clause — the same SQL text on both engines (q_cte discipline).
    Catalyst compiles each FILTER into a conditional aggregate inside
    ONE hash-agg pass over one scan (no per-filter re-scan, no join of
    per-filter subqueries — the shape the CASE-WHEN idiom hand-writes,
    with the intent in the syntax). floor-then-cast per the
    truncate-vs-round convention; sums CAST to BIGINT against the
    HUGEINT oracle-type class."""
    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(_FILTER_CLAUSE_SQL)


@REG.register(
    "q_fn_aes",
    oracle="""
        SELECT n_nationkey, n_name AS decrypted,
               ((length(n_name) // 16) + 1) * 16 AS cipher_len,
               1 AS roundtrip_ok
        FROM nation
    """,
)
def q_fn_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption round-trip: aes_encrypt/aes_decrypt in
    ECB mode (deterministic — GCM salts a random IV per call, which
    can never hash-certify), the at-rest field-protection pattern for
    PII columns. DuckDB has no AES, so the oracle pins the INVARIANTS:
    decrypt(encrypt(x)) == x (emitted as the decrypted value itself),
    the PKCS7-padded ciphertext length ((len // 16 + 1) * 16), and a
    computed roundtrip_ok flag the Spark side derives by COMPARING the
    decrypted bytes to the source column (so a silent corruption
    fails the gate twice)."""
    enc = F.expr(
        "aes_encrypt(n_name, '0123456789abcdef', 'ECB', 'PKCS')"
    )
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", enc.alias("_ct")
    )
    dec = F.expr(
        "cast(aes_decrypt(_ct, '0123456789abcdef', 'ECB', 'PKCS')"
        " as string)"
    )
    return n.select(
        "n_nationkey",
        dec.alias("decrypted"),
        F.length("_ct").cast("long").alias("cipher_len"),
        F.when(dec == F.col("n_name"), 1).otherwise(0).alias("roundtrip_ok"),
    )
