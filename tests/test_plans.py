"""Plan-shape tests: pin the physical plans that matter at scale.

A correctness regression shows up in the oracle diff; a *plan*
regression (broadcast silently becoming sort-merge, a filter failing to
push down) only shows up here — as a 100x slowdown at 100 TB.
"""

from __future__ import annotations

import re

import pytest

from ngram_analytics_spark import plans as P
from tests.conftest import SF_SMOKE


def _q(name):
    from ngram_analytics_spark.queries import build_registry

    return build_registry().queries[name]


def test_broadcast_join_broadcasts(spark):
    df = _q("q_join_broadcast")(spark, SF_SMOKE)
    assert P.uses_broadcast_join(df)


def test_filter_pushdown_reaches_scan(spark):
    df = _q("q_filter_pred")(spark, SF_SMOKE)
    pushed = P.pushed_filters(df)
    assert "l_returnflag" in pushed or "l_shipdate" in pushed, pushed


def test_projection_prunes_read_schema(spark):
    df = _q("q_scan_project")(spark, SF_SMOKE)
    cols = P.read_schema_columns(df)
    assert set(cols) == {"o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"}


def test_sort_limit_is_take_ordered(spark):
    assert P.is_take_ordered(_q("q_sort_limit")(spark, SF_SMOKE))


def test_group_agg_has_partial_phase(spark):
    assert P.has_partial_aggregate(_q("q_agg_group")(spark, SF_SMOKE))


def test_ngram_pipeline_single_shuffle(spark):
    """spread scan -> transform -> explode -> agg -> topk: the
    aggregation exchange is the one shuffle. The catalog serves the
    single-split local input as its cores-wide copy, so no round-robin
    exchange is left, the same plan a many-split 100 TB input gets."""
    df = _q("q_ngram_topk")(spark, SF_SMOKE)
    assert P.num_exchanges(df) <= 1, P.physical_plan(df)


def test_ngram_transform_no_shuffle(spark):
    """The per-row transform itself must add no shuffle."""
    df = _q("q_ngram_bigram")(spark, SF_SMOKE)
    assert P.num_exchanges(df) <= 1, P.physical_plan(df)


def _shuffles(df) -> list[tuple[str, list[str]]]:
    """The plan's distinct exchanges, expression ids masked."""
    return [(re.sub(r"#\d+L?", "", p), t) for p, t in P.distinct_exchanges(df)]


def test_minhash_kernel_shuffles_each_input_once(smoke_df):
    """The certified MinHash kernel shuffles its signature table once:
    the intra- and cross-group branches share one signature-keyed
    aggregate. The documents are not shuffled to spread them: the
    signature and shingle sides read the catalog's cores-wide copy."""
    parts = [p for p, _ in _shuffles(smoke_df("q_dedup_minhash_exact"))]
    sig = "hashpartitioning(" + ", ".join(f"m{i}" for i in range(8)) + ","
    assert not any(p.startswith("RoundRobinPartitioning") for p in parts), parts
    assert sum(p.startswith(sig) for p in parts) == 1, parts


@pytest.mark.parametrize(
    "key",
    [
        "q_ngram_topk", "q_ngram_bigram", "q_ngram_trigram", "q_filter_reasons",
        "q_pipeline_e2e", "q_sim_knn",
    ],
)
def test_spread_carries_text_not_tokens(smoke_df, key):
    """The spread keys read the catalog's cores-wide copy of the scanned
    table: no round-robin exchange is left, so neither the text nor
    the token arrays built from it cross one."""
    spread = [t for p, t in _shuffles(smoke_df(key)) if p.startswith("RoundRobin")]
    assert not spread, (key, spread)


def test_range_binned_join_avoids_nested_loop(spark):
    """The whole point of the binned range join: the plan must be an
    equi-join on the bin, not BroadcastNestedLoopJoin."""
    df = _q("q_join_range_binned")(spark, SF_SMOKE)
    plan = P.physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_theta_join_banded_path_matches_and_avoids_data_broadcast(spark):
    """Above the size bound the theta join must route through the
    banded equi-join: identical results to the plain non-equi join,
    no CartesianProduct, a shuffled equi-join on the band key, and the
    ONLY nested-loop nodes are the two 1-row stats-dim attaches (never
    a data-sized broadcast)."""
    from ngram_analytics_spark.catalog import load
    from ngram_analytics_spark.operators.rangejoin import (
        banded_theta_join,
        theta_join_auto,
    )
    from pyspark.sql import functions as F

    s = load(spark, SF_SMOKE, "supplier")
    a = s.select(F.col("s_suppkey").alias("s1"), F.col("s_acctbal").alias("ba"))
    b = s.select(F.col("s_suppkey").alias("s2"), F.col("s_acctbal").alias("bb"))

    banded = banded_theta_join(a, b, "ba", "bb", op="<")
    plan = P.physical_plan(banded)
    assert "CartesianProduct" not in plan, plan
    # the band key joins as an EQUI join (hash or merge; at smoke scale
    # AQE may broadcast the small build side — still an equi-join)
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan

    plain = a.join(b, F.col("ba") < F.col("bb"))
    got = {(r.s1, r.s2) for r in banded.collect()}
    want = {(r.s1, r.s2) for r in plain.collect()}
    assert got == want and len(want) > 0

    # auto dispatch: small side under the default bound -> plain BNL;
    # bound 0 -> the banded plan
    auto_small = theta_join_auto(a, b, "ba", "bb")
    assert "BroadcastNestedLoopJoin" in P.physical_plan(auto_small)
    big_plan = P.physical_plan(theta_join_auto(a, b, "ba", "bb", bnl_max_rows=0))
    assert any(
        j in big_plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), big_plan
    assert big_plan.count("BroadcastNestedLoopJoin") <= 2, big_plan


def test_interval_overlap_join_matches_naive_and_avoids_nested_loop(spark):
    """The bin-claimed overlap join must equal the plain quadratic
    overlap join exactly (no missed, invented, or duplicated pairs —
    including intervals spanning a bin boundary and exact-touch
    endpoints) and must plan as an equi-join on the bin."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ngram_analytics_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    d0 = dt.date(2024, 1, 1)

    def mk(rows, pre):
        return spark.createDataFrame(
            [
                (i, d0 + dt.timedelta(days=s), d0 + dt.timedelta(days=e))
                for i, s, e in rows
            ],
            f"{pre}id long, {pre}s date, {pre}e date",
        )

    # crafted: same-bin overlaps, cross-bin-boundary overlaps, an
    # exact-touch pair (end == start, closed intervals -> overlap),
    # and disjoint pairs
    a = mk([(1, 0, 5), (2, 28, 40), (3, 10, 10), (4, 60, 61)], "a")
    b = mk([(1, 3, 9), (2, 5, 5), (3, 39, 66), (4, 10, 12), (5, 45, 50)], "b")
    got = {
        (r.aid, r.bid)
        for r in interval_overlap_join(
            a, b, "as", "ae", "bs", "be", bin_width="32 days"
        ).collect()
    }
    naive = {
        (r.aid, r.bid)
        for r in a.join(
            b, (F.col("as") <= F.col("be")) & (F.col("bs") <= F.col("ae"))
        ).collect()
    }
    assert got == naive and len(naive) > 0

    plan = P.physical_plan(
        interval_overlap_join(a, b, "as", "ae", "bs", "be")
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_mix_budget_allocations_sum_to_budget(spark):
    """Largest-remainder invariants: integer allocations, exact sum to
    the budget (half the corpus), each alloc within 1 unit of its
    ideal proportional share."""
    from ngram_analytics_spark.queries.sampling_q import q_mix_budget
    from tests.conftest import SF_SMOKE

    rows = q_mix_budget(spark, SF_SMOKE).collect()
    avail = {r.lang: r.avail_tokens for r in rows}
    alloc = {r.lang: r.alloc_tokens for r in rows}
    tot = sum(avail.values())
    budget = tot // 2
    assert sum(alloc.values()) == budget
    for lang in avail:
        ideal = budget * avail[lang] / tot
        assert abs(alloc[lang] - ideal) < 1.0, (lang, alloc[lang], ideal)


def test_dedup_incremental_classification(spark):
    """Crafted batch: corpus-dup beats within-dup, keep-first within
    the batch, unique rows kept."""
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    # inline re-implementation of the query's classification on a
    # crafted frame (the query itself reads the documents table; the
    # oracle diff covers it — this pins the intended semantics)
    d = spark.createDataFrame(
        [
            (0, "en", "dup of corpus"),   # new, hash in corpus
            (7, "en", "fresh one"),       # new, unique -> kept
            (14, "en", "twin text"),      # new, first twin -> kept
            (21, "en", "twin text"),      # new, second twin -> within-dup
            (1, "en", "dup of corpus"),   # corpus
            (2, "en", "other corpus"),    # corpus
        ],
        "doc_id long, lang string, text string",
    )
    h = F.sha2(F.lower(F.trim(F.col("text"))), 256)
    newb = d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", "lang", h.alias("h")
    )
    corpus = d.filter(F.col("doc_id") % 7 != 0).select(h.alias("h")).distinct()
    rn = F.row_number().over(W.partitionBy("h").orderBy("doc_id"))
    cls = {
        r.doc_id: r.cls
        for r in newb.join(
            corpus.withColumn("_hit", F.lit(1)), "h", "left"
        )
        .withColumn("_rn", rn)
        .select(
            "doc_id",
            F.when(F.col("_hit").isNotNull(), 2)
            .when(F.col("_rn") > 1, 1)
            .otherwise(0)
            .alias("cls"),
        )
        .collect()
    }
    assert cls == {0: 2, 7: 0, 14: 0, 21: 1}


def test_theta_join_banded_op_le_and_validation(spark):
    """<= keeps equal-value pairs; unsupported ops raise."""
    from ngram_analytics_spark.operators.rangejoin import banded_theta_join

    a = spark.createDataFrame([(1, 5.0), (2, 7.0)], "ida long, v double")
    b = spark.createDataFrame([(3, 5.0), (4, 9.0)], "idb long, w double")
    lt = {
        (r.ida, r.idb)
        for r in banded_theta_join(a, b, "v", "w", op="<").collect()
    }
    le = {
        (r.ida, r.idb)
        for r in banded_theta_join(a, b, "v", "w", op="<=").collect()
    }
    assert lt == {(1, 4), (2, 4)}
    assert le == {(1, 3), (1, 4), (2, 4)}
    with pytest.raises(ValueError, match="op must be"):
        banded_theta_join(a, b, "v", "w", op=">")


def test_scalar_subquery_broadcasts_threshold(spark):
    """The 1-row aggregate must reach the filter via broadcast — the
    fact table is never shuffled."""
    df = _q("q_subquery_scalar")(spark, SF_SMOKE)
    plan = P.physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_collocation_vocab_joins_broadcast(spark):
    df = _q("q_text_collocation")(spark, SF_SMOKE)
    assert P.uses_broadcast_join(df)


# Queries whose nested-loop/cartesian plans are INTENTIONAL: exact
# quadratic kernels (the correctness oracles for the LSH/IVF scale
# paths), theta joins at test scale, and 1-row broadcast thresholds.
NESTED_LOOP_OK = {
    "q_join_theta",          # non-equi self-join, documented BNL
    "q_sim_knn",             # broadcast query side, scored corpus scan
    "q_sim_pairs",           # exact all-pairs kernel (oracle for LSH)
    "q_dedup_embed",         # exact pair kernel (oracle for ANN dedup)
    "q_sim_ann_ivf",         # centroid cross join is n_cells-bounded
    "q_subquery_scalar",     # 1-row threshold broadcast under filter
    "q_text_collocation",    # 1-row totals broadcast
    "q_zorder_layout",       # 1-row scale-ranges broadcast into the scan
    "q_sample_stratified",   # 1-row min-stratum-count broadcast into
                             # the per-lang rate dim (bounded by the
                             # number of languages, not data volume)
    "q_ts_gapfill",          # date-spine cross join (bounded spine)
    "q_sort_nulls",          # triangular join over per-bucket COUNTS —
                             # input is the ~12-row bucket table (a
                             # constant of the value domain), not rows
    "q_ml_kmeans_step",      # vectors x k-row centroid matrix — the
                             # broadcast side is bounded by k (10),
                             # never data-sized
    "q_text_tfidf_exact",    # 1-row corpus-totals broadcast (the
                             # q_text_collocation discipline)
    "q_mix_budget",          # triangular rank join over the LANG-DOMAIN
                             # allocation table (bounded by #languages,
                             # q_sort_nulls precedent) + 1-row totals
                             # broadcasts
    "q_sample_temperature",  # same machinery as q_mix_budget: 1-row
                             # totals broadcast + lang-domain
                             # triangular rank join
    "q_funnel_windowed",     # 1-row stage-count broadcasts into the
                             # conversion-ppm ratios (bounded, never
                             # data-sized)
    "q_ml_power_iter",       # 1-row norm broadcasts per iteration
                             # step over the 64-row dim-domain vector
                             # (bounded by dim, never data-sized)
    "q_tpch_q22",            # 1-row scalar-subquery broadcasts (avg
                             # balance threshold + max order date)
    "q_gdpr_cascade",        # 1-row count x 1-row count audit joins
    "q_sketch_bloom_exact",  # 1-row reference-count broadcast onto
                             # the 1-row census aggregate
    "q_graph_kcore",         # 1-row prev-round-count broadcast under
                             # the convergence flag
    "q_graph_bfs",           # 1-row count x 1-row count unreached /
                             # converged flags (kcore precedent)
    "q_ngram_kneser_ney",    # 1-row bigram-type-total broadcast
                             # (q_text_collocation class)
    "q_ml_mrr",              # brute_force_knn: broadcast 10-row query
                             # side against the corpus scan (q_sim_knn
                             # class)
    "q_ml_auc",              # triangular offset join over the score-
                             # BUCKET summary (~tick_range/bucket_width
                             # rows, a constant of the value domain —
                             # q_sort_nulls class); the group key is a
                             # literal so Catalyst folds the equi side
    "q_ts_cross_corr",       # lag join over the calendar DAY domain
                             # (two ~n_days-row sides, q_ts_holt
                             # bounded-series class) + 1-row denom
                             # broadcast
    "q_sim_ann_ivf_exact",   # centroid cross join is n_cells-bounded
                             # (q_sim_ann_ivf precedent)
    "q_sample_balanced",     # 1-row min-class-count broadcast into
                             # the per-lang threshold dim
    "q_corpus_gini",         # triangular join over the ~20-row log2
                             # bucket table (q_vocab_coverage rank
                             # machinery)
    "q_vocab_coverage",      # 1-row corpus-total broadcast +
                             # triangular join over the ~10-row log2
                             # bucket table (q_sort_nulls precedent)
    "q_tpch_q8",             # 1-row first-nation scalar broadcast into
                             # the share aggregation
    "q_tpch_q11",            # 1-row grand-total broadcast under the
                             # integer share inequality
    "q_text_bm25",           # 1-row corpus-stats (N, avgdl) broadcast
    "q_vocab_spectrum",      # 1-row corpus-mass broadcast
    "q_skew_profile",        # 1-row totals broadcast + triangular
                             # rank join over the 10 retained hot keys
                             # (q_sort_nulls precedent)
    "q_rfm_segment",         # 1-row anchor + 1-row quintile-threshold
                             # dim broadcasts into the customer rollup
    "q_basket_lift",         # 1-row order-count broadcast under the
                             # ppm projection
    "q_paginate_keyset",     # 1-row boundary-key scalar broadcast
    "q_ml_precision_at_k",   # brute_force_knn: broadcast 10-row query
                             # side against the corpus scan (q_ml_mrr
                             # class)
    "q_ml_chi2",             # 1-row corpus-total broadcast
                             # (q_text_collocation class)
    "q_pareto_share",        # triangular offset join over the spend-
                             # BUCKET summary (~tick_range/1e7 rows, a
                             # constant of the value domain — q_ml_auc
                             # class); the group key is a literal so
                             # Catalyst folds the equi side
    "q_range_partition_plan",  # same machinery as q_pareto_share +
                             # 1-row boundary/total broadcasts
    "q_embed_pq",            # 8-row PQ-centroid broadcast cross onto
                             # the scan (q_ml_kmeans_step class)
    "q_ml_lift_gain",        # triangular offset join over the score-
                             # BUCKET summary (q_ml_auc class)
    "q_sample_coreset",      # 1-row seed/argmax-center broadcasts per
                             # unrolled k-center round (kcore class)
    "q_privacy_pseudonym",   # 1-row key-cardinality broadcast
    "q_dq_freshness",        # 1-row global-max-day broadcast
    "q_bpe_apply",           # 1-row top-pair broadcast onto the
                             # vocabulary (q_text_collocation class)
    "q_bpe_train_loop",      # 1-row top-pair broadcast per unrolled
                             # merge round (q_bpe_apply class x 3)
    "q_ml_target_encode",    # 1-row global-prior broadcast onto the
                             # 5-row segment table
    "q_ml_cv_folds",         # 1-row fold-totals broadcast onto 5 rows
    "q_privacy_tcloseness",  # 1-row corpus-total broadcast onto the
                             # QI-domain class table (x2 stages)
    "q_sample_negative",     # 1-row weight-totals broadcast onto the
                             # vocab domain
    "q_ml_ndcg",             # brute_force_knn: broadcast 10-row query
                             # side against the corpus scan (q_ml_mrr
                             # class)
    "q_stream_live_freshness",  # 1-row global-max broadcast onto the
                             # 5-row sink table
    "q_compaction_plan",     # triangular offset join over the file-
                             # domain bucket summary (q_pareto_share
                             # class)
    "q_hilbert_layout",      # 1-row scale-ranges broadcast
                             # (q_zorder_layout class)
    "q_graph_modularity",    # 1-row edge-total broadcast onto the
                             # label-domain table (tcloseness class)
    "q_ml_roc_points",       # 9-row threshold-dim broadcast cross
                             # onto the scan (q_embed_pq class)
    "q_ml_stump",            # same 9-row threshold-dim broadcast
    "q_sample_neyman",       # 1-row weight-total broadcast onto the
                             # 6-row stratum table
    "q_bpe_encode",          # 1-row top-pair broadcast per unrolled
                             # merge round (q_bpe_train_loop class)
    "q_ml_hard_negatives",   # 10-row broadcast query side against
                             # the corpus scan (q_ml_ndcg class)
    "q_dq_homogeneity",      # 1-row corpus-total broadcast onto the
                             # (source, lang) cell domain (tcloseness
                             # class)
    "q_ml_ann_recall",       # brute_force_knn / ivf_knn broadcast the
                             # 10-row query side against the corpus
                             # scan (q_ml_ndcg class)
    "q_vocab_growth",        # 5-row prefix-grid broadcast cross onto
                             # the vocab/doc domain tables (q_embed_pq
                             # class)
    "q_zone_map_prune",      # 3-row predicate-dim broadcast cross
                             # onto the <=128-row zone table
                             # (q_ml_roc_points class)
    "q_sample_ess",          # two 1-row moment broadcasts onto the
                             # |source|-row weight table (tcloseness
                             # class)
    "q_sample_bootstrap",    # 16-row replicate-dim broadcast cross
                             # onto the scan (q_ml_roc_points class)
    "q_join_spatial_grid",   # 9-row neighbor-offset broadcast cross
                             # onto the point scan; the JOIN itself is
                             # the (cx, cy) hash equi-join
    "q_ml_learning_curve",   # 5-row prefix-grid broadcast cross onto
                             # the per-doc projection (q_vocab_growth
                             # class)
    "q_ml_spearman",         # triangular offset join over the score-
                             # tick BUCKET summary inside
                             # grouped_value_cumsum (q_ml_auc class)
    "q_ml_ks_separation",    # same grouped_value_cumsum triangular
                             # offset join (q_ml_auc class)
    "q_text_burstiness",     # 1-row doc-count broadcast onto the
                             # term-domain table (tcloseness class)
    "q_ab_cuped",            # 1-row moment broadcast onto the
                             # user-domain table (tcloseness class)
    "q_ab_power",            # 1-row moment aggregate x broadcast
                             # 4-row MDE grid (bounded, never
                             # data-sized)
    "q_ml_iv_woe",           # 1-row totals broadcast onto the 10-row
                             # bucket table (q_ab_cuped class)
    "q_ml_cramers_v",        # 1-row (n, nr, nc) broadcast onto the
                             # langs x sources cell grid (domain-
                             # bounded)
    "q_ml_mutual_info",      # 1-row total broadcast onto the same
                             # cell grid
    "q_ts_hurst",            # broadcast 3-row block-size dim into
                             # the day-domain rollup (the
                             # q_ts_gapfill bounded-spine class)
    "q_text_zipf",           # triangular rank join over the top-100
                             # RESULT rows (bounded by construction —
                             # the q_sort_nulls class; replaces an
                             # unpartitioned window)
    "q_ml_auc_pr",           # triangular offset join over the score-
                             # BUCKET summary (q_ml_auc class)
    "q_ml_kendall_tau",      # same grouped_value_cumsum bucket
                             # machinery (q_ml_auc class)
    "q_ml_psi",              # 1-row totals broadcast onto the 10-row
                             # bucket table (q_ab_cuped class)
    "q_ml_map",              # brute_force_knn: broadcast 10-row
                             # query side (q_ml_mrr class)
    "q_graph_reciprocity",   # 1-row edge-count x 1-row mutual-count
                             # audit join (q_gdpr_cascade class)
    "q_ts_periodogram",      # broadcast 32-row literal trig dim
                             # joined on the day phase (bounded,
                             # never data-sized)
    "q_ml_drift_jsd",        # 1-row totals broadcast onto the 10-row
                             # bucket table (q_ml_psi class)
    "q_ml_pr_at_recall",     # grouped_value_cumsum offset join +
                             # 3-row recall-target grid joined on a
                             # range predicate over the tick-DOMAIN
                             # operating table (value-domain bounded)
    "q_ml_class_weights",    # two 1-row scalar broadcasts onto the
                             # 10-row label table (q_ab_cuped class)
    "q_mix_epochs",          # three 1-row water-filling scalars onto
                             # the |sources|-row allocation table
                             # (q_mix_budget class)
    "q_mix_doremi",          # 4 MW rounds x one 1-row sum scalar
                             # broadcast onto the |sources|-row
                             # weight table (q_mix_epochs class —
                             # bounded by the domain count, never
                             # data-sized)
    "q_ab_mann_whitney",     # triangular offset join over the
                             # activity-value BUCKET summary inside
                             # grouped_value_cumsum (q_ml_auc class)
    "q_dedup_semantic",      # K-row centroid-matrix broadcast cross
                             # onto the scan (q_ml_kmeans_step
                             # class); the intra-cluster pair step is
                             # a cluster_id hash EQUI-join, quadratic
                             # only within a cell by design
    "q_ml_cost_threshold",   # 4-row cost-grid broadcast cross onto
                             # the tick-DOMAIN operating table +
                             # grouped_value_cumsum offset join
                             # (q_ml_roc_points / q_ml_auc classes)
}


def test_no_unexpected_nested_loop_plans(registry, smoke_df):
    """Global plan lint: no declared query may silently plan a
    BroadcastNestedLoopJoin or CartesianProduct — at 100 TB those are
    O(n*m) cliffs. Quadratic-by-design kernels are whitelisted above;
    adding a query to the whitelist is a deliberate scale decision."""
    offenders = {}
    for name in registry.queries:
        if name in NESTED_LOOP_OK:
            continue
        plan = P.physical_plan(smoke_df(name))
        hits = [
            op
            for op in ("BroadcastNestedLoopJoin", "CartesianProduct")
            if op in plan
        ]
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_no_unpartitioned_windows_in_graded_plans(registry, smoke_df):
    """Global plan lint: no declared query may plan a window over an
    empty PARTITION BY — WindowExec would move the window's whole input
    to one task ("Moving all data to a single partition"), serializing
    at scale. Global rankings must use the bucket-rank + offset pattern
    (see q_sort_nulls) instead. No whitelist: there is no graded plan
    for which an unpartitioned unbounded-input window is acceptable."""
    offenders = {}
    for name in registry.queries:
        n = P.unpartitioned_window_count(smoke_df(name))
        if n:
            offenders[name] = n
    assert not offenders, offenders


def test_no_tiny_domain_fact_windows(registry, smoke_df):
    """Global plan lint (VERDICT r5 "What's wrong" §2): no declared
    query may run a window whose whole PARTITION BY is tiny-domain fact
    columns (l_returnflag & co.) over un-aggregated fact rows — that
    caps parallelism at the domain size (3 tasks each sorting ~33 TB at
    100 TB). Rank/cumulative selections must compress to the (group,
    value) domain first (operators/valuedomain.py); windows over
    pre-aggregated rollups partitioned by the same columns are fine and
    not flagged."""
    offenders = {}
    for name in registry.queries:
        df = smoke_df(name)
        n = P.tiny_domain_fact_window_count(df)
        if n and "WindowGroupLimit" in P.physical_plan(df):
            # rank-limit windows (row_number + rn<=k filter) lower to
            # WindowGroupLimitExec partial/final pairs: each map task
            # keeps only k rows per group BEFORE the shuffle, so the
            # final per-group sort sees k*num_map_tasks rows, not the
            # fact table — bounded, not a scale-killer.
            continue
        if n:
            offenders[name] = n
    assert not offenders, offenders


def test_bucketed_join_has_no_join_shuffle(spark):
    """Bucketed+sorted tables on the join key: the only Exchange in the
    plan is the final aggregation's — the join reads co-located buckets
    directly."""
    df = _q("q_join_bucketed")(spark, SF_SMOKE)
    assert P.num_exchanges(df) <= 1, P.physical_plan(df)


def test_values_inline_dim_broadcasts(spark):
    """The 3-row VALUES dim must enrich the fact via broadcast hash
    join — no shuffle of the orders side for a driver-local dim."""
    assert P.uses_broadcast_join(_q("q_values_inline")(spark, SF_SMOKE))


def test_sql_pipe_plans_like_classic_sql(spark):
    """Pipe-syntax SQL must lower to the same partial/final hash
    aggregate shape as the classic SELECT form (one shuffle)."""
    df = _q("q_sql_pipe")(spark, SF_SMOKE)
    assert P.has_partial_aggregate(df)
    assert P.num_exchanges(df) <= 1, P.physical_plan(df)


def test_partitioned_scan_prunes_partitions(spark):
    """The literal priority predicate must land in PartitionFilters
    (directory pruning), not just DataFilters (row filtering)."""
    plan = P.full_plan(_q("q_scan_partitioned")(spark, SF_SMOKE))
    scan_lines = [
        line for line in plan.splitlines()
        if "FileScan" in line and "orders_by_prio" in line
    ]
    assert scan_lines, plan
    assert any(
        "PartitionFilters" in line and "1-URGENT" in line
        for line in scan_lines
    ), scan_lines


def test_dpp_join_injects_dynamic_pruning(spark):
    """The runtime-filtered dim must inject a dynamicpruning subquery
    into the fact scan's partition filters."""
    plan = P.full_plan(_q("q_join_dpp")(spark, SF_SMOKE))
    assert "dynamicpruning" in plan, plan


def test_auto_broadcast_without_hint(spark):
    """Catalyst must pick a broadcast join for a tiny dim from size
    statistics alone — no hint. If this regresses to sort-merge, every
    unhinted dim join at scale pays two shuffles."""
    from ngram_analytics_spark.catalog import load

    o = load(spark, SF_SMOKE, "orders")
    n = load(spark, SF_SMOKE, "nation")
    df = o.join(n, o.o_orderkey % 25 == n.n_nationkey)
    assert P.uses_broadcast_join(df), P.physical_plan(df)


def test_shuffle_hash_hint_overrides_sort_merge(spark):
    """q_join_shuffle_hash must plan a ShuffledHashJoin (no sort
    phases on either side), not the default SortMergeJoin."""
    from ngram_analytics_spark.queries import build_registry

    plan = P.physical_plan(
        build_registry().queries["q_join_shuffle_hash"](spark, SF_SMOKE)
    )
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_islands_windows_share_one_exchange(spark):
    """q_ts_islands' lag-break and running-sum windows must share a
    single user_id exchange (same partitioning + order), not re-shuffle
    between window passes."""
    from ngram_analytics_spark.queries import build_registry

    plan = P.physical_plan(
        build_registry().queries["q_ts_islands"](spark, SF_SMOKE)
    )
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 hash exchange, got {n_exchanges}"


def test_bloom_filter_injects_on_selective_smj(spark):
    """q_join_bloom's shape (selective dim filter + MERGE-hinted fact
    join) must trigger InjectRuntimeFilter once the application-side
    scan crosses the size threshold: the fact scan gains a
    might_contain(bloom_filter_agg(...)) semi-filter that drops
    non-joining rows BEFORE the shuffle. Thresholds are lowered here
    to simulate the at-scale condition (at sf0.001 the scan sits far
    below the 10 GB default, where the rule is correctly dormant)."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = P.physical_plan(_q("q_join_bloom")(spark, SF_SMOKE))
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            conf.set(k, v)
        conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )


def test_bloom_query_dormant_at_small_scale(spark):
    """With default thresholds the same query must NOT pay the bloom
    build below the application-side size floor — plain SMJ, no
    runtime filter (semantics identical either way)."""
    plan = P.physical_plan(_q("q_join_bloom")(spark, SF_SMOKE))
    assert "SortMergeJoin" in plan, plan
    assert "might_contain" not in plan, plan


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE's OptimizeSkewedJoin must split a pathologically skewed
    shuffle partition into parallel sub-partitions (SMJ marked
    skew=true, AQEShuffleRead 'skewed') — the runtime complement to
    the manual salting operators (q_join_salted): AQE handles skew
    discovered at execution time, salting handles skew known in
    advance. Thresholds are lowered so the tiny fixture's hot key
    crosses the skew floor."""
    import pyspark.sql.functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "8KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        left = (
            spark.range(0, 200000)
            .select((F.col("id") * 0 + 7).alias("k"), F.col("id").alias("v"))
            .unionAll(
                spark.range(0, 1000).select(
                    (F.col("id") % 50).alias("k"), F.col("id").alias("v")
                )
            )
        )
        right = spark.range(0, 50).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right.hint("MERGE"), "k").groupBy().count()
        assert j.collect()[0][0] == 200000 * 1 + 1000  # semantics intact
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_q21_no_aggregation_shuffles_on_fact_chain(spark):
    """q_tpch_q21's SHUFFLE_HASH fact edge means the (orderkey,
    suppkey) and orderkey aggregations both reuse the join's
    l_orderkey partitioning (hash on a subset of the grouping keys
    satisfies the clustering requirement) — NEITHER may add an
    exchange. Allowed exchanges: one per join input plus the final
    few-row attributed-supplier rollup; the redundant
    (l_orderkey, l_suppkey) agg exchange the broadcast plan paid must
    be gone."""
    plan = P.physical_plan(_q("q_tpch_q21")(spark, SF_SMOKE))
    assert "ShuffledHashJoin" in plan, plan
    import re

    bad = re.search(r"hashpartitioning\(l_orderkey#\d+L, l_suppkey", plan)
    assert not bad, plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 3, f"expected <=3 hash exchanges, got {n}:\n{plan}"


def test_q1_single_exchange_and_pushdown(spark):
    """TPC-H Q1 is the canonical scan-bound rollup: the date predicate
    must reach the parquet scan and the 6-group aggregation must be
    the ONLY exchange (constant-size partial state per task)."""
    df = _q("q_tpch_q1")(spark, SF_SMOKE)
    assert P.num_exchanges(df) <= 1, P.physical_plan(df)
    assert P.has_partial_aggregate(df)


def test_q6_all_predicates_push_to_scan(spark):
    """TPC-H Q6's whole point is that at scale it is bounded by
    scanning one year of 4 columns: every predicate column must show
    up in PushedFilters and the plan must hold zero join nodes."""
    df = _q("q_tpch_q6")(spark, SF_SMOKE)
    pushed = P.pushed_filters(df)
    for col in ("l_discount", "l_quantity"):
        assert col in pushed, pushed
    assert "Join" not in P.physical_plan(df)


def test_q13_aggregates_before_outer_join(spark):
    """TPC-H Q13 must aggregate orders to one row per customer BEFORE
    the outer join (the join-then-count spelling scaled 9.0x for 10x
    data). Pin: the HashAggregate on o_custkey sits below the join,
    i.e. the plan has no aggregation keyed on the join output side's
    c_custkey other than the final bucket count."""
    plan = P.physical_plan(_q("q_tpch_q13")(spark, SF_SMOKE))
    import re

    # the orders-side pre-aggregation exists...
    assert re.search(r"HashAggregate.*o_custkey", plan), plan
    # ...and no aggregation groups on the customer key after the join
    # (the naive spelling's groupBy(c_custkey) signature).
    assert not re.search(r"HashAggregate.*keys=\[c_custkey", plan), plan


def test_bm25_topk_is_take_ordered(spark):
    """BM25's final top-k must compile to TakeOrderedAndProject
    (per-partition heads), never a global Sort + Limit."""
    df = _q("q_text_bm25")(spark, SF_SMOKE)
    assert P.is_take_ordered(df), P.physical_plan(df)


def test_pipeline_e2e_funnel_is_monotone(spark):
    """The e2e funnel's stage counts must be monotone non-increasing
    per language (each stage filters the previous stage's survivors)
    and kept tokens must be positive whenever n_clean > 0."""
    rows = _q("q_pipeline_e2e")(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert (
            r.n_total >= r.n_train >= r.n_quality >= r.n_unique >= r.n_clean >= 0
        ), r
        assert (r.clean_tokens > 0) == (r.n_clean > 0), r


def test_sql_udf_stays_in_codegen(spark):
    """SQL UDFs must inline — the plan may contain no Python eval node
    (BatchEvalPython / ArrowEvalPython) and must keep the partial
    aggregation phase, proving the UDF body fused into codegen."""
    df = _q("q_fn_sql_udf")(spark, SF_SMOKE)
    plan = P.physical_plan(df)
    assert "EvalPython" not in plan, plan
    assert P.has_partial_aggregate(df)


def test_text_cooc_plan_is_join_free(spark):
    """VERDICT r8 "What's wrong" §1: the co-occurrence lattice must be
    built map-side inside the row (nested array transforms), never via
    a token-position self-join with an inequality residual — a doc_id
    equi-join with a band residual enumerates t^2 position pairs per
    document before filtering (10^10 comparisons on one task for a
    single 100k-token document). The fixed plan has NO join of any
    kind: scan -> lattice transform -> explode -> pair agg -> topk."""
    df = _q("q_text_cooc")(spark, SF_SMOKE)
    plan = P.physical_plan(df)
    assert "Join" not in plan, plan
    # the pair-agg exchange only (the scan is the spread copy)
    assert P.num_exchanges(df) <= 1, plan


def test_text_cooc_bounded_work_on_long_document(spark, tmp_path):
    """Long-document stress (VERDICT r8 item 1 'done' criterion,
    hardened per ADVICE r9): run q_text_cooc ITSELF — not a
    re-implementation of its lattice — against a synthetic corpus
    whose one document holds 50k tokens, via a tmp parquet dir. The
    quadratic shape would enumerate ~1.25e9 position pairs on one
    task and not return interactively; the lattice shape enumerates
    exactly w*t - w*(w+1)/2 = 2t - 3 pairs, so the unordered-pair
    count mass the query aggregates is bounded by that."""
    import time

    t = 50_000
    text = " ".join(f"tok{i % 97}" for i in range(t))
    sf_dir = str(tmp_path / "longdoc_sf")
    spark.createDataFrame(
        [(1, text, "en", "synthetic", len(text))],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    start = time.monotonic()
    rows = _q("q_text_cooc")(spark, sf_dir).collect()
    elapsed = time.monotonic() - start
    assert rows, "q_text_cooc returned nothing on the long doc"
    # top-k pair mass can never exceed the full lattice mass
    assert sum(r.n for r in rows) <= 2 * t - 3
    assert all(r.n_adjacent <= r.n for r in rows)
    assert elapsed < 60, f"q_text_cooc took {elapsed:.1f}s — not linear?"


def test_cache_reuse_plans_inmemory_scan(spark):
    """Engine capability: a cached DataFrame's second consumer must
    plan an InMemoryTableScan instead of re-reading parquet — the
    multi-branch reuse pattern (q_pipeline_e2e-style funnels at
    interactive scale) depends on it."""
    from ngram_analytics_spark.catalog import load

    df = load(spark, SF_SMOKE, "orders").filter("o_totalprice > 1000")
    df.cache()
    try:
        df.count()  # materialize
        branch = df.groupBy("o_orderstatus").count()
        assert "InMemoryTableScan" in P.physical_plan(branch)
    finally:
        df.unpersist()


def test_attribution_decay_join_is_day_lattice_equi(spark):
    """Skew-probe r9 fix: q_attribution_decay's clicks x purchases
    join must carry the DAY-BUCKET column in its equi keys — a
    user-only equi-join with the 7-day window as a residual
    enumerates hot_clicks x hot_purchases pairs for a hot user
    (~1.1B on the probe's 50%-one-user corpus) before filtering.
    The lattice join's key set includes cday on both sides, so a hot
    user's candidates are bounded by clicks-per-(user, day) and
    spread across day cells."""
    df = _q("q_attribution_decay")(spark, SF_SMOKE)
    plan = P.physical_plan(df)
    # every join over the click/purchase streams that keys on user_id
    # must also key on the day bucket
    import re

    user_joins = [
        ln
        for ln in plan.splitlines()
        if "Join" in ln and "user_id" in ln
    ]
    assert user_joins, plan
    for ln in user_joins:
        assert "cday" in ln, ln


def test_dedup_substring_bounded_work_on_long_document(spark, tmp_path):
    """q_dedup_substring on one 50k-token document must stay linear:
    the window lattice is slice() over a HOISTED token array at
    stride 10 (~5k windows), never substr(text, i, ...) whose O(i)
    offset walk makes the doc total quadratic (the longdoc-probe r9
    failure class). Two identical long docs also pin the dup-span
    union: every window duplicates, coverage = stride * (n_win - 1)
    + W tokens."""
    import time

    t = 50_000
    text = " ".join(f"tok{i % 97}" for i in range(t))
    sf_dir = str(tmp_path / "longdoc_ss")
    spark.createDataFrame(
        [
            (1, text, "en", "synthetic", len(text)),
            (2, text, "en", "synthetic", len(text)),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    start = time.monotonic()
    rows = {r.doc_id: r for r in _q("q_dedup_substring")(spark, sf_dir).collect()}
    elapsed = time.monotonic() - start
    n_win = (t - 20) // 10 + 1
    for doc_id in (1, 2):
        r = rows[doc_id]
        assert r.n_win == n_win
        assert r.n_dup_win == n_win
        assert r.dup_tokens == 10 * (n_win - 1) + 20
        assert r.keep == 0
    assert elapsed < 60, f"q_dedup_substring took {elapsed:.1f}s"


def test_spatial_grid_join_is_hash_equi_join(spark):
    """q_join_spatial_grid's ONLY nested-loop is the 9-row offset-dim
    broadcast cross; the pair join itself must be a hash equi-join on
    the (cx, cy) cell key — a radius join planned as BNLJ would be
    the O(n^2) cliff the grid exists to avoid."""
    plan = P.physical_plan(_q("q_join_spatial_grid")(spark, SF_SMOKE))
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert (
        "ShuffledHashJoin" in plan
        or "SortMergeJoin" in plan
        or plan.count("BroadcastHashJoin") >= 1
    ), plan


def test_cross_source_census_has_no_shingle_join(spark):
    """q_dedup_cross_source (re-planned from a shingle self-join to
    ONE collect_set aggregation) must contain no shuffle-side join —
    only the two broadcast totals re-attach joins. The shingle stage
    itself sits behind the eager checkpoint (Scan ExistingRDD in the
    final plan); its outer-generate idiom is enforced behaviorally by
    tools/longdoc_probe.py (0.4 post-fix, 29.1 before)."""
    plan = P.physical_plan(_q("q_dedup_cross_source")(spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "ExistingRDD" in plan, plan


def test_bootstrap_explode_multiplies_scan_not_shuffle(spark):
    """q_sample_bootstrap's x16 replicate explode must happen map-side
    (broadcast cross), with the only wide exchange keyed on the
    (event_type, b) cells — never a fact-width shuffle of the
    exploded rows to a non-aggregating operator."""
    df = _q("q_sample_bootstrap")(spark, SF_SMOKE)
    plan = P.physical_plan(df)
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    # partial aggregation runs before the exchange (map-side combine)
    import re

    assert re.search(r"HashAggregate.*partial", plan, re.I) or (
        "HashAggregate" in plan
    ), plan


def test_rare_shingle_cut_precedes_posting_collect(spark):
    """VERDICT r14 item 1: ngram_jaccard_pairs applies the max_df cut
    BEFORE any unbounded collect — a count window over the postings'
    _sh key (spillable WindowExec buffer) feeds the filter, and the
    old post-collect size(_ids) filter is gone, so a hot stop-word
    shingle can never buffer its df-sized id list in one aggregation
    row. The fact table is read exactly twice (postings pass + the
    single melted set-fetch pass; the r14 shape read it 3x, the
    pre-r14 one 6x)."""
    df = _q("q_dedup_fuzzy_jaccard")(spark, SF_SMOKE)
    plan = P.physical_plan(df)
    n_scans = plan.count("Scan parquet")
    assert n_scans == 2, f"expected 2 corpus scans, got {n_scans}:\n{plan}"
    assert "size(_ids" not in plan, plan
    assert "Window" in plan, plan


def test_band_bucket_cap_precedes_members_collect(spark):
    """VERDICT r14 item 2: the banded candidate kernels cut over-cap
    cells BEFORE the members-carrying collect_list — a count window
    on the same (bj, bk) key feeds the filter, and no post-collect
    size(gs) filter remains, so a hot band bucket buffers its rows in
    WindowExec's spillable buffer instead of one giant aggregation
    row."""
    import re

    for key in ("q_dedup_minhash_exact", "q_sim_pairs_lsh"):
        plan = P.physical_plan(_q(key)(spark, SF_SMOKE))
        # the pair-expansion lambda legitimately uses size(gs) as a
        # slice bound; what must be GONE is the post-collect
        # cardinality filter (size(gs) >= 2 / <= cap)
        assert not re.search(r"size\(gs#\d+\)\s*>=", plan), (key, plan)
        assert "Window" in plan, (key, plan)
