"""Closed-form toy-fixture property pins for derived-statistic queries.

VERDICT r9 "What's wrong" §1 made this a standing convention: the
differential oracle gate proves CROSS-ENGINE AGREEMENT, never formula
correctness — a statistic that is wrong identically in the Spark query
and its DuckDB oracle sails through rows+schema+hash green (the
q_graph_clustering_coeff transitivity incident shipped exactly that
and was only caught in self-review). Every NEW q_* whose output is a
derived statistic (not a direct relational result) therefore gets a
closed-form fixture here: a corpus tiny enough that the expected
numbers are derived BY HAND (or by a pure-Python mirror that shares no
code with either engine), written to a tmp parquet dir and run through
the real registry query.

This file back-fills the round-9 statistics: MCC/kappa/Youden
(q_ml_mcc), Brier (q_ml_brier), NDCG (q_ml_ndcg), earth-mover
t-closeness (q_privacy_tcloseness), and Bollinger breakouts
(q_ts_bollinger). The pre-existing pins of this style live in
test_properties.py (q_bpe_train_loop vs a pure-Python trainer) and
test_graph_analytics.py; new rounds add theirs here.
"""

from __future__ import annotations

import datetime
import math

from ngram_analytics_spark.queries import build_registry

_REG = None


def _q(name):
    global _REG
    if _REG is None:
        _REG = build_registry().queries
    return _REG[name]


def _write(spark, tmp_path, table: str, rows, schema: str) -> str:
    sf_dir = str(tmp_path / "fixture_sf")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(f"{sf_dir}/{table}.parquet")
    return sf_dir


# ---------------------------------------------------------------- MCC


def test_mcc_kappa_youden_closed_form(spark, tmp_path):
    """Hand-computed 2x2 confusion: the langid heuristic predicts
    en iff stopword-ratio >= 0.05, truth is lang == 'en'.  The
    fixture pins tp=4 fp=2 fn=1 tn=5 (N=12):

      prevalence = floor(5e6/12)                       = 416666
      MCC  = 18 / (sqrt(30)*sqrt(42)) = 0.5070925...  -> 507092
      kappa = (12*9 - 72) / (144 - 72) = 36/72 = 0.5  -> 500000
      Youden = floor(4e6/5) + floor(5e6/7) - 1e6       = 514285
      balanced accuracy = (800000 + 714285) div 2      = 757142
    """
    sw = "the a of and to"  # ratio 1.0 -> pred 1
    hard = "xx yy zz qq"  # ratio 0.0 -> pred 0
    rows = []
    did = 0

    def doc(text, lang):
        nonlocal did
        rows.append((did, text, lang, "synthetic", len(text)))
        did += 1

    for _ in range(4):
        doc(sw, "en")  # tp
    for _ in range(2):
        doc(sw, "fr")  # fp
    doc(hard, "en")  # fn
    for _ in range(5):
        doc(hard, "fr")  # tn
    sf = _write(
        spark,
        tmp_path,
        "documents",
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    r = _q("q_ml_mcc")(spark, sf).collect()
    assert len(r) == 1
    r = r[0]
    assert r.n == 12
    assert r.prevalence_ppm == 416666
    assert r.mcc_ppm == 507092
    assert r.kappa_ppm == 500000
    assert r.youden_ppm == 514285
    assert r.balacc_ppm == 757142


# -------------------------------------------------------------- Brier


def test_brier_closed_form(spark, tmp_path):
    """4 forecasts with confidences 0.9/0.2 on positives and 0.7/0.1
    on negatives (pos iff label >= 5):

      brier     = (0.01 + 0.64 + 0.49 + 0.01) / 4 = 0.2875 -> 287500
      brier_pos = (0.01 + 0.64) / 2 = 0.325               -> 325000
      brier_neg = (0.49 + 0.01) / 2 = 0.25                -> 250000
      mean_conf = 1.9 / 4 = 0.475                         -> 475000
      base_rate = 2/4                                      -> 500000
    """
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [
        (0, mk(0.9), 7),
        (1, mk(0.2), 9),
        (2, mk(0.7), 1),
        (3, mk(0.1), 0),
    ]
    sf = _write(
        spark,
        tmp_path,
        "embeddings",
        rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = _q("q_ml_brier")(spark, sf).collect()[0]
    assert r.n == 4 and r.n_pos == 2
    assert r.brier_ppm == 287500
    assert r.brier_pos_ppm == 325000
    assert r.brier_neg_ppm == 250000
    assert r.mean_conf_ppm == 475000
    assert r.base_rate_ppm == 500000


# --------------------------------------------------------------- NDCG


def test_ndcg_closed_form(spark, tmp_path):
    """6 IDENTICAL unit vectors (all pairwise cosines exactly 1.0, so
    ranking degenerates to the vec_id ASC tie-break — the rank list of
    query q is simply the other ids ascending) with labels id % 2.
    Relevant ranks are derived by hand below; DCG/IDCG arithmetic is
    pure-Python integer math on a weight table recomputed here from
    floor(1e6/log2(i+1) + 0.5) — which independently re-verifies the
    literal _NDCG_W/_NDCG_CUMW tables embedded in both engines."""
    w = [math.floor(1e6 / math.log2(i + 1) + 0.5) for i in range(1, 11)]
    cumw = [sum(w[: j + 1]) for j in range(10)]
    # per query: ranks (1-based) of the same-label items among the
    # other five ids in ascending order — derived by hand
    rel_ranks = {
        0: (2, 4),  # others 1,2,3,4,5 -> same-label 2,4
        1: (3, 5),  # others 0,2,3,4,5 -> same-label 3,5
        2: (1, 4),  # others 0,1,3,4,5 -> same-label 0,4
        3: (2, 5),  # others 0,1,2,4,5 -> same-label 1,5
        4: (1, 3),  # others 0,1,2,3,5 -> same-label 0,2
        5: (2, 4),  # others 0,1,2,3,4 -> same-label 1,3
    }
    expected = [
        sum(w[r - 1] for r in ranks) * 1_000_000 // cumw[1]
        for ranks in rel_ranks.values()
    ]
    vec = [1.0] + [0.0] * 63
    rows = [(i, vec, i % 2) for i in range(6)]
    sf = _write(
        spark,
        tmp_path,
        "embeddings",
        rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = _q("q_ml_ndcg")(spark, sf).collect()[0]
    assert r.n_queries == 6
    assert r.n_perfect == 0
    assert r.mean_ndcg_ppm == sum(expected) // 6
    assert r.min_ndcg_ppm == min(expected)


# -------------------------------------------------------- t-closeness


def test_tcloseness_emd_closed_form(spark, tmp_path):
    """Two QI classes in one segment, two order priorities.  Class
    ALPHA/X holds {P1, P1, P2}, class BRAVO/X holds {P2, P2}; global
    distribution is (2/5, 3/5).

      EMD(ALPHA) = 1/2 (|2/3-2/5| + |1/3-3/5|) = 4/15 -> 266666
      EMD(BRAVO) = 1/2 (|0-2/5|   + |1-3/5|)   = 2/5  -> 400000

    BRAVO has NO P1 row, so the absent-(class, sensitive) algebraic
    fold is exercised.  Both exceed t = 0.15, so the segment reports
    2 violating classes covering all 5 rows."""
    nation = [(0, "ALPHA", 0), (1, "BRAVO", 0)]
    customer = [
        (1, "c1", 0, 0.0, "X"),
        (2, "c2", 1, 0.0, "X"),
    ]
    d = datetime.datetime(2024, 1, 1)
    orders = [
        (10, 1, "F", 1.0, d, "1-URGENT"),
        (11, 1, "F", 1.0, d, "1-URGENT"),
        (12, 1, "F", 1.0, d, "2-HIGH"),
        (13, 2, "F", 1.0, d, "2-HIGH"),
        (14, 2, "F", 1.0, d, "2-HIGH"),
    ]
    sf = _write(
        spark,
        tmp_path,
        "nation",
        nation,
        "n_nationkey int, n_name string, n_regionkey int",
    )
    _write(
        spark,
        tmp_path,
        "customer",
        customer,
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    )
    _write(
        spark,
        tmp_path,
        "orders",
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    r = _q("q_privacy_tcloseness")(spark, sf).collect()
    assert len(r) == 1
    r = r[0]
    assert r.c_mktsegment == "X"
    assert r.n_classes == 2
    assert r.max_t_ppm == 400000
    assert r.avg_t_ppm == 333333  # (266666 + 400000) div 2
    assert r.n_violating == 2
    assert r.rows_violating == 5


# ----------------------------------------------------------- Bollinger


def test_bollinger_breakout_closed_form(spark, tmp_path):
    """One event type, 16 days of daily count 1 with a single spike of
    50 on day 10; window w=7, k=2 sigma.  The only complete window
    whose CLOSE is the spike is the one ending day 10:

      dev  = 7*50 - 56 = 294
      band = 2 * sqrt(7*2506 - 56^2) = 2*sqrt(14406) = 240.05

    294 > 240.05 -> one upper breach.  Windows that merely CONTAIN
    the spike close at y=1 (dev = -49, |dev| < band), and all-flat
    windows have dev = band = 0 (no breach, strict >).  10 complete
    windows (ends 7..16)."""
    rows = []
    eid = 0
    base = datetime.date(2024, 1, 1)
    for day in range(1, 17):
        n = 50 if day == 10 else 1
        for i in range(n):
            ts = datetime.datetime(2024, 1, day, 8, 0, 0) + \
                datetime.timedelta(minutes=i)
            rows.append((eid, ts, 1, "view", 1.0, "{}"))
            eid += 1
    sf = _write(
        spark,
        tmp_path,
        "events",
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    r = _q("q_ts_bollinger")(spark, sf).collect()
    assert len(r) == 1
    r = r[0]
    spike_x = (base + datetime.timedelta(days=9) - datetime.date(1970, 1, 1)).days
    assert r.event_type == "view"
    assert r.n_windows == 10
    assert r.n_up == 1
    assert r.n_down == 0
    assert r.max_dev == 294
    assert r.last_up_x == spike_x
    assert r.last_down_x is None


# ----------------------------------------------------- modularity


def test_modularity_two_cliques_closed_form(spark, tmp_path):
    """Two orthogonal 3-vector clusters with cluster-aligned labels:
    within-cluster cosine is exactly 1, across exactly 0 (< 0.2
    threshold), so the 3-NN graph is two disconnected triangles and
    textbook modularity of the aligned partition is Q = 2 * (3/6 -
    (6/12)^2) = 0.5 — each community contributes exactly 250000 ppm
    with intra = deg = 6 on the directed-double representation."""
    ex = [1.0] + [0.0] * 63
    ey = [0.0, 1.0] + [0.0] * 62
    rows = [(i, ex, 0) for i in range(3)] + [
        (i, ey, 1) for i in range(3, 6)
    ]
    sf = _write(
        spark,
        tmp_path,
        "embeddings",
        rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = {x.label: x for x in _q("q_graph_modularity")(spark, sf).collect()}
    assert set(r) == {0, 1}
    for lbl in (0, 1):
        assert r[lbl].deg == 6
        assert r[lbl].intra == 6
        assert r[lbl].contrib_ppm == 250000


# ---------------------------------------------------- readability


def test_readability_closed_form(spark, tmp_path):
    """Two short docs, hand-counted vowel groups:

      "the cat sat"            -> 3 words, 1 sentence, 3 syllables
      "incredible automation"  -> 2 words, 1 sentence, 4 + 4
                                  syllables, both polysyllabic

    FRE x1000 = 206835 - (1015*5 div 2) - (84600*11 div 5)
              = 206835 - 2537 - 186120 = 18178."""
    rows = [
        (1, "the cat sat", "en", "synthetic", 11),
        (2, "incredible automation", "en", "synthetic", 21),
    ]
    sf = _write(
        spark,
        tmp_path,
        "documents",
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    r = _q("q_text_readability")(spark, sf).collect()
    assert len(r) == 1
    r = r[0]
    assert r.n_words == 5
    assert r.n_sents == 2
    assert r.n_syllables == 11
    assert r.n_poly == 2
    assert r.fre_milli == 18178


# -------------------------------------------------------- Neyman


def test_neyman_allocation_closed_form(spark, tmp_path):
    """Two strata engineered to exact integer sqrt weights:

      type a: values {1.0, 3.0} -> ticks {10, 30},
              n*sum(v^2) - sum(v)^2 = 2*1000 - 1600 = 400,
              sqrt = 20 exactly -> wt 20000
      type b: values {1.0, 5.0} -> ticks {10, 50},
              2*2600 - 3600 = 1600, sqrt = 40 -> wt 40000

    Budget 1000 splits 333/666 (floor-div thirds)."""
    d = datetime.datetime(2024, 1, 1, 9, 0, 0)
    rows = [
        (0, d, 1, "a", 1.0, "{}"),
        (1, d, 1, "a", 3.0, "{}"),
        (2, d, 1, "b", 1.0, "{}"),
        (3, d, 1, "b", 5.0, "{}"),
    ]
    sf = _write(
        spark,
        tmp_path,
        "events",
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    r = {x.event_type: x for x in _q("q_sample_neyman")(spark, sf).collect()}
    assert r["a"].wt == 20000 and r["b"].wt == 40000
    assert r["a"].alloc_ppm == 333333 and r["b"].alloc_ppm == 666666
    assert r["a"].n_alloc == 333 and r["b"].n_alloc == 666


# ------------------------------------------------------ diversity


def test_diversity_simpson_closed_form(spark, tmp_path):
    """Token stream a a b b b c: n=6, types=3, hapax=1,
    TTR = 3e6 div 6 = 500000,
    Simpson D = (2*1 + 3*2 + 0) / (6*5) = 8/30 -> 266666 ppm."""
    rows = [(1, "a a b b b c", "en", "synthetic", 11)]
    sf = _write(
        spark,
        tmp_path,
        "documents",
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    r = _q("q_text_diversity")(spark, sf).collect()[0]
    assert r.n_tokens == 6
    assert r.n_types == 3
    assert r.n_hapax == 1
    assert r.ttr_ppm == 500000
    assert r.simpson_ppm == 266666


# ----------------------------------------------------- substring


def test_substring_dedup_closed_form(spark, tmp_path):
    """Hand-built span duplication (W=20, stride=10):

      docA: 40 unique tokens a1..a40
      docB: tokens 1-20 IDENTICAL to docA, then unique b21..b40
      docC: 25 unique tokens (one window, no dups)
      docD: 10 tokens (too short, zero windows)
      docE: p1..p10 repeated 3x then unique e31..e50 — its windows at
            starts 1 and 11 have EQUAL content (in-doc self-repeat),
            so the union coverage is min(20, 11-1) + 20 = 30 tokens

    docA/docB share exactly the start-1 window (20 dup tokens each);
    at the 30% threshold A, B, E are trimmed and C, D kept."""
    mk = lambda pre, lo, hi: " ".join(f"{pre}{i}" for i in range(lo, hi + 1))  # noqa: E731
    a = mk("a", 1, 40)
    b = mk("a", 1, 20) + " " + mk("b", 21, 40)
    c = mk("c", 1, 25)
    dd = mk("d", 1, 10)
    p = " ".join(f"p{i}" for i in range(1, 11))
    e = p + " " + p + " " + p + " " + mk("e", 31, 50)
    rows = [
        (1, a, "en", "synthetic", len(a)),
        (2, b, "en", "synthetic", len(b)),
        (3, c, "en", "synthetic", len(c)),
        (4, dd, "en", "synthetic", len(dd)),
        (5, e, "en", "synthetic", len(e)),
    ]
    sf = _write(
        spark,
        tmp_path,
        "documents",
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    r = {x.doc_id: x for x in _q("q_dedup_substring")(spark, sf).collect()}
    assert set(r) == {1, 2, 3, 4, 5}
    assert (r[1].n_win, r[1].n_dup_win, r[1].dup_tokens, r[1].keep) == (
        3, 1, 20, 0,
    )
    assert (r[2].n_win, r[2].n_dup_win, r[2].dup_tokens, r[2].keep) == (
        3, 1, 20, 0,
    )
    assert (r[3].n_win, r[3].n_dup_win, r[3].dup_tokens, r[3].keep) == (
        1, 0, 0, 1,
    )
    assert (r[4].n_win, r[4].n_dup_win, r[4].dup_tokens, r[4].keep) == (
        0, 0, 0, 1,
    )
    assert (r[5].n_win, r[5].n_dup_win, r[5].dup_tokens, r[5].keep) == (
        4, 2, 30, 0,
    )


# ----------------------------------------------------------- MACD


def test_macd_closed_form(spark, tmp_path):
    """One event type, 17 days of daily count 1 with a spike of 5 on
    day 9. Hand-computed truncated-EMA MACD (x256 ticks, macd =
    510*E4 - 480*E8), complete rows days 8..17:

      day  8: 0            day 13: -30720 (spike leaves fast window
      day  9: +30720                       -> strict down-cross)
      day 10: +15360       day 14: -15360
      day 11: +7680        day 15: -7680
      day 12: +3840        day 16: -3840 ; day 17: 0

    No strict up-cross (the series re-enters zero exactly)."""
    rows = []
    eid = 0
    for day in range(1, 18):
        n = 5 if day == 9 else 1
        for i in range(n):
            rows.append(
                (
                    eid,
                    datetime.datetime(2024, 3, day, 10, 0, 0)
                    + datetime.timedelta(minutes=i),
                    1,
                    "view",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    sf = _write(
        spark,
        tmp_path,
        "events",
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    r = _q("q_ts_macd")(spark, sf).collect()
    assert len(r) == 1
    r = r[0]
    assert r.n_days == 10
    assert r.n_cross_up == 0
    assert r.n_cross_down == 1
    assert r.max_macd == 30720
    assert r.min_macd == -30720
    assert r.last_macd == 0


# --------------------------------------------------- assortativity


def test_assortativity_closed_form(spark, tmp_path):
    """A 3-clique (degrees 2) plus a mutual pair (degrees 1), built
    from two orthogonal embedding directions: every edge connects
    equal degrees, so the degree correlation is exactly +1 —
    8 directed-double edges, num = 8*26 - 14^2 = 12, den =
    sqrt(12)*sqrt(12) = 11.999999999999998 (the nearest double to
    sqrt(12) sits just below, so its square lands one ulp under 12),
    hence 12e6/den = 1000000.0000000002 and the floored ppm is
    exactly 1000000, identically on both engines."""
    ex = [1.0] + [0.0] * 63
    ey = [0.0, 1.0] + [0.0] * 62
    rows = [(i, ex, 0) for i in range(3)] + [
        (i, ey, 1) for i in range(3, 5)
    ]
    sf = _write(
        spark,
        tmp_path,
        "embeddings",
        rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = _q("q_graph_assortativity")(spark, sf).collect()[0]
    assert r.n_edges == 8
    assert r.n_equal_deg == 8
    assert r.assortativity_ppm == 1000000


# ----------------------------------------------------------- stump


def test_stump_gini_closed_form(spark, tmp_path):
    """The q_ml_brier fixture geometry (confidences 0.9p/0.2p/0.7n/
    0.1n): weighted Gini by hand per threshold —

      thr 200000: left {0.1n} pure -> 0 + right (2 pos, 1 neg)
                  (9-4-1)*1e6 div 12 = 333333
      thr 800000/900000: left (1 pos, 2 neg) 333333 + right {0.9p}
                  pure -> 333333
      all other thresholds: 1-1 splits both sides -> 500000

    The argmin rows isolate a pure class — the correct stump."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [
        (0, mk(0.9), 7),
        (1, mk(0.2), 9),
        (2, mk(0.7), 1),
        (3, mk(0.1), 0),
    ]
    sf = _write(
        spark,
        tmp_path,
        "embeddings",
        rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = {x.thr: x.gini_split_ppm for x in _q("q_ml_stump")(spark, sf).collect()}
    expect = {
        100000: 500000,
        200000: 333333,
        300000: 500000,
        400000: 500000,
        500000: 500000,
        600000: 500000,
        700000: 500000,
        800000: 333333,
        900000: 333333,
    }
    assert r == expect


# ---------------------------------------------------- homogeneity


def test_homogeneity_chi2_closed_form(spark, tmp_path):
    """Textbook 2x2: source A = 30 en / 10 fr, source B = 10 en /
    30 fr (N = 80, all expected cells 20). chi-square = 4 * 10^2/20
    = 20 exactly -> 20000 milli; per-cell check: (O*N - r*c)^2 * 1000
    / (N*r*c) = 800^2*1000/128000 = 5000 per cell. dof = 1."""
    rows = []
    did = 0
    for src, lang, n in (
        ("A", "en", 30),
        ("A", "fr", 10),
        ("B", "en", 10),
        ("B", "fr", 30),
    ):
        for _ in range(n):
            rows.append((did, f"doc {did}", lang, src, 8))
            did += 1
    sf = _write(
        spark,
        tmp_path,
        "documents",
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    r = _q("q_dq_homogeneity")(spark, sf).collect()[0]
    assert r.n == 80
    assert r.n_sources == 2 and r.n_langs == 2 and r.dof == 1
    assert r.chi2_milli == 20000
    assert r.max_cell_milli == 5000


# ------------------------------------------------- hard negatives


def test_hard_negatives_closed_form(spark, tmp_path):
    """8 identical unit vectors, labels id % 2: every cosine is
    exactly 1.0, so ranking is the vec_id ASC tie-break and each
    query's hard negatives are simply the 5 smallest OPPOSITE-parity
    ids. Query 0 (label 0) -> 1, 3, 5, 7 (only 4 exist)."""
    vec = [1.0] + [0.0] * 63
    rows = [(i, vec, i % 2) for i in range(8)]
    sf = _write(
        spark,
        tmp_path,
        "embeddings",
        rows,
        "vec_id long, embedding array<float>, label int",
    )
    out = _q("q_ml_hard_negatives")(spark, sf).collect()
    byq = {}
    for r in out:
        assert r.cos_sim == 1.0
        assert r.neg_label != r.query_id % 2
        byq.setdefault(r.query_id, []).append((r.rn, r.neighbor_id))
    for qid, pairs in byq.items():
        want = [i for i in range(8) if i % 2 != qid % 2][:5]
        assert [n for _, n in sorted(pairs)] == want
    assert set(byq) == set(range(8))


def test_hard_negatives_any_embedding_width_matches_oracle(spark, tmp_path):
    """The cosine kernel reads every element of a vector whatever its
    width, like the oracle's ``len(embedding)`` range: on 3-d
    embeddings the query must run and match its DuckDB oracle (a
    kernel unrolled to a fixed 64 elements fails here with
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT)."""
    import duckdb

    from ngram_analytics_spark.queries import build_registry
    from ngram_analytics_spark.testing import (
        compare,
        duck_result,
        spark_result,
    )

    rows = [
        (
            i,
            [
                float((i * 7) % 11) - 4.5,
                float((i * 3) % 13) - 5.5,
                float((i * 5) % 17) - 7.5,
            ],
            i % 3,
        )
        for i in range(24)
    ]
    sf = _write(
        spark,
        tmp_path,
        "embeddings",
        rows,
        "vec_id long, embedding array<float>, label int",
    )
    reg = build_registry()
    scols, srows = spark_result(reg.queries["q_ml_hard_negatives"](spark, sf))
    assert len(srows) == 10 * 5
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM"
        f" read_parquet('{sf}/embeddings.parquet/*.parquet')"
    )
    dcols, drows = duck_result(con, reg.oracles["q_ml_hard_negatives"])
    assert not compare(scols, srows, dcols, drows)


# ----------------------------------------------------- ANN recall


def test_ann_recall_identical_vectors_plumbing(spark, tmp_path):
    """12 identical unit vectors: every cosine is 1.0 so both the
    exact and the IVF rankings degenerate to the id ASC tie-break,
    every vector assigns to the same (lowest-id) centroid cell, and
    the probed candidate set contains the whole corpus — recall@5
    must be exactly 1e6 for all queries (a plumbing pin: the
    approx/exact join, not the statistic, is what can break)."""
    vec = [1.0] + [0.0] * 63
    rows = [(i, vec, i % 3) for i in range(12)]
    sf = _write(
        spark,
        tmp_path,
        "embeddings",
        rows,
        "vec_id long, embedding array<float>, label int",
    )
    out = _q("q_ml_ann_recall")(spark, sf).collect()
    assert len(out) == 10
    for r in out:
        assert r.n_exact == 5
        assert r.n_hit == 5
        assert r.recall_ppm == 1_000_000


# --------------------------------------------------- vocab growth


def test_vocab_growth_closed_form(spark, tmp_path):
    """20 docs, doc i = "w{i} shared": the prefix of g docs holds
    g + 1 types and 2g tokens, so

      g=4:  5 types / 8 tokens,  g=16: 17/32,
      g>=20 (64, 256, 1024): 21/40 with n_docs = 20."""
    rows = [
        (i, f"w{i} shared", "en", "synthetic", 9) for i in range(20)
    ]
    sf = _write(
        spark,
        tmp_path,
        "documents",
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    r = {x.g: x for x in _q("q_vocab_growth")(spark, sf).collect()}
    assert set(r) == {4, 16, 64, 256, 1024}
    assert (r[4].n_docs, r[4].n_tokens, r[4].n_types) == (4, 8, 5)
    assert (r[16].n_docs, r[16].n_tokens, r[16].n_types) == (16, 32, 17)
    for g in (64, 256, 1024):
        assert (r[g].n_docs, r[g].n_tokens, r[g].n_types) == (20, 40, 21)
        assert r[g].ttr_ppm == 21 * 1_000_000 // 40


# ---------------------------------------------------------------- RSI


def test_rsi_closed_form(spark, tmp_path):
    """Hand-computed 16-day daily-count series 1,2,..,14,13,16 for one
    event type: 15 deltas (+1 x13, -1, +3), so exactly two days carry
    a complete 14-delta window:

      day 15: gains 13, losses 1 -> RSI = 13e6 // 14 = 928571
      day 16: gains 15, losses 1 -> RSI = 15e6 // 16 = 937500

    both overbought (>= 0.70), none oversold.
    """
    counts = list(range(1, 15)) + [13, 16]
    rows = []
    eid = 0
    for day, c in enumerate(counts, start=1):
        for _ in range(c):
            rows.append(
                (
                    eid,
                    datetime.datetime(2024, 1, day, 12, 0, 0),
                    0,
                    "buy",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    sf = _write(
        spark,
        tmp_path,
        "events",
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    r = _q("q_ts_rsi")(spark, sf).collect()
    assert len(r) == 1
    r = r[0]
    assert r.n_days == 2
    assert r.n_overbought == 2
    assert r.n_oversold == 0
    assert r.min_rsi_ppm == 13_000_000 // 14
    assert r.max_rsi_ppm == 937500
    assert r.last_rsi_ppm == 937500


# ------------------------------------------------------------ Benford


def test_benford_closed_form(spark, tmp_path):
    """Digits hand-assigned via the 1e-4 tick quantization: values
    1.0 / 12.5 / 0.19 -> digit 1, 2.0 -> digit 2, -3.0 -> digit 3
    (abs), 0.00004 -> tick 0 (excluded).  N = 5:

      obs(1) = 600000, obs(2) = obs(3) = 200000
      chi2 term(d) = (obs - exp)^2 // exp with the literal table.
    """
    vals = [1.0, 12.5, 0.19, 2.0, -3.0, 0.00004]
    rows = [
        (i, datetime.datetime(2024, 1, 1, 0, 0, i), 0, "buy", v, "{}")
        for i, v in enumerate(vals)
    ]
    sf = _write(
        spark,
        tmp_path,
        "events",
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    out = {r.digit: r for r in _q("q_dq_benford")(spark, sf).collect()}
    assert set(out) == {1, 2, 3}
    exp = {1: 301030, 2: 176091, 3: 124939}
    obs = {1: 600000, 2: 200000, 3: 200000}
    for d in (1, 2, 3):
        r = out[d]
        assert r.n == (3 if d == 1 else 1)
        assert r.obs_ppm == obs[d]
        assert r.exp_ppm == exp[d]
        assert r.dev_ppm == obs[d] - exp[d]
        assert r.chi2_term_ppm == (obs[d] - exp[d]) ** 2 // exp[d]


# ------------------------------------------------------- mixed script


def test_mixed_script_closed_form(spark, tmp_path):
    """Two docs in one (lang, source) cell: 'ab1 !' (5 chars: 2
    letters, 1 digit, 1 space, 1 other -> sym_ppm 200000, mixed AND
    garbage) and 'abcd' (pure letters -> sym_ppm 0)."""
    rows = [
        (0, "ab1 !", "en", "web", 5),
        (1, "abcd", "en", "web", 4),
    ]
    sf = _write(
        spark,
        tmp_path,
        "documents",
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    r = _q("q_text_mixed_script")(spark, sf).collect()
    assert len(r) == 1
    r = r[0]
    assert r.n_docs == 2
    assert r.n_mixed == 1
    assert r.n_garbage == 1
    assert r.mean_sym_ppm == 100000
    assert r.max_sym_ppm == 200000


# ---------------------------------------------------------- zone maps


def test_zone_map_prune_closed_form(spark, tmp_path):
    """4 lineitem rows hand-assigned to files in both layouts
    (epoch days 8839/8066/10560/8826; natural = orderkey mod 64 ->
    files {0: [8839, 10560], 1: [8066], 2: [8826]}; sorted =
    fixed-domain bucket -> files {0, 19, 20, 63} singleton-ish):

      pred 1 (8825..8855): natural scans 2/3 files, 3 rows for 2
      hits (amp 1.5e6); sorted scans 2/4 files, 2 rows for 2 hits.
      pred 2 (9678..9708): natural scans the wide file 0 (2 rows, 0
      hits, amp NULL); sorted scans nothing.
    """
    rows = [
        (0, datetime.date(1994, 3, 15)),
        (1, datetime.date(1992, 2, 1)),
        (64, datetime.date(1998, 11, 30)),
        (2, datetime.date(1994, 3, 2)),
    ]
    sf = _write(
        spark,
        tmp_path,
        "lineitem",
        rows,
        "l_orderkey long, l_shipdate date",
    )
    out = {
        (r.layout, r.pred_id): r
        for r in _q("q_zone_map_prune")(spark, sf).collect()
    }
    n1 = out[("natural", 1)]
    assert (n1.files_total, n1.files_scanned) == (3, 2)
    assert (n1.rows_scanned, n1.rows_match) == (3, 2)
    assert n1.prune_ppm == 1_000_000 // 3
    assert n1.read_amp_ppm == 1_500_000
    s1 = out[("sorted", 1)]
    assert (s1.files_total, s1.files_scanned) == (4, 2)
    assert (s1.rows_scanned, s1.rows_match) == (2, 2)
    assert s1.prune_ppm == 500_000
    assert s1.read_amp_ppm == 1_000_000
    n2 = out[("natural", 2)]
    assert (n2.files_scanned, n2.rows_scanned, n2.rows_match) == (
        1,
        2,
        0,
    )
    assert n2.read_amp_ppm is None
    s2 = out[("sorted", 2)]
    assert (s2.files_scanned, s2.rows_scanned, s2.rows_match) == (
        0,
        0,
        0,
    )
    assert s2.prune_ppm == 1_000_000


# ------------------------------------------------------------ Kish ESS


def test_sample_ess_closed_form(spark, tmp_path):
    """Sources a (1 doc) and b (3 docs), N=4, S=2:

      w_a = 4000 // 2 = 2000 mills, w_b = 4000 // 6 = 666
      sw = 2000 + 3*666 = 3998, sw2 = 4e6 + 3*666^2 = 5330668
      ess_docs = 3998^2 // 5330668 = 2, ratio = 500000
      mass_a = 2000e6 // 3998 = 500250, mass_b = 1998e6 // 3998 = 499749
    """
    rows = [
        (0, "x", "en", "a", 1),
        (1, "x", "en", "b", 1),
        (2, "x", "en", "b", 1),
        (3, "x", "en", "b", 1),
    ]
    sf = _write(
        spark,
        tmp_path,
        "documents",
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    out = {r.source: r for r in _q("q_sample_ess")(spark, sf).collect()}
    assert out["a"].w_mill == 2000
    assert out["b"].w_mill == 666
    assert out["a"].mass_ppm == 500250
    assert out["b"].mass_ppm == 499749
    assert out["a"].ess_docs == 2
    assert out["a"].ess_ratio_ppm == 500000


# ---------------------------------------------------- Poisson bootstrap


def test_sample_bootstrap_pure_python_mirror(spark, tmp_path):
    """8 events of one type, expected output computed by an
    independent hashlib.md5 mirror of the Poisson-ticket spec (shares
    no code with either engine)."""
    import hashlib

    vals = [1.5, 2.25, 3.0, 0.4, 5.1, 2.0, 7.75, 0.9]
    rows = [
        (i, datetime.datetime(2024, 1, 1, 0, 0, i), 0, "buy", v, "{}")
        for i, v in enumerate(vals)
    ]
    cum = (367879, 735758, 919698, 981011, 996340, 999405)

    def poisson_k(event_id, b):
        u = (
            int(
                hashlib.md5(f"{event_id}:{b}".encode()).hexdigest()[:8],
                16,
            )
            % 1_000_000
        )
        for k, c in enumerate(cum):
            if u < c:
                return k
        return 6

    ticks = [math.floor(v * 10000.0 + 0.5) for v in vals]
    rep_means = []
    for b in range(1, 17):
        sk = skv = 0
        for i, v in enumerate(ticks):
            k = poisson_k(i, b)
            sk += k
            skv += k * v
        rep_means.append(None if sk == 0 else skv // sk)
    present = [m for m in rep_means if m is not None]
    sf = _write(
        spark,
        tmp_path,
        "events",
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    r = _q("q_sample_bootstrap")(spark, sf).collect()
    assert len(r) == 1
    r = r[0]
    assert r.n == 8
    assert r.full_mean_tick == sum(ticks) // 8
    assert r.n_reps == 16
    assert r.boot_lo_tick == min(present)
    assert r.boot_hi_tick == max(present)
    assert r.boot_range_tick == max(present) - min(present)
    assert r.boot_mean_tick == sum(present) // 16


# ------------------------------------------------------ Spearman rho


def test_spearman_closed_form(spark, tmp_path):
    """4 rows with a tie in both variables and perfect rank
    agreement: scores 0.1/0.2/0.2/0.3 vs labels 0/1/1/2.  Doubled
    average ranks are 2/5/5/8 on both sides, so

      Sx = Sy = 20, Sxy = Sxx = Syy = 118,
      num = 4*118 - 400 = 72, den = sqrt(72)*sqrt(72)

    and rho = +1 -> 1000000 ppm (the den rounds to 71.999999999999986
    in IEEE, which still floors to 1000000 — verified by the same
    arithmetic in pure Python)."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [
        (0, mk(0.1), 0),
        (1, mk(0.2), 1),
        (2, mk(0.2), 1),
        (3, mk(0.3), 2),
    ]
    sf = _write(
        spark,
        tmp_path,
        "embeddings",
        rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = _q("q_ml_spearman")(spark, sf).collect()
    assert len(r) == 1
    assert r[0].n == 4
    assert r[0].spearman_ppm == 1_000_000


def test_spearman_perfect_inversion(spark, tmp_path):
    """Reversed labels -> rho = -1 (within one floor tick)."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [
        (0, mk(0.1), 3),
        (1, mk(0.2), 2),
        (2, mk(0.3), 1),
        (3, mk(0.4), 0),
    ]
    sf = _write(
        spark,
        tmp_path,
        "embeddings",
        rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = _q("q_ml_spearman")(spark, sf).collect()[0]
    assert r.spearman_ppm in (-1_000_000, -1_000_001)


# --------------------------------------------------- ordinal patterns


def test_ordinal_patterns_closed_form(spark, tmp_path):
    """Daily counts 1,3,2,2,5 for one type: windows (1,3,2) ->
    pattern 6 (rise then fall), (3,2,2) -> 0 (fall then tie-flat),
    (2,2,5) -> 3 (flat then rise) — one each, share 333333."""
    counts = [1, 3, 2, 2, 5]
    rows = []
    eid = 0
    for day, c in enumerate(counts, start=1):
        for _ in range(c):
            rows.append(
                (
                    eid,
                    datetime.datetime(2024, 2, day, 9, 0, 0),
                    0,
                    "buy",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    sf = _write(
        spark,
        tmp_path,
        "events",
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    out = {r.pattern: r for r in _q("q_ts_ordinal")(spark, sf).collect()}
    assert set(out) == {0, 3, 6}
    for p in (0, 3, 6):
        assert out[p].n == 1
        assert out[p].share_ppm == 333333
        assert out[p].modal_share_ppm == 333333


# ----------------------------------------------------- learning curve


def test_learning_curve_closed_form(spark, tmp_path):
    """The q_ml_mcc 12-doc confusion corpus with ids in cell order
    (tp 0-3, fp 4-5, fn 6, tn 7-11): the 4-doc prefix is all-tp
    (accuracy 1.0); the 16-doc prefix covers all 12 docs (accuracy
    9/12, F1 8/11)."""
    sw = "the a of and to"
    hard = "xx yy zz qq"
    rows = []
    did = 0

    def doc(text, lang):
        nonlocal did
        rows.append((did, text, lang, "synthetic", len(text)))
        did += 1

    for _ in range(4):
        doc(sw, "en")
    for _ in range(2):
        doc(sw, "fr")
    doc(hard, "en")
    for _ in range(5):
        doc(hard, "fr")
    sf = _write(
        spark,
        tmp_path,
        "documents",
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    out = {r.g: r for r in _q("q_ml_learning_curve")(spark, sf).collect()}
    assert set(out) == {4, 16, 64, 256, 1024}
    assert out[4].n_docs == 4
    assert (out[4].tp, out[4].accuracy_ppm, out[4].f1_ppm) == (
        4,
        1_000_000,
        1_000_000,
    )
    assert out[16].n_docs == 12
    assert out[16].accuracy_ppm == 9_000_000 // 12
    assert out[16].f1_ppm == 8_000_000 // 11
    assert out[1024].accuracy_ppm == out[16].accuracy_ppm


# -------------------------------------------------------- DP release


def test_dp_hist_pure_python_mirror(spark, tmp_path):
    """Two nations with hand counts 3 and 7; noise mirrored via
    hashlib.md5 of the same 'dp:<key>' seed (shares no code with
    either engine)."""
    import hashlib

    cust = [(i, 0) for i in range(3)] + [(100 + i, 1) for i in range(7)]
    sf = _write(
        spark,
        tmp_path,
        "customer",
        [(c, k) for c, k in cust],
        "c_custkey long, c_nationkey long",
    )
    spark.createDataFrame(
        [(0, "ALPHA"), (1, "BETA")], "n_nationkey long, n_name string"
    ).coalesce(1).write.mode("append").parquet(f"{sf}/nation.parquet")

    def mirror(key, true_n):
        hx = hashlib.md5(f"dp:{key}".encode()).hexdigest()
        u = int(hx[:8], 16) % 1_000_000
        sgn = 1 if int(hx[8], 16) % 2 == 0 else -1
        for m, c in ((0, 500000), (1, 750000), (2, 875000),
                     (3, 937500), (4, 968750)):
            if u < c:
                mag = m
                break
        else:
            mag = 5
        return sgn * mag, max(0, true_n + sgn * mag)

    out = {r.n_name: r for r in _q("q_privacy_dp_hist")(spark, sf).collect()}
    for key, name, n in ((0, "ALPHA", 3), (1, "BETA", 7)):
        noise, released = mirror(key, n)
        assert out[name].true_n == n
        assert out[name].noise == noise
        assert out[name].released_n == released


# ------------------------------------------------------- spatial grid


def test_spatial_grid_closed_form(spark, tmp_path):
    """4 points at DYADIC coordinates (exact in float32, so the
    1e-4 floor ticks are hand-derivable): 0 -> (0, 0) tick (0, 0),
    1 -> (2^-6, 2^-6) tick (156, 156), 2 -> (-2^-10, 0) tick
    (-10, 0), 3 -> (0.25, 0.25) tick (2500, 2500).  Qualifying
    pairs: 0-1 d=156, 0-2 d=10, 1-2 d=166; point 3 pairs with
    nothing.  Buckets: 0 -> 1 pair (mean 10), 1 -> 2 pairs (mean
    161).  Point 2 sits in a different truncation cell than 0/1, so
    the 3x3 neighbor replication must find the cross-cell pairs."""
    mk = lambda a, b: [float(a), float(b)] + [0.0] * 62  # noqa: E731
    rows = [
        (0, mk(0.0, 0.0), 0),
        (1, mk(0.015625, 0.015625), 0),
        (2, mk(-0.0009765625, 0.0), 0),
        (3, mk(0.25, 0.25), 0),
    ]
    sf = _write(
        spark,
        tmp_path,
        "embeddings",
        rows,
        "vec_id long, embedding array<float>, label int",
    )
    out = {
        r.dist_bucket: r
        for r in _q("q_join_spatial_grid")(spark, sf).collect()
    }
    assert set(out) == {0, 1}
    assert (out[0].n_pairs, out[0].mean_d_tick) == (1, 10)
    assert (out[1].n_pairs, out[1].mean_d_tick) == (2, 161)


# ------------------------------------------------ cross-source matrix


def test_cross_source_closed_form(spark, tmp_path):
    """Source A = {'a b c d e'} -> shingles {abcd, bcde}; source B =
    {'a b c d x', 'a b c d e'} -> {abcd, bcdx, bcde}.  Shared = 2
    (abcd, bcde): containment of A = 2/2, of B = 2/3."""
    rows = [
        (0, "a b c d e", "en", "A", 9),
        (1, "a b c d x", "en", "B", 9),
        (2, "a b c d e", "en", "B", 9),
    ]
    sf = _write(
        spark,
        tmp_path,
        "documents",
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    r = _q("q_dedup_cross_source")(spark, sf).collect()
    assert len(r) == 1
    r = r[0]
    assert (r.s1, r.s2) == ("A", "B")
    assert r.shared_sh == 2
    assert (r.total_s1, r.total_s2) == (2, 3)
    assert r.cont_s1_ppm == 1_000_000
    assert r.cont_s2_ppm == 666_666


# ------------------------------------------------------ KS separation


def test_ks_separation_closed_form(spark, tmp_path):
    """Scores 0.1(pos)/0.2(neg)/0.3(pos)/0.4(neg): P = N = 2, the
    integer cross-gap |cum_p*N - cum_n*P| is 2 at ticks 100000 and
    300000 (0 elsewhere) -> KS = 2e6 // 4 = 500000, argmax tie breaks
    to the SMALLEST tick."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [
        (0, mk(0.1), 7),
        (1, mk(0.2), 1),
        (2, mk(0.3), 9),
        (3, mk(0.4), 0),
    ]
    sf = _write(
        spark,
        tmp_path,
        "embeddings",
        rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = _q("q_ml_ks_separation")(spark, sf).collect()[0]
    assert (r.n, r.n_pos, r.n_neg) == (4, 2, 2)
    assert r.ks_ppm == 500_000
    assert r.ks_at_tick == 100_000


# --------------------------------------------------------- burstiness


def test_burstiness_closed_form(spark, tmp_path):
    """6 docs: five 'a b' and one 'a a a b'.  Term a: df 6, cf 8,
    sum(c^2) = 14 -> Fano = (6*14 - 64)e6 // (6*8) = 416666; term b
    is constant one-per-doc -> Fano 0."""
    rows = [(i, "a b", "en", "s", 3) for i in range(5)]
    rows.append((5, "a a a b", "en", "s", 7))
    sf = _write(
        spark,
        tmp_path,
        "documents",
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    out = _q("q_text_burstiness")(spark, sf).collect()
    assert [r.tok for r in out] == ["a", "b"]
    a, b = out
    assert (a.df, a.cf, a.fano_ppm) == (6, 8, 416666)
    assert (b.df, b.cf, b.fano_ppm) == (6, 6, 0)


# ------------------------------------------------------------ A/B SRM


def test_ab_srm_pure_python_mirror(spark, tmp_path):
    """10 users, each with one click; even users also view.  Expected
    splits derived via an independent hashlib.md5 mirror of the
    'exp1:<user>' assignment."""
    import hashlib

    rows = []
    eid = 0
    for u in range(10):
        rows.append(
            (eid, datetime.datetime(2024, 3, 1, 0, 0, eid), u,
             "click", 1.0, "{}")
        )
        eid += 1
        if u % 2 == 0:
            rows.append(
                (eid, datetime.datetime(2024, 3, 1, 0, 0, eid), u,
                 "view", 1.0, "{}")
            )
            eid += 1
    sf = _write(
        spark,
        tmp_path,
        "events",
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )

    def variant(u):
        return int(
            hashlib.md5(f"exp1:{u}".encode()).hexdigest()[:8], 16
        ) % 2

    click_a = sum(1 for u in range(10) if variant(u) == 0)
    view_a = sum(1 for u in range(0, 10, 2) if variant(u) == 0)
    out = {r.segment: r for r in _q("q_ab_srm")(spark, sf).collect()}
    assert set(out) == {"click", "view", "ALL"}
    assert (out["click"].n_a, out["click"].n_b) == (click_a, 10 - click_a)
    assert (out["view"].n_a, out["view"].n_b) == (view_a, 5 - view_a)
    assert (out["ALL"].n_a, out["ALL"].n_b) == (click_a, 10 - click_a)
    for seg, r in out.items():
        n, d = r.n_a + r.n_b, r.n_a - r.n_b
        assert r.delta == d
        assert r.chi2_milli == d * d * 1000 // n
        assert r.srm_flag == (1 if d * d * 1000 > 3841 * n else 0)


# -------------------------------------------------------------- CUPED


def test_cuped_pure_python_mirror(spark, tmp_path):
    """4 users with hand pre/post spends (pre 10/20/30/40, post
    12/24/31/45); variants from a hashlib mirror of the 'exp1:' md5
    assignment; theta / rho / per-variant adjusted means recomputed
    in pure Python with the same half-up 4-decimal rounding."""
    import hashlib
    import math as m

    pre = {0: 10.0, 1: 20.0, 2: 30.0, 3: 40.0}
    post = {0: 12.0, 1: 24.0, 2: 31.0, 3: 45.0}
    rows = []
    eid = 0
    for u in range(4):
        rows.append(
            (eid, datetime.datetime(2024, 1, 10, 8, 0, 0), u, "buy",
             pre[u], "{}")
        )
        eid += 1
        rows.append(
            (eid, datetime.datetime(2024, 1, 20, 8, 0, 0), u, "buy",
             post[u], "{}")
        )
        eid += 1
    sf = _write(
        spark,
        tmp_path,
        "events",
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )

    def variant(u):
        return int(
            hashlib.md5(f"exp1:{u}".encode()).hexdigest()[:8], 16
        ) % 2

    xs = [int(pre[u]) for u in range(4)]
    ys = [int(post[u]) for u in range(4)]
    n = 4
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    rho_ppm = m.floor(
        (n * sxy - sx * sy)
        * 1e6
        / (m.sqrt(n * sxx - sx * sx) * m.sqrt(n * syy - sy * sy))
    )

    def r4(v):
        return m.floor(abs(v) * 1e4 + 0.5) * (1 if v > 0 else -1 if v < 0 else 0) / 1e4

    out = {r.variant: r for r in _q("q_ab_cuped")(spark, sf).collect()}
    for v in set(variant(u) for u in range(4)):
        us = [u for u in range(4) if variant(u) == v]
        mp = sum(xs[u] for u in us) / len(us)
        mo = sum(ys[u] for u in us) / len(us)
        adj = mo - theta * (mp - sx / n)
        r = out[v]
        assert r.n_users == len(us)
        assert r.mean_pre == r4(mp)
        assert r.mean_post == r4(mo)
        assert abs(r.mean_post_adj - r4(adj)) < 1e-9
        assert r.rho_ppm == rho_ppm


# ------------------------------------------------------ r11 additions


def test_auc_pr_closed_form(spark, tmp_path):
    """Scores .1/.2/.3/.4 with labels 0/9/0/9 (pos iff label >= 5):
    threshold .4 -> P=1/1, pos share 1/2 -> 500000;
    threshold .2 -> P=2/3, pos share 1/2 -> floor(2e6/6) = 333333;
    negative thresholds contribute 0.  ap_ppm = 833333,
    base_rate = 2e6 div 4 = 500000."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [
        (0, mk(0.1), 0),
        (1, mk(0.2), 9),
        (2, mk(0.3), 0),
        (3, mk(0.4), 9),
    ]
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = _q("q_ml_auc_pr")(spark, sf).collect()[0]
    assert (r.n_pos, r.n_neg, r.n_ticks) == (2, 2, 4)
    assert r.base_rate_ppm == 500_000
    assert r.ap_ppm == 833_333


def test_kendall_tau_closed_form(spark, tmp_path):
    """Scores .1/.2/.2/.3, labels 0/1/1/2 (a tie in BOTH variables):
    concordant pairs = 5, discordant = 0, the (2,3) pair is doubly
    tied and drops from both; two_tx = two_ty = 2, so
    tau_b = 2*5e6 / (sqrt(10)*sqrt(10)) = 1.0 up to one IEEE ulp
    (sqrt(10)^2 = 10 + 2e-15 -> the floor may land one tick under)."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [
        (0, mk(0.1), 0),
        (1, mk(0.2), 1),
        (2, mk(0.2), 1),
        (3, mk(0.3), 2),
    ]
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = _q("q_ml_kendall_tau")(spark, sf).collect()[0]
    assert (r.n, r.n_concordant, r.n_discordant) == (4, 5, 0)
    assert r.tau_b_ppm in (999_999, 1_000_000)


def test_kendall_tau_inversion(spark, tmp_path):
    """Reversed labels -> every non-tied pair discordant, tau ~ -1."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [
        (0, mk(0.1), 2),
        (1, mk(0.2), 1),
        (2, mk(0.2), 1),
        (3, mk(0.3), 0),
    ]
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = _q("q_ml_kendall_tau")(spark, sf).collect()[0]
    assert (r.n_concordant, r.n_discordant) == (0, 5)
    assert r.tau_b_ppm in (-999_999, -1_000_000)


def test_psi_identical_halves_are_zero(spark, tmp_path):
    """Both parity halves hold the same scores -> p_a = p_b in every
    bucket after smoothing -> all drift terms exactly 0."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [(0, mk(0.15), 0), (1, mk(0.15), 0),
            (2, mk(0.35), 0), (3, mk(0.35), 0)]
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = _q("q_ml_psi")(spark, sf).collect()
    assert [row.bucket for row in r] == [5, 6]
    assert all(row.psi_term_ppm == 0 for row in r)
    assert all(row.n_a == 1 and row.n_b == 1 for row in r)


def test_psi_disjoint_halves_closed_form(spark, tmp_path):
    """A holds two 0.1-scores (bucket 5), B two 0.9-scores (bucket 9):
    smoothed p = 3/12 vs 1/12 in each occupied bucket, so each term is
    (1/6)*ln(3) = 0.18310204... -> 183102 ppm, symmetric by
    construction."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [(0, mk(0.1), 0), (2, mk(0.1), 0),
            (1, mk(0.9), 0), (3, mk(0.9), 0)]
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = {row.bucket: row for row in _q("q_ml_psi")(spark, sf).collect()}
    assert set(r) == {5, 9}
    assert (r[5].n_a, r[5].n_b) == (2, 0)
    assert (r[9].n_a, r[9].n_b) == (0, 2)
    expected = math.floor((1 / 6) * math.log(3.0) * 1e6 + 0.5)
    assert r[5].psi_term_ppm == expected == 183_102
    assert r[9].psi_term_ppm == expected


def test_map_closed_form(spark, tmp_path):
    """Four collinear vectors (exact dyadic components -> cosine is
    EXACTLY 1.0, ranks resolve purely by the vec_id tiebreak), labels
    1/1/2/1.  For query 0 (label 1, candidates 1,2,3 in id order):
    hits at ranks 1 and 3 -> terms 1e6 and floor(2e6/3) = 666666,
    n_rel = 2 -> AP = 2e6 - wait, (1000000 + 666666) div 2 = 833333.
    Query 2 (label 2) has zero relevant -> AP 0.  Query 3: hits at
    ranks 1, 2 -> (1e6 + 1e6) div 2 = 1e6."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [
        (0, mk(0.25), 1),
        (1, mk(0.5), 1),
        (2, mk(1.0), 2),
        (3, mk(0.5), 1),
    ]
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = {row.qid: row for row in _q("q_ml_map")(spark, sf).collect()}
    assert set(r) == {0, 1, 2, 3}
    assert r[0].ap_at_k_ppm == 833_333 and r[0].hits == 2
    assert r[1].ap_at_k_ppm == 833_333
    assert r[2].ap_at_k_ppm == 0 and r[2].n_rel == 0
    assert r[3].ap_at_k_ppm == 1_000_000


def _two_cluster_embeddings():
    """v0,v1 on axis e1; v2,v3 on axis e2; v4 on the 45-degree
    bisector: cos = 1.0 within a cluster, 0.7071 to v4, 0.0 across
    clusters (below the 0.2 kNN floor)."""
    def vec(a, b):
        v = [0.0] * 64
        v[0], v[1] = a, b
        return v

    return [
        (0, vec(1.0, 0.0), 0),
        (1, vec(0.5, 0.0), 0),
        (2, vec(0.0, 1.0), 0),
        (3, vec(0.0, 0.5), 0),
        (4, vec(0.5, 0.5), 0),
    ]


def test_reciprocity_closed_form(spark, tmp_path):
    """Hand kNN graph of the two-cluster fixture: directed edges
    0->{1,4} 1->{0,4} 2->{3,4} 3->{2,4} 4->{0,1,2} (top-3 by cosine
    desc, id asc — v4's four 0.7071 ties resolve to ids 0,1,2).
    Only 3->4 lacks its reverse: 10 of 11 edges reciprocate ->
    5 mutual pairs, 909090 ppm."""
    sf = _write(
        spark, tmp_path, "embeddings", _two_cluster_embeddings(),
        "vec_id long, embedding array<float>, label int",
    )
    r = _q("q_graph_reciprocity")(spark, sf).collect()[0]
    assert r.n_edges == 11
    assert r.n_recip == 10
    assert r.n_mutual_pairs == 5
    assert r.reciprocity_ppm == 909_090


def test_adamic_adar_closed_form(spark, tmp_path):
    """Undirected edges of the two-cluster fixture: (0,1) (0,4) (1,4)
    (2,3) (2,4) (3,4).  Every non-edge pair shares exactly the hub 4
    (degree 4): AA = 1/ln(4) -> floor(1e6/ln4 + .5) = 721348 for
    (0,2) (0,3) (1,2) (1,3)."""
    sf = _write(
        spark, tmp_path, "embeddings", _two_cluster_embeddings(),
        "vec_id long, embedding array<float>, label int",
    )
    rows = _q("q_graph_adamic_adar")(spark, sf).collect()
    got = {(r.a, r.b): (r.n_common, r.aa_ppm) for r in rows}
    expected_pairs = {(0, 2), (0, 3), (1, 2), (1, 3)}
    assert set(got) == expected_pairs
    w = math.floor(1e6 / math.log(4.0) + 0.5)
    assert all(v == (1, w) for v in got.values())
    assert w == 721_348


def test_periodogram_detects_the_planted_period(spark, tmp_path):
    """A pure 7-day pulse train (y=8 when day%7==0 else 1) over 28
    days: the period-7 bin carries the pulse's whole AC energy while
    10 and 15 don't divide 28 evenly -> strictly smaller relative
    power.  Expected sums re-derived by an independent in-test trig
    mirror (math.cos/sin, same half-up tick quantization)."""
    days = list(range(7, 35))
    rows, eid = [], 0
    for d in days:
        y = 8 if d % 7 == 0 else 1
        for _ in range(y):
            rows.append(
                (eid, datetime.datetime(1970, 1, 1)
                 + datetime.timedelta(days=d, hours=9),
                 1, "click", 1.0, "{}"))
            eid += 1
    sf = _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    out = {r.period: r for r in
           _q("q_ts_periodogram")(spark, sf).collect()}
    assert set(out) == {7, 10, 15}
    # independent mirror
    for p, row in out.items():
        sc = ss = sy = 0
        for d in days:
            y = 8 if d % 7 == 0 else 1
            ang = 2.0 * math.pi * (d % p) / p
            sc += y * math.floor(math.cos(ang) * 1e6 + 0.5)
            ss += y * math.floor(math.sin(ang) * 1e6 + 0.5)
            sy += y
        assert (row.s_cos, row.s_sin) == (sc, ss), p
        assert row.power_rel_ppm == (sc * sc + ss * ss) * 10**6 // (sy * sy)
    assert out[7].power_rel_ppm > 10 * out[10].power_rel_ppm
    assert out[7].power_rel_ppm > 10 * out[15].power_rel_ppm


def test_lag_features_closed_form(spark, tmp_path):
    """Daily counts 1..8 for one type: day 8 reads lag1=7, lag7=1,
    ma7 = (2+...+8) div 7 = 5, max7 = 8; rolling stats are NULL until
    the 7th observed day (the anti-leakage contract)."""
    rows, eid = [], 0
    for day in range(1, 9):
        for _ in range(day):
            rows.append(
                (eid, datetime.datetime(2024, 3, day, 12, 0, 0),
                 1, "view", 1.0, "{}"))
            eid += 1
    sf = _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    out = _q("q_ts_lag_features")(spark, sf).collect()
    assert len(out) == 8
    by_y = {r.y: r for r in out}
    last = by_y[8]
    assert (last.y_lag1, last.y_lag7, last.ma7, last.max7) == (7, 1, 5, 8)
    first = by_y[1]
    assert first.y_lag1 is None and first.ma7 is None
    assert by_y[6].ma7 is None  # 6 rows of history only
    assert by_y[7].ma7 == 28 // 7 and by_y[7].max7 == 7


def test_zipf_closed_form(spark, tmp_path):
    """One document with exact power-of-two frequencies 8/4/2/1 ->
    log2(f) ticks are EXACT (3e6, 2e6, 1e6, 0); slope/intercept
    re-derived by an independent integer OLS mirror."""
    text = " ".join(["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d"])
    sf = _write(
        spark, tmp_path, "documents",
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    r = _q("q_text_zipf")(spark, sf).collect()[0]
    assert (r.n_ranks, r.top_freq) == (4, 8)
    xs = [math.floor(math.log2(rk) * 1e6 + 0.5) for rk in (1, 2, 3, 4)]
    ys = [3_000_000, 2_000_000, 1_000_000, 0]
    n = 4
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))

    def tdiv(a, b):  # both engines' `div` truncates toward zero
        return -((-a) // b) if a < 0 else a // b

    assert r.slope_ppm == tdiv(
        (n * sxy - sx * sy) * 10**6, n * sxx - sx * sx
    ) == -1_459_021
    assert r.intercept_ppm == tdiv(
        sy * sxx - sx * sxy, n * sxx - sx * sx
    ) == 3_172_390
    assert -1_700_000 < r.slope_ppm < -1_300_000  # steeper than Zipf -1


def test_ab_power_closed_form(spark, tmp_path):
    """Two purchase values 1.0 / 3.0: population variance 1.0, mean
    2.0 -> n_per_arm = ceil(2 * 1 * (z_a+z_b)^2 / (2*pct/100)^2),
    re-derived via the same integer ceiling-division mirror; zero
    variance would read 0."""
    rows = [
        (0, datetime.datetime(2024, 1, 1, 1), 1, "purchase", 1.0, "{}"),
        (1, datetime.datetime(2024, 1, 1, 2), 2, "purchase", 3.0, "{}"),
        (2, datetime.datetime(2024, 1, 1, 3), 3, "click", 9.0, "{}"),
    ]
    sf = _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    out = {r.mde_pct: r for r in _q("q_ab_power")(spark, sf).collect()}
    assert set(out) == {1, 2, 5, 10}
    z2 = int(round((1.959964 + 0.841621) ** 2 * 1e6))
    n, s, s2 = 2, 40_000, 10_000**2 + 30_000**2
    for pct, r in out.items():
        a = z2 * (n * s2 - s * s)
        b = 50 * s * s * pct * pct
        assert r.n_required_per_arm == -(-a // b), pct
        assert r.mean_tick == 20_000 and r.n_obs == 2
    # sanity: sigma=1, mean=2 at 10% MDE -> ~392-393 per arm
    assert 380 <= out[10].n_required_per_arm <= 400


def test_iv_woe_closed_form(spark, tmp_path):
    """Two positives (label 9) at score .1, two negatives (label 0)
    at .9: bucket 5 holds all positives -> smoothed shares 3/12 vs
    1/12 -> WOE = +ln(3) = 1098612 ppm, IV term (1/6)ln3 = 183102;
    bucket 9 is the mirror image with negative WOE."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [(0, mk(0.1), 9), (1, mk(0.1), 9),
            (2, mk(0.9), 0), (3, mk(0.9), 0)]
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = {row.bucket: row for row in _q("q_ml_iv_woe")(spark, sf).collect()}
    assert set(r) == {5, 9}
    woe = math.floor(math.log(3.0) * 1e6 + 0.5)
    iv = math.floor((1 / 6) * math.log(3.0) * 1e6 + 0.5)
    assert (r[5].n_pos, r[5].n_neg) == (2, 0)
    assert r[5].woe_ppm == woe == 1_098_612
    assert r[9].woe_ppm == -woe
    assert r[5].iv_term_ppm == r[9].iv_term_ppm == iv == 183_102


def test_cramers_v_perfect_association(spark, tmp_path):
    """2x2 with each language exclusive to one source: chi2 = n = 4
    (each cell term (o*n - r*c)^2/(n*r*c) = 1e6 ppm, INCLUDING the
    two zero cells — the pin that catches an observed-cells-only
    chi-square), V = sqrt(4/(4*1)) = 1 -> 1000 milli."""
    rows = [
        (0, "t", "en", "s1", 1), (1, "t", "en", "s1", 1),
        (2, "t", "fr", "s2", 1), (3, "t", "fr", "s2", 1),
    ]
    sf = _write(
        spark, tmp_path, "documents",
        [(i, t, l, s, n) for i, t, l, s, n in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    r = _q("q_ml_cramers_v")(spark, sf).collect()[0]
    assert (r.n, r.n_langs, r.n_sources) == (4, 2, 2)
    assert r.chi2_ppm == 4_000_000
    assert r.cramers_v_milli == 1000


def test_cramers_v_independence_is_zero(spark, tmp_path):
    """A perfectly balanced 2x2 (every lang x source cell equal):
    every o*n - r*c difference is exactly 0 -> chi2 = V = 0."""
    rows = [(i, "t", l, s, 1)
            for i, (l, s) in enumerate(
                [("en", "s1"), ("en", "s2"), ("fr", "s1"), ("fr", "s2")])]
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    r = _q("q_ml_cramers_v")(spark, sf).collect()[0]
    assert r.chi2_ppm == 0 and r.cramers_v_milli == 0


def test_mutual_info_closed_form(spark, tmp_path):
    """Perfect 2x2 association: each observed cell carries
    (1/2) * ln(2) micro-nats -> 346574 each; summed MI = ln(2)."""
    rows = [
        (0, "t", "en", "s1", 1), (1, "t", "en", "s1", 1),
        (2, "t", "fr", "s2", 1), (3, "t", "fr", "s2", 1),
    ]
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    out = _q("q_ml_mutual_info")(spark, sf).collect()
    assert len(out) == 2  # zero cells absent by design (term -> 0)
    term = math.floor(0.5 * math.log(2.0) * 1e6 + 0.5)
    assert all(r.mi_term_micronat == term == 346_574 for r in out)


def test_mann_kendall_closed_form(spark, tmp_path):
    """Daily counts 1, 2, 3 (strictly rising): S = 3, no ties,
    var*18 = 3*2*11 = 66, z = (3-1)*1e6 / sqrt(66/18)."""
    rows, eid = [], 0
    for day, c in enumerate([1, 2, 3], start=1):
        for _ in range(c):
            rows.append(
                (eid, datetime.datetime(2024, 5, day, 8), 1,
                 "click", 1.0, "{}"))
            eid += 1
    sf = _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    r = _q("q_ts_mann_kendall")(spark, sf).collect()[0]
    assert (r.n_days, r.s_stat, r.var_s_x18) == (3, 3, 66)
    assert r.z_ppm == math.floor(2e6 / math.sqrt(66 / 18.0)) == 1_044_465


def test_anova_dow_perfect_weekly_cycle(spark, tmp_path):
    """14 days where y = 10 on one weekday and 1 elsewhere, repeated
    exactly: within-group variance is 0, so eta^2 = SSB/SST = 1e6
    exactly (the dow groups explain ALL the variance)."""
    rows, eid = [], 0
    for d in range(14):
        y = 10 if d % 7 == 0 else 1
        for _ in range(y):
            rows.append(
                (eid, datetime.datetime(1970, 1, 1)
                 + datetime.timedelta(days=d, hours=6),
                 1, "view", 1.0, "{}"))
            eid += 1
    sf = _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    r = _q("q_ts_anova_dow")(spark, sf).collect()[0]
    assert r.n_days == 14
    assert r.ssb_tick == r.sst_tick
    assert r.eta2_ppm == 1_000_000


def test_horvitz_saturated_weights_are_exact(spark, tmp_path):
    """Docs all >= 400 chars have keep probability exactly 1: the
    sample IS the population and the HT estimate must equal the true
    total with err_ppm = 0."""
    rows = [(i, "t", "en", "s", 400 + 100 * i) for i in range(4)]
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    r = _q("q_sample_horvitz")(spark, sf).collect()[0]
    assert r.n_kept == r.n_total == 4
    assert r.ht_estimate == r.true_total == 400 + 500 + 600 + 700
    assert r.err_ppm == 0


def test_horvitz_small_doc_mirror(spark, tmp_path):
    """One 100-char doc (p = 1/4): the keep decision replays from the
    arithmetic-uniform mirror; if kept it contributes max(100, 400) =
    400 — the pure-integer inverse-probability weight."""
    rows = [(7, "t", "fr", "s", 100), (8, "t", "fr", "s", 500)]
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    kept_small = ((7 * 2654435761) % 1000003) / 1000003 < 100 / 400.0
    r = _q("q_sample_horvitz")(spark, sf).collect()[0]
    expected_ht = 500 + (400 if kept_small else 0)
    assert r.ht_estimate == expected_ht
    assert r.true_total == 600
    assert r.n_kept == (2 if kept_small else 1)


def test_bigram_entropy_closed_form(spark, tmp_path):
    """lang en: 'a b a b a' alternates deterministically -> every
    continuation is forced, H(w2|w1) = 0.  lang fr: 'x y x z' has one
    binary choice after x -> mass = 2*ln(2) ticks over 3 bigrams."""
    rows = [
        (1, "a b a b a", "en", "s", 9),
        (2, "x y x z", "fr", "s", 7),
    ]
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    r = {row.lang: row for row in
         _q("q_text_bigram_entropy")(spark, sf).collect()}
    assert r["en"].cond_entropy_micronat == 0
    assert (r["en"].n_bigrams, r["en"].n_bigram_types) == (4, 2)
    ln2 = math.floor(math.log(2.0) * 1e6 + 0.5)
    assert r["fr"].n_bigrams == 3
    assert r["fr"].cond_entropy_micronat == 2 * ln2 // 3 == 462_098


def test_hurst_python_mirror(spark, tmp_path):
    """R/S over a 28-day sawtooth, re-derived by an independent pure-
    Python mirror of the definitions (blocks of w epoch days, exact
    scaled deviation ladder w*cum_j - j*S, one sqrt, per-block ppm
    floor, per-(type, w) mean, zipf-style log2 slope)."""
    ys = [((3 * d) % 11) + 1 for d in range(28)]
    rows, eid = [], 0
    for d, y in enumerate(ys):
        for _ in range(y):
            rows.append(
                (eid, datetime.datetime(1970, 1, 1)
                 + datetime.timedelta(days=d, hours=3),
                 1, "click", 1.0, "{}"))
            eid += 1
    sf = _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    out = {r.w: r for r in _q("q_ts_hurst")(spark, sf).collect()}
    pts = []
    for w in (7, 14, 28):
        rss = []
        for b0 in range(0, 28, w):
            blk = ys[b0:b0 + w]
            if len(blk) != w:
                continue
            s = sum(blk)
            s2 = sum(v * v for v in blk)
            var = w * s2 - s * s
            if var <= 0:
                continue
            cum = 0
            zs = []
            for j, v in enumerate(blk, start=1):
                cum += v
                zs.append(w * cum - j * s)
            rss.append(
                math.floor((max(zs) - min(zs)) * 1e6 / math.sqrt(var)))
        n_blocks, rs_mean = len(rss), sum(rss) // len(rss)
        assert (out[w].n_blocks, out[w].rs_mean_ppm) == (
            n_blocks, rs_mean), w
        pts.append((math.floor(math.log2(w) * 1e6 + 0.5),
                    math.floor(math.log2(rs_mean) * 1e6 + 0.5)))
    n = len(pts)
    sx = sum(p[0] for p in pts); sy = sum(p[1] for p in pts)
    sxx = sum(p[0] ** 2 for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    num, den = (n * sxy - sx * sy) * 10**6, n * sxx - sx * sx
    expected = -((-num) // den) if num < 0 else num // den
    assert all(r.hurst_ppm == expected for r in out.values())
    assert 0 < expected < 1_200_000  # a real exponent, roughly [0, 1]


def test_ece_closed_form(spark, tmp_path):
    """One confident negative (conf .1, bin 1) and one confident
    positive (conf .9, bin 9): both bins gap by exactly 100000 ppm ->
    ECE = MCE = 100000."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [(0, mk(0.1), 0), (1, mk(0.9), 9)]
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = _q("q_ml_ece")(spark, sf).collect()[0]
    assert (r.n, r.n_bins_occupied) == (2, 2)
    assert r.ece_ppm == 100_000
    assert r.mce_ppm == 100_000


def test_stream_ngram_topk_matches_batch(spark, tmp_path):
    """The live complete-mode bigram census must equal the batch
    flagship top-k on the same corpus (the q_stream_live_dedup
    batch-equivalence discipline)."""
    rows = [
        (1, "the quick brown fox the quick", "en", "s", 30),
        (2, "the quick red fox", "en", "s", 17),
    ]
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    live = [(r.ngram, r.cnt) for r in
            _q("q_stream_live_ngram_topk")(spark, sf).collect()]
    batch = [(r.ngram, r.cnt) for r in
             _q("q_ngram_topk")(spark, sf).collect()]
    assert live == batch
    assert live[0] == ("the quick", 3)


def test_dp_mean_hashlib_mirror(spark, tmp_path):
    """The seeded release replays from an independent hashlib mirror
    of the ticket + pmf + clamp algebra; post-processing bounds hold
    (released_n >= 1, released mean >= 0)."""
    import hashlib as hl

    rows = [
        (1, 1, "1-URGENT", "o", 100.0),
        (2, 2, "1-URGENT", "o", 200.0),
        (3, 3, "2-HIGH", "o", 50.5),
    ]
    sf = _write(
        spark, tmp_path, "orders",
        [(i, c, p, s, v) for i, c, p, s, v in rows],
        "o_orderkey long, o_custkey long, o_orderpriority string,"
        " o_orderstatus string, o_totalprice double",
    )

    def noise(prefix, key):
        h = hl.md5((prefix + key).encode()).hexdigest()
        u = int(h[:8], 16) % 1_000_000
        sgn = 1 if int(h[8], 16) % 2 == 0 else -1
        mag = (0 if u < 500_000 else 1 if u < 750_000 else
               2 if u < 875_000 else 3 if u < 937_500 else
               4 if u < 968_750 else 5)
        return sgn * mag

    out = {r.o_orderpriority: r
           for r in _q("q_privacy_dp_mean")(spark, sf).collect()}
    truth = {"1-URGENT": (2, 1_000_000 + 2_000_000),
             "2-HIGH": (1, 505_000)}
    for key, (tn, tsum) in truth.items():
        r = out[key]
        nn = noise("dpm:", key)
        ns = noise("dps:", key) * (3_000_000_000 // 1000)
        assert r.true_n == tn
        assert r.noise_n == nn and r.noise_sum_tick == ns
        assert r.released_n == max(1, tn + nn) >= 1
        assert r.released_mean_tick == (
            max(0, tsum + ns) // max(1, tn + nn)) >= 0


def test_filter_reasons_trips_each_gate(spark, tmp_path):
    """Four hand docs: one passes all gates (mask 0), one is too
    short + stopword-free (mask 1+4=5), one is length-OK but
    repetitive + stopword-free (mask 2+4=6), proving each bit fires
    independently and kept mass lands in mask 0."""
    good = " ".join(
        ["the", "a", "of"] + [f"w{i}" for i in range(27)])  # 30 toks
    short = "x1 x2 x3 x4 x5"                                # 5 toks
    repet = " ".join(["x"] * 25)                            # 25 toks
    rows = [
        (1, good, "en", "sA", len(good)),
        (2, short, "en", "sA", len(short)),
        (3, repet, "en", "sB", len(repet)),
    ]
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    out = {(r.source, r.reason_mask): (r.n_docs, r.n_tokens)
           for r in _q("q_filter_reasons")(spark, sf).collect()}
    assert out == {
        ("sA", 0): (1, 30),
        ("sA", 5): (1, 5),
        ("sB", 6): (1, 25),
    }


def test_pr_at_recall_closed_form(spark, tmp_path):
    """The q_ml_auc_pr fixture (scores .1-/.2+/.3-/.4+): recall-50%
    admits the perfect-precision threshold .4; recall-80% and -95%
    force threshold .2 (precision floor(2e6/3) = 666666, recall 1e6).
    """
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [
        (0, mk(0.1), 0),
        (1, mk(0.2), 9),
        (2, mk(0.3), 0),
        (3, mk(0.4), 9),
    ]
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    out = {r.target_ppm: r
           for r in _q("q_ml_pr_at_recall")(spark, sf).collect()}
    assert set(out) == {500_000, 800_000, 950_000}
    assert (out[500_000].threshold_tick,
            out[500_000].precision_ppm,
            out[500_000].recall_ppm) == (400_000, 1_000_000, 500_000)
    for tgt in (800_000, 950_000):
        assert (out[tgt].threshold_tick,
                out[tgt].precision_ppm,
                out[tgt].recall_ppm) == (200_000, 666_666, 1_000_000)


def test_jsd_identical_halves_zero_and_disjoint_mirror(spark, tmp_path):
    """Identical halves -> every JSD term exactly 0; the disjoint
    fixture's terms replay from an independent math mirror of the
    smoothed-proportion algebra."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    same = [(0, mk(0.15), 0), (1, mk(0.15), 0),
            (2, mk(0.35), 0), (3, mk(0.35), 0)]
    sf = _write(
        spark, tmp_path, "embeddings", same,
        "vec_id long, embedding array<float>, label int",
    )
    r = _q("q_ml_drift_jsd")(spark, sf).collect()
    assert all(row.jsd_term_ppm == 0 for row in r)

    sf2 = str(tmp_path / "fix2")
    spark.createDataFrame(
        [(0, mk(0.1), 0), (2, mk(0.1), 0),
         (1, mk(0.9), 0), (3, mk(0.9), 0)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(f"{sf2}/embeddings.parquet")
    out = {row.bucket: row.jsd_term_ppm
           for row in _q("q_ml_drift_jsd")(spark, sf2).collect()}
    p, q = 3 / 12, 1 / 12
    expected = math.floor(
        (0.5 * p * math.log(2 * p / (p + q))
         + 0.5 * q * math.log(2 * q / (p + q))) * 1e6 + 0.5)
    assert out == {5: expected, 9: expected}
    assert expected == 21_802


def test_export_manifest_hashlib_mirror(spark, tmp_path):
    """Shard ids and the order-insensitive membership digest replay
    from an independent hashlib/python mirror of the Knuth map and
    ticket algebra."""
    import hashlib as hl

    rows = [(i, "t", "en", "s", 100 + i) for i in range(6)]
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    out = {r.shard: r for r in
           _q("q_export_manifest")(spark, sf).collect()}
    mirror = {}
    for i in range(6):
        shard = (i % 999983) * 2654435761 % 4294967296 % 64
        tkt = int(hl.md5(str(i).encode()).hexdigest()[:15], 16)
        m = mirror.setdefault(shard, [0, 0, [], 0])
        m[0] += 1
        m[1] += 100 + i
        m[2].append(i)
        m[3] += tkt
    assert set(out) == set(mirror)
    for shard, (n, chars, ids, digest) in mirror.items():
        r = out[shard]
        assert (r.n_docs, r.total_chars) == (n, chars)
        assert (r.min_doc_id, r.max_doc_id) == (min(ids), max(ids))
        assert r.content_digest == digest % 1_000_000_007


def test_stream_filter_yield_matches_batch_gates(spark, tmp_path):
    """The live (source, keep) grid must agree with the batch filter
    pipeline's per-source keep counts on the same corpus."""
    good = " ".join(["the", "a", "of"] + [f"w{i}" for i in range(27)])
    short = "x1 x2 x3 x4 x5"
    repet = " ".join(["x"] * 25)
    rows = [
        (1, good, "en", "sA", len(good)),
        (2, short, "en", "sA", len(short)),
        (3, repet, "en", "sB", len(repet)),
    ]
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    live = {(r.source, r.keep): r.n for r in
            _q("q_stream_live_filter_yield")(spark, sf).collect()}
    assert live == {("sA", 0): 1, ("sA", 1): 1, ("sB", 0): 1}
    batch = {r.source: (r.n_docs, r.n_kept) for r in
             _q("q_text_filter_pipeline")(spark, sf).collect()}
    for src, (nd, nk) in batch.items():
        assert live.get((src, 1), 0) == nk
        assert live.get((src, 0), 0) == nd - nk


def test_class_weights_closed_form(spark, tmp_path):
    """Balanced 2-class fixture -> inverse-frequency weights exactly
    1e6 each; an imbalanced 3:1 fixture -> weights 500000 / 1500000
    (mean pinned at 1.0); effective-number weights replay from the
    math mirror (1-b)/(1-b^n)."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    bal = [(i, mk(0.1), i % 2) for i in range(4)]
    sf = _write(
        spark, tmp_path, "embeddings", bal,
        "vec_id long, embedding array<float>, label int",
    )
    out = _q("q_ml_class_weights")(spark, sf).collect()
    assert [r.inv_freq_ppm for r in out] == [1_000_000, 1_000_000]
    b = 0.999
    for r in out:
        assert r.eff_num_ppb == math.floor(
            (1 - b) / (1 - b ** r.n) * 1e9 + 0.5)

    sf2 = str(tmp_path / "imb")
    spark.createDataFrame(
        [(0, mk(0.1), 0), (1, mk(0.1), 0), (2, mk(0.1), 0),
         (3, mk(0.1), 1)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(f"{sf2}/embeddings.parquet")
    out2 = {r.label: r.inv_freq_ppm
            for r in _q("q_ml_class_weights")(spark, sf2).collect()}
    # integer mirror of the documented term-wise trunc semantics:
    # inv_scaled floors per class BEFORE the sum, so class 0 reads
    # 499999 (not the ideal 500000) — exactly reproducible
    inv0, inv1 = 4 * 10**12 // 3, 4 * 10**12 // 1
    s = inv0 + inv1
    assert out2 == {
        0: 2 * inv0 * 10**6 // s,
        1: 2 * inv1 * 10**6 // s,
    } == {0: 499_999, 1: 1_500_000}


def test_mix_epochs_water_filling_closed_form(spark, tmp_path):
    """Two sources, big (3600 chars) and small (100): weights
    sqrt = 60/10, budget 2x = 7400.  Round 1 gives small
    7400*10//70 = 1057 > cap 400 -> capped; big gets
    7400*60//70 = 6342 < cap 14400.  Round 2 refills big with the
    leftover 7400-6342-400 = 658 -> 7000; round 3 idles (leftover 0).
    Epochs: small exactly 4e6 ppm (at cap), big 7000/3600."""
    rows = [(1, "t", "en", "big", 3600), (2, "t", "en", "small", 100)]
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    out = {r.source: r for r in _q("q_mix_epochs")(spark, sf).collect()}
    assert out["small"].alloc == out["small"].cap == 400
    assert out["small"].epochs_ppm == 4_000_000
    assert out["big"].alloc == 7_000
    assert out["big"].epochs_ppm == 7_000 * 10**6 // 3_600
    # budget fully allocated in this fixture
    assert out["big"].alloc + out["small"].alloc == 2 * 3_700


# ------------------------- r12 degenerate-regime guards (ADVICE r11)
# The empty-slice probe exercises 0-ROW inputs; these pins cover the
# non-empty degenerate slices the r12 nullif guards protect — the
# exact rare-positive / fully-tied regimes the statistics exist for.


def test_auc_pr_zero_positives_reads_zero(spark, tmp_path):
    """A non-empty slice with NO positive labels (the rare-positive
    regime PR-AUC is motivated by): every per-tick term divides by
    tot_npos = 0, which must read NULL-then-0 via nullif on both
    engines — not raise under ANSI div."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [(i, mk(0.1 * (i + 1)), 0) for i in range(4)]
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = _q("q_ml_auc_pr")(spark, sf).collect()[0]
    assert (r.n_pos, r.n_neg, r.n_ticks) == (0, 4, 4)
    assert r.base_rate_ppm == 0
    assert r.ap_ppm == 0


def test_pr_at_recall_zero_positives_is_empty(spark, tmp_path):
    """Zero positives -> recall is NULL at every threshold, so no
    operating point meets any recall floor: the result is EMPTY (no
    deployable cutoff exists), never a division error."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [(i, mk(0.1 * (i + 1)), 0) for i in range(4)]
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    assert _q("q_ml_pr_at_recall")(spark, sf).count() == 0


def test_kendall_tau_fully_tied_scores_read_null(spark, tmp_path):
    """All scores identical -> n(n-1) - two_tx = 0, the tau-b
    denominator is 0 and tau must read NULL (undefined), never raise
    floor(Infinity)/0-div under ANSI."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [(i, mk(0.5), i % 3) for i in range(4)]
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    r = _q("q_ml_kendall_tau")(spark, sf).collect()[0]
    assert (r.n, r.n_concordant, r.n_discordant) == (4, 0, 0)
    assert r.tau_b_ppm is None


def test_mann_kendall_fully_tied_days_read_null(spark, tmp_path):
    """Two days with EQUAL daily counts: S = 0 and the tie adjustment
    consumes the whole variance (var18 = 0), so z is undefined and
    must read NULL on both engines — the 0/0 -> floor(NaN) ANSI crash
    the r12 nullif guard closes."""
    rows, eid = [], 0
    for day in (1, 2):
        for _ in range(3):
            rows.append(
                (eid, datetime.datetime(2024, 5, day, 8), 1,
                 "click", 1.0, "{}"))
            eid += 1
    sf = _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    r = _q("q_ts_mann_kendall")(spark, sf).collect()[0]
    assert (r.n_days, r.s_stat, r.var_s_x18) == (2, 0, 0)
    assert r.z_ppm is None


def test_mann_whitney_closed_form(spark, tmp_path):
    """Per-user event counts 1/2/3/4 for users 0..3, variant = uid%2:
    variant-1 metrics {2,4} hold joint ranks {2,4}, so 2*R1 = 12,
    U1 = 6/2... precisely u1_x2 = 2*U1 = 12 - 2*3 = 6; no ties;
    var = (2*2/12)*(5) = 5/3 and z = 1/sqrt(5/3) = 0.774596...
    -> z_ppm = 774596 (one floor)."""
    rows, eid = [], 0
    for uid, n_events in enumerate([1, 2, 3, 4]):
        for _ in range(n_events):
            rows.append(
                (eid, datetime.datetime(2024, 5, 1, 8), uid,
                 "click", 1.0, "{}"))
            eid += 1
    sf = _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    r = _q("q_ab_mann_whitney")(spark, sf).collect()[0]
    assert (r.n0, r.n1, r.u1_x2, r.tie_t) == (2, 2, 6, 0)
    assert r.z_ppm == math.floor(1e6 / math.sqrt(5.0 / 3.0)) == 774_596


def test_mann_whitney_fully_tied_reads_null(spark, tmp_path):
    """Every user has the SAME activity: the tie correction consumes
    the whole variance (T = n^3 - n), so z is undefined and must read
    NULL — never 0/0 — while the exact integers still report."""
    rows, eid = [], 0
    for uid in range(4):
        for _ in range(3):
            rows.append(
                (eid, datetime.datetime(2024, 5, 1, 8), uid,
                 "click", 1.0, "{}"))
            eid += 1
    sf = _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    r = _q("q_ab_mann_whitney")(spark, sf).collect()[0]
    assert (r.n0, r.n1) == (2, 2)
    assert r.tie_t == 4 ** 3 - 4
    assert r.z_ppm is None


def test_mann_whitney_single_variant_reads_null(spark, tmp_path):
    """All users land in variant 0 (even ids): n1 = 0, the variance
    is 0, z reads NULL."""
    rows, eid = [], 0
    for uid in (0, 2, 4):
        for _ in range(uid + 1):
            rows.append(
                (eid, datetime.datetime(2024, 5, 1, 8), uid,
                 "click", 1.0, "{}"))
            eid += 1
    sf = _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    r = _q("q_ab_mann_whitney")(spark, sf).collect()[0]
    assert (r.n0, r.n1) == (3, 0)
    assert r.z_ppm is None


def test_semantic_dedup_closed_form(spark, tmp_path):
    """16 vectors -> K = ceil(sqrt(16)) = 4 cells seeded by axes
    e_0..e_3. 4 and 5 clone e_2 (cluster 2 = {2,4,5}: 3 pairs at
    cos 1, dropped {4,5}); 6 is 2*e_3 (cluster 3 = {3,6}: 1 pair,
    1 dropped); 7 = (e_0+e_1)/sqrt2 ties clusters 0 and 1 at cos
    .7071 and must break to the SMALLER cell id (cluster 0 = {0,7}:
    1 pair at .7071 >= .4); 8..15 clone e_1 (cluster 1 = {1,8..15}:
    C(9,2) = 36 pairs, 8 dropped)."""
    def one_hot(i, scale=1.0):
        v = [0.0] * 64
        v[i] = float(scale)
        return v

    rows = [(i, one_hot(i), 0) for i in range(4)]
    rows += [(4, one_hot(2), 0), (5, one_hot(2), 0)]
    rows += [(6, one_hot(3, 2.0), 0)]
    v7 = [0.0] * 64
    v7[0] = v7[1] = 1.0 / math.sqrt(2.0)
    rows += [(7, v7, 0)]
    rows += [(i, one_hot(1), 0) for i in range(8, 16)]
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    out = {
        r.cluster_id: (r.n_vecs, r.n_pairs, r.n_dropped)
        for r in _q("q_dedup_semantic")(spark, sf).collect()
    }
    assert out == {
        0: (2, 1, 1),
        1: (9, 36, 8),
        2: (3, 3, 2),
        3: (2, 1, 1),
    }


def _sem_sparse_fixture(spark, tmp_path, extra=()):
    """The 16-vector closed-form corpus with SPARSE ids
    (vec_id = 5000 + 1000*i): under the retired id-VALUE seeding
    (vec_id < K) this corpus would seed ZERO cells; rank seeding
    must still build K = ceil(sqrt(16)) = 4 cells from the 4
    smallest ids (VERDICT r12 item 3 / round-13 item 4)."""
    def one_hot(i, scale=1.0):
        v = [0.0] * 64
        v[i] = float(scale)
        return v

    rows = [(5000 + 1000 * i, one_hot(i), 0) for i in range(4)]
    rows += [(9000, one_hot(2), 0), (10000, one_hot(2), 0)]
    rows += [(11000, one_hot(3, 2.0), 0)]
    v7 = [0.0] * 64
    v7[0] = v7[1] = 1.0 / math.sqrt(2.0)
    rows += [(12000, v7, 0)]
    rows += [(5000 + 1000 * i, one_hot(1), 0) for i in range(8, 16)]
    rows += list(extra)
    return _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )


#: expected (n_vecs, n_pairs, n_dropped) per rank-keyed cell for the
#: sparse-id corpus — same geometry as the dense closed form
_SEM_SPARSE_EXPECT = {
    0: (2, 1, 1),
    1: (9, 36, 8),
    2: (3, 3, 2),
    3: (2, 1, 1),
}


def test_semantic_dedup_sparse_ids_keep_full_cell_count(
    spark, tmp_path
):
    """Rank seeding on a sparse/offset-id corpus: the cell count must
    equal ceil(sqrt(n)) = 4 and the cluster geometry must match the
    dense-id closed form — id-value seeding would have built 0 cells
    here and degraded the n^1.5 bound toward quadratic."""
    sf = _sem_sparse_fixture(spark, tmp_path)
    out = {
        r.cluster_id: (r.n_vecs, r.n_pairs, r.n_dropped)
        for r in _q("q_dedup_semantic")(spark, sf).collect()
    }
    assert out == _SEM_SPARSE_EXPECT
    assert len(out) == math.ceil(math.sqrt(16))


def test_semantic_dedup_collapse_paths_identical(spark, tmp_path):
    """The conditional clone collapse (round-13 item 5) is a PLAN
    choice, never a value choice: forcing collapse on and off over
    the same clone-heavy corpus must produce identical rows — clone
    pairs qualify through the membership lambda in one path and
    through the cross-pair cosine (rounds to 1.0) in the other."""
    sf = _sem_sparse_fixture(spark, tmp_path)
    fn = _q("q_dedup_semantic")
    a = {tuple(r) for r in fn(spark, sf, _collapse=True).collect()}
    b = {tuple(r) for r in fn(spark, sf, _collapse=False).collect()}
    assert a == b
    assert {r[0]: r[1:] for r in a} == _SEM_SPARSE_EXPECT


def test_semantic_dedup_zero_norm_excluded_symmetrically(
    spark, tmp_path
):
    """A zero-norm embedding has no defined cosine: it must be
    excluded BEFORE K is sized (ADVICE r12 item 4 — previously Spark
    counted it via NaN-greatest compare while the oracle crashed on
    CAST(floor(NaN) AS BIGINT)). With one zero vector added, n stays
    16 post-filter and the closed form is unchanged."""
    sf = _sem_sparse_fixture(
        spark, tmp_path, extra=[(4000, [0.0] * 64, 0)]
    )
    out = {
        r.cluster_id: (r.n_vecs, r.n_pairs, r.n_dropped)
        for r in _q("q_dedup_semantic")(spark, sf).collect()
    }
    assert out == _SEM_SPARSE_EXPECT


def test_cost_threshold_closed_form(spark, tmp_path):
    """Scores .1/.2/.3/.4, labels 0/9/0/9 (pos iff >= 5). Operating
    points (tp, fp, fn) by threshold tick: 1e5 -> (2,2,0),
    2e5 -> (2,1,0), 3e5 -> (1,1,1), 4e5 -> (1,0,1). (1,1) costs
    2/1/2/1: tie at cost 1 breaks to the SMALLER tick 200000; (5,1)
    costs 10/5/6/1: 400000 wins; rejection (cost c_fn*2) never
    strictly beats the best."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [(0, mk(0.1), 0), (1, mk(0.2), 9),
            (2, mk(0.3), 0), (3, mk(0.4), 9)]
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    out = {
        (r.c_fp, r.c_fn): (r.threshold_tick, r.min_cost, r.tp, r.fp, r.fn)
        for r in _q("q_ml_cost_threshold")(spark, sf).collect()
    }
    assert out == {
        (1, 1): (200_000, 1, 2, 1, 0),
        (1, 5): (200_000, 1, 2, 1, 0),
        (5, 1): (400_000, 1, 1, 0, 1),
        (1, 10): (200_000, 1, 2, 1, 0),
    }


def test_cost_threshold_rejection_wins(spark, tmp_path):
    """One low-scoring positive under three high-scoring negatives:
    at (c_fp, c_fn) = (5, 1) every operating threshold costs >= 6
    while rejecting everything costs c_fn * n_pos = 1 — the sentinel
    threshold 1000001 must win with (tp, fp, fn) = (0, 0, 1)."""
    mk = lambda x: [float(x)] + [0.0] * 63  # noqa: E731
    rows = [(0, mk(0.1), 9), (1, mk(0.2), 0),
            (2, mk(0.3), 0), (3, mk(0.4), 0)]
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    out = {
        (r.c_fp, r.c_fn): (r.threshold_tick, r.min_cost, r.tp, r.fp, r.fn)
        for r in _q("q_ml_cost_threshold")(spark, sf).collect()
    }
    assert out[(5, 1)] == (1_000_001, 1, 0, 0, 1)
    # recall-critical scenarios still pick an operating threshold
    assert out[(1, 10)][0] == 100_000


def test_dedup_host_closed_form(spark, tmp_path):
    """Two hosts from source alpha/beta. alpha holds a clone pair
    (d0, d1 identical), a near-dup d2 (2 of 24 tokens mutated,
    trigram Jaccard 18/26 ~ 0.69 >= 0.5 — the test_properties mk()
    construction the band index provably catches), and an unrelated
    d3; beta holds d4 = a byte-clone of alpha's text (the CROSS-host
    pair that must NOT count) and an unrelated d5. Expected: alpha
    n_docs=4 n_exact_dup=1 (4 docs, 3 distinct texts) n_near_pairs=2
    ((d0,d2),(d1,d2) — the (d0,d1) clone pair is exact, not near)
    n_near_dropped=1 ({d2}); beta all-zero except n_docs=2."""

    def mk(tid: int, mutate: int = 0) -> str:
        toks = [f"t{tid}w{i}" for i in range(24)]
        for i in range(mutate):
            toks[i] = f"mut{tid}x{i}"
        return " ".join(toks)

    rows = [
        (0, mk(1), "en", "alpha", 10),
        (1, mk(1), "en", "alpha", 10),
        (2, mk(1, mutate=2), "en", "alpha", 10),
        (3, mk(50), "en", "alpha", 10),
        (4, mk(1), "en", "beta", 10),
        (5, mk(60), "en", "beta", 10),
    ]
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    out = {
        r.host: (r.n_docs, r.n_exact_dup, r.n_near_pairs, r.n_near_dropped)
        for r in _q("q_dedup_host")(spark, sf).collect()
    }
    assert out == {
        "alpha.example.org": (4, 1, 2, 1),
        "beta.example.org": (2, 0, 0, 0),
    }


def _doremi_reference(n_toks: dict[str, int], t: int = 4):
    """Pure-int64 reference of q_mix_doremi's MW loop — the same
    formulas the query and oracle spell, executable by hand."""
    tot = sum(n_toks.values())
    k = len(n_toks)
    tgt = {
        s: ((2 * v * 1_000_000 + tot) // (2 * tot) if tot > 0 else 0)
        for s, v in n_toks.items()
    }
    trunc = lambda a, b: abs(a) // abs(b) * (1 if (a >= 0) == (b > 0) else -1)  # noqa: E731
    a = {s: (2 * 1_000_000 + k) // (2 * k) for s in n_toks}
    for _ in range(t):
        raw = {
            s: a[s] + trunc(a[s] * (tgt[s] - a[s]), 2_000_000)
            for s in n_toks
        }
        ssum = sum(raw.values())
        a = {
            s: (2 * raw[s] * 1_000_000 + ssum) // (2 * ssum)
            for s in n_toks
        }
    return tgt, a


def test_mix_doremi_closed_form(spark, tmp_path):
    """Source A: one 6-token doc; source B: two 1-token docs. Targets
    are exact (6/8 -> 750000 ppm, 2/8 -> 250000); round 1 by hand:
    raw_A = 500000 + 500000*250000 div 2e6 = 562500, raw_B = 437500
    (the NEGATIVE update term truncates toward zero on both engines),
    sum exactly 1e6 so round 1 renormalizes to itself; rounds 2-4
    from the pure-int64 reference loop. Weights move monotonically
    from uniform toward the token-share target."""
    rows = [
        (0, "a b c d e f", "en", "A", 11),
        (1, "g", "en", "B", 1),
        (2, "h", "en", "B", 1),
    ]
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    out = {
        r.source: (r.n_docs, r.n_tok, r.target_ppm, r.alpha_ppm)
        for r in _q("q_mix_doremi")(spark, sf).collect()
    }
    tgt, alpha = _doremi_reference({"A": 6, "B": 2})
    assert (tgt["A"], tgt["B"]) == (750_000, 250_000)
    # hand-check one round: 562500/437500 after round 1, then strictly
    # toward the target every later round
    assert 562_500 < alpha["A"] < 750_000
    assert 250_000 < alpha["B"] < 437_500
    assert out == {
        "A": (1, 6, 750_000, alpha["A"]),
        "B": (2, 1 + 1, 250_000, alpha["B"]),
    }


def test_mix_doremi_ticks_past_int64(spark):
    """VERDICT r13 "What's wrong" item 1: the tick term 2e6 * n_tok
    wraps int64 past ~4.6e12 tokens, and the mandated 100 TB corpus
    is ~2.5e13 — the target share silently flipped at scale. The MW
    loop now widens that one term to DECIMAL(38,0); this fixture
    feeds a synthetic rollup whose tick mass is ~1.2e25 (>> 2^63 ~
    9.2e18) straight into the factored loop (real test text cannot
    reach 4.6e12 tokens) and pins the answer to the arbitrary-
    precision pure-Python mirror, which never wraps."""
    from ngram_analytics_spark.queries.sampling_q import (
        _doremi_from_rollup,
    )

    n_toks = {"A": 6 * 10**18, "B": 2 * 10**18, "C": 10**18}
    assert 2 * max(n_toks.values()) * 10**6 > 2**63  # the old wrap
    t = spark.createDataFrame(
        [(s, 1, v) for s, v in sorted(n_toks.items())],
        "source string, n_docs long, n_tok long",
    )
    out = {
        r.source: (r.target_ppm, r.alpha_ppm)
        for r in _doremi_from_rollup(t).collect()
    }
    tgt, alpha = _doremi_reference(n_toks)
    assert out == {s: (tgt[s], alpha[s]) for s in n_toks}
    # sanity: targets are exact half-up token shares (6/9, 2/9, 1/9)
    assert out["A"][0] == (2 * n_toks["A"] * 10**6 + 9 * 10**18) // (
        2 * 9 * 10**18
    )


def _epochs_reference(avails: dict[str, int], cap_x=4, budget_x=2):
    """Arbitrary-precision mirror of q_mix_epochs' capped water-fill
    (sqrt weights, 2 refill rounds) — shares no code with either
    engine."""
    w = {s: math.floor(math.sqrt(float(v))) for s, v in avails.items()}
    b = sum(avails.values()) * budget_x
    wsum = sum(w.values())
    cap = {s: cap_x * v for s, v in avails.items()}
    a = {s: min(cap[s], b * w[s] // wsum) for s in avails}
    for _ in range(2):
        left = b - sum(a.values())
        wu = sum(w[s] for s in avails if a[s] < cap[s])
        a = {
            s: (
                min(cap[s], a[s] + left * w[s] // wu)
                if a[s] < cap[s] and wu > 0
                else a[s]
            )
            for s in avails
        }
    return {
        s: (cap[s], a[s], a[s] * 10**6 // avails[s]) for s in avails
    }


def test_mix_epochs_ticks_past_int64(spark, tmp_path):
    """The epochs twin of the DoReMi overflow pin: budget*weight
    (~2e27) and alloc*1e6 (~2e24) both exceed int64 at a 1e18-char
    source, so the unwidened spelling wrapped silently. Runs the REAL
    query over a parquet corpus whose n_chars sums are huge (avail
    comes from sum(n_chars), so no giant text is needed) and pins it
    to the pure-Python water-fill mirror. 1e18 and 1e14 are exactly
    representable doubles (mantissas 5^18, 5^14 < 2^53) with exact
    integer square roots, so the one sqrt per source is exact."""
    big, small = 10**18, 10**14
    rows = [(1, "t", "en", "big", big), (2, "t", "en", "small", small)]
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    exp = _epochs_reference({"big": big, "small": small})
    assert 2 * (big + small) * 10**9 > 2**63  # the old b*w wrap
    out = {
        r.source: (r.cap, r.alloc, r.epochs_ppm)
        for r in _q("q_mix_epochs")(spark, sf).collect()
    }
    assert out == exp


def test_quality_gopher_closed_form(spark, tmp_path):
    """Eight docs, each isolating ONE Gopher rule failure (the others
    pass): d0 passes all seven; d1 10 words (< 50); d2 58x 'a' (mean
    word length 63/60 < 3); d3 seven '#' tokens (10*7 > 60 words);
    d4 one of two lines bullet-started (10*1 > 2); d5 one of two
    lines ellipsis-ended (10*1 > 3*2); d6 20 numeric words
    (5*40 < 4*60); d7 no required stopwords. Expected per-source row:
    every n_fail_* = 1, n_pass = 1."""
    w = ["word"]
    docs = [
        " ".join(["the", "of"] + w * 58),                       # pass
        " ".join(["the", "of"] + w * 8),                        # wordcount
        " ".join(["the", "of"] + ["a"] * 58),                   # wordlen
        " ".join(["the", "of"] + w * 51 + ["#"] * 7),           # symbol
        " ".join(["the", "of"] + w * 28) + " \n- "
        + " ".join(w * 29),                                     # bullet
        " ".join(["the", "of"] + w * 28) + " \n"
        + " ".join(w * 29) + " word...",                        # ellipsis
        " ".join(["the", "of"] + w * 38 + ["123"] * 20),        # alpha
        " ".join(w * 60),                                       # stopword
    ]
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)]
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    r = _q("q_quality_gopher")(spark, sf).collect()
    assert len(r) == 1
    r = r[0]
    assert r.n_docs == 8
    assert (
        r.n_fail_wordcount, r.n_fail_wordlen, r.n_fail_symbol,
        r.n_fail_bullet, r.n_fail_ellipsis, r.n_fail_alpha,
        r.n_fail_stopword,
    ) == (1, 1, 1, 1, 1, 1, 1)
    assert r.n_pass == 1
