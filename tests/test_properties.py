"""Property-based spot checks (SURVEY.md §5.2 item 3, hypothesis).

Each property batches all generated rows into ONE DataFrame per
example so Spark job count stays bounded; max_examples is kept small
because every example is a full Spark job.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

token = st.text(
    alphabet=st.characters(whitelist_categories=("Ll",), max_codepoint=0x7F),
    min_size=1,
    max_size=6,
)
token_lists = st.lists(st.lists(token, max_size=12), min_size=1, max_size=30)


@given(rows=token_lists, n=st.integers(1, 5))
@settings(**SETTINGS)
def test_ngram_count_invariant(spark, rows, n):
    """len(ngrams) == max(0, len(tokens) - n + 1) for every row."""
    from ngram_analytics_spark.operators.ngram import ngram_col

    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("tokens", T.ArrayType(T.StringType())),
        ]
    )
    df = spark.createDataFrame(
        [Row(i=i, tokens=t) for i, t in enumerate(rows)], schema
    )
    got = {
        r.i: r.m
        for r in df.select("i", F.size(ngram_col("tokens", n)).alias("m")).collect()
    }
    assert got == {i: max(0, len(t) - n + 1) for i, t in enumerate(rows)}


@given(rows=token_lists, n=st.integers(1, 3))
@settings(**SETTINGS)
def test_ngram_sql_path_matches_mllib_path(spark, rows, n):
    """The pure-Catalyst n-gram expression and MLlib's NGram transformer
    must agree on every input (SURVEY.md §7 Phase 1 dual-path assert)."""
    from ngram_analytics_spark.operators.ngram import ngram

    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("tokens", T.ArrayType(T.StringType())),
        ]
    )
    df = spark.createDataFrame(
        [Row(i=i, tokens=t) for i, t in enumerate(rows)], schema
    )
    sql_path = {
        r.i: r.ngrams
        for r in ngram(df, "tokens", n, drop_other_columns=False).collect()
    }
    mllib_path = {
        r.i: r.ngrams
        for r in ngram(
            df, "tokens", n, drop_other_columns=False, use_mllib=True
        ).collect()
    }
    assert sql_path == mllib_path


@given(texts=st.lists(st.text(max_size=20), min_size=1, max_size=25))
@settings(**SETTINGS)
def test_exact_dedup_idempotent(spark, texts):
    """dedup(dedup(X)) == dedup(X): one row per normalized hash, stable
    keep_id."""
    from ngram_analytics_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    once = exact_dedup(df, "doc_id", "text")
    kept = df.join(
        once.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    )
    twice = exact_dedup(kept, "doc_id", "text")
    got_once = sorted(r.keep_id for r in once.collect())
    got_twice = sorted((r.keep_id, r.n_copies) for r in twice.collect())
    assert [k for k, _ in got_twice] == got_once
    assert all(n == 1 for _, n in got_twice)


@given(
    vec=st.lists(
        st.floats(
            min_value=-100,
            max_value=100,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=2,
        max_size=8,
    ).filter(lambda v: any(abs(x) > 1e-6 for x in v))
)
@settings(**SETTINGS)
def test_cosine_self_similarity_and_symmetry(spark, vec):
    from ngram_analytics_spark.functions.vectors import cosine_sim

    df = spark.createDataFrame(
        [Row(a=vec, b=list(reversed(vec)))],
        "a array<double>, b array<double>",
    )
    row = df.select(
        cosine_sim(F.col("a"), F.col("a")).alias("self_sim"),
        cosine_sim(F.col("a"), F.col("b")).alias("ab"),
        cosine_sim(F.col("b"), F.col("a")).alias("ba"),
    ).collect()[0]
    assert math.isclose(row.self_sim, 1.0, rel_tol=1e-9)
    assert row.ab == row.ba  # identical op order both directions


@given(
    xs=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_round_det_matches_duckdb_formula(spark, duck, xs):
    """round_det (Spark) and oracle_round_det (DuckDB) are the same
    function — the core cross-engine determinism assumption behind
    every float-emitting oracle."""
    from ngram_analytics_spark.functions.deterministic import (
        oracle_round_det,
        round_det,
    )

    df = spark.createDataFrame(
        [Row(i=i, x=x) for i, x in enumerate(xs)], "i int, x double"
    )
    got = {r.i: r.y for r in df.select("i", round_det(F.col("x")).alias("y")).collect()}
    placeholders = ", ".join(f"({i}, {x!r}::DOUBLE)" for i, x in enumerate(xs))
    want = dict(
        duck.execute(
            f"SELECT i, {oracle_round_det('x')} AS y"
            f" FROM (VALUES {placeholders}) AS t(i, x)"
        ).fetchall()
    )
    assert got == want


@given(
    lvals=st.lists(
        st.floats(
            min_value=-1e4, max_value=1e4, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=25,
    ),
    rvals=st.lists(
        st.floats(
            min_value=-1e4, max_value=1e4, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=25,
    ),
    n_bands=st.integers(2, 9),
)
@settings(**SETTINGS)
def test_banded_theta_join_equals_plain_join(spark, lvals, rvals, n_bands):
    """Band decomposition is invisible: for random values (duplicates,
    negatives, all-equal domains included) the banded plan returns
    exactly the plain non-equi join's pair set, at any band count."""
    from ngram_analytics_spark.operators.rangejoin import banded_theta_join

    a = spark.createDataFrame(
        [Row(ida=i, v=v) for i, v in enumerate(lvals)], "ida long, v double"
    )
    b = spark.createDataFrame(
        [Row(idb=i, w=w) for i, w in enumerate(rvals)], "idb long, w double"
    )
    got = {
        (r.ida, r.idb)
        for r in banded_theta_join(a, b, "v", "w", n_bands=n_bands).collect()
    }
    want = {
        (i, j)
        for i, v in enumerate(lvals)
        for j, w in enumerate(rvals)
        if v < w
    }
    assert got == want


@given(
    aiv=st.lists(
        st.tuples(st.integers(0, 120), st.integers(0, 40)),
        min_size=1,
        max_size=20,
    ),
    biv=st.lists(
        st.tuples(st.integers(0, 120), st.integers(0, 40)),
        min_size=1,
        max_size=20,
    ),
)
@settings(**SETTINGS)
def test_interval_overlap_join_equals_plain_join(spark, aiv, biv):
    """Bin claiming is exactly-once for random (start, length) interval
    sets — including intervals longer than the bin width's guarantee
    zone boundary case (length up to 40 days vs 32-day bins, so many
    intervals span 2-3 bins)."""
    import datetime as dt

    from ngram_analytics_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    d0 = dt.date(2024, 1, 1)

    def frame(rows, pre):
        return spark.createDataFrame(
            [
                Row(
                    **{
                        f"{pre}id": i,
                        f"{pre}s": d0 + dt.timedelta(days=s),
                        f"{pre}e": d0 + dt.timedelta(days=s + ln),
                    }
                )
                for i, (s, ln) in enumerate(rows)
            ],
            f"{pre}id long, {pre}s date, {pre}e date",
        )

    got = sorted(
        (r.aid, r.bid)
        for r in interval_overlap_join(
            frame(aiv, "a"), frame(biv, "b"), "as", "ae", "bs", "be",
            bin_width="32 days",
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, (s1, l1) in enumerate(aiv)
        for j, (s2, l2) in enumerate(biv)
        if s1 <= s2 + l2 and s2 <= s1 + l1
    )
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),
            st.integers(min_value=0, max_value=10_000),  # value ticks
            st.integers(min_value=1, max_value=50),      # weight
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_weighted_median_matches_naive(spark, rows):
    """The running-sum weighted-median formulation (q_agg_weighted_median
    shape) must equal the naive definition: smallest v whose cumulative
    weight over values <= v reaches half the total — for any weights,
    ties, and group mixes."""
    from pyspark.sql.window import Window as W

    df = spark.createDataFrame(rows, "g string, vt long, w long")
    wcum = (
        W.partitionBy("g").orderBy("vt")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    got = {
        (r.g, r.wm)
        for r in df.select(
            "g", "vt",
            F.sum("w").over(wcum).alias("cum"),
            F.sum("w").over(W.partitionBy("g")).alias("tot"),
        )
        .groupBy("g")
        .agg(
            F.min(
                F.when(2 * F.col("cum") >= F.col("tot"), F.col("vt"))
            ).alias("wm")
        )
        .collect()
    }
    want = set()
    for g in {r[0] for r in rows}:
        grp = sorted((v, w) for gg, v, w in rows if gg == g)
        tot = sum(w for _, w in grp)
        cum = 0
        for v, w in grp:
            cum += w
            if 2 * cum >= tot:
                want.add((g, v))
                break
    assert got == want


@given(st.lists(st.integers(min_value=0, max_value=40), min_size=1,
                max_size=80))
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_vocab_coverage_bucketed_rank_is_global_rank(spark, toks):
    """The bucketed global-rank pattern (q_vocab_coverage) must emit
    exactly the ranks 1..V in (count DESC, token ASC) order with a
    non-decreasing coverage that ends at 1.0 — for any token
    multiset."""
    from pyspark.sql.window import Window as W

    df = spark.createDataFrame(
        [(f"t{t:02d}",) for t in toks], "tok string"
    )
    vocab = df.groupBy("tok").agg(F.count("*").alias("cnt")).withColumn(
        "_b", -F.floor(F.log2(F.col("cnt").cast("double"))).cast("long")
    )
    per_bucket = vocab.groupBy("_b").agg(
        F.count("*").alias("_n"), F.sum("cnt").alias("_mass")
    )
    offsets = (
        per_bucket.alias("x")
        .join(per_bucket.alias("y"), F.col("y._b") < F.col("x._b"), "left")
        .groupBy("x._b")
        .agg(
            F.coalesce(F.sum("y._n"), F.lit(0)).alias("_off_n"),
            F.coalesce(F.sum("y._mass"), F.lit(0)).alias("_off_mass"),
        )
    )
    w = W.partitionBy("_b").orderBy(F.col("cnt").desc(), F.col("tok").asc())
    total = vocab.agg(F.sum("cnt").alias("total"))
    out = (
        vocab.withColumn("_r", F.row_number().over(w))
        .withColumn(
            "_cum",
            F.sum("cnt").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .join(F.broadcast(offsets), "_b")
        .join(F.broadcast(total))
        .select(
            (F.col("_off_n") + F.col("_r")).alias("rnk"),
            "tok",
            "cnt",
            (
                (F.col("_off_mass") + F.col("_cum")).cast("double")
                / F.col("total").cast("double")
            ).alias("cov"),
        )
        .collect()
    )
    by_rank = sorted(out, key=lambda r: r.rnk)
    assert [r.rnk for r in by_rank] == list(range(1, len(by_rank) + 1))
    # rank order == (cnt DESC, tok ASC) global order
    assert [(r.tok) for r in by_rank] == [
        t for _, t in sorted(
            ((-r.cnt, r.tok) for r in out)
        )
    ]
    covs = [r.cov for r in by_rank]
    assert all(a <= b + 1e-12 for a, b in zip(covs, covs[1:]))
    assert abs(covs[-1] - 1.0) < 1e-9


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 2),    # event_type id
            st.integers(0, 20),   # day offset
            st.integers(0, 8),    # user id
        ),
        min_size=1,
        max_size=60,
    ),
)
@settings(**SETTINGS)
def test_rolling_ndv_lattice_equals_range_join(spark, events):
    """q_ts_rolling_ndv's explode-lattice rewrite must equal the
    definitional trailing-window range join: for every (type, day)
    with activity, |{users active in [day-6, day]}|."""
    import datetime

    base = datetime.date(2024, 1, 1)
    rows = [
        Row(
            event_type=f"t{t}",
            day=base + datetime.timedelta(days=d),
            user_id=u,
        )
        for (t, d, u) in events
    ]
    df = spark.createDataFrame(rows).distinct()

    # naive: per spine day, range-join the activity table
    daily = {(r.event_type, r.day, r.user_id) for r in df.collect()}
    spine = {(t, d) for (t, d, _) in daily}
    expected = {}
    for t, d in spine:
        users = {
            u
            for (t2, d2, u) in daily
            if t2 == t and 0 <= (d - d2).days <= 6
        }
        expected[(t, d)] = len(users)

    # engine path: the lattice rewrite (same shape as the query)
    spine_df = df.select(
        F.col("event_type").alias("s_type"), F.col("day").alias("s_day")
    ).distinct()
    fanout = df.select(
        "event_type",
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("target_day"),
    )
    got = {
        (r.event_type, r.target_day): r.ndv
        for r in fanout.join(
            F.broadcast(spine_df),
            (F.col("event_type") == F.col("s_type"))
            & (F.col("target_day") == F.col("s_day")),
            "left_semi",
        )
        .groupBy("event_type", "target_day")
        .agg(F.count_distinct("user_id").alias("ndv"))
        .collect()
    }
    assert got == expected


@given(
    keys=st.lists(st.integers(0, 15), min_size=1, max_size=80),
)
@settings(**SETTINGS)
def test_skew_profile_triangular_rank_matches_sort(spark, keys):
    """q_skew_profile's triangular rank join must reproduce the plain
    (cnt DESC, key ASC) sort order and exact cumulative sums over the
    retained top rows."""
    from collections import Counter

    topn = 5
    counts = Counter(keys)
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:topn]
    expected = []
    cum = 0
    for i, (k, c) in enumerate(ordered, start=1):
        cum += c
        expected.append((i, k, c, cum))

    kc = (
        spark.createDataFrame(
            [Row(key=k) for k in keys], schema="key long"
        )
        .groupBy("key")
        .agg(F.count("*").alias("cnt"))
    )
    top = kc.orderBy(F.col("cnt").desc(), F.col("key").asc()).limit(topn)
    t2 = top.select(F.col("key").alias("k2"), F.col("cnt").alias("c2"))
    tri = (
        top.join(
            F.broadcast(t2),
            (F.col("c2") > F.col("cnt"))
            | (
                (F.col("c2") == F.col("cnt"))
                & (F.col("k2") <= F.col("key"))
            ),
        )
        .groupBy("key", "cnt")
        .agg(F.count("*").alias("rnk"), F.sum("c2").alias("cum"))
    )
    got = sorted(
        (r.rnk, r.key, r.cnt, r.cum) for r in tri.collect()
    )
    assert got == expected


def test_minhash_clone_cluster_bounded_candidates(spark):
    """VERDICT r6 hot-band fix: a clone-heavy corpus must NOT explode
    the banded candidate join. 100 identical docs share one signature,
    so the candidate stage sees ONE group per band (no N^2 band-join
    fanout); their 4950 pairs are emitted from the membership array —
    output-driven, with n_bands = all 4 by construction. A degenerate
    band shared by > _MH_BAND_CAP DISTINCT signatures is skipped."""
    from ngram_analytics_spark.operators.dedup import (
        _MH_BANDS,
        _MH_SIG,
        minhash_candidate_pairs,
        minhash_signatures,
    )

    clones = [(i, "the quick brown fox jumps over the lazy dog") for i in range(100)]
    uniques = [
        (100 + i, f"unique document number {i} about topic {i * 7} entirely")
        for i in range(20)
    ]
    df = spark.createDataFrame(clones + uniques, ["doc_id", "text"])
    st = df.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(F.split("text", " ")) - 2),
                lambda i: F.concat_ws(
                    " ", F.slice(F.split("text", " "), i, 3)
                ),
            )
        ).alias("st"),
    )
    sig = minhash_signatures(st).select("doc_id", *_MH_SIG)
    cand = minhash_candidate_pairs(sig)
    rows = cand.collect()
    clone_pairs = [
        r for r in rows if r.id_a < 100 and r.id_b < 100
    ]
    assert len(clone_pairs) == 100 * 99 // 2
    assert all(r.n_bands == _MH_BANDS for r in clone_pairs)
    # the candidate stage itself is bounded: total candidate rows stay
    # output-sized (clone pairs + banded uniques), nowhere near the
    # 4 * 120^2 a raw band self-join could emit
    assert len(rows) <= 100 * 99 // 2 + 20 * 19 // 2

    # signature collapse: the clone cluster contributes exactly ONE
    # group, so the per-band group-sets stay tiny
    n_groups = sig.select(*_MH_SIG).distinct().count()
    assert n_groups <= 21


def test_minhash_degenerate_band_is_skipped(spark):
    """> _MH_BAND_CAP distinct signatures on one band key -> the band
    is skipped entirely (no cross-group candidates from it)."""
    from pyspark.sql import Row as R

    from ngram_analytics_spark.operators.dedup import (
        _MH_BAND_CAP,
        _MH_K,
        minhash_candidate_pairs,
    )

    # synthetic signatures: band 0 (m0, m1) identical across ALL docs,
    # later hashes distinct -> one band key holding CAP+10 distinct
    # signatures; bands 1-3 all distinct -> no collisions there
    n = _MH_BAND_CAP + 10
    rows = [
        R(
            doc_id=i,
            **{
                f"m{k}": (7 if k < 2 else 1000 + i * _MH_K + k)
                for k in range(_MH_K)
            },
        )
        for i in range(n)
    ]
    sig = spark.createDataFrame(rows)
    assert minhash_candidate_pairs(sig).count() == 0


def test_winnowing_fingerprint_invariants(spark):
    """q_text_fingerprint_exact structural guarantees (Schleimer/
    Wilkerson/Aiken winnowing): the distinct winnowed-print count is
    positive, never exceeds the window count (n_shingles - w + 1,
    floored at 1), and identical texts produce identical fingerprint
    rows (the property a fingerprint dedup index relies on)."""
    from ngram_analytics_spark.queries.text_q import (
        _FP_WINNOW_W,
        q_text_fingerprint_exact,
    )

    got = q_text_fingerprint_exact(spark, "/root/testdata/sf0.001")
    rows = got.collect()
    assert rows
    for r in rows:
        assert r.fp_min <= r.fp_max
        assert 1 <= r.n_winnow <= max(r.n_shingles - _FP_WINNOW_W + 1, 1)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    key = docs.select("doc_id", F.lower("text").alias("t"))
    fp = got.join(key, "doc_id")
    # group by normalized text: every clone group must collapse to ONE
    # distinct (fp_min, fp_max, n_winnow) triple
    bad = (
        fp.groupBy("t")
        .agg(
            F.countDistinct("fp_min", "fp_max", "n_winnow").alias("nfp")
        )
        .filter(F.col("nfp") > 1)
        .count()
    )
    assert bad == 0


def test_hilbert_step_logic_is_exact_curve():
    """The unrolled div/mod xy2d in q_hilbert_layout must BE the
    Hilbert curve: bijective over the 256x256 grid and unit-step
    (consecutive codes are Manhattan-distance-1 neighbors — the
    locality property the layout claims). Pure-python mirror of the
    SQL step expressions, no Spark needed."""

    def xy2d_sql(x, y):
        d = 0
        for k in range(8):
            s = 2 ** (7 - k)
            rx = (x // s) % 2
            ry = (y // s) % 2
            q = (
                0
                if (rx == 0 and ry == 0)
                else (1 if rx == 0 else (2 if ry == 1 else 3))
            )
            d = d + s * s * q
            xm = x % s
            ym = y % s
            if ry == 1:
                x, y = xm, ym
            elif rx == 1:
                x, y = s - 1 - ym, s - 1 - xm
            else:
                x, y = ym, xm
        return d

    inv = {}
    for x in range(256):
        for y in range(256):
            inv[xy2d_sql(x, y)] = (x, y)
    assert len(inv) == 65536  # bijective
    assert all(
        abs(inv[i][0] - inv[i + 1][0]) + abs(inv[i][1] - inv[i + 1][1]) == 1
        for i in range(65535)
    )


def _bpe_greedy_ref(word_counts: dict[str, int], rounds: int):
    """Canonical symbol-level greedy BPE trainer (Sennrich et al.):
    per round, count weighted adjacent pairs over the vocabulary,
    pick argmax (ties on the comma-joined pair string ascending),
    then merge left-to-right non-overlapping with skip-both."""
    vocab = [(list(w), c) for w, c in sorted(word_counts.items())]
    out = []
    for rnd in range(1, rounds + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        (a, b), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0] + "," + kv[0][1])
        )
        nxt = []
        for syms, c in vocab:
            ns: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            nxt.append((ns, c))
        vocab = nxt
        out.append(
            (rnd, a + "|" + b, n, sum(c * len(s) for s, c in vocab))
        )
    return out


def test_bpe_train_loop_is_exact_greedy(spark, tmp_path):
    """q_bpe_train_loop's doubled-separator replace merge must equal
    the canonical symbol-level greedy trainer EXACTLY — including the
    corners where the single-comma encoding diverges: same-symbol
    runs (",a,a,a,a,a," skips every second link under single commas;
    length-9 runs even change the merge COUNT) and alternating
    chains. The corpus below is built to make (a,a)-style pairs win
    the early rounds so those corners are actually exercised."""
    from ngram_analytics_spark.queries.pipeline_q import (
        _BPE_LOOP_ROUNDS,
        q_bpe_train_loop,
    )

    words = {
        "aaaaaaaaa": 5,  # run of 9: double-replace trick under-merges
        "aaaaa": 4,      # run of 5: different positions than greedy
        "ababab": 3,     # alternating chain
        "banana": 2,
        "bookkeeper": 2,
        "zebra": 1,
    }
    texts = []
    for w, c in words.items():
        texts.extend([w] * c)
    # two docs so the token stream isn't one row
    docs = [
        (0, " ".join(texts[::2]), "en", "s0", 1),
        (1, " ".join(texts[1::2]), "en", "s1", 1),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = [
        (r.rnd, r.merged_pair, r.pair_n, r.stream_syms)
        for r in q_bpe_train_loop(spark, str(tmp_path)).collect()
    ]
    want = _bpe_greedy_ref(words, _BPE_LOOP_ROUNDS)
    assert got == want


def test_minhash_full_query_clone_short_circuit(spark, tmp_path):
    """r10 fact-skew fix, end-to-end: the FULL q_dedup_minhash_exact
    on a 300-clone corpus must emit exactly C(300,2) pairs, every one
    with n_bands = 4, Jaccard exactly 1.0, and n_common = the clone's
    shingle-set size — the fingerprint-equal short-circuit path, which
    never touches the shingle arrays (the 54.9x hot-corpus bomb was
    the per-pair array recheck)."""
    from ngram_analytics_spark.queries import build_registry

    text = " ".join(f"w{i % 13}" for i in range(40))
    n_sh = None  # distinct trigrams of the clone text
    toks = text.split(" ")
    n_sh = len({" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)})
    rows = [(i, text, "en", "synthetic", len(text)) for i in range(300)]
    sf = str(tmp_path / "clones_sf")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")
    out = build_registry().queries["q_dedup_minhash_exact"](
        spark, sf
    ).collect()
    assert len(out) == 300 * 299 // 2
    assert all(r.n_bands == 4 for r in out)
    assert all(r.jaccard == 1.0 for r in out)
    assert all(r.n_common == n_sh for r in out)


def test_minhash_index_upsert_equals_rebuild(spark, tmp_path):
    """q_dedup_incremental_fuzzy's state discipline (VERDICT r11 item
    2, the q_stream_foreach_upsert convention): an index maintained by
    per-batch minhash_index_upsert must be ROW-IDENTICAL to one
    rebuilt from scratch over the union — gid stability (existing
    groups keep their gid, novel signatures open gid = batch min id)
    plus membership completeness — and a batch-2 probe must catch a
    near-dup of a doc that only ever entered via the batch-1 UPSERT
    (proving the state actually accumulates, never rescanning)."""
    from ngram_analytics_spark.operators.dedup import (
        minhash_index_probe,
        minhash_index_upsert,
        minhash_index_write,
        minhash_signatures,
    )
    from ngram_analytics_spark.operators.ngram import ngram_col
    from pyspark.sql import functions as F

    def mk(tid: int, mutate: int = 0) -> str:
        toks = [f"t{tid}w{i}" for i in range(24)]
        for i in range(mutate):  # near-dup: change a few tokens
            toks[i] = f"mut{tid}x{i}"
        return " ".join(toks)

    def frame(rows):
        return (
            spark.createDataFrame(rows, "doc_id long, text string")
            .select("doc_id", F.split("text", " ").alias("toks"))
            .select(
                "doc_id",
                F.array_distinct(ngram_col("toks", 3)).alias("st"),
            )
        )

    corpus = [(i, mk(i)) for i in range(1, 6)] + [(6, mk(1))]
    b1 = [(100, mk(2, mutate=2)), (101, mk(60))]  # near-dup of 2 + novel
    b2 = [(200, mk(60)), (201, mk(70))]  # clone of the B1-only doc 101

    inc = str(tmp_path / "idx_inc")
    minhash_index_write(minhash_signatures(frame(corpus)), inc)

    p1 = minhash_index_probe(frame(b1), frame(corpus), inc).collect()
    assert {(r.nid, r.cid) for r in p1 if r.is_dup} == {(100, 2)}

    minhash_index_upsert(minhash_signatures(frame(b1)), inc)
    # idempotence under at-least-once delivery: re-upserting the SAME
    # batch must be a no-op (already-indexed doc_ids anti-join out)
    minhash_index_upsert(minhash_signatures(frame(b1)), inc)
    store2 = frame(corpus + b1)  # doc store grows with each batch
    p2 = minhash_index_probe(frame(b2), store2, inc).collect()
    # doc 200 is caught ONLY because batch 1 was upserted
    assert {(r.nid, r.cid) for r in p2 if r.is_dup} == {(200, 101)}

    # state invariance: upsert-maintained == rebuilt-from-union
    reb = str(tmp_path / "idx_rebuild")
    minhash_index_write(minhash_signatures(store2), reb)
    for table in ("groups", "members"):
        a = sorted(
            map(tuple, spark.read.parquet(f"{inc}/{table}").collect())
        )
        b = sorted(
            map(tuple, spark.read.parquet(f"{reb}/{table}").collect())
        )
        assert a == b, f"{table} diverged between upsert and rebuild"


def test_minhash_index_upsert_non_monotone_ids(spark, tmp_path):
    """The gid contract under INTERLEAVED batch ids (ADVICE r12): a
    batch doc with a SMALLER id than its matching group's gid adopts
    the group's ORIGINAL gid (first-writer stability), where a
    rebuild would relabel the group to the new global min. What must
    hold regardless of id order: the signature -> member-set
    PARTITION is identical to the rebuild's, and probe verdicts are
    unchanged (they depend on membership, never on gid labels)."""
    from ngram_analytics_spark.operators.dedup import (
        _MH_SIG,
        minhash_index_probe,
        minhash_index_upsert,
        minhash_index_write,
        minhash_signatures,
    )
    from ngram_analytics_spark.operators.ngram import ngram_col
    from pyspark.sql import functions as F

    def mk(tid: int) -> str:
        return " ".join(f"t{tid}w{i}" for i in range(24))

    def frame(rows):
        return (
            spark.createDataFrame(rows, "doc_id long, text string")
            .select("doc_id", F.split("text", " ").alias("toks"))
            .select(
                "doc_id",
                F.array_distinct(ngram_col("toks", 3)).alias("st"),
            )
        )

    # corpus ids 50/60; batch UNDERCUTS both matching groups (5 clones
    # doc 50's text, 7 clones doc 60's) and adds one novel doc at 3
    corpus = [(50, mk(1)), (60, mk(2))]
    batch = [(5, mk(1)), (7, mk(2)), (3, mk(9))]
    inc = str(tmp_path / "idx_inc")
    minhash_index_write(minhash_signatures(frame(corpus)), inc)
    minhash_index_upsert(minhash_signatures(frame(batch)), inc)

    reb = str(tmp_path / "idx_rebuild")
    minhash_index_write(minhash_signatures(frame(corpus + batch)), reb)

    def partition(path):
        g = spark.read.parquet(f"{path}/groups")
        m = spark.read.parquet(f"{path}/members")
        rows = g.join(m, "gid").collect()
        out = {}
        for r in rows:
            sig = tuple(r[k] for k in _MH_SIG)
            out.setdefault(sig, set()).add(r.doc_id)
        return out

    inc_part, reb_part = partition(inc), partition(reb)
    # membership partition identical — the probe-relevant invariant
    assert inc_part == reb_part
    # gid labels: upsert keeps first-writer gids 50/60 where the
    # rebuild relabels to the new global mins 5/7; the novel group
    # opens at the batch min 3 in both
    inc_gids = sorted(
        r.gid for r in spark.read.parquet(f"{inc}/groups").collect()
    )
    reb_gids = sorted(
        r.gid for r in spark.read.parquet(f"{reb}/groups").collect()
    )
    assert inc_gids == [3, 50, 60]
    assert reb_gids == [3, 5, 7]
    # probe verdicts are label-independent: a clone of doc 50's text
    # probed against either index pairs with the SAME member ids
    probe = frame([(999, mk(1))])
    store = frame(corpus + batch)
    for path in (inc, reb):
        got = {
            (r.nid, r.cid)
            for r in minhash_index_probe(probe, store, path).collect()
            if r.is_dup
        }
        assert got == {(999, 5), (999, 50)}


def test_jaccard_hot_shingle_cut_and_values(spark):
    """VERDICT r14 item 1 'done' probe: a stop-word-grade shingle
    shared by >50% of the corpus adds NO candidate pairs (its
    postings are cut by the pre-collect df filter), while rare-shingle
    near-dups still pair exactly; values match a Python brute force
    over the same rule."""
    from itertools import combinations

    from ngram_analytics_spark.operators.dedup import ngram_jaccard_pairs

    # 40 docs all containing the hot bigram "common filler"; docs
    # 2i/2i+1 (i<5) additionally share a rare doc-pair-specific tail
    rows = []
    for i in range(40):
        base = f"common filler unique{i} tail{i}"
        if i < 10:
            base = f"common filler shared{i // 2} dup{i // 2} page{i // 2}"
        rows.append((i, base))
    df = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "tokens", F.split("text", " ")
    )
    max_df = 5
    got = sorted(
        (r.id_a, r.id_b, r.n_common, r.jaccard)
        for r in ngram_jaccard_pairs(
            df, "doc_id", "tokens", max_df=max_df, min_jaccard=0.1
        ).collect()
    )

    # brute force in Python: same shingle sets, same rare-df rule
    def bigrams(text):
        t = text.split(" ")
        return {" ".join(t[j : j + 2]) for j in range(len(t) - 1)}

    sets = {i: bigrams(t) for i, t in rows}
    from collections import Counter

    dfreq = Counter(sh for s in sets.values() for sh in s)
    exp = []
    for a, b in combinations(range(40), 2):
        shared = sets[a] & sets[b]
        if not any(dfreq[sh] <= max_df for sh in shared):
            continue
        common = len(shared)
        jac = round(common / (len(sets[a]) + len(sets[b]) - common), 4)
        if jac >= 0.1:
            exp.append((a, b, common, jac))
    assert got == sorted(exp)
    # the hot bigram alone (df = 40 > max_df) never creates a pair:
    # every emitted pair shares at least one RARE shingle
    for a, b, _, _ in got:
        assert any(dfreq[sh] <= max_df for sh in (sets[a] & sets[b]))


def test_minhash_clone_flood_with_hot_band(spark):
    """VERDICT r14 item 2 'done' probe: a 2000-member clone group
    (one signature group — its C(2000,2) pairs are the semantically
    required output) coexisting with an over-cap hot band cell
    (_MH_BAND_CAP + 10 distinct signatures sharing band 0). The hot
    cell is cut BEFORE the members-carrying collect (count window),
    so the candidate set is exactly the clone group's intra pairs —
    no cross-group candidates, no cap-violating buffered cell."""
    from pyspark.sql import Row as R

    from ngram_analytics_spark.operators.dedup import (
        _MH_BAND_CAP,
        _MH_BANDS,
        _MH_K,
        minhash_candidate_pairs,
    )

    n_clones = 2000
    clone_sig = {f"m{k}": 77_000 + k for k in range(_MH_K)}
    rows = [R(doc_id=i, **clone_sig) for i in range(n_clones)]
    # hot band: band 0 (m0, m1) identical across CAP+10 docs, all
    # later hashes distinct -> one over-cap cell, no other collisions
    n_hot = _MH_BAND_CAP + 10
    rows += [
        R(
            doc_id=10_000 + i,
            **{
                f"m{k}": (7 if k < 2 else 1_000_000 + i * _MH_K + k)
                for k in range(_MH_K)
            },
        )
        for i in range(n_hot)
    ]
    cand = minhash_candidate_pairs(spark.createDataFrame(rows))
    n_cand = cand.count()
    assert n_cand == n_clones * (n_clones - 1) // 2
    # spot-check: clone pairs carry all bands; no hot-band doc appears
    sample = cand.filter(F.col("id_a") < 10).collect()
    assert sample and all(r.n_bands == _MH_BANDS for r in sample)
    assert cand.filter(F.col("id_a") >= 10_000).count() == 0


def _minhash_truth(shingles) -> tuple[int, ...]:
    """hashlib ground truth of m0..m7 over one doc's shingle set."""
    import hashlib

    return tuple(
        min(
            int(
                hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[
                    8 * chunk : 8 * chunk + 8
                ],
                16,
            )
            for s in shingles
        )
        for seed, chunk in (divmod(i, 4) for i in range(8))
    )


def test_minhash_hex_min_order_isomorphism(spark):
    """r15 min-hash respelling: the min-hash parses hex AFTER the
    min (conv(min(h8)) / conv(array_min(...))), which is only valid
    because fixed-width lowercase-hex order == numeric order. Pin the
    isomorphism on real md5 chunks AND pin the shipped batch and
    streaming signature builders to hashlib on a corpus slice."""
    import random

    rnd = random.Random(7)
    vals = ["%08x" % rnd.getrandbits(32) for _ in range(4096)]
    assert int(min(vals), 16) == min(int(v, 16) for v in vals)

    # batch groupBy-min vs streaming array_min projection must agree
    from ngram_analytics_spark.operators.dedup import (
        _MH_SIG,
        minhash_shingles,
        minhash_signatures,
        minhash_stream_signatures,
    )

    rows = [
        (i, " ".join(f"w{(i * 31 + j * 7) % 23}" for j in range(12)))
        for i in range(60)
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"]).select(
        "doc_id", F.split("text", " ").alias("toks")
    ).withColumn("st", minhash_shingles("toks"))
    batch = sorted(
        map(tuple, minhash_signatures(d).select("doc_id", *_MH_SIG).collect())
    )
    stream = sorted(map(tuple, minhash_stream_signatures(d).collect()))
    assert batch == stream
    # and against Python hashlib ground truth for every doc
    truth = sorted((r.doc_id, *_minhash_truth(r.st)) for r in d.collect())
    assert len(truth) == 60
    assert batch == truth


def test_minhash_signatures_skip_short_and_null_docs(spark):
    """Docs with no trigram (fewer than 3 tokens, empty text) or NULL
    text get no signature row from EITHER builder; every other doc
    gets the same hashlib values from both. The batch builder drops
    them through its explode_outer + null filter, the stream builder
    through its size filter — the two must not drift apart."""
    from ngram_analytics_spark.operators.dedup import (
        _MH_SIG,
        minhash_shingles,
        minhash_signatures,
        minhash_stream_signatures,
    )

    texts = {
        0: None,
        1: "",
        2: "one",
        3: "two words",
        4: "exactly three words",
        5: "a b c d e a b c",
    }
    d = (
        spark.createDataFrame(list(texts.items()), "doc_id long, text string")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .withColumn("st", minhash_shingles("toks"))
    )
    batch = sorted(
        map(tuple, minhash_signatures(d).select("doc_id", *_MH_SIG).collect())
    )
    stream = sorted(map(tuple, minhash_stream_signatures(d).collect()))

    def trigrams(text):
        t = text.split(" ")
        return {" ".join(t[j : j + 3]) for j in range(len(t) - 2)}

    truth = [(i, *_minhash_truth(trigrams(texts[i]))) for i in (4, 5)]
    assert batch == truth
    assert stream == truth

