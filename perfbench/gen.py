"""Seeded input generator for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same seed gives
byte-identical parquet files, another seed gives different ones. Tables
are written in the layout ``ngram_analytics_spark.catalog.TABLES``
expects (one parquet file per table under a scale-factor directory).

Besides the tables, the generator returns the ground truth the
workload checks compare against: planted exact-duplicate clusters,
planted near-duplicate pairs, planted embedding neighbours, and the
expected results of the corpus queries, computed here with numpy from
the token arrays the texts were built from (never from the program).
"""

from __future__ import annotations

import functools
import hashlib
import math
import os
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.15, 0.5, 0.13, 0.12, 0.10)

#: Workload input sizes at ``size=1.0``, chosen so that a run (session
#: start, warm-up and the timed loop) stays within about a minute on 4
#: cores. Every input fits one task's execution memory.
SIZES = {
    "corpus_prep": {"docs": 2000, "vocab": 40000, "vectors": 1500},
    "query_mix": {
        "customer": 3000, "supplier": 200, "part": 4000, "orders": 30000,
        "lineitem": 120000, "events": 20000, "docs": 1000, "vocab": 2000,
        "vectors": 400,
    },
}

#: Share of docs that are planted copies: exact clones of another
#: doc, and near-duplicates (a few tokens substituted).
EXACT_SHARE = 0.06
NEAR_SHARE = 0.06

# constants of the registered corpus queries the ground truth mirrors
E2E_MIN_TOK, E2E_MAX_TOK, E2E_UNIQ = 20, 90, 0.2
DECON_MOD, DECON_N = 97, 4
MH_N, MH_MIN_J = 3, 0.5
KNN_QUERIES, KNN_K = 10, 5


def scaled(workload: str, size: float) -> dict[str, int]:
    """Sizes at ``size``; vectors stay enough for the planted neighbours."""
    n = {k: max(8, int(round(v * size))) for k, v in SIZES[workload].items()}
    n["vectors"] = max(n["vectors"], 2 * KNN_QUERIES * (KNN_K + 1))
    return n


# ------------------------------------------------------------ vocabulary

def make_vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase words of 2-10 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        lens = rng.integers(2, 11, size=n)
        chars = rng.choice(letters, size=(n, 10))
        for row, ln in zip(chars, lens):
            w = "".join(row[:ln])
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return np.array(words, dtype=object)


def zipf_cdf(n: int, s: float = 1.07, q: float = 2.7) -> np.ndarray:
    """Zipf-Mandelbrot rank distribution over ``n`` words."""
    w = 1.0 / np.power(np.arange(n) + q, s)
    return np.cumsum(w / w.sum())


# ---------------------------------------------------------------- corpus

@dataclass
class Corpus:
    """A generated document corpus and its planted structure."""

    vocab: np.ndarray
    ids: np.ndarray            # doc_id per doc (int64)
    toks: list[np.ndarray]     # token ids per doc
    lang: list[str]
    source: list[str]
    exact: list[list[int]] = field(default_factory=list)    # clone clusters (doc ids)
    near: list[tuple[int, int]] = field(default_factory=list)  # (source id, dup id)

    @functools.cached_property
    def texts(self) -> list[str]:
        v = self.vocab
        return [" ".join(v[t]) for t in self.toks]


def _draw_docs(rng, cdf, n, mu=4.3, sigma=0.75, lo=3, hi=1500):
    """``n`` docs of long-tailed (log-normal) length over a Zipf vocab."""
    lens = np.clip(np.round(rng.lognormal(mu, sigma, n)), lo, hi).astype(np.int64)
    flat = np.searchsorted(cdf, rng.random(int(lens.sum())), side="right")
    flat = np.minimum(flat, len(cdf) - 1).astype(np.int64)
    return np.split(flat, np.cumsum(lens)[:-1])


def _mutate(rng, cdf, toks: np.ndarray) -> np.ndarray:
    """Substitute 2-12% of the tokens (at least one) with fresh draws."""
    rate = rng.uniform(0.02, 0.12)
    out = toks.copy()
    hit = rng.random(len(out)) < rate
    if not hit.any():
        hit[rng.integers(len(out))] = True
    fresh = np.searchsorted(cdf, rng.random(int(hit.sum())), side="right")
    out[hit] = np.minimum(fresh, len(cdf) - 1)
    return out


def make_corpus(rng: np.random.Generator, vocab: np.ndarray, n_docs: int) -> Corpus:
    """``n_docs`` docs with ids ``0..n_docs-1``; a share of them are
    exact clones or near-duplicates of other docs."""
    cdf = zipf_cdf(len(vocab))
    n_exact = int(n_docs * EXACT_SHARE)
    n_near = int(n_docs * NEAR_SHARE)
    n_orig = n_docs - n_exact - n_near
    toks = _draw_docs(rng, cdf, n_orig)
    lang = list(rng.choice(LANGS, size=n_orig, p=LANG_P))
    source = [f"src{i}" for i in rng.integers(0, 18, size=n_orig)]
    # planted copies point at originals
    origin: list[tuple[str, int]] = []   # (kind, index of the original)
    for kind, cnt in (("exact", n_exact), ("near", n_near)):
        origin += [(kind, int(s)) for s in rng.integers(0, n_orig, size=cnt)]

    order = rng.permutation(n_docs)          # position -> slot
    ids = np.empty(n_docs, dtype=np.int64)
    ids[order] = np.arange(n_docs)
    all_toks, all_lang, all_src = list(toks), list(lang), list(source)
    links: list[tuple[str, int, int]] = []   # (kind, source id, dup id)
    for k, (kind, i) in enumerate(origin):
        all_toks.append(toks[i].copy() if kind == "exact" else _mutate(rng, cdf, toks[i]))
        all_lang.append(lang[i])
        all_src.append(source[i])
        links.append((kind, int(ids[i]), int(ids[n_orig + k])))
    c = Corpus(vocab, ids, all_toks, all_lang, all_src)
    # exact clusters: union of clone links (a clone of a clone joins it)
    parent: dict[int, int] = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for kind, s, d in links:
        if kind == "exact":
            parent[find(d)] = find(s)
        else:
            c.near.append((s, d))
    groups = defaultdict(list)
    for x in list(parent):
        groups[find(x)].append(x)
    c.exact = [sorted(set(g) | {r}) for r, g in groups.items()]
    # present docs in id order (the order a crawl writes them)
    perm = np.argsort(c.ids, kind="stable")
    c.ids = c.ids[perm]
    c.toks = [c.toks[i] for i in perm]
    c.lang = [c.lang[i] for i in perm]
    c.source = [c.source[i] for i in perm]
    return c


def corpus_table(c: Corpus) -> pa.Table:
    texts = c.texts
    return pa.table({
        "doc_id": pa.array(c.ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(c.lang, pa.string()),
        "source": pa.array(c.source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_parquet(table: pa.Table, path: str) -> int:
    """Write deterministically (no created-by timestamps); returns bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


# ------------------------------------------------------------ embeddings

def make_embeddings(rng: np.random.Generator, n: int, dim: int = 64):
    """Unit-scale gaussian vectors; each of the ``KNN_QUERIES`` query
    vectors (vec_id < 10) gets ``KNN_K`` planted neighbours at cosine
    >= ~0.95, far above any unplanted pair in 64 dimensions."""
    emb = rng.normal(0.0, 1.0 / math.sqrt(dim), size=(n, dim)).astype(np.float32)
    others = rng.permutation(np.arange(KNN_QUERIES, n))
    planted: dict[int, list[int]] = {}
    for q in range(KNN_QUERIES):
        nb = others[q * KNN_K:(q + 1) * KNN_K]
        noise = rng.normal(0.0, 0.2 / math.sqrt(dim), size=(KNN_K, dim))
        emb[nb] = (emb[q] + noise).astype(np.float32)
        planted[q] = sorted(int(x) for x in nb)
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    })
    return table, emb, planted


def round4(x: float) -> float:
    """The registry's deterministic 4-decimal rounding, in the same
    double arithmetic (functions.deterministic.round_det)."""
    return math.floor(abs(x) * 10000.0 + 0.5) * math.copysign(1.0, x) / 10000.0 if x else 0.0


def knn_truth(emb: np.ndarray) -> list[tuple[int, int, float, int]]:
    """(query_id, neighbor_id, cos_sim, rn) rows of q_sim_knn."""
    e = emb.astype(np.float64)
    norms = np.linalg.norm(e, axis=1)
    rows = []
    for q in range(KNN_QUERIES):
        cos = (e @ e[q]) / (norms * norms[q])
        cos[q] = -np.inf
        top = np.lexsort((np.arange(len(cos)), -cos))[:KNN_K]
        rows += [(q, int(j), round4(cos[j]), r + 1) for r, j in enumerate(top)]
    return rows


# ----------------------------------------------------- corpus ground truth

def _gram_keys(toks: list[np.ndarray], n: int, bits: int = 16):
    """Keys of every n-gram of every doc (token ids < 2**bits), and the
    index of the doc each key belongs to."""
    lens = np.array([len(t) for t in toks], np.int64)
    flat = np.concatenate(toks).astype(np.int64) if len(toks) else np.empty(0, np.int64)
    m = len(flat) - n + 1
    if m <= 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    key = np.zeros(m, np.int64)
    for i in range(n):
        key = (key << bits) | flat[i:i + m]
    doc = np.repeat(np.arange(len(toks)), lens)[:m]
    start = np.cumsum(lens) - lens
    ok = np.arange(m) + n <= (start + lens)[doc]   # gram ends inside its doc
    return key[ok], doc[ok]


def ngram_topk_truth(c: Corpus, k: int = 20) -> list[tuple[str, int]]:
    keys, _ = _gram_keys(c.toks, 2)
    uniq, cnt = np.unique(keys, return_counts=True)
    floor = np.sort(cnt)[-k] if len(cnt) >= k else 0
    sel = cnt >= floor
    v = c.vocab
    rows = [(f"{v[u >> 16]} {v[u & 0xFFFF]}", int(n)) for u, n in zip(uniq[sel], cnt[sel])]
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[:k]


def text_hash(text: str) -> str:
    return hashlib.sha256(text.strip().lower().encode()).hexdigest()


def dedup_exact_truth(c: Corpus) -> list[tuple[str, int, int]]:
    """(h, keep_id, n_copies) per distinct normalized text."""
    groups: dict[str, list[int]] = defaultdict(list)
    for i, t in zip(c.ids, c.texts):
        groups[text_hash(t)].append(int(i))
    return [(h, min(v), len(v)) for h, v in groups.items()]


def pipeline_e2e_truth(c: Corpus) -> list[tuple]:
    """Per-language funnel of q_pipeline_e2e (quality window, exact dedup
    among quality survivors, 4-gram decontamination against the
    doc_id % 97 == 0 holdout)."""
    ids = c.ids
    n_tok = np.array([len(t) for t in c.toks])
    uniq = np.array([len(np.unique(t)) for t in c.toks]) / np.maximum(n_tok, 1)
    is_eval = ids % DECON_MOD == 0
    quality = ~is_eval & (n_tok >= E2E_MIN_TOK) & (n_tok <= E2E_MAX_TOK) & (uniq >= E2E_UNIQ)
    texts = c.texts
    first: dict[str, int] = {}
    for i in np.nonzero(quality)[0]:
        h = texts[i]
        if h not in first or ids[i] < ids[first[h]]:
            first[h] = i
    unique = np.zeros(len(ids), bool)
    unique[list(first.values())] = True
    keys, doc = _gram_keys(c.toks, DECON_N)
    hit = np.isin(keys, np.unique(keys[is_eval[doc]]))
    contaminated = ~is_eval & (np.bincount(doc[hit], minlength=len(ids)) > 0)
    clean = unique & ~contaminated
    rows = []
    lang = np.array(c.lang)
    for lg in sorted(set(c.lang)):
        m = lang == lg
        rows.append((
            lg, int(m.sum()), int((m & ~is_eval).sum()), int((m & quality).sum()),
            int((m & unique).sum()), int((m & clean).sum()), int(n_tok[m & clean].sum()),
        ))
    return rows


def shingle_sets(c: Corpus) -> dict[int, set]:
    keys, doc = _gram_keys(c.toks, MH_N)
    bounds = np.searchsorted(doc, np.arange(len(c.ids) + 1))
    return {int(c.ids[d]): set(keys[bounds[d]:bounds[d + 1]].tolist())
            for d in range(len(c.ids))}


def jaccard(a: set, b: set) -> tuple[int, float]:
    common = len(a & b)
    union = len(a) + len(b) - common
    return common, (common / union if union else 0.0)


# ------------------------------------------------------ relational tables

def make_tpch(rng: np.random.Generator, n: dict[str, int]) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema + events, in the layout catalog.TABLES expects."""
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size) * 100) / 100

    nc, ns, npt, no, nl = (n[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, nc), f64),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, ns), f64),
    })
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npt), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (npt, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npt)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npt).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npt), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npt) % 1000) * 0.1, 1), f64),
    })
    day = np.datetime64("1995-01-01", "us")
    span_days = 2404  # through 2001-08-01

    def dates(size):
        return day + rng.integers(0, span_days, size).astype("timedelta64[D]")

    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, max(1, nc // 10), no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": pa.array(money(1000, 500000, no), f64),
        "o_orderdate": pa.array(dates(no), pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no).tolist(),
    })
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, max(1, npt // 100), nl), i64),
        "l_suppkey": pa.array(rng.integers(0, max(1, ns // 10), nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100, f64),
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": pa.array(dates(nl), pa.timestamp("us")),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne).tolist(),
        "value": pa.array(np.round(rng.gamma(2.0, 50.0, ne), 2) + 0.01, f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    return t


# ------------------------------------------------------------- workloads

def _rng(seed: int, workload: str, part: str = "") -> np.random.Generator:
    tag = int.from_bytes(hashlib.sha256(f"{workload}/{part}".encode()).digest()[:4], "little")
    return np.random.default_rng([seed, tag])


def build_corpus_prep(root: str, seed: int, size: float = 1.0) -> dict:
    n = scaled("corpus_prep", size)
    rng = _rng(seed, "corpus_prep")
    vocab = make_vocab(rng, n["vocab"])
    c = make_corpus(rng, vocab, n["docs"])
    sf = os.path.join(root, "corpus_prep")
    doc_bytes = write_parquet(corpus_table(c), os.path.join(sf, "documents.parquet"))
    emb_t, emb, planted = make_embeddings(_rng(seed, "corpus_prep", "emb"), n["vectors"])
    emb_bytes = write_parquet(emb_t, os.path.join(sf, "embeddings.parquet"))
    sets = shingle_sets(c)
    near = [(min(a, b), max(a, b)) for a, b in c.near]
    return {
        "sf_dir": sf,
        "docs": len(c.ids),
        "input_bytes": doc_bytes + emb_bytes,
        "ngram_topk": ngram_topk_truth(c),
        "dedup_exact": dedup_exact_truth(c),
        "pipeline_e2e": pipeline_e2e_truth(c),
        "knn": knn_truth(emb),
        "knn_planted": planted,
        "shingles": sets,
        "exact_clusters": c.exact,
        "near_pairs_j": {p: jaccard(sets[p[0]], sets[p[1]])[1] for p in near},
        "kept_docs": len({t for t in c.texts}),
    }


def build_query_mix(root: str, seed: int, size: float = 1.0) -> dict:
    n = scaled("query_mix", size)
    rng = _rng(seed, "query_mix")
    sf = os.path.join(root, "query_mix")
    total = 0
    for name, table in make_tpch(rng, n).items():
        total += write_parquet(table, os.path.join(sf, f"{name}.parquet"))
    c = make_corpus(rng, make_vocab(rng, n["vocab"]), n["docs"])
    total += write_parquet(corpus_table(c), os.path.join(sf, "documents.parquet"))
    emb_t, _, _ = make_embeddings(rng, n["vectors"])
    total += write_parquet(emb_t, os.path.join(sf, "embeddings.parquet"))
    return {"sf_dir": sf, "input_bytes": total}


def digest_dir(path: str) -> str:
    """sha256 over every file under ``path`` (relative names + bytes)."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()

