"""The benchmark workloads: their inputs, timed operations and checks.

A workload yields *rounds* of operations. Every operation is timed on
its own (plan construction, execution and result collection together)
and its output is checked outside the timer; a wrong output or an
exception counts as a failed operation.

- ``corpus_prep``: one round is one pass of the batch corpus pipeline.
- ``query_mix``: one round is every query of the mix once, in a seeded
  order; a closed loop with one client.
"""

from __future__ import annotations

import glob
import os
import random
from collections import Counter
from dataclasses import dataclass
from typing import Any, Callable

import gen

#: query_mix: registered relational, events, time-series and ML-eval
#: queries, each with a DuckDB oracle.
MIX = (
    "q_filter_pred", "q_agg_group", "q_win_rank", "q_join_semi",
    "q_funnel", "q_ts_resample", "q_join_asof", "q_ml_calibration",
    "q_stream_live_tumbling",
)
#: The table a live-stream query of the mix reads: its result is an
#: in-memory sink, so its plan names no input files.
STREAM_INPUT = {"q_stream_live_tumbling": "events"}


class CheckFailed(Exception):
    pass


@dataclass
class Op:
    """One timed operation. ``run`` returns the output ``check`` judges."""

    name: str
    run: Callable[[], Any]
    check: Callable[[Any], None] = lambda out: None


class Workload:
    name = ""
    latency_per = "op"            # "op" or "round"
    #: Rounds every timed loop runs; statistics use this many samples
    #: of each operation, the ones least disturbed by the host.
    min_rounds = 1
    tables: tuple[str, ...] = ()

    def __init__(self, root: str, seed: int, size: float) -> None:
        self.counts: Counter = Counter()   # what the per-layer report counts
        self.rng = random.Random(seed)

    def round(self, ctx) -> list[Op]:
        raise NotImplementedError

    def round_items(self) -> int:
        raise NotImplementedError

    def prepare(self, ctx) -> None:
        """Untimed preparation that needs the session."""

    def round_input_bytes(self) -> int:
        """Bytes of input data one round consumes."""
        return self.input_bytes


def query_op(ctx, sf_dir: str, name: str, layer: str, check=lambda out: None) -> Op:
    """A registered query, constructed, executed and collected."""
    return Op(name, lambda: ctx.run_query(name, sf_dir, layer), check)


def _expect_rows(got, want, what: str) -> None:
    if Counter(got) != Counter(want):
        missing = list((Counter(want) - Counter(got)).items())[:3]
        extra = list((Counter(got) - Counter(want)).items())[:3]
        raise CheckFailed(f"{what}: missing {missing} unexpected {extra}")


# ------------------------------------------------------------ corpus_prep

class CorpusPrep(Workload):
    name = "corpus_prep"
    latency_per = "round"     # a batch job's latency is input to complete result
    min_rounds = 2
    tables = ("documents", "embeddings")

    def __init__(self, root, seed, size):
        super().__init__(root, seed, size)
        self.truth = gen.build_corpus_prep(root, seed, size)
        self.sf_dir = self.truth["sf_dir"]
        self.input_bytes = self.truth["input_bytes"]
        self.kept_dir = os.path.join(root, "kept")

    def round_items(self) -> int:
        return self.truth["docs"]

    def round(self, ctx) -> list[Op]:
        t = self.truth
        st = self.counts

        def check_topk(rows):
            _expect_rows([(r["ngram"], r["cnt"]) for r in rows], t["ngram_topk"], "q_ngram_topk")

        def check_e2e(rows):
            cols = ("lang", "n_total", "n_train", "n_quality", "n_unique", "n_clean", "clean_tokens")
            _expect_rows([tuple(r[c] for c in cols) for r in rows], t["pipeline_e2e"], "q_pipeline_e2e")

        def check_exact(rows):
            _expect_rows([(r["h"], r["keep_id"], r["n_copies"]) for r in rows],
                         t["dedup_exact"], "q_dedup_exact")

        def check_minhash(rows):
            sets = t["shingles"]
            found = set()
            for r in rows:
                a, b = r["id_a"], r["id_b"]
                common, j = gen.jaccard(sets[a], sets[b])
                if a >= b or r["n_common"] != common or j < gen.MH_MIN_J or r["jaccard"] != gen.round4(j):
                    raise CheckFailed(f"q_dedup_minhash_exact: bad pair {r}")
                found.add((a, b))
            clones = {(x, y) for cl in t["exact_clusters"] for x in cl for y in cl
                      if x < y and sets[x]}
            if not clones <= found:
                raise CheckFailed(f"q_dedup_minhash_exact: {len(clones - found)} clone pairs missing")
            planted = [p for p, j in t["near_pairs_j"].items() if j >= gen.MH_MIN_J]
            st["confirmed_pairs"] += len(found)
            st["planted"] += len(planted)
            st["planted_found"] += sum(p in found for p in planted)

        def check_knn(rows):
            got = [(r["query_id"], r["neighbor_id"], r["cos_sim"], r["rn"]) for r in rows]
            _expect_rows(got, t["knn"], "q_sim_knn")
            nb = {(q, n) for q, n, _, _ in got}
            planted = [(q, n) for q, ns in t["knn_planted"].items() for n in ns]
            st["knn_planted"] += len(planted)
            st["knn_found"] += sum(p in nb for p in planted)

        def write_kept():
            from ngram_analytics_spark import catalog, sources

            keep = ctx.run_query("q_dedup_exact", self.sf_dir, "operators.dedup", collect=False)
            docs = catalog.load(ctx.spark, self.sf_dir, "documents")
            kept = docs.join(keep.select(keep["keep_id"].alias("doc_id")), "doc_id", "left_semi")
            sources.write(kept, self.kept_dir, mode="overwrite")
            return self.kept_dir

        def check_kept(path):
            import pyarrow.parquet as pq

            files = sorted(glob.glob(os.path.join(path, "*.parquet")))
            n = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            if n != t["kept_docs"]:
                raise CheckFailed(f"sources.write: {n} rows written, want {t['kept_docs']}")
            st["files_written"] += len(files)

        return [
            query_op(ctx, self.sf_dir, "q_pipeline_e2e", "queries", check_e2e),
            query_op(ctx, self.sf_dir, "q_ngram_topk", "operators.ngram", check_topk),
            query_op(ctx, self.sf_dir, "q_dedup_exact", "operators.dedup", check_exact),
            query_op(ctx, self.sf_dir, "q_dedup_minhash_exact", "operators.dedup", check_minhash),
            query_op(ctx, self.sf_dir, "q_sim_knn", "operators.similarity", check_knn),
            Op("write_kept", write_kept, check_kept),
        ]


# -------------------------------------------------------------- query_mix

class QueryMix(Workload):
    name = "query_mix"
    #: 4 rounds give 36 latency samples, so the tail (the 11th-slowest)
    #: falls among the three slowest queries rather than in the gap
    #: between them and the next one, where it jumps from run to run.
    min_rounds = 4
    tables = ("lineitem", "orders", "customer", "events")

    def __init__(self, root, seed, size):
        super().__init__(root, seed, size)
        info = gen.build_query_mix(root, seed, size)
        self.sf_dir = info["sf_dir"]
        self.input_bytes = info["input_bytes"]
        self.expected: dict[str, tuple] = {}
        self.query_bytes: dict[str, int] = {}

    def prepare(self, ctx) -> None:
        """DuckDB oracle results of the mix and the bytes of the files
        each query reads, computed once, untimed."""
        import duckdb

        from ngram_analytics_spark.catalog import TABLES, table_path
        from ngram_analytics_spark.testing import duck_result

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
        for q in MIX:
            self.expected[q] = duck_result(con, ctx.oracles[q])
            if q in STREAM_INPUT:
                files = [table_path(self.sf_dir, STREAM_INPUT[q])]
            else:
                files = [f.removeprefix("file:")
                         for f in ctx.queries[q](ctx.spark, self.sf_dir).inputFiles()]
            self.query_bytes[q] = sum(os.path.getsize(f) for f in files)
        con.close()

    def round_items(self) -> int:
        return len(MIX)

    def round_input_bytes(self) -> int:
        return sum(self.query_bytes.values())

    def round(self, ctx) -> list[Op]:
        order = list(MIX)
        self.rng.shuffle(order)
        return [self._op(ctx, q) for q in order]

    def _op(self, ctx, q: str) -> Op:
        from ngram_analytics_spark.testing import compare

        def check(out):
            problems = compare(*out, *self.expected[q])
            if problems:
                raise CheckFailed(f"{q}: {problems[0]}")

        layer = "streaming" if q.startswith("q_stream_live") else "queries"
        return Op(q, lambda: ctx.run_query(q, self.sf_dir, layer, with_columns=True), check)


WORKLOADS = {w.name: w for w in (CorpusPrep, QueryMix)}
