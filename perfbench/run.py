"""Benchmark runner: one workload, one seed, one process.

Run from the root of a checkout:

    python3 perfbench/run.py --workload corpus_prep --seed 1 --seconds 12 --trace 0

The runner generates the workload's inputs from ``--seed`` (perfbench/gen.py),
imports the program and starts Spark through its own
``session.get_spark`` on ``local[nproc]`` (the timed set-up), warms up
with one round, then runs the workload's closed loop for ``--seconds``
seconds through the program's public entry points, checking every
output. The last line of stdout is one JSON object:

    {"correct": ..., "attempted": n, "failed": n, "metrics": {name: {"value", "unit"}}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the run measures half the time
untraced and half traced, reports the per-layer metrics (per round of
the traced loop) and writes its spans to ``.perfbench_out/``. The line
before the result holds the run's details: pinned environment, input
sizes, tail percentile, sample counts, and every timed operation with
its wall time, the share of CPU time the hypervisor took while it ran,
and the time it would have taken without that steal, which the time
metrics use (``spans.HostClock``).

Everything the run writes stays under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

#: Driver JVM heap. local[N] runs the executors inside the driver JVM, so
#: this is the benchmark's whole execution memory, sized for a 4-core,
#: 15 GiB host shared with other jobs.
DRIVER_MEMORY_MB = 1024
#: Samples during which the hypervisor took more than this share of the
#: machine's CPU time (steal time) measure the neighbours, not the
#: program: the loop runs on (within limits) until it has cleaner ones.
STEAL_MAX = 0.03

END_TO_END = {
    "setup_s": "s", "items_per_s": "1/s", "latency_p50_s": "s",
    "latency_tail_s": "s", "bytes_written_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(work: str) -> dict[str, str]:
    """Pin the Spark environment the same way on every run; keep every
    temporary file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": f"{DRIVER_MEMORY_MB}m",
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher's too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    os.environ.pop("NAS_STREAM_STATE_PARTITIONS", None)
    import tempfile

    tempfile.tempdir = None   # re-read TMPDIR
    return env


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the median when there are too few samples."""
    s = sorted(samples)
    n = len(s)
    if n < 21:
        return statistics.median(s), 50.0
    return s[n - 11], 100.0 * (n - 10) / n


class Ctx:
    """What the workloads' operations need: the session, the registry,
    the tracer."""

    def __init__(self, tracer, tmp: str) -> None:
        self.tracer = tracer
        self.tmp = tmp
        self.spark = None
        self.queries: dict = {}
        self.oracles: dict = {}
        self.stream_runs = 0      # streaming.STREAM_RUNS entries before the timed loop

    def setup(self, sf_dir: str, tables: tuple[str, ...]) -> None:
        """Program import, session start, registry load and a scan of the
        workload's tables (page cache and JIT warmup)."""
        import __spark_entry__ as entry
        from ngram_analytics_spark import catalog
        from ngram_analytics_spark.session import get_spark

        t = self.tracer
        with t.span("get_spark", "session"):
            self.spark = get_spark()
        t.bind(self.spark)
        with t.span("build_registry", "registry"):
            self.queries = entry.queries()
            self.oracles = entry.oracle_sql()
        with t.span("scan_tables", "session"):
            for name in tables:
                catalog.load(self.spark, sf_dir, name).count()

    def run_query(self, name: str, sf_dir: str, layer: str,
                  collect: bool = True, with_columns: bool = False):
        """Construct, execute and collect one registered query. Traced,
        execution and collection are timed apart; ``layer`` is the layer
        whose kernels the execution runs."""
        t = self.tracer
        with t.span(f"construct:{name}", "queries"):
            df = self.queries[name](self.spark, sf_dir)
        if not collect:
            return df
        if not t.enabled:
            rows = df.collect()
        else:
            from pyspark.serializers import BatchedSerializer, CPickleSerializer
            from pyspark.util import _load_from_socket

            with t.span(f"exec:{name}", layer):
                sock = df._jdf.collectToPython()
            with t.span(f"collect:{name}", "queries"):
                rows = list(_load_from_socket(sock, BatchedSerializer(CPickleSerializer())))
        return (df.columns, rows) if with_columns else rows


class Phase:
    """Results of one timed closed loop."""

    def __init__(self) -> None:
        #: (name, wall seconds, steal share, seconds without the steal)
        self.ops: list[tuple[str, float, float, float]] = []
        self.rounds = 0
        self.items = 0
        self.attempted = 0
        self.failed = 0
        self.wall = 0.0
        self.jobs: list = []
        self.input_bytes = 0
        self.round_peak: list[int] = []   # peak memory per round
        self.check_s = 0.0
        self.poll_s = 0.0

    def balanced(self, k: int) -> dict[str, list[float]]:
        """Per kind of operation, the steal-free times of its ``k``
        samples the hypervisor took the least CPU from. Every kind keeps
        the same count, so a round's mix is kept."""
        kinds: dict[str, list[tuple[float, float]]] = {}
        for name, _, steal, dt in self.ops:
            kinds.setdefault(name, []).append((steal, dt))
        return {name: [dt for _, dt in sorted(v)[:k]] for name, v in kinds.items()}

    def latencies(self, per_round: bool, k: int) -> list[float]:
        """Latency samples from the balanced set: per operation, or per
        round as the sum over kinds of their i-th cleanest sample."""
        b = self.balanced(k)
        if per_round:
            return [sum(col) for col in zip(*b.values())]
        return [dt for v in b.values() for dt in v]

    def needs_clean(self) -> bool:
        """Whether some kind of operation has no clean sample yet."""
        kinds: dict[str, bool] = {}
        for name, _, steal, _ in self.ops:
            kinds[name] = kinds.get(name, False) or steal <= STEAL_MAX
        return not all(kinds.values())


def run_phase(ctx, wl, counters, rss, seconds: float, min_rounds: int) -> Phase:
    """Closed loop, one client: run at least ``min_rounds`` rounds and
    until ``seconds`` have passed (the round in flight completes) and
    every kind of operation has a sample the hypervisor took at most
    STEAL_MAX of the CPU from, or until 1.5 times ``seconds`` have
    passed."""
    import spans as tr

    ph = Phase()
    clock = tr.HostClock()
    t_start = time.perf_counter()
    while True:
        ops = wl.round(ctx)
        rss.window()
        for op in ops:
            ctx.tracer.request = ph.attempted
            with ctx.tracer.span(f"op:{op.name}", "bench"):
                clock.reset()
                try:
                    out, ok = op.run(), True
                except Exception:  # a failed operation is counted, not fatal
                    traceback.print_exc()
                    out, ok = None, False
                dt, steal, own = clock.read()
            t1 = time.perf_counter()
            if ok:
                try:
                    op.check(out)
                except Exception:  # a wrong output counts as a failure
                    traceback.print_exc()
                    ok = False
            ph.attempted += 1
            ph.failed += not ok
            ph.ops.append((op.name, dt, steal, own))
            ph.check_s += time.perf_counter() - t1
        t2 = time.perf_counter()
        ph.jobs += counters.poll(force=False)
        ph.poll_s += time.perf_counter() - t2
        ph.rounds += 1
        ph.round_peak.append(rss.window())
        ph.items += wl.round_items()
        ph.input_bytes += wl.round_input_bytes()
        elapsed = time.perf_counter() - t_start
        if (ph.rounds >= min_rounds and elapsed >= seconds
                and (not ph.needs_clean() or elapsed >= 1.5 * seconds)):
            break
    ph.wall = time.perf_counter() - t_start
    ph.jobs += counters.poll()
    return ph


def round_rate(wl, ph: Phase) -> float:
    """Items per second of a median round: every operation of a round at
    its median time over the balanced samples."""
    return wl.round_items() / sum(statistics.median(v) for v in ph.balanced(wl.min_rounds).values())


def end_to_end(wl, ph: Phase, setup_s: float) -> tuple[dict, dict]:
    samples = ph.latencies(wl.latency_per == "round", wl.min_rounds)
    tail_v, tail_p = tail(samples)
    written = sum(j.output_bytes + j.stages["shuffle_write_bytes"] + j.stages["spill_bytes"]
                  for j in ph.jobs)
    m = {
        "setup_s": setup_s,
        "items_per_s": round_rate(wl, ph),
        "latency_p50_s": statistics.median(samples),
        "latency_tail_s": tail_v,
        "bytes_written_per_input_byte": written / ph.input_bytes,
        "peak_rss_mb": statistics.median(ph.round_peak) / 2**20,
    }
    detail = {
        "latency_samples": len(samples), "latency_per": wl.latency_per,
        "tail_percentile": tail_p, "rounds": ph.rounds,
        "items": ph.items, "loop_wall_s": ph.wall,
        "check_s": ph.check_s, "poll_s": ph.poll_s,
        "ops": len(ph.ops), "ops_kept": sum(map(len, ph.balanced(wl.min_rounds).values())),
        "op_s": [[o[0], round(o[1], 4), round(o[2], 4), round(o[3], 4)] for o in ph.ops],
        "bytes_written": written, "consumed_bytes": ph.input_bytes,
        "spill_bytes": sum(j.stages["spill_bytes"] for j in ph.jobs),
        "op_median_s": {k: statistics.median(v) for k, v in ph.balanced(wl.min_rounds).items()},
        ("queries_per_s" if wl.name == "query_mix" else "docs_per_s"): m["items_per_s"],
    }
    return m, detail


def per_layer(wl, ctx, untraced: Phase, traced: Phase, setup: dict) -> dict:
    """Per-layer metrics of the traced loop, per round; those of the
    session and registry layers come from the run's own set-up."""
    from ngram_analytics_spark import streaming

    import spans as tr

    rounds = traced.rounds
    spans = [s for s in ctx.tracer.spans if s.request is not None]
    m = tr.layer_report(spans, traced.jobs, traced.wall, cores(), rounds)
    m.update(setup)

    def per_round(pick) -> float:
        return sum(s.end - s.start for s in spans if pick(s)) / rounds

    c = wl.counts
    runs = streaming.STREAM_RUNS[ctx.stream_runs:]
    m.update({
        "queries.construct_s": per_round(lambda s: s.name.startswith("construct:")),
        "queries.exec_s": per_round(lambda s: s.name.startswith("exec:")),
        "queries.collect_s": per_round(lambda s: s.name.startswith("collect:")),
        "catalog.scan_rows": sum(j.input_records for j in traced.jobs) / rounds,
        "catalog.scan_s": m["catalog.busy_s"],
        "sources.write_bytes": sum(j.output_bytes for j in traced.jobs) / rounds,
        "sources.write_s": per_round(lambda s: s.layer == "sources" and s.name == "write"),
        "sources.files_written": c["files_written"] / rounds,
        "operators.ngram.grams": m["operators.ngram.shuffle_write_records"],
        "operators.dedup.confirmed_pairs": c["confirmed_pairs"] / rounds,
        "operators.dedup.planted_recall": c["planted_found"] / c["planted"] if c["planted"] else 0.0,
        "operators.similarity.recall_at_k": (
            c["knn_found"] / c["knn_planted"] if c["knn_planted"] else 0.0),
        "streaming.startup_s": sum(r["startup_s"] for r in runs) / rounds,
        "streaming.process_s": sum(r["process_s"] for r in runs) / rounds,
        "streaming.n_batches": sum(max(0, r["n_batches"]) for r in runs) / rounds,
        "trace.overhead_ratio": round_rate(wl, untraced) / round_rate(wl, traced) - 1,
        "bench.failed_ratio": (untraced.failed + traced.failed) / max(1, untraced.attempted + traced.attempted),
    })
    return m


def setup_report(tracer, jobs: list, wall: float) -> dict:
    """Metrics of the session and registry layers over one set-up."""
    import spans as tr

    def total(layer: str, name: str) -> float:
        return sum(s.end - s.start for s in tracer.spans if s.layer == layer and s.name == name)

    m = {k: v for k, v in tr.layer_report(tracer.spans, jobs, wall, cores(), 1).items()
         if k.startswith(("session.", "registry."))}
    m["session.start_s"] = total("session", "get_spark")
    m["registry.load_s"] = total("registry", "build_registry")
    return m


def bench(args, work: str, out_dir: str) -> tuple[dict, dict]:
    import spans as tr
    import workloads

    detail: dict = {"workload": args.workload, "seed": args.seed, "size": args.size,
                    "trace": args.trace, "cores": cores()}
    tracer = tr.Tracer()
    if args.trace:
        tracer.wrap_layers()
    ctx = Ctx(tracer, os.environ["TMPDIR"])
    with tr.RssSampler() as rss:
        t0 = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](os.path.join(work, "data"), args.seed, args.size)
        detail["gen_s"] = time.perf_counter() - t0
        detail["input_bytes"] = wl.input_bytes
        # Spark's unified memory: (heap - 300 MiB) * spark.memory.fraction
        task_mem = int((DRIVER_MEMORY_MB - 300) * 2**20 * 0.6 / cores())
        detail["task_memory_bytes"] = task_mem
        detail["input_fits_task_memory"] = wl.input_bytes < task_mem

        tracer.enabled = bool(args.trace)
        clock = tr.HostClock()
        try:
            # the first set-up of a fresh process: program imports, JVM
            # launch, session, registry, table scan
            ctx.setup(wl.sf_dir, wl.tables)
            wall, steal, setup_s = clock.read()
            detail["setup_wall_s"], detail["setup_steal_share"] = wall, steal
            tracer.enabled = False
            counters = tr.SparkCounters(ctx.spark)
            setup_layers = setup_report(tracer, counters.poll(), wall)

            wl.prepare(ctx)
            from ngram_analytics_spark import streaming

            detail["warmup_s"] = run_phase(ctx, wl, counters, rss, 0, 1).wall
            wl.counts.clear()
            ctx.stream_runs = len(streaming.STREAM_RUNS)
            if not args.trace:
                ph = run_phase(ctx, wl, counters, rss, args.seconds, wl.min_rounds)
                failed = ph.failed
                attempted = ph.attempted
            else:
                untraced = run_phase(ctx, wl, counters, rss, args.seconds / 2, 1)
                wl.counts.clear()
                ctx.stream_runs = len(streaming.STREAM_RUNS)
                tracer.enabled = True
                traced = run_phase(ctx, wl, counters, rss, args.seconds / 2, 1)
                tracer.enabled = False
                failed = untraced.failed + traced.failed
                attempted = untraced.attempted + traced.attempted
        finally:
            if ctx.spark is not None:
                stop_spark(ctx.spark)
    detail["failed_ratio"] = failed / max(attempted, 1)
    if not args.trace:
        metrics, more = end_to_end(wl, ph, setup_s)
        more["run_peak_mb"] = rss.peak_bytes / 2**20
        detail.update(more)
        units = END_TO_END
    else:
        metrics = per_layer(wl, ctx, untraced, traced, setup_layers)
        units = layer_units()
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.jsonl"))
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    return result, detail


def layer_units() -> dict[str, str]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()   # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("corpus_prep", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=float, default=1.0,
                    help="input size as a share of the full workload (the self-test uses a small one)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "ngram_analytics_spark"))):
        print("perfbench: run from the root of an ngram-analytics checkout "
              "(__spark_entry__.py and ngram_analytics_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_env(work)
    os.chdir(work)
    try:
        result, detail = bench(args, work, os.path.join(root, ".perfbench_out"))
    finally:
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
    detail["env"] = {k: env[k].replace(root, ".") for k in
                     ("SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS", "SPARK_DRIVER_MEMORY")}
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
