"""Tracing for the benchmark: spans, Spark job counters, memory.

``Tracer`` records spans around the benchmark's calls into each layer
(name, layer, start, end, parent, request id, Spark job group). While a
span is open, the Spark jobs it triggers run under its job group, so
``SparkCounters`` can attribute every job's stage metrics to the
innermost span that caused it. Streaming queries set their own job
group; their jobs are attributed to the innermost span that was open
when they were submitted. Spans stay in memory and are written out once
the run ends.

With tracing off the tracer records nothing and sets no job groups; the
benchmark then only sums the counters of every job it triggered.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

#: The layers the per-layer metrics report, in BENCHMARK.json order.
LAYERS = (
    "session", "registry", "queries", "catalog", "sources",
    "operators.ngram", "operators.dedup", "operators.similarity", "streaming",
)
#: Modules whose public DataFrame-level functions get a span in traced runs.
WRAPPED_MODULES = {
    "catalog": "ngram_analytics_spark.catalog",
    "sources": "ngram_analytics_spark.sources",
    "streaming": "ngram_analytics_spark.streaming",
    "operators.ngram": "ngram_analytics_spark.operators.ngram",
    "operators.dedup": "ngram_analytics_spark.operators.dedup",
    "operators.similarity": "ngram_analytics_spark.operators.similarity",
}
#: Spark counters reported for every layer.
COUNTERS = (
    "tasks", "executor_run_s", "fetch_wait_s", "shuffle_write_bytes",
    "spill_bytes", "gc_s", "failed_tasks",
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    request: int | None
    group: str


class Tracer:
    """In-memory span recorder; a no-op while ``enabled`` is false."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self.request: int | None = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, time.time(), 0.0,
                 parent.id if parent else None, self.request, f"bench-span-{len(self.spans)}")
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        if s is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(s.group, f"{s.layer}:{s.name}", False)

    def wrap_layers(self) -> None:
        """Give every public function of the wrapped layer modules that
        takes a DataFrame or SparkSession a span. Must run before the
        query modules import those functions by name."""
        import importlib

        for layer, modname in WRAPPED_MODULES.items():
            mod = importlib.import_module(modname)
            for name, fn in list(vars(mod).items()):
                if (name.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != modname or not _takes_frame(fn)):
                    continue
                setattr(mod, name, self._wrapped(fn, layer))

    def _wrapped(self, fn, layer: str):
        @functools.wraps(fn)
        def call(*a, **kw):
            if not self.enabled:
                return fn(*a, **kw)
            with self.span(fn.__name__, layer):
                return fn(*a, **kw)

        return call

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def _takes_frame(fn) -> bool:
    try:
        params = inspect.signature(fn).parameters.values()
    except (TypeError, ValueError):
        return False
    return any("DataFrame" in str(p.annotation) or "SparkSession" in str(p.annotation)
               for p in params)


# ------------------------------------------------------- Spark counters

#: Jobs to let pile up between reads of the status store, well below
#: the 1000 jobs and stages it retains.
POLL_JOBS = 150

@dataclass
class Job:
    id: int
    group: str | None
    submitted: float          # epoch seconds
    stages: dict              # counter -> value, summed over the job's new stages
    input_records: int        # rows its scans read
    output_bytes: int         # bytes it wrote to files


class SparkCounters:
    """Reads the stage metrics of every job the session ran since the
    last call, from the Spark driver's live status store (works with the
    Spark UI disabled). The store keeps the last 1000 jobs and stages,
    so call it at least that often."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._stage_args = (jvm.java.util.ArrayList(), False, False,
                            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        self._next_job = 0
        self._seen_stages: set[int] = set()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def poll(self, force: bool = True) -> list[Job]:
        """Stage counters of the jobs submitted since the previous poll;
        unless ``force``d, only once ``POLL_JOBS`` jobs have piled up."""
        if not force and self._sc.dagScheduler().nextJobId() - self._next_job < POLL_JOBS:
            return []
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jobs = [j for j in self._json(store.jobsList(None)) if j["jobId"] >= self._next_job]
        if not jobs:
            return []
        self._next_job = max(j["jobId"] for j in jobs) + 1
        stages = {s["stageId"]: s for s in self._json(store.stageList(*self._stage_args))
                  if s["status"] in ("COMPLETE", "FAILED")}
        out = []
        for jd in sorted(jobs, key=lambda j: j["jobId"]):
            acc = dict.fromkeys(COUNTERS + ("shuffle_write_records",), 0)
            ir = ob = 0
            for sid in jd["stageIds"]:
                st = stages.get(sid)
                if st is None or sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                acc["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                acc["executor_run_s"] += st["executorRunTime"] / 1e3
                acc["fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1e3
                acc["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                acc["shuffle_write_records"] += st["shuffleWriteRecords"]
                acc["spill_bytes"] += st["diskBytesSpilled"]
                acc["gc_s"] += st["jvmGcTime"] / 1e3
                acc["failed_tasks"] += st["numFailedTasks"]
                ir += st["inputRecords"]
                ob += st["outputBytes"]
            sub = jd.get("submissionTime")
            out.append(Job(jd["jobId"], jd.get("jobGroup"),
                           sub / 1e3 if sub else time.time(), acc, ir, ob))
        return out


# ---------------------------------------------------------- aggregation

def layer_report(all_spans: list[Span], jobs: list[Job], wall_s: float, cores: int,
                 rounds: int) -> dict:
    """Per-layer busy and self time, attributed Spark counters, and the
    part of ``wall_s`` no layer span covers, each per round of the
    ``rounds`` that ``all_spans`` and ``jobs`` cover."""
    spans = [s for s in all_spans if s.layer in LAYERS]
    by_id = {s.id: s for s in all_spans}
    children = defaultdict(list)
    for s in all_spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = {}
    busy = dict.fromkeys(LAYERS, 0.0)
    self_t = dict.fromkeys(LAYERS, 0.0)
    for s in spans:
        wall = s.end - s.start
        self_t[s.layer] += wall - _covered([(c.start, c.end) for c in children[s.id]])
        if not _has_ancestor_layer(s, by_id):
            busy[s.layer] += wall
    counters = {lay: defaultdict(float) for lay in LAYERS}
    by_group = {s.group: s for s in all_spans}
    for job in jobs:
        s = by_group.get(job.group) or _innermost_at(all_spans, job.submitted)
        while s is not None and s.layer not in LAYERS:
            s = by_id.get(s.parent)
        if s is None:
            continue
        for k, v in job.stages.items():
            counters[s.layer][k] += v
    for lay in LAYERS:
        c = counters[lay]
        for k in COUNTERS + ("shuffle_write_records",):
            out[f"{lay}.{k}"] = c[k] / rounds
        out[f"{lay}.self_s"] = self_t[lay] / rounds
        out[f"{lay}.busy_s"] = busy[lay] / rounds
        out[f"{lay}.core_busy_ratio"] = (
            c["executor_run_s"] / (busy[lay] * cores) if busy[lay] > 0 else 0.0)
    top = [(s.start, s.end) for s in spans
           if s.request is not None and not _has_ancestor_layer(s, by_id, any_layer=True)]
    out["trace.unattributed_s"] = max(0.0, wall_s - _covered(top)) / rounds
    return out


def _has_ancestor_layer(s: Span, by_id: dict, any_layer: bool = False) -> bool:
    p = by_id.get(s.parent)
    while p is not None:
        if p.layer == s.layer or (any_layer and p.layer in LAYERS):
            return True
        p = by_id.get(p.parent)
    return False


def _innermost_at(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ------------------------------------------------------------ memory

class HostClock:
    """Wall time of an interval, and the part of it the hypervisor held
    the program back.

    On a shared host the hypervisor takes CPU time from the virtual
    machine (steal time in ``/proc/stat``) while the program's threads
    are ready to run. Only the benchmark runs in the machine, so the
    steal of an interval fell on the program's threads, and its threads
    needed ``cpu + steal`` core-seconds to get ``cpu`` of work done.
    Without the steal the interval would have taken
    ``wall * cpu / (cpu + steal)``, where ``cpu`` is the CPU time of this
    process and its descendants (the driver JVM and the Python workers).
    On a quiet host the two times agree."""

    def __init__(self) -> None:
        self._tick = os.sysconf("SC_CLK_TCK")
        self._cores = len(os.sched_getaffinity(0))
        self.reset()

    def _read(self) -> tuple[float, float]:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        steal = int(fields[8]) if len(fields) > 8 else 0
        me = os.getpid()
        cpu = sum(map(_cpu_ticks, [me, *_descendants(me)]))
        return steal / self._tick, cpu / self._tick

    def reset(self) -> None:
        self._s0, self._c0 = self._read()
        self._t0 = time.perf_counter()

    def read(self) -> tuple[float, float, float]:
        """(wall seconds, steal as a share of the machine's CPU time,
        seconds the interval would have taken without the steal) since
        the last ``reset``."""
        t = time.perf_counter() - self._t0
        s1, c1 = self._read()
        s, c = s1 - self._s0, c1 - self._c0
        share = s / max(1e-9, t * self._cores)
        return t, share, (t * c / (c + s) if c + s > 0 else t)


def _cpu_ticks(pid: int) -> int:
    """User and system CPU ticks of a process and its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended while we looked
        return 0
    return sum(int(x) for x in f[11:15])


class RssSampler:
    """Peak memory of this process's descendants: the driver JVM and the
    Python workers, not the benchmark's own process. Each process counts
    its proportional set size, so pages forked workers share are counted
    once."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self.window_peak = 0     # since the last ``window()``
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            now = sum(map(_pss, _descendants(me)))
            self.peak_bytes = max(self.peak_bytes, now)
            self.window_peak = max(self.window_peak, now)
            self._stop.wait(self.interval)

    def window(self) -> int:
        """Peak since the previous call; starts a new window."""
        peak, self.window_peak = self.window_peak, 0
        return peak


def _descendants(root: int) -> list[int]:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    kids[int(fh.read().rsplit(")", 1)[1].split()[1])].append(int(d))
            except OSError:  # the process ended while we looked
                continue
    out, todo = [], list(kids[root])
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids[pid]
    return out


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process ended while we looked
        pass
    return 0
