"""Per-query telemetry: where a registered query's time goes.

:func:`run_query` builds one registered key and writes it to a
``noop`` sink, each phase (construct, exec) under a Spark job group of
its own, and returns one record: the construction time and the Spark
jobs construction fired, the execution time, the stages of each phase
as the driver's status store holds them, and the streams the call ran.
:func:`census` runs every key (or a list of keys) once warm and once
timed.

Nothing here is global: the record belongs to the caller, and a
caller that never calls the runner pays nothing. This is also the one
module that sets job groups and reads the status tracker and store
(``tests/test_docs.py``).

Usage: python -m ngram_analytics_spark.telemetry SF_DIR [KEY ...]
"""

from __future__ import annotations

import contextlib
import json
import sys
import time
import uuid
from collections.abc import Iterable, Iterator

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

#: the thread-local properties ``SparkContext.setJobGroup`` sets
_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


@contextlib.contextmanager
def job_group(spark: SparkSession, group: str, description: str):
    """Run the body's Spark jobs under ``group``; afterwards, also when
    the body raises, the calling thread's job group and description are
    what they were before."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    sc.setJobGroup(group, description)
    try:
        yield
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)


def jobs_of(spark: SparkSession, *groups: str) -> dict[str, list[int]]:
    """Ids of the jobs each finished job group ran, from the driver's
    status tracker. A marker job in a group of its own runs first; the
    listener bus is FIFO, so once the marker is visible every job
    submitted before it is too, with its stages. The marker counts an
    empty RDD: a job of no partition is posted to the bus like any
    other but runs no task."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    marker = f"nas:marker:{uuid.uuid4().hex}"
    with job_group(spark, marker, "telemetry marker"):
        sc._jsc.emptyRDD().count()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        if time.monotonic() > deadline:
            raise TimeoutError("marker job never reached the status tracker")
        time.sleep(0.01)
    return {g: sorted(tracker.getJobIdsForGroup(g)) for g in groups}


def _jobs_wall_s(store, job_ids: Iterable[int]) -> float:
    """Wall time the finished jobs cover, overlaps counted once."""
    spans = []
    for j in job_ids:
        d = store.job(j)
        if d.completionTime().isDefined():
            spans.append((d.submissionTime().get().getTime(),
                          d.completionTime().get().getTime()))
    total, end = 0, 0
    for start, stop in sorted(spans):
        total += max(0, stop - max(start, end))
        end = max(end, stop)
    return total / 1e3


def _stages(spark: SparkSession, store, job_ids: Iterable[int]) -> list[dict]:
    """The stages the jobs ran, by stage id. Stages whose shuffle output
    was reused (skipped) ran no task and are left out."""
    tracker = spark.sparkContext.statusTracker()
    ids = sorted({s for j in job_ids for s in tracker.getJobInfo(j).stageIds})
    out = []
    for sid in ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:
            # gone from the store, which evicts skipped stages first
            # once it holds more than spark.ui.retainedStages
            continue
        tasks = st.numCompleteTasks()
        if tasks:
            out.append({
                "stage": sid,
                "name": st.name(),
                "tasks": tasks,
                "executor_run_s": st.executorRunTime() / 1e3,
                "input_bytes": st.inputBytes(),
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
            })
    return out


def run_query(spark: SparkSession, key: str, sf_dir: str) -> dict:
    """Build the registered query ``key`` over ``sf_dir``, write it to a
    ``noop`` sink and return where the time went:

    - ``construct_s``: building the DataFrame, including the Spark jobs
      it fired (``construct_jobs`` of them, covering
      ``construct_jobs_s`` of wall time);
    - ``exec_s``: the ``noop`` write, in ``exec_jobs`` jobs;
    - ``stages``: per phase, each stage's tasks, executorRunTime,
      input and shuffle read/write bytes;
    - ``streams``: the ``streaming.STREAM_RUNS`` records of the streams
      this call ran (their jobs carry each stream's own group and are
      not counted above);
    - ``groups``: the job group of each phase, unique to this call.
    """
    from ngram_analytics_spark.queries import build_registry
    from ngram_analytics_spark.streaming import STREAM_RUNS

    build = build_registry().queries[key]
    run = uuid.uuid4().hex
    groups = {p: f"nas:{key}:{p}:{run}" for p in ("construct", "exec")}
    with job_group(spark, groups["construct"], f"{key} construct"):
        t0 = time.perf_counter()
        df = build(spark, sf_dir)
        t1 = time.perf_counter()
    with job_group(spark, groups["exec"], f"{key} exec"):
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    jobs = jobs_of(spark, *groups.values())
    store = spark.sparkContext._jsc.sc().statusStore()
    built = jobs[groups["construct"]]
    mine = set(groups.values())
    return {
        "key": key,
        "construct_s": round(t1 - t0, 4),
        "construct_jobs": len(built),
        "construct_jobs_s": _jobs_wall_s(store, built),
        "exec_s": round(t2 - t1, 4),
        "exec_jobs": len(jobs[groups["exec"]]),
        "stages": {p: _stages(spark, store, jobs[g]) for p, g in groups.items()},
        # a copy: another thread's run may trim the list meanwhile
        "streams": [r for r in list(STREAM_RUNS) if r["job_group"] in mine],
        "groups": groups,
    }


def census(
    spark: SparkSession, sf_dir: str, keys: Iterable[str] | None = None
) -> Iterator[dict]:
    """One warm and one timed :func:`run_query` per key, every
    registered key by default; yields the timed run's record."""
    from ngram_analytics_spark.queries import build_registry

    for key in keys or build_registry().queries:
        run_query(spark, key, sf_dir)
        yield run_query(spark, key, sf_dir)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.rsplit("Usage: ", 1)[1].strip(), file=sys.stderr)
        return 2
    from ngram_analytics_spark.session import get_spark

    spark = get_spark(app_name="nas-telemetry")
    for rec in census(spark, argv[0], argv[1:] or None):
        print(json.dumps(rec), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
