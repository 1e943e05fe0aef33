"""Structured Streaming surface: file-source streams over the events
and documents tables, watermarked windowed aggregation, streaming
dedup, and a custom stateful operator via applyInPandasWithState.

Correctness definition = batch-stream parity: the same window
expressions run in ngram_analytics_spark.queries.timeseries_q in batch
mode (DuckDB-oracled); here they run under ``readStream`` with an
``availableNow`` trigger and must converge to the batch answer
(tests/test_streaming.py). DuckDB has no streaming — these are
smoke/parity checked, not SQL-oracled, by design (SURVEY.md §2.B).

:func:`run_to_memory` is the one place that names, runs and reads back
a memory-sink stream: each run gets its own sink, so callers sharing
one session can run the same stream at once. No function here sets a
conf; the state partition count streams run with is set once per
session by the catalog (``catalog._pin``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ngram_analytics_spark import catalog


def _stage(sf_dir: str, name: str) -> str:
    """Scratch directory of symlinks to table ``name``'s data files.

    Spark's file stream source requires a *directory*; the testdata dir
    mixes all tables, so stage a scratch dir holding a symlink to each
    data file (read-only testdata is never touched). The generated
    corpora ship a table as a single FILE; a Spark-written table is a
    DIRECTORY of part files the file source won't recurse into through
    one symlink, so those are staged individually. The directory is
    keyed by the table's identity (``catalog.scratch``), so every link
    already in it points at the file it names.
    """
    import contextlib
    import os

    # abspath: a relative sf_dir would otherwise create a symlink that
    # resolves relative to the scratch dir (broken)
    src = os.path.abspath(catalog.table_path(sf_dir, name))
    stage = catalog.scratch(f"stream_{name}", sf_dir, name)
    os.makedirs(stage, exist_ok=True)
    if os.path.isdir(src):
        parts = [
            os.path.join(src, fn)
            for fn in sorted(os.listdir(src))
            if fn.endswith(".parquet")
        ]
    else:
        parts = [src]
    for p in parts:
        # threads of one process may stage the same table at once
        with contextlib.suppress(FileExistsError):
            os.symlink(p, os.path.join(stage, os.path.basename(p)))
    return stage


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet.

    ``readStream`` needs an explicit schema, and the events table
    exists in two layouts — TIMESTAMP(NANOS) (surfaced as long) and
    TIMESTAMP(MICROS). The catalog owns that decision: the
    stream takes the table's cached stored schema and the same ``ts``
    normalization as ``catalog.load`` (applying the ns->us division to
    a micros column would shift every event to 1970).
    """
    stage = _stage(sf_dir, "events")
    return catalog.read_stream(spark, sf_dir, "events", stage)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (the streaming
    twin of catalog.load("documents")), with the table's stored
    schema."""
    stage = _stage(sf_dir, "documents")
    return catalog.read_stream(spark, sf_dir, "documents", stage)


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window aggregate — the streaming twin of
    queries.timeseries_q.q_stream_tumbling."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming dedup on event_id bounded by the watermark (state is
    GC'd past the watermark — required for unbounded streams)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def running_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count via
    applyInPandasWithState (GroupState keeps one long per user)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    out_schema = "user_id bigint, n_events bigint"
    state_schema = "n bigint"

    def update(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    # NoTimeout: ProcessingTimeTimeout deadlocks under availableNow
    # (no further trigger ever fires to expire timers).
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", "NoTimeout"
        )
    )


#: per-stream timing splits appended by run_to_memory, in call order,
#: so the ~1.3-4.3 s fixed micro-batch startup cannot mask a
#: processing regression. Each entry: {"name" (the run's sink name),
#: "job_group" (the calling thread's Spark job group, or None),
#: "wall_s", "process_s" (sum of triggerExecution across
#: micro-batches), "startup_s" (wall - process: plan/compile/source
#: listing/sink setup), "n_batches"}. ``telemetry.run_query`` picks a
#: query's streams by its job groups, which neither another thread's
#: streams nor the trim in run_to_memory can shift; perfbench/run.py
#: attributes the entries added after a list-length mark to its timed
#: stretch.
STREAM_RUNS: list[dict] = []


def run_to_memory(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drive a streaming query to completion on the available data
    (availableNow trigger) into a memory sink of its own, record the
    startup-vs-processing wall split in STREAM_RUNS, and return the
    sink's rows.

    The sink gets a fresh name per run and its temp view is dropped
    before returning: the returned frame keeps the rows, and two
    callers running the same stream on one session cannot collide.
    The run checkpoints into a ``catalog.scratch`` directory of its
    own, removed when the run ends, also when the stream raises
    (without a location Spark makes one under ``java.io.tmpdir`` and
    keeps it after a failure)."""
    import shutil
    import time
    import uuid

    sess = stream_df.sparkSession
    name = f"nas_sink_{uuid.uuid4().hex}"
    ckpt = catalog.scratch(name)
    t0 = time.perf_counter()
    q = None
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        rows = sess.table(name)
    finally:
        if q is not None:
            q.stop()
        sess.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)
    process = 0.0
    n_batches = 0
    try:
        for p in q.recentProgress:
            process += (p["durationMs"].get("triggerExecution") or 0) / 1e3
            n_batches += 1
    except Exception:  # progress is diagnostics — never fail the query
        process, n_batches = 0.0, -1
    STREAM_RUNS.append(
        {
            "name": name,
            "job_group": sess.sparkContext.getLocalProperty("spark.jobGroup.id"),
            "wall_s": round(wall, 3),
            "process_s": round(process, 3),
            "startup_s": round(max(0.0, wall - process), 3),
            "n_batches": n_batches,
        }
    )
    # bounded diagnostics: a long-lived session driving thousands of
    # streams must not accumulate records forever
    if len(STREAM_RUNS) > 4096:
        del STREAM_RUNS[:-2048]
    return rows


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    watermark: str = "30 minutes",
    join_window: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join: same-user events within a bounded time
    window. Both sides are watermarked and the join condition bounds
    the event-time gap — the two requirements that let Spark GC join
    state on an unbounded stream (without them state grows forever).

    Each run logs ``Cannot evaluate expression: l_id`` from
    ``StreamingJoinHelper``. That is expected: Spark derives the
    eviction bound from each conjunct of the condition on its own, the
    ``l_id < r_id`` conjunct yields none, and the two time conjuncts
    still bound the state (``tests/test_streaming.py`` pins that rows
    are evicted).
    """
    l = (
        left.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("l_id"),
            F.col("ts").alias("l_ts"),
        )
    )
    r = (
        right.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("r_id"),
            F.col("ts").alias("r_ts"),
        )
    )
    cond = (
        (F.col("l_user") == F.col("r_user"))
        & (F.col("l_id") < F.col("r_id"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") < F.col("l_ts") + F.expr(f"interval {join_window}"))
    )
    return l.join(r, cond, "inner")


def session_counts(
    events: DataFrame, gap: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked session-window aggregate (gap-based session close) —
    the streaming twin of queries.timeseries_q.q_stream_session. State
    for a session is emitted and dropped once the watermark passes its
    close — bounded state on unbounded streams."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("s_start"),
            "n",
        )
    )


def lww_state(events: DataFrame) -> DataFrame:
    """Last-write-wins per-key state materialization via
    applyInPandasWithState: GroupState carries (rows seen, latest
    (ts, event_id) key, its value) per user and each micro-batch
    emits the refreshed state row — the arbitrary-stateful building
    block behind streaming materialized views / CDC latest-value
    caches. The state transition is ORDER-INSENSITIVE across and
    within batches (max over a totally ordered key), so the final
    state is independent of how the source files split into
    micro-batches — which is what makes it differentially
    certifiable against a batch aggregate."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    out_schema = (
        "user_id bigint, n_seen bigint, last_ts_us bigint, "
        "last_val double"
    )
    state_schema = "n bigint, ts_us bigint, eid bigint, val double"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            n, ts_us, eid, val = state.get
        else:
            n, ts_us, eid, val = 0, -1, -1, 0.0
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            t = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
            e = pdf["event_id"].to_numpy()
            i = int(np.lexsort((e, t))[-1])  # argmax of (ts, event_id)
            if (int(t[i]), int(e[i])) > (ts_us, eid):
                ts_us, eid = int(t[i]), int(e[i])
                val = float(pdf["value"].iloc[i])
        state.update((n, ts_us, eid, val))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_seen": [n],
                "last_ts_us": [ts_us],
                "last_val": [val],
            }
        )

    # NoTimeout: ProcessingTimeTimeout deadlocks under availableNow.
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", "NoTimeout"
        )
    )


def leaderboard_state(events: DataFrame) -> DataFrame:
    """Keyed cumulative-score state via applyInPandasWithState:
    GroupState carries, PER USER, parallel arrays of (event_type,
    events seen, int64 1e-4-tick value sum) and each micro-batch
    emits the refreshed (user, type) rows — the arbitrary-stateful
    substrate of a streaming leaderboard (top-k itself happens in a
    batch post-pass over the emissions: bounded-state streaming top-k
    with eviction is NOT certifiable, because evicted keys cannot
    re-enter when batch boundaries shift).

    Keying by user (not (user, type)) matters operationally: the
    Python update fn runs once per KEY GROUP per micro-batch, and the
    event-type domain is bounded (~5), so per-user parallel arrays
    cut the Python crossings 5x — measured 98 s -> 9.7 s at sf0.01 for
    the identical final state.

    Certifiability: integer tick addition is commutative/associative,
    so the FINAL per-(user, type) state is independent of micro-batch
    split and arrival order; n_seen is strictly increasing per
    (user, type), making `max_by(ticks, n_seen)` a deterministic
    final-state selector. State is one bounded row per user."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    out_schema = (
        "event_type string, user_id bigint, n_seen bigint, ticks bigint"
    )
    state_schema = (
        "types array<string>, ns array<bigint>, ticks array<bigint>"
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            types, ns, ticks = state.get
            acc = {t: [int(n), int(tk)] for t, n, tk in zip(types, ns, ticks)}
        else:
            acc = {}
        for pdf in pdfs:
            if not len(pdf):
                continue
            v = pdf["value"].to_numpy()
            t = (np.floor(np.abs(v) * 10000.0 + 0.5) * np.sign(v)).astype(
                "int64"
            )
            g = pd.DataFrame({"et": pdf["event_type"], "tk": t}).groupby("et")
            for et, grp in g:
                a = acc.setdefault(et, [0, 0])
                a[0] += len(grp)
                a[1] += int(grp["tk"].sum())
        items = sorted(acc.items())
        state.update((
            [t for t, _ in items],
            [a[0] for _, a in items],
            [a[1] for _, a in items],
        ))
        yield pd.DataFrame(
            {
                "event_type": [t for t, _ in items],
                "user_id": [key[0]] * len(items),
                "n_seen": [a[0] for _, a in items],
                "ticks": [a[1] for _, a in items],
            }
        )

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", "NoTimeout"
        )
    )
