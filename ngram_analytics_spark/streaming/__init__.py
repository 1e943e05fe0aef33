"""Structured Streaming surface: file-source streams over the events
table, watermarked windowed aggregation, streaming dedup, and a custom
stateful operator via applyInPandasWithState.

Correctness definition = batch-stream parity: the same window
expressions run in ngram_analytics_spark.queries.timeseries_q in batch
mode (DuckDB-oracled); here they run under ``readStream`` with an
``availableNow`` trigger and must converge to the batch answer
(tests/test_streaming.py). DuckDB has no streaming — these are
smoke/parity checked, not SQL-oracled, by design (SURVEY.md §2.B).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ngram_analytics_spark import catalog


def _stage(sf_dir: str, name: str, prefix: str) -> str:
    """Scratch directory of symlinks to table ``name``'s data files.

    Spark's file stream source requires a *directory*; the testdata dir
    mixes all tables, so stage a scratch dir holding a symlink to each
    data file (read-only testdata is never touched). The generated
    corpora ship a table as a single FILE; a Spark-written table is a
    DIRECTORY of part files the file source won't recurse into through
    one symlink, so those are staged individually.
    """
    import hashlib
    import os
    import tempfile

    # abspath: a relative sf_dir would otherwise create a symlink that
    # resolves relative to the scratch dir (broken), and the broken
    # link fails os.path.exists yet still collides on re-create.
    src = os.path.abspath(catalog.table_path(sf_dir, name))
    tag = hashlib.sha1(src.encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"{prefix}-{tag}")
    os.makedirs(stage, exist_ok=True)
    if os.path.isdir(src):
        # drop a single symlink named after the source DIRECTORY (an
        # older staging layout) — inert today (the file source ignores
        # directory links) but a recursion/listing change would
        # double-read it
        legacy = os.path.join(stage, os.path.basename(src))
        if os.path.lexists(legacy):
            os.remove(legacy)
        parts = [
            os.path.join(src, fn)
            for fn in sorted(os.listdir(src))
            if fn.endswith(".parquet")
        ]
    else:
        parts = [src]
    for p in parts:
        link = os.path.join(stage, os.path.basename(p))
        if os.path.lexists(link) and os.path.realpath(link) != p:
            os.remove(link)
        if not os.path.lexists(link):
            os.symlink(p, link)
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
    stage = _stage(sf_dir, "events", "nas-stream")
    return catalog.read_stream(spark, sf_dir, "events", stage)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (the streaming
    twin of catalog.load("documents")). Documents carry no timestamps,
    so the stream schema is fixed."""
    stage = _stage(sf_dir, "documents", "nas-docstream")
    schema = (
        "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    return spark.readStream.schema(schema).parquet(stage)


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


#: per-stream timing splits appended by run_to_memory, in call order.
#: bench.py snapshots the list length around each timed query and
#: attributes new entries to it (VERDICT r11 item 5: the ~1.3-4.3 s
#: fixed micro-batch startup was masking real processing regressions
#: in the extended bench — the split makes them visible).  Each entry:
#: {"name", "wall_s", "process_s" (sum of triggerExecution across
#: micro-batches), "startup_s" (wall - process: plan/compile/source
#: listing/sink setup), "n_batches"}.
STREAM_RUNS: list[dict] = []


def stream_state_partitions(spark: SparkSession) -> int:
    """State-store partition count pinned at stream birth (VERDICT
    r14 item 4). Stateful streaming disables AQE, so the stream runs
    with the raw ``spark.sql.shuffle.partitions`` forever (the count
    is checkpoint-pinned); every micro-batch then pays a fixed
    per-partition state-store load/commit cost. For availableNow
    file-per-trigger streams the batches are many and small, so that
    fixed cost dominates raw parallelism: cores/2 was decisively
    fastest in the r15 interleaved A/B (local[32], min-of-5 walls —
    leaderboard 2.93->2.25 s, lww 1.85->1.60, reach 1.82->1.24 at 16
    partitions vs 32; processing splits move the same way).

    The count stays CORES-DERIVED (defaultParallelism // 2), never
    a constant, so an 8-core driver run gets 4 and a 1000-core
    cluster gets 500."""
    return max(1, spark.sparkContext.defaultParallelism // 2)


def run_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> None:
    """Drive a streaming query to completion on the available data
    (availableNow trigger) into an in-memory sink table; record the
    startup-vs-processing wall split in STREAM_RUNS. State partitions
    are sized by :func:`stream_state_partitions` for the duration of
    the stream (the conf is read once at query start; restored
    after)."""
    import time

    sess = stream_df.sparkSession
    prev_parts = sess.conf.get("spark.sql.shuffle.partitions")
    sess.conf.set(
        "spark.sql.shuffle.partitions",
        str(stream_state_partitions(sess)),
    )
    t0 = time.perf_counter()
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        sess.conf.set("spark.sql.shuffle.partitions", prev_parts)
    wall = time.perf_counter() - t0
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
            "name": query_name,
            "wall_s": round(wall, 3),
            "process_s": round(process, 3),
            "startup_s": round(max(0.0, wall - process), 3),
            "n_batches": n_batches,
        }
    )
    # bounded diagnostics: a long-lived session driving thousands of
    # streams must not accumulate records forever (bench snapshots
    # list offsets within one run, far below this cap)
    if len(STREAM_RUNS) > 4096:
        del STREAM_RUNS[:-2048]


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
