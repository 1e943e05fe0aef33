"""Structured Streaming smoke + batch-stream parity tests.

Parity is the correctness definition: the streaming answer on a finite
file source (availableNow) must equal the batch answer (SURVEY.md §5.2).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ngram_analytics_spark import streaming as S
from ngram_analytics_spark.catalog import load
from tests.conftest import SF_SMOKE


def test_tumbling_batch_stream_parity(spark):
    stream = S.tumbling_counts(S.read_events_stream(spark, SF_SMOKE))
    out = S.run_to_memory(stream, output_mode="complete")
    got = {(r.win_start, r.event_type): r.n for r in out.collect()}

    batch = (
        load(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
        )
    )
    want = {(r.win_start, r.event_type): r.n for r in batch.collect()}
    assert got == want
    assert len(got) > 0


def test_dedup_within_watermark_stream(spark):
    stream = S.dedup_within_watermark(S.read_events_stream(spark, SF_SMOKE))
    n = S.run_to_memory(stream, output_mode="append").count()
    n_batch = load(spark, SF_SMOKE, "events").select("event_id").distinct().count()
    assert n == n_batch


def test_stateful_running_counts(spark):
    stream = S.running_user_counts(S.read_events_stream(spark, SF_SMOKE))
    rows = (
        S.run_to_memory(stream, output_mode="update")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n"))
        .collect()
    )
    got = {r.user_id: r.n for r in rows}
    want = {
        r.user_id: r.n
        for r in load(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_watermark_drops_nothing_on_ordered_replay(spark):
    """availableNow over a single file: watermark present, no late data
    => row counts match the raw source."""
    stream = S.read_events_stream(spark, SF_SMOKE).withWatermark("ts", "10 minutes")
    n = S.run_to_memory(
        stream.select("event_id", "ts"), output_mode="append"
    ).count()
    assert n == load(spark, SF_SMOKE, "events").count()


def test_stream_stream_join_batch_parity(spark):
    """Stream-stream join (watermarked, time-bounded) must converge to
    the identical batch join on a finite source."""
    l_stream = S.read_events_stream(spark, SF_SMOKE)
    r_stream = S.read_events_stream(spark, SF_SMOKE)
    joined = S.stream_stream_join(l_stream, r_stream)
    out = S.run_to_memory(joined, output_mode="append")
    got = sorted((r.l_id, r.r_id) for r in out.collect())

    e = load(spark, SF_SMOKE, "events")
    batch = S.stream_stream_join(e, e)  # same helper works on batch frames
    want = sorted((r.l_id, r.r_id) for r in batch.collect())
    assert got == want
    assert len(got) > 0


def test_stream_stream_join_evicts_state(spark, tmp_path):
    """stream_stream_join's state is evicted: three files of 400
    events, each file an hour later than the one before, read one file
    per micro-batch. Spark removes join state rows as the watermark
    passes them, and the state left at the end is smaller than the
    rows fed to both sides."""
    import datetime as dt

    schema = "event_id long, ts timestamp, user_id long"
    src = str(tmp_path / "events_hourly")
    t0 = dt.datetime(2024, 1, 1)
    for f in range(3):
        ids = range(400 * f, 400 * (f + 1))
        rows = [
            (e, t0 + dt.timedelta(hours=f, seconds=9 * (e % 400)), e % 20)
            for e in ids
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def side():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    q = (
        S.stream_stream_join(side(), side())
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("join_eviction_pin")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
        spark.catalog.dropTempView("join_eviction_pin")
    state = [p["stateOperators"][0] for p in q.recentProgress if p["stateOperators"]]
    assert len(state) >= 3, state
    assert sum(s["numRowsRemoved"] for s in state) > 0, state
    assert state[-1]["numRowsTotal"] < 2 * 1200, state


def test_session_window_batch_stream_parity(spark):
    stream = S.session_counts(S.read_events_stream(spark, SF_SMOKE))
    out = S.run_to_memory(stream, output_mode="complete")
    got = {(r.user_id, r.s_start): r.n for r in out.collect()}
    batch = S.session_counts(load(spark, SF_SMOKE, "events"))
    want = {(r.user_id, r.s_start): r.n for r in batch.collect()}
    assert got == want
    assert len(got) > 0


def test_read_events_stream_adapts_to_both_ts_layouts(spark, tmp_path):
    """The driver has shipped events.ts as TIMESTAMP(NANOS) (surfaced
    long) and as TIMESTAMP(MICROS); the batch loader and the stream
    reader must both normalize them to ``timestamp`` and the same
    instants. Synthesize a tiny events file in each layout and pin the
    decoded timestamps."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = {
        "event_id": [1, 2],
        "user_id": [10, 20],
        "event_type": ["a", "b"],
        "value": [1.0, 2.0],
        "props": ["{}", "{}"],
    }
    us = [1704067200_000_000, 1704067260_000_000]  # 2024-01-01 00:00/ :01
    for unit, vals in (("us", us), ("ns", [v * 1000 for v in us])):
        d = dict(base)
        d["ts"] = pa.array(vals, type=pa.timestamp(unit))
        sf_dir = tmp_path / f"layout_{unit}"
        sf_dir.mkdir()
        pq.write_table(
            pa.table(
                {k: d[k] for k in
                 ("event_id", "ts", "user_id", "event_type", "value",
                  "props")}
            ),
            sf_dir / "events.parquet",
        )
        want = {1: "2024-01-01 00:00:00", 2: "2024-01-01 00:01:00"}
        batch = load(spark, str(sf_dir), "events")
        stream = S.read_events_stream(spark, str(sf_dir))
        assert dict(batch.dtypes)["ts"] == "timestamp"
        assert dict(stream.dtypes)["ts"] == "timestamp"
        streamed = S.run_to_memory(
            stream.select("event_id", "ts"), output_mode="append"
        )
        for kind, got in (("batch", batch), ("stream", streamed)):
            rows = {
                r.event_id: r.ts.strftime("%Y-%m-%d %H:%M:%S")
                for r in got.collect()
            }
            assert rows == want, f"layout {unit}, {kind}: {rows}"


def test_lww_state_invariant_to_batch_splits(spark, tmp_path):
    """lww_state's FINAL state must not depend on micro-batch
    boundaries: split the event log into 4 files hashed by event_id
    (deliberately not time-ordered), stream them one file per
    micro-batch, and require the final per-user state to equal the
    batch aggregate — the invariance q_stream_live_lww's oracle
    certification relies on (grading streams the single-file layout
    in one batch; this pins the multi-batch case)."""
    e = load(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "events_split")
    (
        e.withColumn("_p", (F.col("event_id") % 4).cast("int"))
        .repartition(4, "_p")
        .drop("_p")
        .write.parquet(src)
    )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    final = (
        S.run_to_memory(S.lww_state(stream), output_mode="update")
        .groupBy("user_id")
        .agg(
            F.max("n_seen").alias("n"),
            F.max_by("last_ts_us", "n_seen").alias("ts_us"),
            F.max_by("last_val", "n_seen").alias("val"),
        )
        .collect()
    )
    got = {r.user_id: (r.n, r.ts_us, r.val) for r in final}
    want = {
        r.user_id: (r.n, r.ts_us, r.val)
        for r in e.withColumn(
            "_k",
            F.concat(
                F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
                F.lpad(F.col("event_id").cast("string"), 12, "0"),
            ),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.unix_micros(F.max("ts")).alias("ts_us"),
            F.max_by("value", F.col("_k")).alias("val"),
        )
        .collect()
    }
    assert got == want


def test_leaderboard_state_invariant_to_batch_splits(spark, tmp_path):
    """leaderboard_state's FINAL per-(user, type) state must not
    depend on micro-batch boundaries: stream a 4-file event_id-hashed
    split (not time-ordered) one file per micro-batch and require the
    final cumulative (n, ticks) to equal the batch aggregate — the
    invariance q_stream_live_leaderboard's oracle relies on."""
    e = load(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "events_split_lb")
    (
        e.withColumn("_p", (F.col("event_id") % 4).cast("int"))
        .repartition(4, "_p")
        .drop("_p")
        .write.parquet(src)
    )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    final = (
        S.run_to_memory(S.leaderboard_state(stream), output_mode="update")
        .groupBy("event_type", "user_id")
        .agg(
            F.max("n_seen").alias("n"),
            F.max_by("ticks", "n_seen").alias("ticks"),
        )
        .collect()
    )
    got = {(r.event_type, r.user_id): (r.n, r.ticks) for r in final}
    ticks = (
        F.floor(F.abs("value") * 10000.0 + F.lit(0.5)).cast("long")
        * F.signum("value").cast("long")
    )
    want = {
        (r.event_type, r.user_id): (r.n, r.ticks)
        for r in e.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"), F.sum(ticks).alias("ticks"))
        .collect()
    }
    assert got == want


def test_run_to_memory_records_timing_split(spark):
    """VERDICT r11 item 5: every run_to_memory drive must append ONE
    STREAM_RUNS record whose startup + process partition the measured
    wall, tagged with the caller's job group (``telemetry.run_query``
    attributes these to the q_stream_live_* keys so the fixed
    micro-batch startup stops masking processing regressions)."""
    from ngram_analytics_spark.telemetry import job_group

    mark = len(S.STREAM_RUNS)
    stream = S.tumbling_counts(S.read_events_stream(spark, SF_SMOKE))
    with job_group(spark, "split-pin", "split pin"):
        out = S.run_to_memory(stream, output_mode="complete")
    new = S.STREAM_RUNS[mark:]
    assert len(new) == 1
    r = new[0]
    assert r["job_group"] == "split-pin"
    # the record names the sink the returned frame reads
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert f"SubqueryAlias {r['name']}\n" in analyzed, analyzed
    assert r["n_batches"] >= 1
    assert r["process_s"] > 0
    assert r["startup_s"] >= 0
    assert abs((r["startup_s"] + r["process_s"]) - r["wall_s"]) < 0.002


@pytest.mark.parametrize("fails", [False, True], ids=["live_key", "raising"])
def test_run_to_memory_leaves_no_checkpoint(spark, registry, fails):
    """Every run checkpoints into a scratch directory of its own and
    removes it: a run leaves no ``temporary-*`` checkpoint of Spark's
    under ``java.io.tmpdir`` and nothing under the scratch root, also
    when its stream raises."""
    import os

    from ngram_analytics_spark import catalog

    jtmp = spark._jvm.java.lang.System.getProperty("java.io.tmpdir")
    root = os.path.dirname(catalog.scratch("probe", SF_SMOKE))

    def left():
        temporary = {e for e in os.listdir(jtmp) if e.startswith("temporary-")}
        ours = {e for e in os.listdir(root) if e.startswith("nas_sink_")}
        return temporary, ours

    before = left()
    if fails:
        stream = S.read_events_stream(spark, SF_SMOKE).select(
            F.assert_true(F.col("event_id") < 0).alias("never")
        )
        with pytest.raises(Exception, match="event_id"):
            S.run_to_memory(stream, output_mode="append")
    else:
        assert registry.queries["q_stream_live_tumbling"](spark, SF_SMOKE).count()
    temporary, ours = left()
    assert temporary <= before[0], temporary - before[0]
    assert not ours, ours


@pytest.mark.parametrize("stage", ["warm", "cold"])
def test_live_streams_share_one_session(
    spark, duck, registry, stage, monkeypatch, tmp_path
):
    """Two threads released together run live keys on one session:
    q_stream_live_tumbling twice and q_stream_live_dedup once, each
    once directly and once through ``telemetry.run_query``. Every run
    gets its own sink and matches its oracle, each runner record lists
    exactly the stream its own call ran, and the session's shuffle
    partition count is the same afterwards. ``cold`` points the temp
    dir at an empty one, so both threads stage the events table at the
    same moment."""
    import tempfile
    import threading

    from ngram_analytics_spark.telemetry import run_query
    from ngram_analytics_spark.testing import compare, duck_result, spark_result

    if stage == "cold":
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    plans = (
        ["q_stream_live_tumbling", "q_stream_live_dedup"],
        ["q_stream_live_tumbling"],
    )
    barrier = threading.Barrier(len(plans), timeout=120)
    results, records, errors = [], [], []

    def drive(keys):
        try:
            barrier.wait()
            for k in keys:
                results.append((k, spark_result(registry.queries[k](spark, SF_SMOKE))))
                records.append(run_query(spark, k, SF_SMOKE))
        except Exception as e:  # reported below, in the test's thread
            errors.append(f"{keys}: {type(e).__name__}: {e}")

    threads = [threading.Thread(target=drive, args=(p,)) for p in plans]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads), "a stream did not finish"
    assert not errors, errors
    assert sorted(k for k, _ in results) == sorted(sum(plans, []))
    for k, (scols, srows) in results:
        problems = compare(scols, srows, *duck_result(duck, registry.oracles[k]))
        assert not problems, f"{k}: " + "\n".join(problems)
        assert srows, k
    assert sorted(r["key"] for r in records) == sorted(sum(plans, []))
    for r in records:
        assert [s["job_group"] for s in r["streams"]] == [r["groups"]["construct"]], r
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
