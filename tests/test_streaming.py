"""Structured Streaming smoke + batch-stream parity tests.

Parity is the correctness definition: the streaming answer on a finite
file source (availableNow) must equal the batch answer (SURVEY.md §5.2).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ngram_analytics_spark import streaming as S
from ngram_analytics_spark.catalog import load
from tests.conftest import SF_SMOKE


def test_tumbling_batch_stream_parity(spark):
    stream = S.tumbling_counts(S.read_events_stream(spark, SF_SMOKE))
    S.run_to_memory(stream, "t_tumbling", output_mode="complete")
    got = {
        (r.win_start, r.event_type): r.n
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }

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
    S.run_to_memory(stream, "t_dedup", output_mode="append")
    n = spark.sql("SELECT count(*) AS n FROM t_dedup").collect()[0].n
    n_batch = load(spark, SF_SMOKE, "events").select("event_id").distinct().count()
    assert n == n_batch


def test_stateful_running_counts(spark):
    stream = S.running_user_counts(S.read_events_stream(spark, SF_SMOKE))
    S.run_to_memory(stream, "t_state", output_mode="update")
    rows = spark.sql(
        "SELECT user_id, max(n_events) AS n FROM t_state GROUP BY user_id"
    ).collect()
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
    S.run_to_memory(
        stream.select("event_id", "ts"), "t_passthru", output_mode="append"
    )
    n = spark.sql("SELECT count(*) AS n FROM t_passthru").collect()[0].n
    assert n == load(spark, SF_SMOKE, "events").count()


def test_stream_stream_join_batch_parity(spark):
    """Stream-stream join (watermarked, time-bounded) must converge to
    the identical batch join on a finite source."""
    l_stream = S.read_events_stream(spark, SF_SMOKE)
    r_stream = S.read_events_stream(spark, SF_SMOKE)
    joined = S.stream_stream_join(l_stream, r_stream)
    S.run_to_memory(joined, "t_ss_join", output_mode="append")
    got = sorted(
        (r.l_id, r.r_id)
        for r in spark.sql("SELECT l_id, r_id FROM t_ss_join").collect()
    )

    e = load(spark, SF_SMOKE, "events")
    batch = S.stream_stream_join(e, e)  # same helper works on batch frames
    want = sorted((r.l_id, r.r_id) for r in batch.collect())
    assert got == want
    assert len(got) > 0


def test_session_window_batch_stream_parity(spark):
    stream = S.session_counts(S.read_events_stream(spark, SF_SMOKE))
    S.run_to_memory(stream, "t_session", output_mode="complete")
    got = {
        (r.user_id, r.s_start): r.n
        for r in spark.sql("SELECT * FROM t_session").collect()
    }
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
        name = f"t_layout_{unit}"
        S.run_to_memory(
            stream.select("event_id", "ts"), name, output_mode="append"
        )
        for kind, got in (("batch", batch), ("stream", spark.table(name))):
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
    S.run_to_memory(S.lww_state(stream), "t_lww_split", output_mode="update")
    final = spark.sql(
        """
        SELECT user_id,
               max(n_seen) AS n,
               max_by(last_ts_us, n_seen) AS ts_us,
               max_by(last_val, n_seen) AS val
        FROM t_lww_split GROUP BY user_id
        """
    ).collect()
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
    S.run_to_memory(
        S.leaderboard_state(stream), "t_lb_split", output_mode="update"
    )
    final = spark.sql(
        """
        SELECT event_type, user_id,
               max(n_seen) AS n,
               max_by(ticks, n_seen) AS ticks
        FROM t_lb_split GROUP BY event_type, user_id
        """
    ).collect()
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
    wall (bench.py attributes these to the q_stream_live_* keys so the
    fixed micro-batch startup stops masking processing regressions)."""
    mark = len(S.STREAM_RUNS)
    stream = S.tumbling_counts(S.read_events_stream(spark, SF_SMOKE))
    S.run_to_memory(stream, "t_split_pin", output_mode="complete")
    new = S.STREAM_RUNS[mark:]
    assert len(new) == 1
    r = new[0]
    assert r["name"] == "t_split_pin"
    assert r["n_batches"] >= 1
    assert r["process_s"] > 0
    assert r["startup_s"] >= 0
    assert abs((r["startup_s"] + r["process_s"]) - r["wall_s"]) < 0.002
