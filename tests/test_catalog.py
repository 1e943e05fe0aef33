"""Catalog: schemas and spread layouts resolved once per file
identity, derived copies published whole, session confs set once per
session. (Both ``events.ts`` layouts, batch and stream:
tests/test_streaming.py.)"""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pytest

from ngram_analytics_spark import catalog
from ngram_analytics_spark import sources as S
from ngram_analytics_spark import telemetry
from tests.conftest import SF_CORRECT, SF_SMOKE


def _jobs_in(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` submits, counted by the package's job counter."""
    with telemetry.job_group(spark, group, group):
        fn()
    return len(telemetry.jobs_of(spark, group)[group])


def test_second_load_submits_no_job(spark, tmp_path):
    sf = str(tmp_path)
    S.write(catalog.load(spark, SF_SMOKE, "nation"), catalog.table_path(sf, "nation"))
    cold = _jobs_in(spark, "catalog-cold", lambda: catalog.load(spark, sf, "nation"))
    warm = _jobs_in(spark, "catalog-warm", lambda: catalog.load(spark, sf, "nation"))
    assert cold >= 1, "schema inference should run a job on the first load"
    assert warm == 0


def test_rewrite_and_append_invalidate_schema(spark, tmp_path):
    from pyspark.sql import functions as F

    sf = str(tmp_path)
    path = catalog.table_path(sf, "nation")
    nation = catalog.load(spark, SF_SMOKE, "nation")
    n = nation.count()
    S.write(nation.select("n_nationkey", "n_name"), path)
    first = catalog.load(spark, sf, "nation")
    assert first.columns == ["n_nationkey", "n_name"]
    assert first.count() == n

    # rewrite with a new column and fewer rows
    S.write(
        nation.filter(F.col("n_nationkey") < 5).withColumn("extra", F.lit(7)),
        path,
    )
    second = catalog.load(spark, sf, "nation")
    assert second.columns[-1] == "extra"
    assert second.count() == 5
    assert {r.extra for r in second.collect()} == {7}

    # append more rows of the same shape
    S.write(
        nation.filter(F.col("n_nationkey") >= 5).withColumn("extra", F.lit(8)),
        path,
        mode="append",
    )
    third = catalog.load(spark, sf, "nation")
    assert third.count() == n
    assert sorted({r.extra for r in third.collect()}) == [7, 8]


def test_self_join_of_two_loads_resolves(spark):
    a = catalog.load(spark, SF_SMOKE, "nation")
    b = catalog.load(spark, SF_SMOKE, "nation")
    got = a.join(b, a.n_regionkey == b.n_regionkey).select(
        a.n_nationkey, b.n_nationkey.alias("other")
    )
    per_region: dict[int, int] = {}
    for r in a.collect():
        per_region[r.n_regionkey] = per_region.get(r.n_regionkey, 0) + 1
    assert got.count() == sum(c * c for c in per_region.values())


def test_session_confs_set_once_per_session(spark):
    """A session the catalog has not seen gets UTC and nanosAsLong on
    its first load; later loads leave its confs alone."""
    tz = "spark.sql.session.timeZone"
    other = spark.newSession()
    other.conf.set(tz, "America/New_York")
    catalog.load(other, SF_SMOKE, "region")
    assert other.conf.get(tz) == "UTC"
    assert other.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    other.conf.set(tz, "Asia/Tokyo")
    catalog.load(other, SF_SMOKE, "region")
    assert other.conf.get(tz) == "Asia/Tokyo"


def test_pin_keeps_batch_partitions_and_halves_stream_state(spark, tmp_path):
    """The pin moves a session's shuffle partition count to AQE's
    initial partition number, where batch plans read it, and leaves
    half the default parallelism in ``spark.sql.shuffle.partitions``
    for stateful streams, which run with AQE off."""
    import re

    from ngram_analytics_spark import streaming

    other = spark.newSession()
    other.conf.set("spark.sql.shuffle.partitions", "200")
    events = catalog.load(other, SF_SMOKE, "events")
    plan = (
        events.groupBy("event_type").count()
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert re.search(r"hashpartitioning\(event_type#\d+, 200\)", plan), plan

    want = max(1, other.sparkContext.defaultParallelism // 2)
    q = (
        streaming.tumbling_counts(streaming.read_events_stream(other, SF_SMOKE))
        .writeStream.outputMode("complete")
        .format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ops = [op for p in q.recentProgress for op in p["stateOperators"]]
    assert ops
    assert {op["numShufflePartitions"] for op in ops} == {want}


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


@pytest.mark.parametrize("uri", [False, True])
def test_spread_load_is_cores_wide_with_the_same_rows(spark, uri):
    """The single-row-group documents file scans as one split; its
    spread load scans as at least ``defaultParallelism`` and holds the
    same rows: the catalog's copy, or a repartition of a table it
    cannot stat (a URI)."""
    sf = f"file://{SF_SMOKE}" if uri else SF_SMOKE
    plain = catalog.load(spark, sf, "documents")
    wide = catalog.load(spark, sf, "documents", spread=True)
    assert plain.rdd.getNumPartitions() == 1
    assert wide.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert wide.schema == plain.schema
    assert _rows(wide) == _rows(plain)


def _copy_documents(sf) -> str:
    """A corpus at ``sf`` holding a copy of the smoke ``documents``,
    under a file identity no load has seen."""
    os.makedirs(sf, exist_ok=True)
    shutil.copy(catalog.table_path(SF_SMOKE, "documents"),
                catalog.table_path(str(sf), "documents"))
    return str(sf)


def test_second_spread_load_submits_no_job(spark, tmp_path):
    sf = _copy_documents(tmp_path)

    def spread_load():
        catalog.load(spark, sf, "documents", spread=True)

    cold = _jobs_in(spark, "spread-cold", spread_load)
    warm = _jobs_in(spark, "spread-warm", spread_load)
    assert cold >= 1, "the first spread load writes the copy"
    assert warm == 0


def test_spread_load_follows_a_rewritten_table(spark, tmp_path):
    from pyspark.sql import functions as F

    sf = str(tmp_path)
    path = catalog.table_path(sf, "documents")
    docs = catalog.load(spark, SF_SMOKE, "documents")
    S.write(docs, path)
    assert _rows(catalog.load(spark, sf, "documents", spread=True)) == _rows(docs)
    fewer = docs.filter(F.col("doc_id") % 3 == 0)
    S.write(fewer, path)
    assert _rows(catalog.load(spark, sf, "documents", spread=True)) == _rows(fewer)


def test_concurrent_first_spread_loads_publish_one_copy(spark, scratch_tmp, tmp_path):
    """Two threads that make the same copy at once both read the whole
    copy, and one directory is left, with no temporary ones."""
    import threading

    sf = _copy_documents(tmp_path / "sf")
    barrier = threading.Barrier(2)
    got: list = [None, None]

    def first_load(i):
        barrier.wait()
        got[i] = _rows(catalog.load(spark, sf, "documents", spread=True))

    threads = [threading.Thread(target=first_load, args=(i,)) for i in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert got[0] is not None and got[0] == got[1]
    assert got[0] == _rows(catalog.load(spark, SF_SMOKE, "documents"))
    root = scratch_tmp / f"nas-scratch-{os.getpid()}"
    (entry,) = os.listdir(root)
    assert entry.startswith("spread") and ".tmp-" not in entry, entry


def test_publish_loser_keeps_the_winner_copy(tmp_path):
    """A caller whose rename finds the copy published meanwhile removes
    its own directory and returns the published one untouched."""
    dest = tmp_path / "copy"

    def fill(text):
        def write(tmp):
            os.makedirs(tmp)
            with open(os.path.join(tmp, "part"), "w") as fh:
                fh.write(text)
        return write

    def loser(tmp):
        fill("loser")(tmp)
        catalog.publish(str(dest), fill("winner"))

    assert catalog.publish(str(dest), loser) == str(dest)
    assert (dest / "part").read_text() == "winner"
    assert os.listdir(tmp_path) == ["copy"]
    # a published copy is not written again
    assert catalog.publish(str(dest), fill("again")) == str(dest)
    assert (dest / "part").read_text() == "winner"


@pytest.fixture
def scratch_tmp(monkeypatch, tmp_path):
    """An empty temp dir that ``catalog.scratch`` has not set up yet."""
    import tempfile

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    return tmp


def test_scratch_root_is_the_process_own_under_tempdir(scratch_tmp):
    path = catalog.scratch("runs", SF_SMOKE)
    root = scratch_tmp / f"nas-scratch-{os.getpid()}"
    assert os.path.dirname(path) == str(root)
    assert os.path.basename(path).startswith("runs-")
    assert root.is_dir()
    assert not os.path.exists(path)  # only the root is created


def test_scratch_path_moves_only_with_its_tables(scratch_tmp, tmp_path):
    sf = tmp_path / "sf0.001"
    sf.mkdir()
    for t in ("orders", "lineitem"):
        shutil.copy(catalog.table_path(SF_SMOKE, t), sf / f"{t}.parquet")
    first = catalog.scratch("copy", str(sf), "orders")
    assert catalog.scratch("copy", str(sf), "orders") == first
    assert catalog.scratch("other", str(sf), "orders") != first
    # another corpus of the same name is another copy
    assert catalog.scratch("copy", SF_SMOKE, "orders") != first

    # rewriting a table it does not name leaves the path alone
    shutil.copy(sf / "lineitem.parquet", tmp_path / "li.new")
    os.replace(tmp_path / "li.new", sf / "lineitem.parquet")
    assert catalog.scratch("copy", str(sf), "orders") == first
    # rewriting one it names moves it
    shutil.copy(sf / "orders.parquet", tmp_path / "o.new")
    os.replace(tmp_path / "o.new", sf / "orders.parquet")
    second = catalog.scratch("copy", str(sf), "orders")
    assert second != first
    assert catalog.scratch("copy", str(sf), "orders") == second


def test_scratch_reaps_roots_of_exited_processes(scratch_tmp):
    import subprocess
    import sys

    done = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    dead = scratch_tmp / f"nas-scratch-{int(done.stdout)}"
    live = scratch_tmp / f"nas-scratch-{os.getppid()}"
    other = scratch_tmp / "nas-scratch-notapid"
    for d in (dead, live, other):
        (d / "copy-0").mkdir(parents=True)
    catalog.scratch("runs", SF_SMOKE)
    assert not dead.exists()
    assert live.is_dir() and other.is_dir()


def test_derived_copies_follow_rewritten_tables(spark, registry, tmp_path):
    """The partitioned and bucketed copies of orders and lineitem are
    rebuilt when those tables are rewritten in place: every key that
    reads a copy matches its oracle before and after the rewrite."""
    import duckdb

    from ngram_analytics_spark.testing import compare, duck_result, spark_result

    sf = tmp_path / "sf"
    shutil.copytree(SF_SMOKE, sf)
    os.chmod(sf, 0o755)
    keys = ("q_scan_partitioned", "q_join_dpp", "q_join_bucketed")
    con = duckdb.connect()
    try:
        for t in catalog.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{catalog.table_path(str(sf), t)}')")

        def check(when):
            for k in keys:
                got = spark_result(registry.queries[k](spark, str(sf)))
                problems = compare(*got, *duck_result(con, registry.oracles[k]))
                assert not problems, f"{k} {when}: " + "\n".join(problems)

        check("before the rewrite")
        for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            path = catalog.table_path(str(sf), t)
            new = str(tmp_path / f"{t}.new.parquet")
            con.execute(f"COPY (SELECT * FROM read_parquet('{path}') "
                        f"WHERE {key} % 2 = 0) TO '{new}' (FORMAT parquet)")
            os.replace(new, path)
        check("after the rewrite")
    finally:
        con.close()


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CORRECT])
def test_lineitem_partkey_references_part(sf_dir):
    """q_basket_lift counts its order total over lineitem rows joined to
    part; that equals the count over all of lineitem only while every
    l_partkey has a part row."""
    import duckdb

    if not os.path.isdir(sf_dir):
        pytest.skip(f"corpus {sf_dir!r} not present on this host")
    con = duckdb.connect()
    try:
        dangling = con.execute(
            f"SELECT count(*) FROM read_parquet('{sf_dir}/lineitem.parquet') l"
            f" ANTI JOIN read_parquet('{sf_dir}/part.parquet') p"
            " ON l.l_partkey = p.p_partkey"
        ).fetchone()[0]
    finally:
        con.close()
    assert dangling == 0
