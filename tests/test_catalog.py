"""Catalog: schemas resolved once per file identity, session confs set
once per session. (Both ``events.ts`` layouts, batch and stream:
tests/test_streaming.py.)"""

from __future__ import annotations

import os
import time

import pytest

from ngram_analytics_spark import catalog
from ngram_analytics_spark import sources as S
from tests.conftest import SF_CORRECT, SF_SMOKE


def _jobs_in(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` submits, counted from the status tracker. A
    marker job in a second group runs afterwards; the listener bus is
    FIFO, so once the marker is visible every job of ``fn`` is too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup(group, group)
        fn()
        sc.setJobGroup(f"{group}-marker", group)
        sc.parallelize([0], 1).count()
    finally:
        sc._jsc.clearJobGroup()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(f"{group}-marker"):
        assert time.time() < deadline, "marker job never reached the tracker"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


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
