from __future__ import annotations

import os

import pytest

#: corpus roots, overridable for non-container hosts (ADVICE r10);
#: tests that need a corpus should go through the `smoke_sf` fixture
#: (or check os.path.isdir themselves) so a missing layout skips
#: instead of erroring.
SF_SMOKE = os.environ.get("NAS_SF_SMOKE", "/root/testdata/sf0.001")
SF_CORRECT = os.environ.get("NAS_SF_CORRECT", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def smoke_sf() -> str:
    if not os.path.isdir(SF_SMOKE):
        pytest.skip(f"smoke corpus {SF_SMOKE!r} not present on this host")
    return SF_SMOKE


@pytest.fixture(scope="session")
def spark():
    from ngram_analytics_spark.session import get_spark

    s = get_spark(app_name="ngram-analytics-tests", master="local[8]")
    yield s


@pytest.fixture(scope="session")
def registry():
    from ngram_analytics_spark.queries import build_registry

    return build_registry()


@pytest.fixture(scope="session")
def smoke_df(spark, registry):
    """``smoke_df(key)``: the registered query's DataFrame over the
    smoke corpus, built on first use and shared for the session.

    Building a key's DataFrame in Python is most of the cost of the
    whole-registry schema check and plan lints, and they only read
    schemas and plans, so one build per key serves them all. Nothing
    runs these DataFrames: the lints read plans as planned, and the
    cache holds no broadcast or shuffle state. The oracle test builds
    and runs its own."""
    built = {}

    def get(name):
        if name not in built:
            built[name] = registry.queries[name](spark, SF_SMOKE)
        return built[name]

    return get


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from ngram_analytics_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()
