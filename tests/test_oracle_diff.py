"""Oracle differential tests: every declared query vs its DuckDB oracle
at sf0.001 (the driver runs the same comparison at sf0.01 — run
``python tools/diffcheck.py /root/testdata/sf0.01`` before shipping).
"""

from __future__ import annotations

import pytest

from ngram_analytics_spark.testing import compare, duck_result, spark_result
from tests.conftest import SF_SMOKE


def _keys():
    from ngram_analytics_spark.queries import build_registry

    return sorted(build_registry().queries)


@pytest.mark.parametrize("name", _keys())
def test_query_matches_oracle(spark, duck, registry, name):
    fn = registry.queries[name]
    scols, srows = spark_result(fn(spark, SF_SMOKE))
    if name not in registry.oracles:
        assert len(srows) >= 0  # rows-only query: smoke execution
        return
    dcols, drows = duck_result(duck, registry.oracles[name])
    problems = compare(scols, srows, dcols, drows)
    assert not problems, f"{name}: " + "\n".join(problems)
    assert len(srows) > 0, f"{name}: oracle query returned 0 rows (weak test)"


def test_registry_order_is_merge_order(registry, monkeypatch):
    """The registry's key order is a pure function of the code: each
    query module's keys in registration order, modules in merge order,
    the same on every call. Building it opens no file and starts no
    subprocess."""
    import builtins
    import importlib
    import subprocess

    from ngram_analytics_spark import queries as Q

    want = [
        key
        for mod in Q.MODULES
        for key in importlib.import_module(f"{Q.__name__}.{mod}").REG.queries
    ]
    assert list(registry.queries) == want

    def forbidden(*args, **kwargs):
        raise AssertionError("build_registry opened a file or a subprocess")

    monkeypatch.setattr(builtins, "open", forbidden)
    monkeypatch.setattr(subprocess, "Popen", forbidden)
    assert list(Q.build_registry().queries) == want


@pytest.mark.parametrize("name", _keys())
def test_query_schema_is_scalar_only(smoke_df, name):
    """The driver's pandas canonicalizer cannot hash composite cells
    (array/map/struct columns crash its sort — round-1 q_agg_collect).
    Every graded query must therefore emit scalar-typed columns only."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = smoke_df(name)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, f"{name}: composite output columns {bad}"
