"""Source/sink round-trips + skew operator equivalence."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from ngram_analytics_spark import sources as S
from ngram_analytics_spark.catalog import load
from tests.conftest import SF_SMOKE


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_roundtrip_formats(spark, fmt):
    df = load(spark, SF_SMOKE, "nation")
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/out"
        S.write(df, path, fmt=fmt)
        schema = "n_nationkey int, n_name string, n_regionkey int"
        back = S.read(spark, path, fmt=fmt, schema=schema)
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, df.collect())
        )


def test_partitioned_write_prunes(spark):
    df = load(spark, SF_SMOKE, "orders").withColumn(
        "oyear", F.year("o_orderdate")
    )
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/orders_by_year"
        S.write(df, path, partition_by=["oyear"])
        back = spark.read.parquet(path).filter(F.col("oyear") == 1996)
        want = df.filter(F.col("oyear") == 1996).count()
        assert back.count() == want
        # partition pruning: the 1996 filter must not scan other years'
        # files — visible as PartitionFilters in the plan
        plan = back._jdf.queryExecution().toString()
        assert "PartitionFilters" in plan and "oyear" in plan


def test_lakehouse_connectors_gated(spark):
    with pytest.raises(NotImplementedError, match="[Dd]elta"):
        S.read_delta(spark, "/tmp/nope")
    with pytest.raises(NotImplementedError, match="Iceberg"):
        S.read_iceberg(spark, "nope.tbl")


def test_unsupported_format_rejected(spark):
    with pytest.raises(ValueError, match="unsupported format"):
        S.read(spark, "/tmp/x", fmt="avro")


def test_salted_join_equals_plain_join(spark):
    from ngram_analytics_spark.operators.skew import salted_join

    o = load(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, SF_SMOKE, "customer").select("c_custkey", "c_name")
    plain = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_custkey", "c_name"
    )
    salted = salted_join(o, c, "o_custkey", "c_custkey", n_salts=8).select(
        "o_orderkey", "c_custkey", "c_name"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_group_count_equals_plain(spark):
    from ngram_analytics_spark.operators.skew import salted_group_count

    li = load(spark, SF_SMOKE, "lineitem")
    got = {
        r.l_returnflag: r.n
        for r in salted_group_count(li, "l_returnflag", n_salts=8).collect()
    }
    want = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_binary_file_source_reads_blobs(spark):
    """binaryFile source: write a few blobs, read back path/length/content."""
    import os

    from ngram_analytics_spark.sources import read_binary_files

    with tempfile.TemporaryDirectory() as d:
        payloads = {f"img_{i}.bin": bytes([i]) * (10 + i) for i in range(3)}
        for name, data in payloads.items():
            with open(os.path.join(d, name), "wb") as f:
                f.write(data)
        df = read_binary_files(spark, d, glob="*.bin")
        rows = {os.path.basename(r.path): r for r in df.collect()}
        assert set(rows) == set(payloads)
        for name, data in payloads.items():
            assert rows[name].length == len(data)
            assert bytes(rows[name].content) == data


def test_text_source_lines_and_wholefile(spark):
    import os

    from ngram_analytics_spark.sources import read_text_lines

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "corpus.txt")
        with open(p, "w") as f:
            f.write("alpha beta\ngamma\n")
        lines = read_text_lines(spark, d)
        assert sorted(r.value for r in lines.collect()) == ["alpha beta", "gamma"]
        whole = read_text_lines(spark, d, whole_file=True)
        assert [r.value for r in whole.collect()] == ["alpha beta\ngamma\n"]


def test_compact_reduces_files_preserves_rows(spark):
    import os

    from ngram_analytics_spark.sources import compact

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/tbl"
        df = load(spark, SF_SMOKE, "orders")
        df.repartition(16).write.parquet(path)
        n_before = len([f for f in os.listdir(path) if f.startswith("part-")])
        assert n_before >= 16
        compact(spark, path, target_files=2)
        n_after = len([f for f in os.listdir(path) if f.startswith("part-")])
        assert n_after == 2
        back = spark.read.parquet(path)
        assert back.count() == df.count()
        assert sorted(back.columns) == sorted(df.columns)


def test_observe_metrics_no_extra_scan(spark):
    from ngram_analytics_spark.plans import observed

    df = load(spark, SF_SMOKE, "orders")
    obs, instrumented = observed(
        df, "checks", F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").isNull().cast("int")).alias("null_prices"),
    )
    got = instrumented.count()
    assert obs.get["n"] == got
    assert obs.get["null_prices"] == 0


def test_python_datasource_partitions_and_determinism(spark):
    """The synthetic_docs Python data source must fan out across the
    requested partition count and produce the identical corpus for any
    partitioning (rows are pure functions of doc_id)."""
    from ngram_analytics_spark.sources.pyds import read_synthetic_docs

    a = read_synthetic_docs(spark, n_docs=100, n_partitions=4)
    assert a.rdd.getNumPartitions() == 4
    b = read_synthetic_docs(spark, n_docs=100, n_partitions=7)
    assert a.count() == 100
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_python_datasource_unpickles_without_the_package(tmp_path):
    """Spark's Python workers unpickle the registered source, and they
    may not be able to import the package (a program that put it on
    ``sys.path`` itself). The pickled source must carry what it needs.
    No Spark session starts here."""
    import os
    import subprocess
    import sys
    import types

    from pyspark import cloudpickle

    from ngram_analytics_spark.sources.pyds import _doc_row, register_synthetic_docs

    got = []
    register_synthetic_docs(
        types.SimpleNamespace(dataSource=types.SimpleNamespace(register=got.append))
    )
    blob = tmp_path / "source.pkl"
    blob.write_bytes(cloudpickle.dumps(got[0]))
    code = (
        "import importlib.util, pickle, sys\n"
        "assert importlib.util.find_spec('ngram_analytics_spark') is None\n"
        "src = pickle.loads(open(sys.argv[1], 'rb').read())\n"
        "reader = src({'n_docs': '10', 'n_partitions': '3'}).reader(None)\n"
        "print(sorted(r for p in reader.partitions() for r in reader.read(p)))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code, str(blob)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == repr(sorted(_doc_row(d) for d in range(10)))


def test_parquet_compression_codecs_roundtrip(spark, tmp_path):
    """Every bundled parquet codec (zstd/snappy/gzip/lz4) must write
    and read back losslessly — codec choice is a first-class knob for
    the 100 TB storage/CPU tradeoff."""
    from ngram_analytics_spark.catalog import load
    from tests.conftest import SF_SMOKE

    src = load(spark, SF_SMOKE, "nation")
    want = sorted(map(tuple, src.collect()))
    for codec in ("zstd", "snappy", "gzip", "lz4"):
        p = str(tmp_path / f"nation_{codec}")
        src.write.mode("overwrite").option("compression", codec).parquet(p)
        assert sorted(map(tuple, spark.read.parquet(p).collect())) == want


def test_avro_reader_is_gated(spark):
    """spark-avro isn't on the classpath here; the connector must fail
    with a clear NotImplementedError, not a raw classpath error."""
    import pytest

    from ngram_analytics_spark.sources import read_avro

    with pytest.raises(NotImplementedError, match="spark-avro"):
        read_avro(spark, "/tmp/nonexistent.avro")
