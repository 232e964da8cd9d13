"""config.read_parquet: the resolved relation (file index and schema) of
a local parquet path is reused across builds until a file under it
changes."""

import contextlib
import shutil
import sys
import uuid
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from conftest import stored_rdd_ids
from dask_geomodeling_spark import config
from dask_geomodeling_spark.config import read_parquet
from dask_geomodeling_spark.geometry.sources import (FileGeometrySource,
                                                     ParquetGeometrySource)
from dask_geomodeling_spark.raster.sinks import RasterFileSink
from dask_geomodeling_spark.raster.sources import (MemorySource,
                                                   RasterParquetSource)

T0 = datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def orders_url(spark, tmp_path_factory):
    """A small orders-like table written once for the module."""
    url = str(tmp_path_factory.mktemp("orders") / "orders.parquet")
    spark.range(300).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 25).alias("o_regionkey"),
        F.expr("substr('FOP', CAST(id % 3 AS INT) + 1, 1)").alias(
            "o_orderstatus"),
        (F.col("id") * 997.0).alias("o_totalprice"),
        F.date_add(F.lit("1995-01-01").cast("date"),
                   (F.col("id") % 200).cast("int")).alias("o_orderdate"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts")) \
        .repartition(3).write.parquet(url)
    return url


@contextlib.contextmanager
def launched_jobs(spark):
    """Collects the ids of the Spark jobs the block launches."""
    sc = spark.sparkContext
    group = "parquet-cache-" + uuid.uuid4().hex
    sc.setJobGroup(group, "parquet cache test")
    ids = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def write_cells(spark, url, values, partition_by_time=True):
    RasterFileSink(MemorySource([values], time_first=T0,
                                time_delta=timedelta(days=1)),
                   url, partition_by_time).write(spark)


def _orders(spark, url, tmp_path):
    return (ParquetGeometrySource(url, id_field="o_orderkey",
                                  time_column="o_orderdate"),
            {"filters": {"o_orderstatus": "F"},
             "start": datetime(1995, 1, 1), "stop": datetime(1995, 6, 1)})


def _orders_file(spark, url, tmp_path):
    return (FileGeometrySource(url, id_field="o_orderkey"),
            {"filters": {"o_totalprice__gte": 100000.0}})


def _cells(spark, url, tmp_path):
    url = str(tmp_path / "cells")
    write_cells(spark, url, [[1.0, 2.0], [3.0, None]])
    return (RasterParquetSource(url),
            {"bbox": (0, 0, 1, 0), "start": T0, "stop": T0})


def _wkb(spark, url, tmp_path):
    from dask_geomodeling_spark.geometry.sinks import GeometryFileSink
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.geometry.wkb import WKBGeometrySource
    df = spark.range(1, 5).select(
        F.col("id"), (F.col("id") * 1.0).alias("x"),
        (F.col("id") * 2.0).alias("y"))
    url = GeometryFileSink(DataFrameSource(df, index_column="id"),
                           str(tmp_path / "wkb"),
                           extension="wkb").write(spark)
    return (WKBGeometrySource(url, wkb_column="geometry", id_field="id"),
            {"filters": {"id__gte": 2}})


def _events(spark, url, tmp_path):
    from dask_geomodeling_spark.streaming.events import EventSource
    return EventSource(url), {}


SOURCES = {"ParquetGeometrySource": _orders,
           "FileGeometrySource": _orders_file,
           "RasterParquetSource": _cells,
           "WKBGeometrySource": _wkb,
           "EventSource": _events}


@pytest.mark.parametrize("name", sorted(SOURCES))
def test_repeat_build_launches_no_job(spark, tmp_path, orders_url, name):
    block, request = SOURCES[name](spark, orders_url, tmp_path)
    first = block.plan(spark, **request)
    with launched_jobs(spark) as jobs:
        again = block.plan(spark, **request)
    assert jobs == []
    assert rows(again) == rows(first)
    assert again.schema == first.schema


def test_rewrite_with_new_values_is_read(spark, tmp_path):
    url = str(tmp_path / "cells")
    write_cells(spark, url, [[1.0, 2.0]])
    src = RasterParquetSource(url)
    assert [r[3] for r in rows(src.plan(spark))] == [1.0, 2.0]
    write_cells(spark, url, [[5.0, 6.0], [7.0, None]])
    assert [r[3] for r in rows(src.plan(spark))] == [5.0, 6.0, 7.0, None]


def test_rewrite_with_new_schema_is_read(spark, tmp_path):
    url = str(tmp_path / "cells")
    write_cells(spark, url, [[1.0, 2.0]])
    src = RasterParquetSource(url)
    assert "date" in read_parquet(spark, url).columns
    src.plan(spark, start=T0).collect()
    write_cells(spark, url, [[8.0, 9.0]], partition_by_time=False)
    assert read_parquet(spark, url).schema == spark.read.parquet(url).schema
    assert "date" not in read_parquet(spark, url).columns
    assert [r[3] for r in rows(src.plan(spark, start=T0))] == [8.0, 9.0]


def test_deleted_path_raises_as_a_plain_read(spark, tmp_path):
    url = str(tmp_path / "gone")
    spark.range(3).write.parquet(url)
    read_parquet(spark, url).collect()
    shutil.rmtree(url)
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(url)
    with pytest.raises(AnalysisException) as cached:
        read_parquet(spark, url)
    assert cached.value.getCondition() == plain.value.getCondition()
    assert str(cached.value) == str(plain.value)


def test_two_reads_self_join(spark, orders_url):
    a = read_parquet(spark, orders_url)
    b = read_parquet(spark, orders_url)
    joined = a.join(b, a["o_orderkey"] == b["o_regionkey"])
    assert joined.select(a["o_orderkey"], b["o_orderkey"]).count() == 300


def test_concurrent_builds_agree(spark, tmp_path):
    url = str(tmp_path / "t")
    spark.range(200).select("id", (F.col("id") % 7).alias("k")) \
        .repartition(3).write.parquet(url)
    src = ParquetGeometrySource(url)

    def build(_):
        return rows(src.plan(spark, filters={"k": 3}))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(build, range(16), timeout=600))
    finally:
        sys.setswitchinterval(interval)
    assert got[0] == rows(spark.read.parquet(url).filter("k = 3"))
    assert all(g == got[0] for g in got)


def test_cached_build_adds_no_storage(spark, orders_url):
    src = ParquetGeometrySource(orders_url, id_field="o_orderkey")
    src.plan(spark).collect()
    before = stored_rdd_ids(spark)
    src.plan(spark).collect()
    assert not stored_rdd_ids(spark) - before


def test_schema_options_are_part_of_the_key(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    # written without Spark's schema metadata, so the option applies
    url = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"])}), url)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert read_parquet(spark, url).schema["b"].dataType.typeName() \
            == "binary"
        spark.conf.set(key, "true")
        assert read_parquet(spark, url).schema["b"].dataType.typeName() \
            == "string"
    finally:
        spark.conf.set(key, old)


def test_entries_are_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(config, "PARQUET_CACHE_ENTRIES", 2)
    for i in range(3):
        url = str(tmp_path / "t{}".format(i))
        spark.range(i + 1).write.parquet(url)
        assert read_parquet(spark, url).count() == i + 1
    assert len(config._parquet_relations) <= 2


def test_other_schemes_are_not_cached():
    assert config._local_parquet_path("hdfs://nn/data") is None
    assert config._local_parquet_path("s3a://bucket/t.parquet") is None
    assert config._local_parquet_path("relative/t.parquet") is None
    assert config._local_parquet_path("/data/*.parquet") is None
    assert config._local_parquet_path("file:///data/t") == "/data/t"
    assert config._local_parquet_path("/data/t") == "/data/t"
