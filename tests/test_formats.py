"""Round-trip + pushdown checks for the batch file-format surface, and
load_table's schema memo."""

from __future__ import annotations

import glob
import os
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType

from cdc_streamming___v2_spark.sources import formats as FMT
from cdc_streamming___v2_spark.sources.tables import load_table

from .conftest import SF_SMALL


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


@pytest.mark.parametrize("fmt", sorted(FMT.FORMATS))
def test_roundtrip_preserves_values(spark, tmp_path, fmt):
    src = load_table(spark, SF_SMALL, "lineitem").limit(500)
    write, read = FMT.FORMATS[fmt]
    path = str(tmp_path / fmt)
    write(src, path)
    back = read(spark, path, src.schema)
    assert back.schema == src.schema
    assert _rows(back) == _rows(src)


@pytest.mark.parametrize("fmt", ["orc", "parquet"])
def test_columnar_formats_push_filters(spark, tmp_path, fmt):
    src = load_table(spark, SF_SMALL, "lineitem")
    write, read = FMT.FORMATS[fmt]
    path = str(tmp_path / fmt)
    write(src, path)
    q = (
        read(spark, path, src.schema)
        .filter(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_quantity")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]" in plan
    # column pruning: the scan reads 2 columns, not 11
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:400]


def test_partitioned_write_prunes(spark, tmp_path):
    src = load_table(spark, SF_SMALL, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    path = str(tmp_path / "part")
    FMT.write_parquet(src, path, partition_cols=["ship_year"])
    years = glob.glob(os.path.join(path, "ship_year=*"))
    assert len(years) > 3
    q = spark.read.parquet(path).filter(F.col("ship_year") == 1996)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # partition filter handled by pruning, not a data filter
    assert "PartitionFilters" in plan
    assert q.count() == src.filter(F.col("ship_year") == 1996).count()


def test_csv_gzip_files_on_disk(spark, tmp_path):
    src = load_table(spark, SF_SMALL, "region")
    path = str(tmp_path / "csvgz")
    FMT.write_csv(src, path)
    assert glob.glob(os.path.join(path, "*.csv.gz"))


def test_partition_pruning_via_join_static_and_dynamic(spark, tmp_path):
    """Star-schema scan viability at scale: fact partitions implied only by
    a join must still prune. Two regimes, both pinned:
    - dim filtered on the JOIN KEY itself -> Catalyst constant-propagates
      the literal through the equi-join and prunes STATICALLY (no DPP
      needed, strictly better);
    - dim filtered on an unrelated column -> partition keys are runtime
      values, so the scan must carry a dynamicpruningexpression (DPP) fed
      by the reused broadcast of the dim."""
    fact = load_table(spark, SF_SMALL, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    path = str(tmp_path / "dpp_fact")
    FMT.write_parquet(fact, path, partition_cols=["ship_year"])

    dim_on_key = (
        load_table(spark, SF_SMALL, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .filter(F.col("o_year") == 1996)
        .select("o_orderkey", "o_year")
    )
    q1 = (
        spark.read.parquet(path)
        .join(dim_on_key, F.col("ship_year") == F.col("o_year"))
        .select("l_orderkey")
    )
    p1 = q1._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [(ship_year" in p1  # static literal pruning

    dim_runtime = (
        load_table(spark, SF_SMALL, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .withColumn("o_year", F.year("o_orderdate"))
        .select("o_orderkey", "o_year")
    )
    q2 = (
        spark.read.parquet(path)
        .join(dim_runtime, F.col("ship_year") == F.col("o_year"))
        .select("l_orderkey")
    )
    p2 = q2._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in p2, p2[:2000]
    assert q2.count() > 0


def _load_jobs(spark, sf_dir, name):
    """load_table's frame plus the Spark job ids its build started."""
    sc = spark.sparkContext
    group = f"load_table-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load_table build")
    try:
        df = load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, list(sc.statusTracker().getJobIdsForGroup(group))


def _write(spark, path, layout, cols):
    """Write ``cols`` as one parquet file or as a Spark-written directory."""
    if layout == "file":
        pq.write_table(pa.table(cols), path)
    else:
        spark.createDataFrame(pd.DataFrame(cols)).write.mode("overwrite").parquet(path)


def test_load_table_reuses_schema_of_unchanged_file(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(spark, path, "file", {"k": [1, 2, 3], "v": ["a", "b", "c"]})
    first, first_jobs = _load_jobs(spark, str(tmp_path), "t")
    assert first_jobs, "the first load infers the schema with a Spark job"
    again, again_jobs = _load_jobs(spark, str(tmp_path), "t")
    assert again_jobs == []
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


@pytest.mark.parametrize("layout", ["file", "dir"])
def test_load_table_sees_rewritten_schema(spark, tmp_path, layout):
    path = str(tmp_path / "t.parquet")
    _write(spark, path, layout, {"k": [1, 2]})
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    _write(spark, path, layout, {"k": [1, 2], "extra": [0.5, 1.5]})
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert sorted(r.extra for r in df.collect()) == [0.5, 1.5]


def test_load_table_follows_binary_as_string_conf(spark, tmp_path):
    _write(spark, str(tmp_path / "t.parquet"), "file", {"b": [b"x", b"yz"]})
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        df = load_table(spark, str(tmp_path), "t")
        assert isinstance(df.schema["b"].dataType, BinaryType)
        spark.conf.set(key, "true")
        df = load_table(spark, str(tmp_path), "t")
        assert isinstance(df.schema["b"].dataType, StringType)
        assert sorted(r.b for r in df.collect()) == ["x", "yz"]
    finally:
        spark.conf.set(key, before)
