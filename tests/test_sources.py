"""Footer-read Parquet schemas (`sources.parquet_schema`).

The schema a table load reads from one footer on the driver must equal
the one Spark's inference job returns, the rows read through it must be
the same, errors must stay Spark's own, and no load may start a job.
"""

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from polars_ds_extension_spark.sources import TABLES, load_table, parquet_schema
from polars_ds_extension_spark.sources.tables import _listed


def _rows(df):
    return sorted(map(str, df.collect()))


def _assert_same_as_inference(spark, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    inferred = spark.read.parquet(path)
    assert parquet_schema(spark, path) == inferred.schema, name
    assert _rows(load_table(spark, sf_dir, name)) == _rows(inferred), name


def _jobs(spark, fn):
    """Spark jobs started while `fn` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"test-sources-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs started by one call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _raised(fn):
    with pytest.raises(Exception) as info:
        fn()
    return type(info.value)


@pytest.mark.parametrize("name", TABLES)
def test_footer_schema_matches_inference_on_the_tables(spark, sf_dir, name):
    _assert_same_as_inference(spark, sf_dir, name)


def test_footer_schema_matches_inference_on_written_layouts(spark, tmp_path):
    d = str(tmp_path)
    base = spark.range(200).selectExpr(
        "id", "id % 3 AS k", "CAST(id AS STRING) AS s", "id * 1.5 AS x")
    base.repartition(3).write.parquet(os.path.join(d, "multi.parquet"))
    base.write.partitionBy("k").parquet(os.path.join(d, "parted.parquet"))
    pq.write_table(pa.table({
        "u": pa.array([1, 2, 4_000_000_000], pa.uint32()),
        "i": pa.array([1, -2, 3], pa.int8()),
        "ns": pa.array([1, 2, 3], pa.timestamp("ns")),
        "tz": pa.array([1, 2, 3], pa.timestamp("us", tz="UTC")),
    }), os.path.join(d, "arrow.parquet"))
    parts = [f for f in os.listdir(os.path.join(d, "multi.parquet"))
             if f.startswith("part-")]
    assert len(parts) == 3
    for name in ("multi", "parted", "arrow"):
        _assert_same_as_inference(spark, d, name)
    # the partition column is appended after the footer's data columns
    parted = parquet_schema(spark, os.path.join(d, "parted.parquet"))
    assert parted.names == ["id", "s", "x", "k"]


def test_missing_and_empty_paths_raise_as_spark_does(spark, tmp_path):
    empty = tmp_path / "empty.parquet"
    empty.mkdir()
    for name in ("missing", "empty"):
        path = str(tmp_path / f"{name}.parquet")
        spark_error = _raised(lambda: spark.read.parquet(path))
        assert _raised(lambda: parquet_schema(spark, path)) is spark_error
        assert _raised(lambda: load_table(spark, str(tmp_path), name)) \
            is spark_error


def test_table_loads_start_no_spark_job(spark, sf_dir):
    path = os.path.join(sf_dir, "events.parquet")
    # the counter sees the inference job of a bare read
    assert _jobs(spark, lambda: spark.read.parquet(path)) >= 1
    assert _jobs(spark, lambda: parquet_schema(spark, path)) == 0
    assert _jobs(spark, lambda: load_table(spark, sf_dir, "events")) == 0


def test_listing_filter_matches_spark(spark):
    fsutils = spark.sparkContext._jvm.org.apache.spark.util.HadoopFSUtils
    for name in ("part-0.parquet", "_SUCCESS", "_temporary", "_k=1", "k=1",
                 ".part-0.crc", "x._COPYING_", "_metadata", "_metadata_x",
                 "_common_metadata"):
        assert _listed(name) is not fsutils.shouldFilterOutPathName(name), name
