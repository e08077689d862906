"""Parquet source registry for the synthetic TPC-H-ish test tables.

Columnar parquet scans get predicate pushdown + column pruning for free
as long as callers select/filter before wide transforms — every operator
in this repo takes DataFrames, so Catalyst prunes through them.

A bare `spark.read.parquet(path)` infers the schema with a one-task
Spark job that reads one footer. `load_table` instead reads that footer
on the driver (`parquet_schema`) and passes the schema to the reader,
so a table load starts no Spark job. The footer is chosen the way
Spark's own inference chooses it with `mergeSchema` off: the first
`_common_metadata`, else the first `_metadata`, else the first data
file, in path order. Part files whose schemas differ therefore behave
as with `mergeSchema=false`: that one file's schema wins.
"""

from __future__ import annotations

import os

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Summary files rank ahead of data files when picking the footer.
_SUMMARY_RANK = {"_common_metadata": 0, "_metadata": 1}


def _listed(name: str) -> bool:
    """Whether Spark's file listing keeps an entry of this name (the
    negation of HadoopFSUtils.shouldFilterOutPathName)."""
    if name.startswith(("_common_metadata", "_metadata")):
        return True
    return not ((name.startswith("_") and "=" not in name)
                or name.startswith(".") or name.endswith("._COPYING_"))


def _list_files(fs, directory, files: dict) -> bool:
    """Add {path string: FileStatus} of the files Spark lists under
    `directory`, descending into `k=v` partition directories only.
    Returns whether a partition directory was entered."""
    partitioned = False
    for status in fs.listStatus(directory):
        path = status.getPath()
        text = path.toString()
        name = text.rsplit("/", 1)[-1]
        if not _listed(name):
            continue
        if not status.isDirectory():
            files[text] = status
        elif "=" in name:
            _list_files(fs, path, files)
            partitioned = True
    return partitioned


def _footer_schema(spark: SparkSession, path: str):
    """(data schema of the footer Spark's inference would read, whether
    `k=v` partition directories were entered), or None when no file is
    listed. JVM errors (a missing path, an unreadable footer) propagate
    as Py4JJavaError."""
    client = spark.sparkContext._gateway._gateway_client
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    root = JavaClass("org.apache.hadoop.fs.Path", client)(path)
    fs = root.getFileSystem(conf)
    status = fs.getFileStatus(root)
    files, partitioned = {path: status}, False
    if status.isDirectory():
        files = {}
        partitioned = _list_files(fs, root, files)
    if not files:
        return None
    status = files[min(files, key=lambda p: (
        _SUMMARY_RANK.get(p.rsplit("/", 1)[-1], 2), p))]
    metadata = JavaClass(
        "org.apache.parquet.hadoop.ParquetFileReader", client
    ).readFooter(conf, status, JavaClass(
        "org.apache.parquet.format.converter.ParquetMetadataConverter",
        client).SKIP_ROW_GROUPS)
    footer = JavaClass("org.apache.parquet.hadoop.Footer", client)(
        status.getPath(), metadata)
    pq = "org.apache.spark.sql.execution.datasources.parquet."
    converter = JavaClass(pq + "ParquetToSparkSchemaConverter",
                          client)(state.conf())
    data = JavaClass(pq + "ParquetFileFormat", client) \
        .readSchemaFromFooter(footer, converter)
    return _parse_datatype_json_string(data.asNullable().json()), partitioned


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema `spark.read.parquet(path)` infers, computed on the
    driver from one footer: no Spark job.

    The footer goes through Spark's own conversion
    (`ParquetFileFormat.readSchemaFromFooter` with a converter built
    from the session conf), so `nanosAsLong`, TIMESTAMP_NTZ inference
    and INT96 behave as in Spark's inference. Files are listed through
    the Hadoop FileSystem of the session's Hadoop conf. When the path
    has `k=v` partition directories, Spark's own partition discovery
    appends the partition columns (a schema-given read, which starts no
    job either). A path with no readable data file (missing, empty,
    a glob, a corrupt footer) falls back to `spark.read.parquet`, so
    the error raised is Spark's own."""
    try:
        found = _footer_schema(spark, path)
    except Py4JJavaError:
        found = None
    if found is None:
        return spark.read.parquet(path).schema
    schema, partitioned = found
    if partitioned:
        return spark.read.schema(schema).parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan `<sf_dir>/<name>.parquet` with its schema read from the
    footer on the driver (`parquet_schema`), so the load starts no
    Spark job."""
    # The testdata writes TIMESTAMP(NANOS) which Spark rejects unless this
    # runtime-settable conf is on. Set it here (not only in session.py) so an
    # externally-constructed SparkSession — e.g. the driver's — can read too.
    # parquet_schema converts the footer under it, so it is set first.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    # nanos timestamps surface as long when legacy.parquet.nanosAsLong is
    # on — normalize to a proper timestamp column.
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if name == "events" and isinstance(schema["ts"].dataType, LongType):
        # integer `div`, not float /: nanos ~1.7e18 exceed double's 53-bit
        # mantissa, so a float division is off by ±256ns → ±1µs after cast
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def load_csv(spark: SparkSession, path: str, schema: str | None = None,
             header: bool = True, **options) -> DataFrame:
    """CSV scan with an EXPLICIT schema when known — inferSchema costs a
    full extra pass over the data, which at scale doubles ingest."""
    r = spark.read.option("header", str(header).lower())
    if schema is not None:
        r = r.schema(schema)
    else:
        r = r.option("inferSchema", "true")
    for k, v in options.items():
        r = r.option(k, v)
    return r.csv(path)


def load_json(spark: SparkSession, path: str, schema: str | None = None,
              **options) -> DataFrame:
    """JSON-lines scan; same explicit-schema guidance as load_csv (schema
    inference reads everything once before the real scan)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    for k, v in options.items():
        r = r.option(k, v)
    return r.json(path)
