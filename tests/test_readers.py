"""``sources.readers.read_parquet`` gives what ``spark.read.parquet``
gives: the same schema (nullability and partition column types
included) and the same rows.  On parquet Spark wrote it takes the
schema from a footer, so planning the read runs no Spark job; other
parquet falls back to Spark's inference."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.sources.readers import (
    SPARK_SCHEMA_KEY,
    read_parquet,
)

from .test_shard_server import _jobs


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _same(spark, got, want):
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def _frame(spark):
    """Rows with a non-nullable id, a nested array of non-null
    elements, a string, a map and a partition key."""
    return spark.range(12).select(
        "id",
        F.array(F.col("id") * 1.5, F.lit(2.0)).alias("emb"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        (F.col("id") % 3).alias("part"),
    )


def test_spark_written_directory_reads_with_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    _frame(spark).drop("part").repartition(3).write.parquet(path)
    with _jobs(spark) as n:
        got = read_parquet(spark, path)
        got.schema
    assert n == [0]
    _same(spark, got, spark.read.parquet(path))


def test_hive_partitioned_directory_through_base_path(spark, tmp_path):
    """The root, and explicit partition directories under ``basePath``,
    each read as Spark reads them: the partition column keeps the type
    Spark infers from the directory names."""
    root = str(tmp_path / "t")
    _frame(spark).write.partitionBy("part").parquet(root)
    subs = [os.path.join(root, "part=0"), os.path.join(root, "part=2")]
    with _jobs(spark) as n:
        whole = read_parquet(spark, root)
        some = read_parquet(spark, subs, base_path=root)
        whole.schema, some.schema
    assert n == [0]
    _same(spark, whole, spark.read.parquet(root))
    _same(spark, some, spark.read.option("basePath", root).parquet(*subs))
    assert dict(some.dtypes)["part"] == "int"
    assert {r["part"] for r in some.collect()} == {0, 2}


def test_more_paths_than_the_listing_threshold_run_no_job(spark, tmp_path):
    """Spark lists more than ``parallelPartitionDiscovery.threshold``
    paths with a job; the reader reads them in runs of that many."""
    root = str(tmp_path / "t")
    spark.range(40).select("id", (F.col("id") % 40).alias("p")).write.partitionBy(
        "p"
    ).parquet(root)
    subs = [os.path.join(root, f"p={p}") for p in range(40)]
    with _jobs(spark) as n:
        got = read_parquet(spark, subs, base_path=root)
        got.schema
    assert n == [0]
    _same(spark, got, spark.read.option("basePath", root).parquet(*subs))


def test_pyarrow_written_directory_falls_back(spark, tmp_path):
    """Files without Spark's footer key are read by Spark's inference."""
    path = tmp_path / "t"
    path.mkdir()
    for i in range(2):
        pq.write_table(
            pa.table(
                {
                    "id": pa.array([2 * i, 2 * i + 1], pa.int32()),
                    "emb": [[1.0, None], [0.5]],
                    "text": ["a", None],
                }
            ),
            str(path / f"part-{i}.parquet"),
        )
    meta = pq.read_schema(str(path / "part-0.parquet")).metadata or {}
    assert SPARK_SCHEMA_KEY not in meta
    _same(spark, read_parquet(spark, str(path)), spark.read.parquet(str(path)))
