"""Explicit-schema readers (SURVEY.md §2.1, OP-01/04/07).

The reference reads CSV header-only with no inferSchema
(``01-download-pdfs.py:64``) so every column lands as string — that is
bug-shaped behavior we reproduce only behind ``legacy_inference=True``.
Default path: caller supplies a ``StructType``.  Parquet that Spark
wrote supplies its own: :func:`read_parquet` takes it from a footer.
"""

from __future__ import annotations

import functools
import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    multi_line: bool = False,
    legacy_inference: bool = False,
) -> DataFrame:
    """CSV scan (OP-01).

    ``multi_line=True`` subsumes the reference's manual newline scrub
    (``01:49-55`` rewrote the file to strip embedded newlines; the CSV
    reader handles quoted newlines natively).
    ``legacy_inference=True`` reproduces ``01:64``: header only, every
    column StringType.
    """
    reader = spark.read.option("header", header)
    if multi_line:
        reader = reader.option("multiLine", True).option("escape", '"')
    if legacy_inference:
        return reader.csv(path)  # all-string columns, like the reference
    if schema is None:
        raise ValueError("pass an explicit schema or legacy_inference=True")
    return reader.schema(schema).csv(path)


# the footer key under which Spark's parquet writer stores the row
# schema as JSON; Spark's schema inference reads the same key
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def read_parquet(
    spark: SparkSession, paths: str | list[str], base_path: str | None = None
) -> DataFrame:
    """Parquet scan (OP-02 for file-backed tables) that runs no Spark
    job on parquet Spark wrote.

    ``spark.read.parquet`` infers the schema with a job that reads
    footers.  A file Spark wrote carries its row schema in the footer
    (:data:`SPARK_SCHEMA_KEY`), and that is the schema Spark's
    inference returns; so this reads it from the first data file of
    ``paths`` with pyarrow and hands it to ``spark.read.schema``.
    Partition columns are still discovered from the directory names,
    with the types inference gives them.  ``base_path`` is Spark's
    ``basePath`` option, for reading partition directories as explicit
    paths.  Spark lists more than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths
    with a job, so a longer list is read in runs of that many and the
    runs are unioned.  A path that is not local, a glob, or input
    without the key (pyarrow-written files, say) falls back to
    ``spark.read.parquet`` on the whole list."""
    paths = [paths] if isinstance(paths, str) else list(paths)
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    schema = _footer_schema(paths)
    if schema is None:
        return reader.parquet(*paths)
    reader = reader.schema(schema)
    step = int(
        spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
    )
    frames = [
        reader.parquet(*paths[i : i + step]) for i in range(0, len(paths), step)
    ]
    return functools.reduce(DataFrame.union, frames)


def _footer_schema(paths: list[str]) -> T.StructType | None:
    """The Spark schema in the footer of the first data file under
    ``paths``, or ``None`` when there is none to read."""
    for path in paths:
        local = path[len("file:") :] if path.startswith("file:") else path
        if "://" in local or any(c in local for c in "*?[{"):
            return None
        found = _first_data_file(local)
        if found is None:
            continue
        try:
            raw = (pq.read_schema(found).metadata or {}).get(SPARK_SCHEMA_KEY)
            return None if raw is None else T.StructType.fromJson(json.loads(raw))
        except (OSError, ValueError):
            return None
    return None


def _first_data_file(path: str) -> str | None:
    """The first file under ``path`` in name order that Spark's listing
    reads: a name starting with ``.``, or with ``_`` and holding no
    ``=``, is hidden (``_SUCCESS``, checksums, staged copies), and a
    partition directory such as ``_pb=3`` is not."""
    if os.path.isfile(path):
        return path
    try:
        names = sorted(os.listdir(path))
    except OSError:
        return None
    for name in names:
        if name.startswith(".") or (name.startswith("_") and "=" not in name):
            continue
        found = _first_data_file(os.path.join(path, name))
        if found is not None:
            return found
    return None


def read_json_lines(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """JSON-lines scan (extension surface; the events.props fixture
    exercises in-row JSON via get_json_object instead)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_binary_dir(
    spark: SparkSession, path: str, glob: str = "*.pdf"
) -> DataFrame:
    """Binary-blob source (OP-06/07 replacement).

    The reference globs a volume driver-side (``ocr-tesseract-
    unstructured.py:55-61``); the distributed equivalent is the
    ``binaryFile`` source: ``path, modificationTime, length, content``
    — length drives LPT ordering without opening files.
    """
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )


def from_rows(
    spark: SparkSession, rows: list, schema: T.StructType | list[str] | None = None
) -> DataFrame:
    """Local-collection source (OP-04, ``ocr:105`` createDataFrame).

    Only for small control/dimension data — the engine rule (SURVEY
    §4.3) is that bulk data never round-trips through the driver.
    """
    return spark.createDataFrame(rows, schema=schema)
