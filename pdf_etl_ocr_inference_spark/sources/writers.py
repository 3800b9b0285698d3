"""Sinks (SURVEY.md §2.1, OP-03/05).

Reference: ``.write.mode('overwrite').saveAsTable(t)`` three times
(``01:180-182``, ``02:294-296``, ``ocr:107-109``).  OSS equivalent is
parquet ``saveAsTable`` / directory writes, with optional partitioning
for scale (a 100 TB chunks table wants partitioning by a stable key so
downstream readers prune).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def drop_managed_table(spark: SparkSession, db: str, name: str) -> None:
    """DROP TABLE IF EXISTS plus removal of a stale table *location*.

    A managed-table dir left by a previous session isn't in this
    session's in-memory catalog, so DROP TABLE alone won't clear it
    and a subsequent managed write refuses (LOCATION_ALREADY_EXISTS).
    """
    spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    leftover = os.path.join(
        warehouse.removeprefix("file:"), f"{db}.db", name
    )
    if os.path.exists(leftover):
        shutil.rmtree(leftover)


def overwrite_table(
    df: DataFrame,
    name: str,
    partition_by: list[str] | None = None,
) -> None:
    """OP-03: full-replace managed table."""
    w = df.write.mode("overwrite").format("parquet")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.saveAsTable(name)


def overwrite_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """OP-03 variant writing to a path (object-store friendly)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def collect_small(df: DataFrame, max_rows: int = 100_000) -> list:
    """OP-05 collect-to-driver, guarded.

    The reference collects the whole corpus to the driver
    (``02:129-130``); the engine allows collect only for bounded
    control data and fails loudly otherwise.
    """
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"collect_small: result exceeds {max_rows} rows; "
            "use a distributed sink instead"
        )
    return rows


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(rows / target_rows_per_file)`` files, optionally sorted
    within files for row-group min/max pruning.  Returns the new
    file count.

    Small files are the silent killer of 100 TB scans (per-file open
    cost + scheduler pressure + broken row-group statistics);
    streaming sinks and fine-grained incremental refreshes produce
    them constantly, so compaction is scheduled maintenance, not an
    anomaly.  The rewrite is staged and swapped in with
    ``scratch.replace_dir``: a reader sees whole-old or whole-new,
    never a mix, and a table a crash left parked is restored before it
    is read."""
    import math

    from pdf_etl_ocr_inference_spark.scratch import replace_dir, restore_dir

    restore_dir(path)
    df = spark.read.parquet(path)
    n = df.count()
    n_files = max(1, math.ceil(n / target_rows_per_file))
    out = df.repartition(n_files)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    replace_dir(path, lambda tmp: out.write.parquet(tmp))
    return n_files
