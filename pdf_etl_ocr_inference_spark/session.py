"""SparkSession factory tuned for the engine.

Design notes (scale-first; tested on local[N], designed for a
multi-executor cluster):

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy switching replace most manual
  partition tuning at 100 TB.
- Arrow on: every pandas UDF / ``mapInPandas`` boundary is
  Arrow-vectorized (the reference's iterator-UDF rationale,
  ``03-model-inference-on-chunks.py:70-83``).
- UTC session timezone: deterministic timestamp semantics across the
  DuckDB oracle and Spark.
- ``spark.sql.shuffle.partitions`` defaults to 2×cores locally; on a
  real cluster AQE coalesces from a deliberately-high initial number,
  so we set the *initial* partition number high and let AQE shrink.
- Python workers fork from ``worker_daemon`` (``spark.python.daemon.module``).
  The stock daemon made every task pay 130–450 ms re-reading the zip
  directories of ``pyspark.zip`` and the spark-core jar (CPython < 3.12)
  and 60–185 ms in a full ``gc.collect()`` over pandas and pyarrow; the
  engine's daemon re-reads an archive only when it changes and forks
  from a frozen heap. The package root goes on the workers'
  ``PYTHONPATH``, so they import the engine whatever the driver's
  working directory. On a cluster the executors must import the
  package when their daemon starts (installed, or on their
  ``PYTHONPATH``): ``--py-files`` archives reach a worker only per task.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

_DEFAULT_APP = "pdf-etl-ocr-inference-spark"
_PACKAGE_ROOT = str(Path(__file__).resolve().parents[1])


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 4


def get_spark(
    app_name: str = _DEFAULT_APP,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    Parameters mirror what a cluster deployment would override; the
    defaults are what the local harness uses.
    """
    cpus = _cpus()
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or max(cpus, 8)
    extra = dict(extra_conf or {})
    pythonpath = os.pathsep.join(
        p for p in (_PACKAGE_ROOT, extra.pop("spark.executorEnv.PYTHONPATH", "")) if p
    )

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Keep partition input sizes bounded so a 100 TB scan yields
        # sanely-sized tasks; AQE handles the small-file end.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # The events fixture carries TIMESTAMP(NANOS) which the Spark
        # parquet reader rejects; read nanos as long and convert in the
        # events loader (sources.catalog.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", pythonpath)
    )
    for k, v in extra.items():
        b = b.config(k, v)
    return b.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
