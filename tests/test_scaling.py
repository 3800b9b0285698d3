"""Reproduce the reference's parallel-OCR scaling claim with a
deterministic sleep-stub parser (BASELINE.md: ``02:4-8`` reports
~5 h serial → ~15 min on 24 cores, "nearly linear scaling").

The stub sleeps a fixed time per document (seconds instead of the
reference's ~3 min), so wall-clock measures scheduling, not OCR.  The
engine path is the real one — ``chunk_map_in_pandas`` with an injected
``parse_fn``, LPT layout off (uniform docs) — only the parser is fake.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.operators.documents import chunk_map_in_pandas
from pdf_etl_ocr_inference_spark.sources.catalog import load_table

from .conftest import SF0001

_SLEEP = 0.2
_N_DOCS = 16


def _slow_parse(text: str) -> list[str]:
    time.sleep(_SLEEP)
    return [text[:120]]


def _run(spark, num_partitions: int) -> float:
    docs = (
        load_table(spark, SF0001, "documents")
        .filter(F.col("doc_id") < _N_DOCS)
        .select("doc_id", "text")
    )
    t0 = time.perf_counter()
    out = chunk_map_in_pandas(
        docs,
        text_col="text",
        id_cols=("doc_id",),
        parse_fn=_slow_parse,
        min_chars=10,
        num_partitions=num_partitions,
    )
    n = out.count()
    assert n == _N_DOCS
    return time.perf_counter() - t0


def test_parallel_speedup_near_linear(spark):
    # warm the Python worker pool so neither timed run pays spawn cost
    spark.range(0, 256, 1, _N_DOCS).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    serial = _run(spark, num_partitions=1)
    assert serial >= _N_DOCS * _SLEEP * 0.95
    # ideal: min(N_DOCS, cores)x, 4x on 4 cores. Assert ≥3x — far
    # beyond what a serial plan could show (serial floor is
    # N_DOCS*SLEEP = 3.2s; parallel floor is ceil(N_DOCS/cores)*SLEEP,
    # 0.8s on 4 cores). The host has multi-second contention bursts, so
    # measure up to 4 times and pass on the best observation: a burst
    # can slow a run down, but nothing can make a serial plan fast.
    best = float("inf")
    for _ in range(4):
        best = min(best, _run(spark, num_partitions=_N_DOCS))
        if best < serial / 3:
            break
    assert best < serial / 3, (
        f"speedup {serial / best:.1f}x below threshold"
    )
