"""Catalog entries must be re-runnable: the driver may invoke any
query multiple times in one or across sessions.

- Each side-effecting op writes somewhere (scratch dirs, warehouse
  tables, CDF commits) — run twice, results must be identical.
- The headline entries are each called three times in one session,
  which catches per-call fixture churn (wiping scratch, re-registering
  with drifted inventory) that a single gate call misses.  Test a new
  entry here before adding it to the headline list.
"""

from __future__ import annotations

import pytest

from pdf_etl_ocr_inference_spark.plans import all_specs

from .conftest import SF0001

_SIDE_EFFECTING = [
    "op01_csv_roundtrip",
    "op03_partitioned_write",
    "op06_fetch_pipeline",
    "op08_catalog_ddl",
    "op10_change_data_feed",
    "op45c_foreachbatch_sink",
    "op57_bucketed_join",
]

# Headline set: scan-agg, multiway join, window, explode-heavy text,
# dedup (exact + minhash + clustering), similarity, chunk pipeline,
# temporal (as-of, sessionize), multimodal, streaming, substring
# dedup, lexical + two-stage retrieval, event analytics,
# optimizer-routed data skipping, domain-targeted corpus
# construction, multi-level layout prune.
_HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q9",
    "tpch_q13",
    "tpch_q18",
    "op30_explode",
    "op34_window_rank",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "op44_topk_cosine",
    "op25_chunk_mapinpandas",
    "op49_asof_join",
    "op51_sessionize",
    "mm_frame_sample",
    "op45_stream_tumbling",
    "dedup_span_intervals",
    "text_bm25_topk",
    "text_rerank_pipeline",
    "op76_funnel",
    "pipeline_span_clean_corpus",
    "op70d_skipping_rewrite",
    "pipeline_dsir_corpus",
    "op70f_partitioned_layout",
]

_SPECS = all_specs()


@pytest.mark.parametrize("name", _SIDE_EFFECTING)
def test_rerun_is_identical(spark, name):
    fn = _SPECS[name].fn
    first = sorted(tuple(r) for r in fn(spark, SF0001).collect())
    second = sorted(tuple(r) for r in fn(spark, SF0001).collect())
    assert first == second
    assert first  # non-empty


@pytest.mark.parametrize("name", _HEADLINE)
def test_three_calls_are_identical(spark, name):
    fn = _SPECS[name].fn
    runs = [
        sorted(tuple(r) for r in fn(spark, SF0001).collect())
        for _ in range(3)
    ]
    assert runs[0] == runs[1] == runs[2]
