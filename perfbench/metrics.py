"""Metric names, units and the layer-to-end-to-end mapping.

``END_TO_END`` is what an untraced run reports and ``PER_LAYER`` what a
traced run reports; both lists match ``BENCHMARK.json``.  Every run must
report every end-to-end metric, so the workloads share the names and
each fills them from its own three timed operations
(``workloads.<Workload>.OPS``):

===================  ==================================  ===========================
metric               etl_dedup                           search_serve
===================  ==================================  ===========================
``throughput_per_s`` documents ingested and curated / s  hybrid requests / s of loop
                     of one cycle (the three medians)    time, refreshes included
                                                         (serve_qps)
``op1_p50_ms``       ETL pass: read, chunk, embed,       ``serve_topk`` IVF lookup
                     table write                         (vector_p50_ms)
``op2_p50_ms``       ``exact_dedup`` step                ``serve_bm25`` lookup
                                                         (text_p50_ms)
``op3_p50_ms``       ``minhash_dedup_pairs`` step and    commit until both indexes
                     the survivor write                  serve it (refresh_p50_ms)
``setup_s``          session start + median input generation (and index builds)
                     + warm-up
===================  ==================================  ===========================

Each ``op*_p50_ms`` is the median over the run of that operation alone,
so a change that speeds up one operation and slows another shows on
both.  The report line before the result repeats these figures under
descriptive names (``etl_docs_per_s``, ``dedup_docs_per_s`` and those
in brackets), with the tails and ``peak_rss_mb`` and ``error_rate``,
which are not bounded metrics: ``error_rate`` is 0 on a correct tree
(the result's ``failed`` carries it) and ``peak_rss_mb`` spreads 0.2 to
0.5 of its median between runs.

``LAYER_MOVES`` records, for each per-layer metric, the end-to-end
metrics it should move and on which workload.  A per-layer metric of a
layer a workload never calls reads 0 on that workload.
"""

from __future__ import annotations

END_TO_END = [
    ("throughput_per_s", "1/s"),
    ("op1_p50_ms", "ms"),
    ("op2_p50_ms", "ms"),
    ("op3_p50_ms", "ms"),
    ("setup_s", "s"),
]

WORKLOADS = ("etl_dedup", "search_serve")
_ALL = WORKLOADS
_BATCH = ("etl_dedup",)
_SERVE = ("search_serve",)
_T = "throughput_per_s"
_EVERY = (_T, "op1_p50_ms", "op2_p50_ms", "op3_p50_ms")
_PASS = (_T, "op1_p50_ms")

# name -> (unit, end-to-end metrics it should move, workloads)
LAYER_MOVES: dict[str, tuple[str, tuple[str, ...], tuple[str, ...]]] = {
    "session.start_s": ("s", ("setup_s",), _ALL),
    "session.warmup_s": ("s", ("setup_s",), _ALL),
    # etl_dedup: op1 is the ETL pass, op2 exact dedup, op3 near-dup
    # removal (minhash pairs, then the survivor write)
    "sources.read_s": ("s", _PASS, _BATCH),
    "sources.bytes_read": ("bytes", _PASS, _BATCH),
    "documents.chunk_s": ("s", _PASS, _BATCH),
    "documents.chunks_out": ("count", _PASS, _BATCH),
    "documents.python_bytes": ("bytes", _PASS, _BATCH),
    "documents.straggler_ratio": ("ratio", _PASS, _BATCH),
    "inference.embed_s": ("s", _PASS, _BATCH),
    "inference.rows": ("count", _PASS, _BATCH),
    "inference.python_bytes": ("bytes", _PASS, _BATCH),
    "writers.write_s": ("s", (_T, "op1_p50_ms", "op3_p50_ms"), _BATCH),
    "writers.bytes_written": ("bytes", (_T, "op1_p50_ms", "op3_p50_ms"), _BATCH),
    "writers.files_written": ("count", (_T, "op1_p50_ms", "op3_p50_ms"), _BATCH),
    "dedup.exact_s": ("s", (_T, "op2_p50_ms"), _BATCH),
    "dedup.minhash_s": ("s", (_T, "op3_p50_ms"), _BATCH),
    "dedup.candidate_pairs": ("count", (_T, "op3_p50_ms"), _BATCH),
    "dedup.verified_pairs": ("count", (_T, "op3_p50_ms"), _BATCH),
    "dedup.verify_yield": ("ratio", (_T, "op3_p50_ms"), _BATCH),
    "dedup.shuffle_bytes": ("bytes", (_T, "op2_p50_ms", "op3_p50_ms"), _BATCH),
    "dedup.spill_bytes": ("bytes", (_T, "op2_p50_ms", "op3_p50_ms"), _BATCH),
    # search_serve: op1 vector, op2 text, op3 refresh; the first
    # lookups after a refresh count only in the throughput
    "serving.query_s": ("s", (_T, "op1_p50_ms"), _SERVE),
    "serving.cells_probed": ("count", (_T, "op1_p50_ms"), _SERVE),
    "serving.cold_load_s": ("s", (_T,), _SERVE),
    "serving.recall_at_k": ("ratio", ("op1_p50_ms",), _SERVE),
    "search.query_s": ("s", (_T, "op2_p50_ms"), _SERVE),
    "search.shards_per_query": ("count", (_T, "op2_p50_ms"), _SERVE),
    "search.jobs_per_query": ("count", (_T, "op2_p50_ms"), _SERVE),
    "changefeed.commit_s": ("s", (_T, "op3_p50_ms"), _SERVE),
    "serving.refresh_s": ("s", (_T, "op3_p50_ms"), _SERVE),
    "serving.rows_rewritten_per_row_changed": ("ratio", (_T, "op3_p50_ms"), _SERVE),
    "search.refresh_s": ("s", (_T, "op3_p50_ms"), _SERVE),
    "spark.jobs": ("count", _EVERY, _ALL),
    "spark.tasks": ("count", _EVERY, _ALL),
    "spark.task_busy_s": ("s", _EVERY, _ALL),
    "spark.gc_s": ("s", _EVERY, _ALL),
    "spark.shuffle_write_bytes": ("bytes", _EVERY, _ALL),
    "trace.overhead_ratio": ("ratio", (), _ALL),
}

PER_LAYER = [(name, unit) for name, (unit, _m, _w) in LAYER_MOVES.items()]
