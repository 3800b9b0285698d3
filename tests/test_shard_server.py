"""The shard server behind ``serve_topk`` and ``serve_bm25``: cache
invalidation on a rebuild, crash-safe meta publish, repeated query
terms, the number of Spark jobs per lookup, and empty lookups.
"""

from __future__ import annotations

import json
import os
import uuid
from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_etl_ocr_inference_spark.operators.search import (
    bm25_topk,
    bm25_topk_indexed,
    build_postings_index,
    serve_bm25,
)
from pdf_etl_ocr_inference_spark.operators.serving import (
    build_ivf_serving_index,
    refresh_ivf_serving_index,
    serve_topk,
)
from pdf_etl_ocr_inference_spark.operators.shard_server import (
    _cache,
    _load_shard,
    round_half_up,
)

DOCS = [
    (0, "spark join spark join spark"),
    (1, "spark join"),
    (2, "spark alpha beta gamma delta epsilon"),
    (3, "unrelated words only here"),
    (4, "join join join join"),
    (5, "spark vector join vector spark"),
]
# four cells on the axes of R^4; cell c holds ids 100c .. 100c+4
CENTS = [[1.0 if j == c else 0.0 for j in range(4)] for c in range(4)]


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _cell_corpus(spark):
    rows = []
    for c in range(4):
        for i in range(5):
            v = [0.0] * 4
            v[c] = 1.0
            v[(c + 1) % 4] = 0.01 * (i + 1)
            rows.append((100 * c + i, v))
    return _vecs(spark, rows)


@contextmanager
def _jobs(spark):
    """Count the Spark jobs run inside the block (appended to the
    yielded list on exit)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    out: list[int] = []
    try:
        yield out
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    out.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def test_serve_ivf_rebuild_same_path_invalidates(spark, tmp_path):
    """A rebuild at the same path restarts last_version at 0; the
    build id in the cache token must still force a miss in workers
    that pinned the pre-rebuild cell."""
    path = str(tmp_path / "ivf")
    old = _vecs(spark, [(i, [1.0, 0.01 * i, 0.0, 0.0]) for i in range(10)])
    build_ivf_serving_index(spark, old, path, CENTS[:2])
    q = [(0, [1.0, 0.0, 0.0, 0.0])]
    # one task per call; enough calls to pin the cell in every idle
    # Python worker
    for _ in range(2 * spark.sparkContext.defaultParallelism):
        before = serve_topk(spark, path, q, k=3, kind="ivf", n_probe=1)
        assert {r["vec_id"] for r in before.collect()} <= set(range(10))

    new = _vecs(spark, [(500 + i, [1.0, 0.02 * i, 0.0, 0.0]) for i in range(3)])
    build_ivf_serving_index(spark, new, path, CENTS[:2])
    after = serve_topk(spark, path, q, k=3, kind="ivf", n_probe=1).collect()
    assert [r["vec_id"] for r in after] == [500, 501, 502], after


def test_ivf_meta_publish_survives_failed_write(spark, tmp_path, monkeypatch):
    """A refresh whose meta write fails part-way leaves the previous
    meta parseable, and serving keeps answering at that version."""
    path = str(tmp_path / "ivf")
    corpus = _vecs(spark, [(i, [1.0, 0.01 * i, 0.0, 0.0]) for i in range(10)])
    build_ivf_serving_index(spark, corpus, path, CENTS[:2])
    q = [(0, [1.0, 0.0, 0.0, 0.0])]
    before = serve_topk(spark, path, q, k=3, kind="ivf", n_probe=1).collect()
    # a far vector in the probed cell: not in the top 3 either way
    changes = _vecs(spark, [(99, [1.0, 0.0, 0.9, 0.0])]).withColumn(
        "_change_type", F.lit("insert")
    )
    real_dump = json.dump

    def failing_dump(obj, f, *a, **kw):
        if os.path.dirname(f.name) != path:  # the staged rebuild's meta
            return real_dump(obj, f, *a, **kw)
        f.write('{"n_shards": ')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", failing_dump)
    with pytest.raises(OSError, match="disk full"):
        refresh_ivf_serving_index(spark, path, changes, version=1)
    monkeypatch.undo()

    with open(os.path.join(path, "_ivfserve_meta.json")) as f:
        assert json.load(f)["last_version"] == 0
    again = serve_topk(spark, path, q, k=3, kind="ivf", n_probe=1).collect()
    assert again == before
    # the retried refresh publishes and serves the insert
    assert refresh_ivf_serving_index(spark, path, changes, version=1) == [0]
    near = [(0, [1.0, 0.0, 0.9, 0.0])]
    got = serve_topk(spark, path, near, k=1, kind="ivf", n_probe=1).collect()
    assert got[0]["vec_id"] == 99


def test_repeated_query_terms_count_once(spark, tmp_path):
    """bm25_scores, bm25_topk_indexed and serve_bm25 all treat a
    repeated term as one occurrence."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    path = str(tmp_path / "postings")
    build_postings_index(spark, docs, path)
    terms = ["spark", "spark", "vector"]

    def pairs(rows):
        return [(r["id"], r["score"]) for r in rows]

    want = pairs(bm25_topk_indexed(spark, path, ["spark", "vector"]).collect())
    assert want
    assert pairs(bm25_topk(docs, "text", "doc_id", terms).collect()) == want
    assert pairs(bm25_topk_indexed(spark, path, terms).collect()) == want
    assert pairs(serve_bm25(spark, path, [(0, terms)], k=20).collect()) == want


def test_warm_serve_topk_ivf_runs_one_job(spark, tmp_path):
    path = str(tmp_path / "ivf")
    build_ivf_serving_index(spark, _cell_corpus(spark), path, CENTS)
    q = [(0, [1.0, 0.5, 0.0, 0.0])]
    cold = serve_topk(spark, path, q, k=3, kind="ivf", n_probe=2).collect()
    with _jobs(spark) as n:
        warm = serve_topk(spark, path, q, k=3, kind="ivf", n_probe=2).collect()
    assert n == [1]
    assert warm == cold and len(warm) == 3


def test_warm_serve_bm25_runs_one_job(spark, tmp_path):
    path = str(tmp_path / "postings")
    build_postings_index(spark, spark.createDataFrame(DOCS, ["doc_id", "text"]), path)
    q = [(0, ["spark", "join"]), (1, ["vector"])]
    cold = serve_bm25(spark, path, q, k=3).collect()  # memoises buckets
    with _jobs(spark) as n:
        warm = serve_bm25(spark, path, q, k=3).collect()
    assert n == [1]
    assert warm == cold and {r["qid"] for r in warm} == {0, 1}


def test_filtered_ivf_runs_one_job_per_round(spark, tmp_path):
    """Only cell 1 passes the filter.  Round 1 probes the query's
    nearest cell (0) and finds nothing; round 2 widens to cells 0-1
    and dispatches only cell 1.  The result costs no further job."""
    path = str(tmp_path / "ivf")
    build_ivf_serving_index(spark, _cell_corpus(spark), path, CENTS)
    q = [(0, [1.0, 0.5, 0.2, 0.0])]
    serve_topk(spark, path, q, k=3, kind="ivf", n_probe=1).collect()
    with _jobs(spark) as n:
        got = serve_topk(
            spark, path, q, k=3, kind="ivf", n_probe=1,
            predicate=lambda i: i // 100 == 1,
        ).collect()
    assert n == [2]
    assert [r["vec_id"] for r in got] == [104, 103, 102]


def test_empty_lookups_keep_the_output_schema(spark, tmp_path):
    ivf = str(tmp_path / "ivf")
    # cell 4 (all-negative centroid) gets no members
    build_ivf_serving_index(
        spark, _cell_corpus(spark), ivf, CENTS + [[-1.0] * 4]
    )
    got = serve_topk(spark, ivf, [(0, [-1.0] * 4)], k=3, kind="ivf", n_probe=1)
    assert got.collect() == []
    assert got.schema == T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    post = str(tmp_path / "postings")
    build_postings_index(spark, spark.createDataFrame(DOCS, ["doc_id", "text"]), post)
    got = serve_bm25(spark, post, [(0, ["absent"])], k=3)
    assert got.collect() == []
    assert got.schema == T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField("id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )


def test_shard_keeps_one_token(tmp_path, spark):
    """A new token replaces the shard's stale state instead of leaving
    it pinned until LRU eviction."""
    path = str(tmp_path / "ivf")
    build_ivf_serving_index(spark, _cell_corpus(spark), path, CENTS)
    _load_shard(path, 0, "ivf", "a:0")
    ids, _ = _load_shard(path, 0, "ivf", "a:1")
    assert sorted(ids.tolist()) == [0, 1, 2, 3, 4]
    assert [v[0] for k, v in _cache.items() if k[0] == path] == ["a:1"]


def test_round_half_up_matches_spark_round(spark):
    rng = np.random.default_rng(7)
    vals = [
        0.0000125, 1.0000005, 2.4999995, 0.1234565, 12.3456785,
        3.0000004999, 7.25e-7, 0.0, 1e-9, 123.4567895,
    ] + (rng.random(500) * 30).tolist() + (
        np.round(rng.random(200) * 30, 7)
    ).tolist()
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    want = [r["r"] for r in df.select(F.round("x", 6).alias("r")).collect()]
    got = round_half_up(np.asarray(vals, dtype="float64"), 6).tolist()
    assert got == want
