"""Pinned-index serving (operators/serving.py): served graph results
equal the Spark-free replay of the same build and walk
(``plans/graph_sql.replay_topk``), refresh invalidates the pinned
state (version-keyed cache), and the batch-of-queries shape answers
every query.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.operators.graph_ann import (
    build_nsw_index,
    refresh_nsw_index,
)
from pdf_etl_ocr_inference_spark.operators.hnsw import build_hnsw_index
from pdf_etl_ocr_inference_spark.operators.serving import serve_topk
from pdf_etl_ocr_inference_spark.plans.graph_sql import _corpus

from .conftest import replayed_topk

SF = "/root/testdata/sf0.001"


def _qvec(emb, vid=0):
    return [
        float(v) for v in emb.filter(F.col("vec_id") == vid).first()["embedding"]
    ]


def test_served_equals_replay_nsw_and_hnsw(spark, tmp_path):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    np_, hp = str(tmp_path / "nsw"), str(tmp_path / "hnsw")
    build_nsw_index(spark, emb, np_, n_shards=4, m_neighbors=8)
    build_hnsw_index(spark, emb, hp, n_shards=4, m_neighbors=8)
    qvec = _qvec(emb)
    ids, embs = _corpus(SF)
    served_n = [
        (r["vec_id"], r["score"])
        for r in serve_topk(
            spark, np_, [(0, qvec)], k=5, exclude_ids=[0], kind="nsw"
        ).collect()
    ]
    assert served_n == replayed_topk(
        "nsw", ids, embs, qvec, 5, exclude_ids=[0], n_shards=4
    )
    served_h = [
        (r["vec_id"], r["score"])
        for r in serve_topk(
            spark, hp, [(0, qvec)], k=5, exclude_ids=[0], kind="hnsw"
        ).collect()
    ]
    assert served_h == replayed_topk(
        "hnsw", ids, embs, qvec, 5, exclude_ids=[0], n_shards=4
    )


def test_batch_queries_answer_all(spark, tmp_path):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "g")
    build_nsw_index(spark, emb, path, n_shards=4, m_neighbors=8)
    queries = [
        (r["vec_id"], [float(v) for v in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 6).collect()
    ]
    out = serve_topk(spark, path, queries, k=3, kind="nsw")
    rows = out.collect()
    assert {r["qid"] for r in rows} == set(range(6))
    per_q = {}
    for r in rows:
        per_q.setdefault(r["qid"], []).append(r)
    assert all(len(v) == 3 for v in per_q.values())


def test_refresh_invalidates_pinned_state(spark, tmp_path):
    """The cache key carries last_version: after refresh_nsw_index
    folds a delete + insert, a served query must reflect the NEW
    graph even though the old shard state was pinned by query 1."""

    def rows(ids, shift=0.0):
        return [
            (
                i,
                [float((i * 7 + j * 3) % 11) - 5.0 + shift for j in range(8)],
            )
            for i in ids
        ]

    def vecs(ids, shift=0.0):
        return spark.createDataFrame(
            rows(ids, shift), "vec_id long, embedding array<double>"
        )

    path = str(tmp_path / "g")
    corpus = vecs(range(40))
    build_nsw_index(spark, corpus, path, n_shards=4, m_neighbors=4)
    q = [float(v) for v in corpus.filter("vec_id = 8").first()["embedding"]]
    before = serve_topk(spark, path, [(0, q)], k=3, kind="nsw").collect()
    assert 8 in {r["vec_id"] for r in before}  # itself: cosine 1.0

    # delete node 8 (shard 0); the pinned shard-0 state is now stale
    changes = vecs([8]).withColumn("_change_type", F.lit("delete"))
    refresh_nsw_index(spark, path, changes, version=1)
    after = serve_topk(spark, path, [(0, q)], k=3, kind="nsw").collect()
    assert 8 not in {r["vec_id"] for r in after}
    # and the served result equals the replay of the new graph
    ids, embs = zip(*rows([i for i in range(40) if i != 8]))
    assert [(r["vec_id"], r["score"]) for r in after] == replayed_topk(
        "nsw", list(ids), list(embs), q, 3, n_shards=4, m_neighbors=4
    )


def test_bad_kind_rejected(spark, tmp_path):
    with pytest.raises(ValueError):
        serve_topk(spark, str(tmp_path), [(0, [0.0])], kind="annoy")
