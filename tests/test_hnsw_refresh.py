"""Incremental HNSW maintenance: refresh rebuilds only touched
shards, is retry-idempotent, equals a full rebuild of the post-change
corpus, and invalidates the pinned serving cache (version-keyed).
"""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.operators.hnsw import (
    build_hnsw_index,
    refresh_hnsw_index,
)
from pdf_etl_ocr_inference_spark.operators.serving import serve_topk

from .conftest import replayed_topk


def _rows(ids, shift=0.0):
    return [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 + shift for j in range(8)])
        for i in ids
    ]


def _vecs(spark, ids, shift=0.0):
    return spark.createDataFrame(
        _rows(ids, shift), "vec_id long, embedding array<double>"
    )


def test_refresh_equals_rebuild_touched_only(spark, tmp_path):
    path = str(tmp_path / "g")
    corpus = _vecs(spark, range(40))
    build_hnsw_index(spark, corpus, path, n_shards=4, m_neighbors=4)

    changes = (
        _vecs(spark, [100, 101])
        .withColumn("_change_type", F.lit("insert"))
        .unionByName(
            _vecs(spark, [1]).withColumn("_change_type", F.lit("delete"))
        )
        .unionByName(
            _vecs(spark, [2]).withColumn(
                "_change_type", F.lit("update_preimage")
            )
        )
        .unionByName(
            _vecs(spark, [2], shift=1.0).withColumn(
                "_change_type", F.lit("update_postimage")
            )
        )
    )
    untouched_before = sorted(glob.glob(f"{path}/shard=3/*.parquet"))
    touched = refresh_hnsw_index(spark, path, changes, version=1)
    assert touched == [0, 1, 2]
    assert sorted(glob.glob(f"{path}/shard=3/*.parquet")) == untouched_before
    # retry re-delivery is a no-op
    assert refresh_hnsw_index(spark, path, changes, version=1) == []

    post = (
        corpus.filter(~F.col("vec_id").isin(1, 2))
        .unionByName(_vecs(spark, [100, 101]))
        .unionByName(_vecs(spark, [2], shift=1.0))
    )
    full = str(tmp_path / "full")
    build_hnsw_index(spark, post, full, n_shards=4, m_neighbors=4)

    def canon(p):
        return sorted(
            (
                r["vec_id"],
                tuple(tuple(sorted(layer)) for layer in r["layers"]),
            )
            for r in spark.read.parquet(p).collect()
        )

    assert canon(path) == canon(full)


def test_refresh_invalidates_hnsw_serving(spark, tmp_path):
    path = str(tmp_path / "g")
    corpus = _vecs(spark, range(40))
    build_hnsw_index(spark, corpus, path, n_shards=4, m_neighbors=4)
    q = [float(v) for v in corpus.filter("vec_id = 8").first()["embedding"]]
    before = serve_topk(spark, path, [(0, q)], k=3, kind="hnsw").collect()
    assert 8 in {r["vec_id"] for r in before}

    changes = _vecs(spark, [8]).withColumn("_change_type", F.lit("delete"))
    refresh_hnsw_index(spark, path, changes, version=1)
    after = serve_topk(spark, path, [(0, q)], k=3, kind="hnsw").collect()
    assert 8 not in {r["vec_id"] for r in after}
    # and equals the Spark-free replay of a build + walk of the
    # post-change corpus
    ids, embs = zip(*_rows([i for i in range(40) if i != 8]))
    assert [(r["vec_id"], r["score"]) for r in after] == replayed_topk(
        "hnsw", list(ids), list(embs), q, 3, n_shards=4, m_neighbors=4
    )
