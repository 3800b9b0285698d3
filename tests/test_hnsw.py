"""Sharded hierarchical HNSW (operators/hnsw.py): deterministic layer
assignment, partition-layout-invariant builds, recall floor ≥ the
single-layer NSW at equal ef, exact scores, design-regime recall.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.operators.hnsw import (
    build_hnsw_index,
    node_level,
)
from pdf_etl_ocr_inference_spark.operators.serving import serve_topk

SF = "/root/testdata/sf0.001"


def test_layer_assignment_deterministic_and_geometric():
    levels = [node_level(i, 8) for i in range(20_000)]
    assert levels == [node_level(i, 8) for i in range(20_000)]
    # geometric with ratio 1/M: ~1/8 of nodes at level >= 1
    frac1 = sum(1 for l in levels if l >= 1) / len(levels)
    assert 0.08 <= frac1 <= 0.18, frac1
    frac2 = sum(1 for l in levels if l >= 2) / len(levels)
    assert frac2 <= 0.04, frac2
    assert max(levels) >= 2  # upper layers actually materialize


def test_partition_invariance(spark, tmp_path):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p1, p2 = str(tmp_path / "g1"), str(tmp_path / "g2")
    build_hnsw_index(spark, emb, p1, n_shards=4)
    build_hnsw_index(spark, emb.repartition(13), p2, n_shards=4)

    def canon(path):
        return sorted(
            (
                r["vec_id"],
                tuple(tuple(sorted(layer)) for layer in r["layers"]),
            )
            for r in spark.read.parquet(path).collect()
        )

    assert canon(p1) == canon(p2)
    qvec = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    r1 = serve_topk(
        spark, p1, [(0, qvec)], k=5, exclude_ids=[0], kind="hnsw"
    ).select("vec_id", "score").collect()
    r2 = serve_topk(
        spark, p2, [(0, qvec)], k=5, exclude_ids=[0], kind="hnsw"
    ).select("vec_id", "score").collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]


def test_recall_floor_at_least_nsw_and_exact_scores(spark, tmp_path):
    from pdf_etl_ocr_inference_spark.functions.vector import (
        cosine_similarity,
    )
    from pdf_etl_ocr_inference_spark.operators.graph_ann import (
        build_nsw_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    hp = str(tmp_path / "hnsw")
    np_ = str(tmp_path / "nsw")
    build_hnsw_index(spark, emb, hp, n_shards=4, m_neighbors=8)
    build_nsw_index(spark, emb, np_, n_shards=4, m_neighbors=8)

    w = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    hnsw_hits = nsw_hits = 0
    queries = [r for r in emb.filter(F.col("vec_id") < 8).collect()]
    for qr in queries:
        qvec = [float(v) for v in qr["embedding"]]
        qid = qr["vec_id"]
        qlit = F.array(*[F.lit(x) for x in qvec])
        truth = {
            r["vec_id"]
            for r in emb.filter(F.col("vec_id") != qid)
            .select(
                "vec_id", cosine_similarity("embedding", qlit).alias("score")
            )
            .withColumn("rn", F.row_number().over(w))
            .filter("rn <= 5")
            .collect()
        }
        got_h = {
            r["vec_id"]
            for r in serve_topk(
                spark, hp, [(0, qvec)], k=5, ef_search=32,
                exclude_ids=[qid], kind="hnsw",
            ).collect()
        }
        got_n = {
            r["vec_id"]
            for r in serve_topk(
                spark, np_, [(0, qvec)], k=5, ef_search=32,
                exclude_ids=[qid], kind="nsw",
            ).collect()
        }
        hnsw_hits += len(got_h & truth)
        nsw_hits += len(got_n & truth)
        # exact cosine scores
        vecs = {
            r["vec_id"]: np.asarray(r["embedding"]) for r in emb.collect()
        }
        q = np.asarray(qvec)
        for r in serve_topk(
            spark, hp, [(0, qvec)], k=5, ef_search=32, exclude_ids=[qid],
            kind="hnsw",
        ).collect():
            v = vecs[r["vec_id"]]
            expect = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
            assert abs(r["score"] - expect) < 5e-4
            break  # one exact-score spot check per query is enough
    # the multi-layer walk must not LOSE recall vs single-layer NSW
    # at identical ef/M/shards on the same corpus
    assert hnsw_hits >= nsw_hits, (hnsw_hits, nsw_hits)
    assert hnsw_hits / (5 * len(queries)) >= 0.4


def test_design_regime_recall_is_one(spark, tmp_path):
    # planted clusters (same construction as the NSW test): every
    # query's 4 siblings must be found via the layered walk
    base = spark.range(0, 100, 1, 4).select(
        F.col("id").alias("vec_id"),
        (F.col("id") / 5).cast("long").alias("gid"),
    )
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda j: (
            F.pmod(F.xxhash64(F.col("gid"), j), F.lit(2000)).cast("double")
            / 1000.0
            - 1.0
            + F.pmod(
                F.xxhash64(F.col("vec_id"), j, F.lit(1)), F.lit(2000)
            ).cast("double")
            / 100000.0
        ),
    )
    corpus = base.select("vec_id", emb.alias("embedding"))
    path = str(tmp_path / "planted")
    build_hnsw_index(spark, corpus, path, n_shards=4, m_neighbors=8)
    rows = corpus.filter(F.col("vec_id") % 5 == 0).collect()
    for r in rows[:5]:
        got = serve_topk(
            spark,
            path,
            [(0, [float(v) for v in r["embedding"]])],
            k=4,
            ef_search=32,
            exclude_ids=[r["vec_id"]],
            kind="hnsw",
        ).select("vec_id", "score").collect()
        q = r["vec_id"]
        assert {x["vec_id"] for x in got} == {q + 1, q + 2, q + 3, q + 4}


def test_catalog_entry_runs(spark):
    from pdf_etl_ocr_inference_spark.plans.registry import all_specs

    df = all_specs()["ann_hnsw_topk"].fn(spark, SF)
    rows = df.collect()
    assert len(rows) == 5
    assert [f.name for f in df.schema.fields] == ["vec_id", "score"]
