"""The r8 bucket-group pair-generation shape vs naive references.

Five operators replaced a (bucket-key) self-join with grouped
sorted-list pair generation (one shuffle, chained explodes).  These
tests pin the shape to brute-force references on seeded random
corpora — any future edit that loses a pair, flips an orientation,
or double-counts a band fails here before it reaches the gate.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def _random_docs(spark, seed: int, n_docs: int = 60, dup_every: int = 7):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(n_docs):
        if i % dup_every == 3 and rows:
            # plant near/exact duplicates so buckets actually collide
            text = rows[rng.randrange(len(rows))][1]
        else:
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(8, 20)))
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _naive_candidates(spark, docs, num_hashes=16, num_bands=4):
    """Reference: band the signatures and SELF-JOIN — the pre-r8
    shape, kept here as the test oracle."""
    from pdf_etl_ocr_inference_spark.operators.dedup import (
        band_bucket,
        seeded_hashes,
        shingle_clique_groups,
    )

    reps = shingle_clique_groups(docs, "text", "doc_id").select(
        F.col("_s.doc_id").alias("doc_id"), F.col("_s.shingles").alias("shingles")
    )
    ex = reps.select(F.col("doc_id"), F.explode("shingles").alias("_sh"))
    hs = seeded_hashes("_sh", num_hashes, "md5")
    per_doc = ex.groupBy("doc_id").agg(
        *[F.min(h).alias(f"_h{i}") for i, h in enumerate(hs)]
    )
    sigs = per_doc.select(
        "doc_id",
        F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("sig"),
    )
    rpb = F.lit(num_hashes // num_bands)
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda b: band_bucket(F.col("sig"), b, rpb, "md5"),
            )
        ).alias("band", "bucket"),
    )
    a = banded.select(F.col("doc_id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("doc_id").alias("id_b"), "band", "bucket")
    ref = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_bands"))
    )
    return sigs, {
        (r["id_a"], r["id_b"], r["n_bands"]) for r in ref.collect()
    }


def test_lsh_candidates_match_self_join_reference(spark):
    from pdf_etl_ocr_inference_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    for seed in (1, 2, 3):
        docs = _random_docs(spark, seed)
        sigs, ref = _naive_candidates(spark, docs)
        got = {
            (r["id_a"], r["id_b"], r["n_bands"])
            for r in minhash_lsh_candidates(
                sigs, "doc_id", 4, hash_family="md5"
            ).collect()
        }
        assert got == ref, (seed, got ^ ref)


def test_hamming_pairs_match_brute_force(spark):
    from pdf_etl_ocr_inference_spark.operators.dedup import (
        hamming_near_pairs,
    )

    rng = random.Random(11)
    rows = []
    base = rng.getrandbits(63)
    for i in range(40):
        v = base if i % 9 == 4 else rng.getrandbits(63)
        if i % 5 == 2:
            v = base ^ (1 << rng.randrange(60))  # hamming-1 neighbor
        rows.append((i, v))
    fps = spark.createDataFrame(rows, "doc_id long, fp long")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_near_pairs(
            fps, "fp", "doc_id", max_hamming=3, num_blocks=4
        ).select("id_a", "id_b", "hamming").collect()
    }
    ref = set()
    for i, vi in rows:
        for j, vj in rows:
            if i < j and bin(vi ^ vj).count("1") <= 3:
                ref.add((i, j, bin(vi ^ vj).count("1")))
    assert got == ref, got ^ ref


def test_span_intervals_fast_path_matches_stats_path(spark):
    """The r8 gram-window fast path (min_docs=2, no cap) must equal
    the join-based stats path run at the same parameters."""
    from pdf_etl_ocr_inference_spark.operators.span_dedup import (
        dup_span_intervals,
    )

    for seed in (4, 5):
        docs = _random_docs(spark, seed, n_docs=40)
        fast = {
            tuple(r)
            for r in dup_span_intervals(
                docs, "text", "doc_id", 4, min_docs=2
            ).collect()
        }
        # force the stats path by passing an effectively-unbounded cap
        slow = {
            tuple(r)
            for r in dup_span_intervals(
                docs, "text", "doc_id", 4, min_docs=2,
                max_doc_freq=10**9,
            ).collect()
        }
        assert fast == slow, (seed, fast ^ slow)
