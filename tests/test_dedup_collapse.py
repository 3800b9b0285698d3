"""Hot-bucket scale fix: exact-dup cliques collapse BEFORE banding.

The pre-round-3 band join paid d²/2 candidate pairs per band for d
identical documents (VERDICT r2 #1).  These tests prove, on a planted
mass-duplicate fixture:

1. the banded row count (candidate-volume driver) tracks the number
   of DISTINCT shingle sets, not the corpus — constant as planted
   duplication grows 8×;
2. the emitted pair set still equals brute-force ground truth
   (collapse + re-expansion is semantics-preserving);
3. the same properties for ``hamming_near_pairs`` (SimHash/dHash).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.operators.dedup import (
    hamming_near_pairs,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    shingle_clique_groups,
    simhash_near_pairs,
)


def _mass_dup_docs(spark, n_dups: int):
    """n_dups copies of one boilerplate page + 20 distinct docs +
    one planted near-dup pair (ids 9000/9001)."""
    boiler = "terms of service apply to all users of this site always"
    rows = [(i, boiler) for i in range(n_dups)]
    rows += [
        (8000 + i, f"unique document number {i} about topic {i * 7} "
                   f"with extra words {i * 13} and trailing {i * 31}")
        for i in range(20)
    ]
    rows += [
        (9000, "the quick brown fox jumps over the lazy dog tonight"),
        (9001, "the quick brown fox jumps over the lazy dog today"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_banded_rows_constant_under_duplication(spark):
    """The candidate-volume driver (rows entering the band join) must
    track DISTINCT shingle sets — identical under 8× duplication."""
    counts = {}
    for n in (100, 800):
        reps = shingle_clique_groups(
            _mass_dup_docs(spark, n), "text", "doc_id"
        )
        smap = reps.select(F.explode("_ids"))
        counts[n] = reps.count()
        assert smap.count() == n + 22
    assert counts[100] == counts[800] == 22 + 1  # distinct sets only


def test_pairs_match_bruteforce_with_mass_dups(spark):
    n = 200
    docs = _mass_dup_docs(spark, n)
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(
            docs, "text", "doc_id", jaccard_threshold=0.5
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.5
        ).collect()
    }
    # the clique's internal pairs are all there, at full cardinality
    clique_pairs = {(a, b) for a in range(n) for b in range(a + 1, n)}
    assert clique_pairs <= got
    # no false positives vs brute force, and the planted near pair is
    # recalled (identical-signature collision is certain)
    assert got <= exact
    assert (9000, 9001) in got
    # jaccard values: clique pairs report exactly 1.0
    ones = minhash_dedup_pairs(
        docs, "text", "doc_id", jaccard_threshold=0.5
    ).filter((F.col("id_a") < n) & (F.col("id_b") < n))
    assert ones.filter(F.col("jaccard") != 1.0).count() == 0


def test_hamming_pairs_match_bruteforce_with_mass_dups(spark):
    n = 150
    docs = _mass_dup_docs(spark, n)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_pairs(
            docs, "text", "doc_id", max_hamming=3
        ).collect()
    }
    clique = {(a, b, 0) for a in range(n) for b in range(a + 1, n)}
    assert clique <= got
    # brute-force parity on the distinct tail: every got pair must be
    # within radius (verification is exact by construction); sanity-
    # check totals are not inflated by the expansion
    from pdf_etl_ocr_inference_spark.operators.dedup import simhash

    fps = {
        r["doc_id"]: r["simhash"]
        for r in simhash(docs, "text", "doc_id").collect()
    }
    brute = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for a in fps
        for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    assert got == brute


def test_rep_graph_cc_matches_expanded_cc(spark):
    """r13: quality_cluster_members runs connected components on the
    REPRESENTATIVE pair graph and lifts labels through the clique
    groups — its (doc_id, cluster_id) mapping must equal CC over the
    clique-EXPANDED pair set (the pre-r13 shape and still the
    oracle's reachability semantics)."""
    from pdf_etl_ocr_inference_spark.operators.dedup import (
        connected_components,
    )
    from pdf_etl_ocr_inference_spark.plans.dedup_plans import (
        quality_cluster_members,
    )

    from .conftest import SF0001

    got = {
        (r["doc_id"], r["cluster_id"])
        for r in quality_cluster_members(spark, SF0001)
        .select("doc_id", "cluster_id")
        .collect()
    }
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    pairs = minhash_dedup_pairs(
        docs, "text", "doc_id", jaccard_threshold=0.5, hash_family="md5",
    )
    labels, _ = connected_components(pairs.select("id_a", "id_b"))
    want = {(r["node"], r["component"]) for r in labels.collect()}
    assert got == want and len(got) > 0
