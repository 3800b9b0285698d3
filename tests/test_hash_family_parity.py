"""xxhash64 (production) vs md5 (gate) hash-family parity (r9,
verdict #2): the headline gate entries pin md5 purely for
DuckDB value-replay, while library callers get the faster xxhash64
default — these tests pin exactly how much of the ANSWER is
family-independent, so the md5 premium stays a replay artifact and
never a semantic fork.

- MinHash-LSH: the final pair set is verified by EXACT Jaccard, a
  pure function of the texts — the family affects only candidate
  RECALL.  On the real sf0.001 corpus both families recall every
  true pair, so the pair sets are EQUAL (asserted value-for-value).
- SimHash: hamming<=k is a property of the FINGERPRINT, so the
  near-pair set legitimately differs by family; the family-
  independent invariant is the exact-duplicate subset (identical
  texts → identical fingerprints → hamming 0 under any family),
  asserted present in both.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF0001


def _docs(spark):
    from pdf_etl_ocr_inference_spark.sources.catalog import load_table

    return load_table(spark, SF0001, "documents")


def test_minhash_pair_set_family_independent_on_real_corpus(spark):
    from pdf_etl_ocr_inference_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    docs = _docs(spark)

    def pairs(fam):
        out = minhash_dedup_pairs(
            docs, "text", "doc_id",
            jaccard_threshold=0.5,
            hash_family=fam,
        )
        return {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in out.collect()
        }

    px = pairs("xxhash64")
    pm = pairs("md5")
    assert px, "fixture corpus must contain duplicate pairs"
    assert px == pm, (
        "xxhash64 and md5 machinery must agree on the verified pair "
        f"set; only_xx={sorted(px - pm)[:5]} only_md5={sorted(pm - px)[:5]}"
    )


def test_simhash_exact_dup_subset_family_independent(spark):
    from pdf_etl_ocr_inference_spark.operators.dedup import (
        simhash_near_pairs,
    )

    # plant exact copies of 10 real documents (new ids = +100000):
    # identical text → identical token sequence → identical
    # fingerprint → hamming 0 under ANY family.  (The sf0.001
    # corpus's own dups differ in punctuation, which whitespace
    # tokenization preserves — so no raw exact-dup pairs exist
    # pre-planting.)
    base = _docs(spark).select("doc_id", "text")
    copies = base.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    docs = base.unionByName(copies)
    expected = {(i, i + 100000) for i in range(10)}

    for fam in ("xxhash64", "md5"):
        got = {
            (r["id_a"], r["id_b"])
            for r in simhash_near_pairs(
                docs, "text", "doc_id", max_hamming=3, hash_family=fam
            )
            .select("id_a", "id_b")
            .collect()
        }
        missing = expected - got
        assert not missing, (
            f"{fam}: exact-dup pairs missing from hamming<=3: "
            f"{sorted(missing)[:5]}"
        )
