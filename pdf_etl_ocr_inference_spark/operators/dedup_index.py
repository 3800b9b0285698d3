"""Incremental MinHash-LSH dedup index (text analogue of the
embedding LSH index in ``optimizer.py``).

The 100 TB reality of near-dedup is not "dedup the corpus once", it's
"every day a few billion new documents arrive and must be checked
against the existing corpus WITHOUT re-shingling 100 TB".  The
structure that makes this incremental is the banded MinHash bucket
table, maintained append-only from the change feed:

- index row = (id, band, bucket, _commit_version, _deleted), one per
  (doc × band) — ~32 bytes/band/doc, no shingles stored;
- refresh folds one change-feed commit: live band rows for
  insert/update_postimage (hashed from the NEW text), tombstones for
  delete/update_preimage (hashed from the OLD text — the preimage
  tells us which buckets the stale entry occupies, no index lookup);
- probes resolve liveness per (id, band, bucket) with
  ``dedup.latest_live``: latest version wins, live beats tombstone
  at equal version;
- a new-arrivals batch probes by joining its own band rows against
  the index buckets — cost ∝ |batch| × collisions, never a corpus
  scan — then exact-Jaccard-verifies candidates against corpus text
  fetched by a candidate-id semi-join.

Layout lesson re-learned from the embedding index: directory fanout
must stay BOUNDED.  Partitioning by (band, bucket mod 256) would make
num_bands x 256 directories of tiny files — the metadata/scheduling
cost dominates the probe.  So the partition column is _pb =
xxhash64(band, bucket) mod 256 alone (256 directories total, any
num_bands), with (band, bucket) kept as sorted DATA columns so
row-group min/max stats prune the equality probe inside each file.

The index has the batch pipeline's fixed MinHash shape
(``dedup.NUM_HASHES`` hashes, ``NUM_BANDS`` bands, ``SHINGLE_N``-gram
shingles); its meta records only the hash family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.functions.text import word_ngrams
from pdf_etl_ocr_inference_spark.operators.dedup import (
    NUM_BANDS,
    SHINGLE_N,
    band_buckets,
    jaccard,
    latest_live,
    shingle_signatures,
)
from pdf_etl_ocr_inference_spark.operators.layout import (
    ensure_min_parallelism,
    truncate_lineage,
)
from pdf_etl_ocr_inference_spark.optimizer import IndexCatalog

MINHASH_INDEX_FORMAT = 3
_PARTITION_BUCKETS = 256


def _band_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    version: int,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, band, bucket, _commit_version, _deleted, _pb) rows.

    ``df`` must carry a boolean ``_deleted`` column; signatures group
    by (id, _deleted) so ONE pipeline handles a mixed change commit —
    an update contributes a live row hashed from its postimage text
    AND a tombstone hashed from its preimage text, without running
    (and codegen-compiling) the minhash pipeline twice.  Signatures
    and bands come from ``dedup.shingle_signatures`` and
    ``dedup.band_buckets``, the functions the batch pipeline
    (``minhash_dedup_pairs``) uses, so both compute the same buckets
    by construction.
    """
    sigs = shingle_signatures(
        ensure_min_parallelism(df),
        [id_col, "_deleted"],
        F.array_distinct(word_ngrams(text_col, SHINGLE_N)),
        hash_family,
    )
    return (
        sigs.select(
            F.col(id_col),
            F.col("_deleted"),
            F.posexplode(
                band_buckets(F.col("sig"), NUM_BANDS, hash_family)
            ).alias("band", "bucket"),
        )
        .withColumn("_commit_version", F.lit(version).cast("long"))
        .withColumn(
            "_pb",
            F.pmod(F.xxhash64("band", "bucket"), F.lit(_PARTITION_BUCKETS)),
        )
    )


def build_minhash_index(
    spark: SparkSession,
    corpus: DataFrame,
    table_key: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    catalog: IndexCatalog | None = None,
    hash_family: str = "xxhash64",
) -> str:
    """Full (re)build at version 0 — also the compaction that folds
    accumulated tombstones away.  One corpus scan; band hashing is
    the same seeded pipeline as the batch dedup op."""
    cat = catalog or IndexCatalog()
    data_path = cat.data_path(table_key)
    rows = _band_rows(
        corpus.withColumn("_deleted", F.lit(False)),
        text_col, id_col, version=0, hash_family=hash_family,
    )
    (
        rows.repartition("_pb")
        .sortWithinPartitions("_pb", "band", "bucket")
        .write.partitionBy("_pb")
        .parquet(data_path)
    )
    cat.register(
        table_key,
        {
            "kind": "minhash",
            "format_version": MINHASH_INDEX_FORMAT,
            "data_path": data_path,
            "id_col": id_col,
            "hash_family": hash_family,
            "last_version": 0,
        },
    )
    return data_path


def _load_meta(table_key: str, catalog: IndexCatalog | None) -> dict:
    cat = catalog or IndexCatalog()
    meta = cat.lookup(table_key)
    if (
        meta is None
        or meta.get("kind") != "minhash"
        or meta.get("format_version") != MINHASH_INDEX_FORMAT
    ):
        raise ValueError(f"no current-format MinHash index for {table_key!r}")
    return meta


def refresh_minhash_index(
    spark: SparkSession,
    table_key: str,
    changes: DataFrame,
    version: int,
    text_col: str = "text",
    catalog: IndexCatalog | None = None,
) -> None:
    """Fold ONE change-feed commit append-only (cost ∝ |changes|).

    ``changes`` carries (id, text, _change_type) rows — the
    ``streaming.changefeed`` contract.  Idempotent on driver retry:
    a version at or below the watermark is a no-op.
    """
    cat = catalog or IndexCatalog()
    meta = _load_meta(table_key, cat)
    if version <= meta["last_version"]:
        return
    tagged = changes.filter(
        F.col("_change_type").isin(
            "insert", "update_postimage", "delete", "update_preimage"
        )
    ).withColumn(
        "_deleted",
        F.col("_change_type").isin("delete", "update_preimage"),
    )
    rows = _band_rows(
        tagged,
        text_col,
        meta["id_col"],
        version=version,
        hash_family=meta["hash_family"],
    )
    (
        rows.repartition("_pb")
        .sortWithinPartitions("_pb", "band", "bucket")
        .write.mode("append")
        .partitionBy("_pb")
        .parquet(meta["data_path"])
    )
    meta["last_version"] = version
    cat.register(table_key, meta)


def live_band_rows(
    spark: SparkSession,
    table_key: str,
    catalog: IndexCatalog | None = None,
) -> DataFrame:
    """Liveness-resolved (id, band, bucket) view of the index: per
    (id, band, bucket) the latest version wins, live beats tombstone
    at equal version."""
    meta = _load_meta(table_key, catalog)
    idx = spark.read.parquet(meta["data_path"])
    id_col = meta["id_col"]
    return latest_live(idx, [id_col, "band", "bucket"]).select(
        id_col, "band", "bucket"
    )


def dedup_against_index(
    spark: SparkSession,
    table_key: str,
    new_docs: DataFrame,
    corpus_text: DataFrame,
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    catalog: IndexCatalog | None = None,
) -> DataFrame:
    """Near-dup pairs touching a new-arrivals batch, WITHOUT a corpus
    re-shingle.  Cost model at 100 TB:

    - the batch's band rows come from its own text (no index read
      needed to know where to look);
    - their partition buckets prune the index scan to the touched
      ``_pb`` directories (≤ 256, far fewer for a small batch);
    - the pruned index side BROADCAST-joins the batch's band rows —
      the index never shuffles;
    - liveness (latest version wins, live beats tombstone) is
      resolved only on the matched candidates: all versions of an
      ``(id, band, bucket)`` triple share the bucket, so the matched
      subset is resolution-complete;
    - only candidate ids are fetched from ``corpus_text`` (in a feed
      deployment, ``changefeed.snapshot``) for exact-Jaccard verify.

    ``new_docs``: (id, text) of the batch — call AFTER
    ``refresh_minhash_index`` folded it, so batch-internal pairs are
    found via the index too.  Output: ``id_a < id_b, jaccard`` —
    exactly the batch-touching subset of ``minhash_dedup_pairs`` over
    the full corpus (the property pytest asserts).

    The probe rows and the candidates' shingle sets each feed two
    branches, so each is materialised by an eager checkpoint: this
    call runs those jobs and leaves no cached frame.
    """
    meta = _load_meta(table_key, catalog)
    id_col = meta["id_col"]
    probe = truncate_lineage(
        _band_rows(
            new_docs.withColumn("_deleted", F.lit(False)),
            text_col,
            id_col,
            version=0,
            hash_family=meta["hash_family"],
        ).select(F.col(id_col).alias("_probe_id"), "band", "bucket", "_pb")
    )
    # touched partition directories — ≤ 256 values of control data,
    # collected driver-side into a simple IN-list predicate on the
    # partition column so it lands in PartitionFilters
    pbs_in = sorted(
        r["_pb"] for r in probe.select("_pb").distinct().collect()
    )
    idx = spark.read.parquet(meta["data_path"]).filter(
        F.col("_pb").isin(pbs_in)
    )
    matched = idx.join(
        F.broadcast(probe.drop("_pb")), ["band", "bucket"]
    ).filter(F.col(id_col) != F.col("_probe_id"))
    # liveness on the matched subset only.  Not materialised: the
    # pruned, broadcast probe is cheap to run twice (once for the
    # shingle fetch, once in the returned plan), and keeping it in the
    # returned plan keeps the pruning and the broadcast visible there
    cands = (
        latest_live(matched, [id_col, "band", "bucket", "_probe_id"])
        .select(
            F.least(F.col(id_col), F.col("_probe_id")).alias("id_a"),
            F.greatest(F.col(id_col), F.col("_probe_id")).alias("id_b"),
        )
        .distinct()
    )
    # shingle ONLY candidate docs: the candidate-id set is small, so
    # it broadcasts into the corpus_text scan and the expensive
    # shingling runs on candidates alone — verification cost stays
    # ∝ candidates, not ∝ corpus text volume
    cand_ids = (
        cands.select(F.explode(F.array("id_a", "id_b")).alias(id_col))
        .distinct()
    )
    sh = truncate_lineage(
        corpus_text.join(F.broadcast(cand_ids), id_col).select(
            F.col(id_col),
            F.array_distinct(word_ngrams(text_col, SHINGLE_N)).alias("_sh"),
        )
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("sh_b"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
