"""Deduplication operators for large-scale training-data pipelines.

All-native Column implementations (no Python UDFs): hashing uses
``xxhash64``/``md5`` built-ins, shingling uses higher-order array
functions, candidate generation is banded bucketing — the standard
MinHash-LSH construction (Broder 1997; Leskovec et al., "Mining of
Massive Datasets" ch.3), expressed Spark-first.

Every bucketed near-pair operator here and elsewhere in the package
(MinHash and SimHash dedup, the incremental MinHash index, embedding
LSH pairs, the near-pairs rewrite, gram-share pairs) is built from
one kernel, one function per step:

- :func:`shingle_signatures` — MinHash signature per grouping key;
- :func:`band_buckets` — the per-band bucket ids of a signature;
- :func:`bucket_pairs` — group by bucket, pair each bucket's sorted
  members (optionally capped, with the drop logged), built on
  :func:`ordered_pairs`, the one i<j pair generator;
- :func:`jaccard` — the one verification score over shingle sets;
- :func:`expand_groups` — re-expand verified representative pairs
  through their member arrays, plus each group's internal pairs;
- :func:`latest_live` — the index liveness rule (latest commit
  version wins, live beats tombstone).

Scale notes (100 TB):
- exact dedup = hash-groupBy: one shuffle on a 32-byte key, heavily
  combinable map-side.
- MinHash-LSH: cost is the band-bucket shuffle.  The band-hash key
  space (~2^64) spreads DISTINCT documents thinly, but d EXACT
  duplicates share every band bucket → d²/2 candidate pairs per band
  — quadratic exactly on the mass-duplicated corpora (boilerplate
  pages, mirrored docs) near-dedup exists for.  So the bucket pairing
  runs on one representative per distinct shingle set (exact-dup
  cliques collapse BEFORE banding; verified pairs re-expand through
  the member arrays afterwards, so the emitted pair set is unchanged).
  Candidate verification re-joins shingle sets only for candidate
  pairs among representatives (tiny vs corpus).
- The collapsed group frame feeds several branches (signatures,
  both verify sides, expansion, intra-group pairs), so it is
  materialised once by an eager checkpoint (``layout.truncate_lineage``)
  when the operator is called: the operator runs that job up front,
  and leaves no cached frame behind — the checkpoint's blocks go
  when the returned frame is dropped (ContextCleaner).
- SimHash: 64-bit fingerprint per doc; near-dup = identical fingerprint
  per rotated band table (Manku et al. WWW'07 style), bucketed the
  same way — with the same collapse applied on the fingerprint value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_etl_ocr_inference_spark.functions.text import (
    doc_fingerprint,
    word_ngrams,
)
from pdf_etl_ocr_inference_spark.operators.layout import (
    ensure_min_parallelism,
    truncate_lineage,
)

# MinHash shape: every caller used 32 hashes in 8 bands of 4 rows over
# word 3-gram shingles, so they are constants, not options.
NUM_HASHES = 32
NUM_BANDS = 8
SHINGLE_N = 3

# ------------------------------------------------------------------
# Hash families
# ------------------------------------------------------------------
#
# ``xxhash64`` (default): fastest JVM-native path, but DuckDB has no
# equivalent, so entries built on it are rows-only in the driver gate.
#
# ``md5``: DuckDB-replayable family (verdict-r5 #2) — MD5 exists in
# both engines and ``Spark F.conv(F.substring(md5, 1, k), 16, 10)``
# equals ``DuckDB CAST('0x' || SUBSTR(md5, 1, k) AS UBIGINT)`` for
# k ≤ 15.  MinHash does NOT pay 32 md5 calls per shingle: one md5
# yields a 32-bit base, and the 32 "permutations" are the standard
# affine universal family h_i = (a_i·x + b_i) mod (2^61 − 1) with
# module-constant (a_i, b_i) — exact BIGINT arithmetic (a_i < 2^31,
# x < 2^32 ⇒ a_i·x < 2^63), so both engines compute identical values.

MERSENNE61 = (1 << 61) - 1


def _affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per hash index, derived from md5 so the
    constants are reproducible in the oracle-SQL generator."""
    import hashlib as _hashlib

    out = []
    for i in range(num_hashes):
        d = _hashlib.md5(f"minhash-seed-{i}".encode()).digest()
        a = (int.from_bytes(d[:4], "big") | 1) & 0x7FFFFFFF
        b = int.from_bytes(d[4:8], "big") & 0x7FFFFFFF
        out.append((a, b))
    return out


def md5_base32(col: Column | str) -> Column:
    """First 32 bits of md5 as a nonnegative BIGINT (both engines)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def md5_base60(col: Column | str) -> Column:
    """First 60 bits of md5 as a nonnegative BIGINT (both engines)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def seeded_hashes(
    col: Column | str, num_hashes: int, family: str
) -> list[Column]:
    """``num_hashes`` independent 64-bit-ish hash Columns of ``col``."""
    if family == "xxhash64":
        return [F.xxhash64(col, F.lit(i)) for i in range(num_hashes)]
    if family == "md5":
        base = md5_base32(col)
        return [
            (F.lit(a) * base + F.lit(b)) % F.lit(MERSENNE61)
            for a, b in _affine_params(num_hashes)
        ]
    raise ValueError(f"unknown hash family {family!r}")


def band_bucket(sig: Column, band: Column, rpb, family: str) -> Column:
    """Bucket id for one signature band (``rpb`` rows per band)."""
    sl = F.slice(sig, band * rpb + 1, rpb)
    if family == "xxhash64":
        # band as seed keeps distinct bands in distinct key spaces
        return F.xxhash64(sl.cast("string"), band)
    if family == "md5":
        joined = F.array_join(
            F.transform(sl, lambda x: x.cast("string")), "\x1f"
        )
        return md5_base60(
            F.concat_ws("\x1f", band.cast("string"), joined)
        )
    raise ValueError(f"unknown hash family {family!r}")


def band_buckets(sig: Column, num_bands: int, family: str) -> Column:
    """The ``num_bands`` bucket ids of a signature as one array
    (``posexplode`` it into ``(band, bucket)`` rows); a band is
    ``len(sig) / num_bands`` signature rows.  The one band expression:
    the batch pipeline and the incremental index bucket alike by
    construction."""
    rpb = (F.size(sig) / num_bands).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: band_bucket(sig, b, rpb, family),
    )


# ------------------------------------------------------------------
# Bucketed near-pair kernel
# ------------------------------------------------------------------


def ordered_pairs(
    members: DataFrame, ids: str, a: str = "id_a", b: str = "id_b"
) -> DataFrame:
    """Every pair ``(a, b)`` of each row's SORTED member array ``ids``
    with ``a`` ahead of ``b`` — so ``a < b`` for distinct members.

    Two chained explodes: one row per member with its position, then
    one row per later partner.  Per-row memory is one member array,
    never the materialised pair set, so a pathological group streams
    its n²/2 pairs.  Rows with fewer than two members emit nothing.
    """
    with_a = members.filter(F.size(ids) >= 2).select(
        ids, F.posexplode(ids).alias("_i", a)
    )
    return with_a.select(
        a, F.explode(F.slice(ids, F.col("_i") + 2, F.size(ids))).alias(b)
    )


def bucket_pairs(
    rows: DataFrame,
    keys: list[str],
    member: Column | str,
    a: str = "id_a",
    b: str = "id_b",
) -> DataFrame:
    """Pairs of distinct members that share a bucket: group ``rows``
    by ``keys``, sort each bucket's distinct members and pair them
    (:func:`ordered_pairs`).  ONE bucket shuffle instead of a two-sided
    self-join (r8), with the join's strict ``a < b``: a member
    repeated in one bucket never pairs with itself.  A pair comes out
    once per bucket it shares; callers ``distinct`` or count.

    Memory bound: a bucket's member list is ONE aggregation buffer.
    Sort-based aggregation falls back to spilling rows BETWEEN
    groups, never within one, so the largest bucket's list must fit
    in one task's heap (about 8 bytes per id member).  The member-id
    lists of the collapse groups (:func:`shingle_clique_groups`,
    :func:`hamming_near_pairs`) carry the same bound.
    """
    buckets = (
        rows.groupBy(*keys)
        .agg(
            F.sort_array(F.array_distinct(F.collect_list(member))).alias(
                "_ids"
            )
        )
        .filter(F.size("_ids") >= 2)
    )
    return ordered_pairs(buckets, "_ids", a, b)


def shingle_signatures(
    rows: DataFrame, keys: list[str], shingles: Column, hash_family: str
) -> DataFrame:
    """``keys + sig``: the MinHash signature (array<long>, length
    ``NUM_HASHES``) of each key group's distinct ``shingles``.  The
    one signature function: the batch pipeline keys by representative
    id, the incremental index by ``(id, _deleted)``.

    Hash family: xxhash64(shingle, seed=i) — independent seeds give
    independent permutation approximations; all JVM-native.
    ``hash_family="md5"`` is the DuckDB-replayable affine family (one
    md5 per shingle + exact integer affine maps — see module header),
    which lets the oracle gate hash-check the output.

    Formulation: explode shingles → ``NUM_HASHES`` seeded
    min-aggregates → repack as array.  One shuffle keyed by the group
    with full map-side combine (partial mins), and every hash stays
    inside whole-stage codegen.  The alternative — nested
    ``array_min(transform(...))`` once per seed — builds a lambda
    expression per hash that is interpreted per array element and
    bloats codegen compile time by seconds per query.

    Groups with zero shingles (documents shorter than ``SHINGLE_N``
    words) drop out, which is correct for dedup: they collide with
    nothing.
    """
    exploded = rows.select(*keys, F.explode(shingles).alias("_sh"))
    hs = seeded_hashes("_sh", NUM_HASHES, hash_family)
    per_key = exploded.groupBy(*keys).agg(
        *[F.min(h).alias(f"_h{i}") for i, h in enumerate(hs)]
    )
    return per_key.select(
        *keys,
        F.array(*[F.col(f"_h{i}") for i in range(NUM_HASHES)]).alias("sig"),
    )


def jaccard(a: str, b: str) -> Column:
    """Exact Jaccard similarity of two distinct-element arrays."""
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def expand_groups(
    rep_pairs: DataFrame, groups: DataFrame, score: str, intra: Column
) -> DataFrame:
    """Member pairs ``(id_a < id_b, score)`` of a collapsed run.

    ``rep_pairs`` holds the verified representative pairs with both
    sides' member arrays (``_ids_a``, ``_ids_b``) and their ``score``;
    ``groups`` has the sorted member array ``_ids`` of every group.  A
    verified pair (A, B) emits every (x ∈ A, y ∈ B) by chained
    explodes over the arrays riding the pair — output-sized work, no
    joins — and every group with >1 member emits its internal pairs
    at score ``intra`` (what two identical members score).  Together
    that is exactly the pair set of the uncollapsed pipeline.
    """
    inter = (
        rep_pairs.select(F.explode("_ids_a").alias("_xa"), "_ids_b", score)
        .select("_xa", F.explode("_ids_b").alias("_xb"), score)
        .select(
            F.least("_xa", "_xb").alias("id_a"),
            F.greatest("_xa", "_xb").alias("id_b"),
            score,
        )
    )
    intra_pairs = ordered_pairs(groups, "_ids").withColumn(score, intra)
    return inter.unionByName(intra_pairs)


def latest_live(rows: DataFrame, keys: list[str]) -> DataFrame:
    """The liveness rule of the append-only indexes: per ``keys`` the
    row with the latest ``_commit_version`` wins, and a live row beats
    a tombstone (``_deleted``) at equal version (an in-place update
    that stays in its bucket).  Keys whose winner is a tombstone drop
    out; every column of ``rows`` is kept."""
    w = Window.partitionBy(*keys).orderBy(
        F.desc("_commit_version"), F.asc("_deleted")
    )
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (~F.col("_deleted")))
        .drop("_rn")
    )


# ------------------------------------------------------------------
# Exact dedup
# ------------------------------------------------------------------


def exact_dedup_keys(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group by canonical fingerprint; keep min id as survivor.

    Output: ``fingerprint, keep_id, n_dups`` — the survivor map a
    downstream anti-join uses to drop duplicates.

    No ``ensure_min_parallelism`` here (r6 perf pass): the per-row
    work is one JVM md5 + regex — cheap relative to a full-text
    round-robin shuffle.  At scale the parquet scan's splits supply
    the parallelism; locally the extra exchange was ~30% of the
    entry's wall time for zero benefit.
    """
    return (
        df
        .select(F.col(id_col), doc_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Return the deduplicated rows (survivor per fingerprint)."""
    keys = exact_dedup_keys(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keys, on=id_col, how="left_semi")


# ------------------------------------------------------------------
# MinHash + LSH near-dedup
# ------------------------------------------------------------------


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str,
    num_bands: int = 8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Band the signatures and pair up each (band, band-hash) bucket.

    Output: candidate pairs ``id_a < id_b`` with the number of bands
    in which they collided (dedup over bands built in).  A band is
    ``len(sig) / num_bands`` signature rows.

    Shape (r8): :func:`bucket_pairs`, NOT a self-join.  The self-join
    evaluated the whole signature-aggregation subtree once per join
    side (two full 32-min-agg passes) and shuffled both sides on the
    bucket key; this is ONE pass and ONE bucket shuffle, measured 21%
    faster on the candidate stage at sf0.1 with bit-identical output.
    """
    banded = sigs.select(
        id_col,
        F.posexplode(
            band_buckets(F.col("sig"), num_bands, hash_family)
        ).alias("band", "bucket"),
    )
    return (
        bucket_pairs(banded, ["band", "bucket"], id_col)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_bands"))
    )


def shingle_clique_groups(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Collapse exact-duplicate shingle sets to one GROUP row each.

    Jaccard is a pure function of a document's (distinct) shingle
    set, so documents with identical sets are interchangeable for
    near-dedup.  Groups by a 128-bit set fingerprint (md5 of the
    sorted set joined on ``\\x1f`` — injective on sets, same
    collision budget as ``exact_dedup``'s md5).

    Returns the checkpointed frame
    ``(_fp, _s struct(<id>, shingles), _ids array<id>)`` — one row
    per DISTINCT shingle set: ``_s`` is the min-id survivor with its
    shingle set, ``_ids`` the sorted member ids.  This is the
    pre-banding collapse that keeps LSH candidate volume linear
    under mass duplication (d identical docs → one banded row,
    not d).

    Shape (r13 perf pass, guide §2.3/§2.4 — replaces the r8–r12
    ``min() over (partition by _fp)`` window): the grouping is a
    map-side-COMBINABLE aggregate (``min_by`` keeps one candidate
    struct per fingerprint per map task; ``collect_list`` ships ids
    only), so a 10k-deep boilerplate clique ships each map task's
    one survivor candidate instead of routing 10k full shingle
    arrays into a single window partition — and the frame holds
    shingles for DISTINCT sets only, not every row.  The one pass
    feeds every downstream branch (signature build, both verify
    sides, expansion, intra-clique pairs), so it is materialised by
    an eager checkpoint (``truncate_lineage``): this call runs one
    job, and nothing stays cached once the frame is dropped.  A
    clique's member-id list is one aggregation buffer (the bound
    :func:`bucket_pairs` states).
    """
    sh_expr = F.array_sort(
        F.array_distinct(word_ngrams(text_col, SHINGLE_N))
    )
    return truncate_lineage(
        ensure_min_parallelism(df)
        .select(F.col(id_col), sh_expr.alias("shingles"))
        .withColumn("_fp", F.md5(F.concat_ws("\x1f", F.col("shingles"))))
        .groupBy("_fp")
        .agg(
            F.min_by(
                F.struct(F.col(id_col), F.col("shingles")), F.col(id_col)
            ).alias("_s"),
            F.sort_array(F.collect_list(id_col)).alias("_ids"),
        )
    )


def minhash_rep_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    jaccard_threshold: float = 0.5,
    hash_family: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """The near-dedup pipeline UP TO clique expansion: returns
    ``(grp, vrep)`` — the checkpointed clique-group frame
    (:func:`shingle_clique_groups`) and the VERIFIED representative-
    level pairs ``(id_a, id_b, _ids_a, _ids_b, jaccard)`` with
    ``id_a < id_b`` (both are clique survivors; member arrays ride
    along so callers expand without another join).  Consumers that
    need per-member output expand through ``minhash_dedup_pairs``;
    consumers that aggregate over CLIQUE-INVARIANT structure
    (connected components, cluster collapse) should work on this
    frame instead — d-deep duplicate cliques contribute ONE node,
    not d, to whatever runs next."""
    grp = shingle_clique_groups(df, text_col, id_col)
    reps = grp.select(
        F.col(f"_s.{id_col}").alias(id_col),
        F.col("_s.shingles").alias("shingles"),
    )
    # signatures over representative shingle sets (shingles computed
    # once, in the group frame)
    sigs = shingle_signatures(reps, [id_col], F.col("shingles"), hash_family)
    cands = minhash_lsh_candidates(
        sigs, id_col, NUM_BANDS, hash_family=hash_family
    )
    # verify attaches each side's shingle set AND member-id array in
    # one join per side (one row per distinct set), so downstream
    # expansion needs no further joins
    ga = grp.select(
        F.col(f"_s.{id_col}").alias("id_a"),
        F.col("_s.shingles").alias("sh_a"),
        F.col("_ids").alias("_ids_a"),
    )
    gb = grp.select(
        F.col(f"_s.{id_col}").alias("id_b"),
        F.col("_s.shingles").alias("sh_b"),
        F.col("_ids").alias("_ids_b"),
    )
    vrep = (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("jaccard", jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "_ids_a", "_ids_b", "jaccard")
    )
    return grp, vrep


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    jaccard_threshold: float = 0.5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline → verified duplicate pairs.

    EXACT-DUP CLIQUES COLLAPSE FIRST: documents group by their
    (sorted, distinct) shingle set — Jaccard is a pure function of
    that set, so clique members are interchangeable — and only the
    min-id representative of each distinct set is shingled into the
    band buckets.  d identical documents therefore contribute ONE row
    per band bucket instead of d (candidate volume stays linear in
    planted duplication; the pre-collapse join was d²/2 per band —
    the realistic 100 TB worst case, since pretraining corpora carry
    thousands-deep boilerplate/mirror cliques).

    Candidates among representatives verify by exact Jaccard on the
    representative shingle sets, then re-expand through the member
    arrays (:func:`expand_groups`): an inter-clique verified pair
    (A, B) emits every (x ∈ A, y ∈ B), and every clique with >1
    member emits its internal pairs at jaccard 1.0 — exactly the pair
    set the uncollapsed pipeline produced (expansion cost ∝ output
    size, which is irreducible for pair output).  Output: ``id_a,
    id_b, jaccard`` for pairs ≥ threshold.  Runs the clique-group
    checkpoint job when called and leaves no cached frame.
    """
    grp, vrep = minhash_rep_pairs(
        df,
        text_col,
        id_col,
        jaccard_threshold=jaccard_threshold,
        hash_family=hash_family,
    )
    pairs = expand_groups(vrep, grp, "jaccard", F.lit(1.0))
    # intra-clique pairs score 1.0, so a threshold above 1 drops them
    # too (verified pairs already passed it)
    return pairs.filter(F.col("jaccard") >= jaccard_threshold)


# ------------------------------------------------------------------
# n-gram Jaccard (exact, pairwise — oracle-checkable on small scopes)
# ------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard ≥ threshold.

    O(n²) — the brute-force baseline MinHash-LSH approximates; callers
    scope it to a bounded subset.  Output ``id_a, id_b, jaccard``.
    """
    sh = ensure_min_parallelism(df).select(
        F.col(id_col),
        F.array_distinct(word_ngrams(text_col, SHINGLE_N)).alias("sh"),
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------------------------
# SimHash
# ------------------------------------------------------------------


def simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash fingerprint per document (Charikar 2002).

    For each bit position, sum +1/−1 votes of token hashes; bit = 1 if
    the sum is positive.  Formulation: explode tokens → one token hash
    MATERIALIZED as a column → 64 conditional-sum aggregates over bit
    extractions of it → recombine bits.  One shuffle keyed by doc id
    with map-side partial sums, everything in whole-stage codegen.
    (64 ``F.aggregate`` lambdas over a token array would each be
    interpreted per element — seconds of codegen and a Python-free
    but JVM-interpreted hot path.)

    Token frequency weights votes (tokens are not deduplicated),
    matching the standard construction.

    ``hash_family="md5"``: bit b comes from the first 64 bits of the
    token's md5, materialized as two 32-bit halves (hi = hex chars
    1-8, lo = chars 9-16) so both engines extract identical bits with
    signed-safe arithmetic — one md5 per token either way.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    exploded = ensure_min_parallelism(df).select(
        F.col(id_col), F.explode(toks).alias("_t")
    )
    if hash_family == "xxhash64":
        # materialize the hash once per token; the 64 agg expressions
        # reference the column instead of re-hashing per bit
        hashed = exploded.withColumn("_h", F.xxhash64("_t"))
        bit = [
            F.shiftright("_h", b).bitwiseAND(F.lit(1)) for b in range(64)
        ]
    elif hash_family == "md5":
        hashed = exploded.withColumn(
            "_hi", md5_base32("_t")
        ).withColumn(
            "_lo",
            F.conv(F.substring(F.md5("_t"), 9, 8), 16, 10).cast("long"),
        )
        bit = [
            F.shiftright("_lo" if b < 32 else "_hi", b % 32).bitwiseAND(
                F.lit(1)
            )
            for b in range(64)
        ]
    else:
        raise ValueError(f"unknown hash family {hash_family!r}")
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(F.when(bit[b] == 1, 1).otherwise(-1)).alias(f"_v{b}")
            for b in range(64)
        ]
    )
    bits = [
        F.when(
            F.col(f"_v{b}") > 0,
            F.lit(2**b if b < 63 else -(2**63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for b in range(64)
    ]
    fingerprint = bits[0]
    for c in bits[1:]:
        fingerprint = fingerprint + c
    return votes.select(F.col(id_col), fingerprint.alias("simhash"))


def hamming_near_pairs(
    fps: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 3,
    num_blocks: int = 4,
) -> DataFrame:
    """Near pairs among 64-bit fingerprints by hamming ≤ max_hamming.

    Block-permutation candidate generation (Manku et al., WWW'07):
    split the 64-bit fingerprint into ``num_blocks`` 16-bit blocks; two
    fingerprints within hamming r < num_blocks must agree on ≥1 block →
    pair per block bucket (:func:`bucket_pairs`), verify with
    bit_count(xor).  Works for any 64-bit
    locality-preserving hash (SimHash over text, dHash over images).

    EQUAL FINGERPRINTS COLLAPSE FIRST: the pair predicate is a pure
    function of the two hash values, so rows group by value and only
    one representative per DISTINCT fingerprint enters the block
    buckets — d identical fingerprints (mass-duplicated docs/images hash
    identically) contribute 1 row per block instead of d (the
    pre-collapse join paid d²/2 candidates per block).  Verified
    value pairs re-expand through the value groups afterwards, plus
    each >1-member group's internal pairs at hamming 0
    (:func:`expand_groups`), reproducing the uncollapsed pair set
    exactly.  Runs the group-frame checkpoint job when called and
    leaves no cached frame.

    Completeness requires ``max_hamming < num_blocks`` (pigeonhole);
    rejected otherwise instead of silently losing recall.  Wider radii
    → more, narrower blocks (e.g. 8 blocks of 8 bits for radius ≤ 7),
    which also widens the candidate buckets — the usual LSH trade.
    """
    if max_hamming >= num_blocks:
        raise ValueError(
            f"max_hamming={max_hamming} needs num_blocks>{max_hamming} "
            "for complete candidate generation"
        )
    if 64 % num_blocks:
        raise ValueError("num_blocks must divide 64")
    width = 64 // num_blocks
    # width=64 (num_blocks=1): 2^64-1 overflows a long literal; the
    # all-bits mask in signed-64 arithmetic is -1
    mask = (1 << width) - 1 if width < 64 else -1
    vals = fps.select(F.col(id_col), F.col(hash_col).alias("_fpv"))
    # checkpoint the per-DISTINCT-fingerprint group frame: it feeds
    # four downstream branches (block buckets, both expansion sides,
    # the intra pairs) and each reference would otherwise re-run the
    # upstream fingerprint computation (a 64-agg shuffle for SimHash,
    # a pandas-UDF pass for dHash).  Eager, so this call runs one
    # job, and nothing stays cached once the frame is dropped.  r13
    # (guide §2.3/§2.4): the grouping is a map-side-COMBINABLE
    # aggregate (one partial row per fingerprint value per map task)
    # instead of the r12 ``min() over (partition by _fpv)`` window
    # that routed every member row of a mass-duplicated fingerprint
    # into one window partition; the member ids ride as a sorted
    # array (one aggregation buffer — the bound :func:`bucket_pairs`
    # states) so expansion needs no survivor-map joins.
    grp = truncate_lineage(
        vals.groupBy("_fpv").agg(
            F.min(id_col).alias("_keep"),
            F.sort_array(F.collect_list(id_col)).alias("_ids"),
        )
    )
    blocked = grp.select(
        "_fpv",
        "_keep",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("_fpv"), width * i).bitwiseAND(
                        F.lit(mask)
                    )
                    for i in range(num_blocks)
                ]
            )
        ).alias("block_idx", "block_val"),
    )
    # bucket members are (_keep, _fpv) structs, sorted by _keep first,
    # so pairs keep the _ka < _kb orientation of the join version
    # (_keep values are distinct across distinct fingerprints)
    value_pairs = (
        bucket_pairs(
            blocked,
            ["block_idx", "block_val"],
            F.struct("_keep", "_fpv"),
            "_a",
            "_b",
        )
        .select(
            F.col("_a._fpv").alias("fp_a"), F.col("_b._fpv").alias("fp_b")
        )
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    # expansion reads the member ARRAYS off the group frame (one join
    # row per distinct fingerprint)
    ma = grp.select(
        F.col("_fpv").alias("fp_a"), F.col("_ids").alias("_ids_a")
    )
    mb = grp.select(
        F.col("_fpv").alias("fp_b"), F.col("_ids").alias("_ids_b")
    )
    return expand_groups(
        value_pairs.join(ma, "fp_a").join(mb, "fp_b"),
        grp,
        "hamming",
        F.lit(0).cast("int"),
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    num_blocks: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming."""
    fps = simhash(df, text_col, id_col, hash_family=hash_family)
    return hamming_near_pairs(
        fps, "simhash", id_col, max_hamming=max_hamming, num_blocks=num_blocks
    )


# ------------------------------------------------------------------
# Connected components (log-round)
# ------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 20,
) -> tuple[DataFrame, int]:
    """Log-round connected components over an undirected pair graph.

    Shiloach–Vishkin-style alternation, per round:

    1. **hook** — every node takes the minimum label among itself and
       its neighbors (plain HashMin step);
    2. **shortcut** — one pointer jump: ``label := label(label)``,
       compressing label chains so distances to the component minimum
       halve every round.

    Plain neighbor-min propagation (``dedup_clusters``) needs
    O(diameter) rounds — fine for exact-dup cliques, hopeless for the
    chain-shaped similarity graphs near-dup dedup produces at 100 TB.
    The hook+shortcut alternation converges in O(log n) rounds on any
    graph shape, so ``max_rounds=20`` covers components of ~10^6-hop
    diameter.  Labels only decrease and are always node ids from the
    same component, so the fixpoint label is the component minimum.

    ``edges`` need not be symmetric (symmetrized internally) and rows
    with ``id_a == id_b`` are ignored.  Returns ``(labels, rounds)``:
    ``labels(node, component)`` covers every node incident to an edge
    (isolated nodes are their own component by definition and should
    be handled by the caller's final left join — propagating them
    through every round would scale with the corpus, not the pair
    graph).  Raises if ``max_rounds`` is hit without convergence.
    """
    pairs = edges.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    # Symmetrize by EXPLODING each pair into both directions rather
    # than a union of two selects (r12 perf pass): a union's branches
    # each re-evaluate the `pairs` subtree — for the quality-collapse
    # callers that subtree is the whole MinHash verify pipeline, run
    # twice for one edge list.  The explode reads it once.
    sym = truncate_lineage(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("src"),
                        F.col("dst").alias("dst"),
                    ),
                    F.struct(
                        F.col("dst").alias("src"),
                        F.col("src").alias("dst"),
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
    )
    labels = truncate_lineage(
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
    )
    for rounds in range(1, max_rounds + 1):
        nmin = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("component").alias("_nmin"))
        )
        # carry the round-entry label as _old so convergence detection
        # is a filter on the checkpointed frame — not a second join of
        # the new labels against the old (one fewer shuffle per round)
        hooked = labels.join(
            nmin, labels["node"] == nmin["src"], "left"
        ).select(
            "node",
            F.col("component").alias("_old"),
            F.least(
                F.col("component"),
                F.coalesce(F.col("_nmin"), F.col("component")),
            ).alias("component"),
        )
        parent = hooked.select(
            F.col("node").alias("_pnode"), F.col("component").alias("_pcomp")
        )
        shortcut = hooked.join(
            parent, hooked["component"] == parent["_pnode"], "left"
        ).select(
            "node",
            "_old",
            F.least(
                F.col("component"),
                F.coalesce(F.col("_pcomp"), F.col("component")),
            ).alias("component"),
        )
        # r13 NEGATIVE RESULT (verdict-r12 #4, measured then
        # reverted): fusing the convergence probe into the round
        # materialization (persist + full changed-count agg instead
        # of eager checkpoint + limit(1) probe) was implemented and
        # MEASURED: under AQE the persist-materializing aggregate
        # spawns MORE driver job round-trips than the checkpoint
        # (22 → 24 jobs on the 2-round test graph) and
        # dedup_clusters_sv read flat-to-worse (1.06 → 1.10 s min),
        # because each non-truncated round also re-optimizes a
        # growing logical plan.  The checkpoint+probe shape stays;
        # the CC input itself shrank instead (rep-graph lift in
        # quality_cluster_members).
        shortcut = truncate_lineage(shortcut)
        changed = (
            shortcut.filter(F.col("component") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = shortcut.drop("_old")
        if changed == 0:
            return labels, rounds
    raise RuntimeError(
        f"connected_components: no convergence in {max_rounds} rounds "
        "(theoretically impossible for max_rounds >= log2(n) + 2; "
        "check the edge set for instability)"
    )
