"""Similarity search over embedding columns (SURVEY.md §2.10).

The reference's vector search is a managed delta-sync index plus
``similarity_search(query, num_results=5)`` (``ocr-tesseract-
unstructured.py:136-172``).  Engine equivalents:

- ``build_index``      : OP-43 — the "index" is a materialized
  embeddings table keyed by primary key (derived data, refreshable
  incrementally via the streaming layer).
- ``topk_exact``       : OP-44 — brute-force cosine top-k; native
  zip_with/aggregate dot products + TakeOrderedAndProject.  At 100 TB
  this is one scan, no shuffle (top-k is a per-partition heap merged
  on the driver).
- ``topk_lsh``         : random-hyperplane LSH (Charikar 2002) —
  signature bits from fixed seeded planes, candidates from matching
  buckets, exact re-rank on candidates.  The scale path when the
  corpus is too big to scan per query.
- ``topk_ivf``         : IVF-style two-level search — k-means-ish
  cells (here: precomputed or label-derived centroids), probe the
  nearest ``n_probe`` cells, exact re-rank within.
"""

from __future__ import annotations

import itertools
import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    l2_norm,
)
from pdf_etl_ocr_inference_spark.operators.dedup import bucket_pairs


def _as_vec_lit(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def build_index(
    df: DataFrame, id_col: str, embedding_col: str
) -> DataFrame:
    """OP-43: materialize (pk, embedding, norm) — precomputing norms
    makes every subsequent cosine query a dot product."""
    return df.select(
        F.col(id_col),
        F.col(embedding_col).alias("embedding"),
        l2_norm(embedding_col).alias("norm"),
    )


def topk_exact(
    df: DataFrame,
    embedding_col: str,
    query_vec: list[float],
    k: int = 5,
    id_col: str = "vec_id",
    metric: str = "cosine",
    table_key: str | None = None,
    exclude_ids: list | None = None,
) -> DataFrame:
    """OP-44 brute-force top-k: score every row, take k.

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject — each
    partition keeps a k-heap, driver merges; no global sort shuffle.
    Deterministic tie-break on id.

    ``table_key`` declares that ``df`` is exactly the indexed corpus
    registered under that key (minus ``exclude_ids``): the similarity
    hint rides the score column's metadata, and the engine optimizer
    (``optimizer.rewrite_similarity_topk``) may then substitute the
    LSH bucket-probe access path for this full scan.  Don't pass it
    for arbitrarily pre-filtered inputs — the index doesn't know your
    filter.
    """
    import json as _json

    if exclude_ids:
        df = df.filter(~F.col(id_col).isin(list(exclude_ids)))
    q = _as_vec_lit(query_vec)
    if metric == "cosine":
        score = cosine_similarity(F.col(embedding_col), q)
    elif metric == "dot":
        score = dot_product(F.col(embedding_col), q)
    else:
        raise ValueError(f"unknown metric {metric!r}")
    score_col = F.round(score, 4)
    if table_key is not None:
        from pdf_etl_ocr_inference_spark.optimizer import HINT_KEY

        hint = _json.dumps(
            {
                "metric": metric,
                "query_vec": [float(v) for v in query_vec],
                "table_key": table_key,
                "exclude_ids": list(exclude_ids or []),
            }
        )
        scored = score_col.alias("score", metadata={HINT_KEY: hint})
    else:
        scored = score_col.alias("score")
    return (
        df.select(F.col(id_col), scored)
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


# ------------------------------------------------------------------
# Random-hyperplane LSH (approximate, scale path)
# ------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (no numpy needed at
    plan-build time; simple LCG → Box-Muller)."""
    state = seed or 1

    def _next() -> float:
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**64)
        return state / 2**64

    planes = []
    for _ in range(n_planes):
        vals = []
        while len(vals) < dim:
            u1, u2 = max(_next(), 1e-12), _next()
            r = math.sqrt(-2.0 * math.log(u1))
            vals.append(r * math.cos(2 * math.pi * u2))
            if len(vals) < dim:
                vals.append(r * math.sin(2 * math.pi * u2))
        planes.append(vals[:dim])
    return planes


# Fixed-point scale for LSH sign bits: coordinates and plane entries
# quantize to floor(x * 2^20).  Multiplying an IEEE double by a power
# of two is EXACT (only the exponent moves), so the quantized value —
# and therefore every signature bit — is bit-identical in Spark
# (F.floor(x * 1048576.0)), Python (math.floor) and DuckDB
# (FLOOR(x::DOUBLE * 1048576.0)): the sign of an exact int64 dot
# product cannot depend on reduction order the way a float dot's
# could.  Magnitudes: |coord| ≲ 2, |plane| ≲ 6 ⇒ products < 2^44,
# 64-term sums < 2^50 — exact in int64.
LSH_Q_SCALE = float(1 << 20)


def quantized_planes(
    dim: int, n_planes: int, seed: int = 42
) -> list[list[int]]:
    """The seeded hyperplanes, fixed-point quantized (module-constant
    ints both the Spark plan and the oracle-SQL generator embed)."""
    return [
        [math.floor(v * LSH_Q_SCALE) for v in p]
        for p in _hyperplanes(dim, n_planes, seed)
    ]


def _quantize_coord(v: Column) -> Column:
    return F.floor(v.cast("double") * F.lit(LSH_Q_SCALE)).cast("long")


def lsh_signature(
    embedding_col: Column | str, dim: int, n_planes: int = 16, seed: int = 42
) -> Column:
    """Sign-bit signature under fixed hyperplanes → long bucket id.

    Fixed-point exact: bit_j = (Σ_i floor(x_i·2^20)·floor(p_ji·2^20)
    > 0), an int64 sum — engine- and partitioning-independent, and
    replayable in ANSI SQL (the md5-family trick applied to
    hyperplane hashing; see plans/lsh_sql.py for the oracle side).
    """
    col = F.col(embedding_col) if isinstance(embedding_col, str) else embedding_col
    planes = quantized_planes(dim, n_planes, seed)
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane_lit = F.array(*[F.lit(int(v)).cast("long") for v in p])
        dot = F.aggregate(
            F.zip_with(col, plane_lit, lambda x, q: _quantize_coord(x) * q),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bit = F.when(dot > 0, F.lit(1)).otherwise(F.lit(0))
        sig = sig + bit.cast("long") * F.lit(2**i).cast("long")
    return sig


def signature_int(query_vec: list[float], n_planes: int, seed: int) -> int:
    """Driver-side signature of one vector — same fixed-point
    arithmetic as :func:`lsh_signature` (Python ints are exact), so
    driver-computed probes hit exactly the buckets the plan wrote."""
    planes = quantized_planes(len(query_vec), n_planes, seed)
    xq = [math.floor(float(v) * LSH_Q_SCALE) for v in query_vec]
    qsig = 0
    for i, p in enumerate(planes):
        dp = sum(a * b for a, b in zip(xq, p))
        qsig += (1 if dp > 0 else 0) * 2**i
    return qsig


def query_signature_probes(
    query_vec: list[float],
    n_planes: int,
    seed: int,
    hamming_radius: int,
) -> list[int]:
    """Driver-side query signature + its Hamming-ball multi-probe set
    (Lv et al. 2007): every bucket differing in ≤ r sign bits."""
    qsig = signature_int(query_vec, n_planes, seed)
    return [
        qsig ^ sum(1 << b for b in flipped)
        for r in range(hamming_radius + 1)
        for flipped in itertools.combinations(range(n_planes), r)
    ]


def topk_lsh(
    df: DataFrame,
    embedding_col: str,
    query_vec: list[float],
    k: int = 5,
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
    hamming_radius: int = 2,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: restrict to LSH buckets near the query's
    signature (multi-probe, Lv et al. 2007), then exact cosine
    re-rank.  With ``n_planes`` bits the corpus shards into 2^n
    buckets → per-query scan cost drops by that factor; the signature
    column is precomputable (index-time) so queries prune on a
    parquet/partition filter.

    ``hamming_radius`` probes every bucket whose signature differs
    from the query's in ≤ r bits (sum of C(n,i) buckets) — a
    single-bucket probe on a sparse corpus frequently returns < k
    candidates, while nearby buckets hold the near-misses that one
    flipped sign bit sent elsewhere.

    ``n_tables`` > 1 OR-amplifies recall with independent plane
    families (seed + 1000·t, matching ``lsh_near_pairs``): a neighbor
    missed by one family's ball is caught by another, miss probability
    decaying exponentially in t.  One scan either way — the per-table
    membership tests are OR-ed into a single filter.
    """
    dim = len(query_vec)
    member = None
    for t in range(n_tables):
        s = seed + 1000 * t
        sig_col = lsh_signature(embedding_col, dim, n_planes, s)
        probes = query_signature_probes(
            query_vec, n_planes, s, hamming_radius
        )
        m = sig_col.isin(probes)
        member = m if member is None else (member | m)
    return topk_exact(
        df.filter(member), embedding_col, query_vec, k=k, id_col=id_col
    )


def near_pairs_exact(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    threshold: float,
    id_limit: int | None = None,
    table_key: str | None = None,
) -> DataFrame:
    """Brute-force near-duplicate pairs: all-pairs cosine ≥ threshold
    (O(n²) — the ground-truth baseline; ``id_limit`` scopes it).

    Like :func:`topk_exact`, ``table_key`` declares the input is the
    indexed corpus and rides a near-pairs hint on the ``sim`` column —
    the optimizer may then substitute the Σ bucket² same-signature
    pair generation over the stored LSH index
    (``optimizer.rewrite_near_pairs``).
    """
    import json as _json

    if id_limit is not None:
        df = df.filter(F.col(id_col) < id_limit)
    # Hoist the norm to a column (an aggregate inside the transform
    # lambda would re-evaluate per element).
    unit = df.withColumn("_norm", l2_norm(embedding_col)).select(
        F.col(id_col),
        F.transform(
            embedding_col, lambda v: v.cast("double") / F.col("_norm")
        ).alias("_u"),
    )
    a = unit.select(F.col(id_col).alias("id_a"), F.col("_u").alias("u_a"))
    b = unit.select(F.col(id_col).alias("id_b"), F.col("_u").alias("u_b"))
    sim = F.round(F.col("_sim"), 4)
    if table_key is not None:
        from pdf_etl_ocr_inference_spark.optimizer import HINT_KEY

        hint = _json.dumps(
            {
                "kind": "near_pairs",
                "metric": "cosine",
                "threshold": threshold,
                "table_key": table_key,
                "id_limit": id_limit,
            }
        )
        sim_col = sim.alias("sim", metadata={HINT_KEY: hint})
    else:
        sim_col = sim.alias("sim")
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_sim", dot_product("u_a", "u_b"))
        .filter(F.col("_sim") >= threshold)
        .select("id_a", "id_b", sim_col)
    )


def lsh_near_pairs(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.35,
    n_planes: int = 8,
    n_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """LSH-accelerated near-duplicate PAIRS over embeddings:
    ``n_tables`` independent sign-signature tables (different seeded
    hyperplane sets), candidates = same bucket in ANY table, then
    exact cosine ≥ ``threshold`` verification.

    The scale path for ``dedup_embedding_cosine``'s brute force: cost
    is Σ bucket_size² per table instead of n².  A single table misses
    similar pairs that straddle one hyperplane; with t tables a pair
    colliding in any table survives — miss probability decays
    exponentially in t (the OR-amplification MinHash banding uses).
    Candidates are id-only bucket pairs (``dedup.bucket_pairs``, the
    kernel every bucketed near-pair operator shares), distinct-ed
    across tables before the (more expensive) verification, so each
    pair verifies once.
    Verified-subset property is tested against brute force.
    """
    # r8 shape: buckets carry IDS ONLY — the old self-join shuffled
    # the full embedding arrays through BOTH sides of the bucket
    # exchange (2 × 8·dim bytes per banded row at 100 TB) and ran
    # the 3-table signature computation once per side.  Now one
    # id-only bucket shuffle (dedup.bucket_pairs) generates the
    # distinct candidate pairs, and embeddings are fetched by id for
    # the CANDIDATES only — the far smaller set — for verification.
    exploded = df.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    lsh_signature(
                        embedding_col, dim, n_planes, seed + 1000 * t
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("_table", "_sig"),
    )
    pairs = bucket_pairs(exploded, ["_table", "_sig"], id_col).distinct()
    ea = df.select(
        F.col(id_col).alias("id_a"), F.col(embedding_col).alias("e_a")
    )
    eb = df.select(
        F.col(id_col).alias("id_b"), F.col(embedding_col).alias("e_b")
    )
    candidates = pairs.join(ea, "id_a").join(eb, "id_b")
    return (
        candidates.withColumn("_sim", cosine_similarity("e_a", "e_b"))
        .filter(F.col("_sim") >= threshold)
        .select("id_a", "id_b", F.round("_sim", 4).alias("sim"))
    )


# ------------------------------------------------------------------
# IVF-style cell-probe search
# ------------------------------------------------------------------


def quantize_embedding(col: Column | str) -> Column:
    """floor(x·2^20) per coordinate → array<long> (exact, see
    LSH_Q_SCALE)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, _quantize_coord)


def ivf_centroids_quantized(
    df: DataFrame, embedding_col: str, label_col: str = "label"
) -> dict[int, list[int]]:
    """Fixed-point label-seeded coarse centroids: per (label, dim),
    the EXACT integer floor((Σ floor(x·2^20))·256 / n).

    Integer sums are partition-order independent, and Python's ``//``
    is the same floor division the oracle SQL emulates with a
    nonneg-mod — so the quantizer is bit-identical across engines.
    The extra ·256 keeps ~8 fractional bits of the mean so cell
    boundaries sit where the float mean's would."""
    rows = (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode(quantize_embedding(embedding_col)).alias(
                "pos", "xv"
            ),
        )
        .groupBy("label", "pos")
        .agg(F.sum("xv").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_label: dict[int, dict[int, int]] = {}
    for r in rows:
        by_label.setdefault(int(r["label"]), {})[int(r["pos"])] = (
            int(r["s"]) * 256
        ) // int(r["n"])
    return {
        lbl: [m[i] for i in range(len(m))]
        for lbl, m in sorted(by_label.items())
    }


def _int_vec_lit(vec: list[int]) -> Column:
    return F.array(*[F.lit(int(v)).cast("long") for v in vec])


def ivf_assign_quantized(
    df: DataFrame,
    embedding_col: str,
    centroids: dict[int, list[int]],
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its best cell by EXACT int64 dot product
    against the quantized centroids; ties break to the smallest
    label.  One scan, no shuffle — same plan shape as
    :func:`ivf_assign`, minus the float reduction-order hazard."""
    labels = sorted(centroids)
    xq = quantize_embedding(embedding_col)
    dots = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    xq, _int_vec_lit(centroids[lbl]), lambda x, c: x * c
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            for lbl in labels
        ]
    )
    label_arr = F.array(*[F.lit(int(lbl)) for lbl in labels])
    return df.select(
        F.col(id_col),
        F.col(embedding_col),
        F.element_at(
            label_arr, F.array_position(dots, F.array_max(dots)).cast("int")
        ).alias("cell"),
    )


def topk_ivf_quantized(
    assigned: DataFrame,
    embedding_col: str,
    query_vec: list[float],
    centroids: dict[int, list[int]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the ``n_probe`` best cells by exact integer dot (driver-
    side Python ints — identical to what the oracle SQL ranks), then
    exact cosine re-rank within."""
    qq = [math.floor(float(v) * LSH_Q_SCALE) for v in query_vec]
    qdot = {
        lbl: sum(a * b for a, b in zip(qq, c))
        for lbl, c in centroids.items()
    }
    probe = sorted(centroids, key=lambda lbl: (-qdot[lbl], lbl))[:n_probe]
    cand = assigned.filter(F.col("cell").isin(probe))
    return topk_exact(cand, embedding_col, query_vec, k=k, id_col=id_col)


def topk_ivf_quantized_prefiltered(
    assigned_filtered: DataFrame,
    embedding_col: str,
    query_vec: list[float],
    centroids: dict[int, list[int]],
    k: int = 5,
    n_probe_min: int = 4,
    oversample: int = 4,
    id_col: str = "vec_id",
    stage_tag: str | None = None,
) -> DataFrame:
    """Metadata-filtered IVF top-k with PRE-filter semantics
    (ref serving: the vector-search API's ``filters`` arg — the
    notebook at ocr:166-172 never passes one, but the API supports
    it): ``assigned_filtered`` is the cell assignment RESTRICTED to
    the predicate's survivors (apply the predicate to the index scan
    — Catalyst pushes it into the parquet read — never post-filter
    an unfiltered top-k).

    Deterministic probe widening: cells are ranked by the exact
    integer query dot (driver-side Python ints, identical to the
    oracle SQL's ranking); the probe set is the shortest rank prefix
    whose cumulative filtered member count reaches ``k·oversample``
    — all cells when the filter is tighter than that — floored at
    ``n_probe_min`` (the unfiltered entry's recall-tuned probe
    count).

    The filtered assignment is STAGED to process scratch once,
    partitioned by cell (review-r12: the counts aggregate and the
    candidate fetch otherwise each re-execute the full
    quantize-and-assign plan — two O(survivors × centroids) passes
    for one query); the counts job and the probe fetch both read the
    staged copy, and the fetch prunes to the probed cells'
    partitions — the same layout the production index stores
    (``ivf_assign``'s 100 TB note).  ``stage_tag`` keys the dir
    (rep-stable for callers with a natural key); the default
    per-call uuid dirs are GC'd with the process scratch root."""
    import os
    import uuid

    from pdf_etl_ocr_inference_spark.scratch import scratch_root

    qq = [math.floor(float(v) * LSH_Q_SCALE) for v in query_vec]
    qdot = {
        lbl: sum(a * b for a, b in zip(qq, c))
        for lbl, c in centroids.items()
    }
    ranked = sorted(centroids, key=lambda lbl: (-qdot[lbl], lbl))
    stage = os.path.join(
        scratch_root(),
        f"ivf_filt_{stage_tag or uuid.uuid4().hex[:12]}",
    )
    assigned_filtered.write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(stage)
    staged = assigned_filtered.sparkSession.read.parquet(stage)
    counts = {
        int(r["cell"]): int(r["cnt"])
        for r in staged.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    target = k * oversample
    cum, p = 0, len(ranked)
    for rn, lbl in enumerate(ranked, start=1):
        cum += counts.get(lbl, 0)
        if cum >= target:
            p = rn
            break
    probe = ranked[: max(p, n_probe_min)]
    cand = staged.filter(F.col("cell").isin(probe))
    return topk_exact(cand, embedding_col, query_vec, k=k, id_col=id_col)


def ivf_assign(
    df: DataFrame,
    embedding_col: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its nearest centroid cell (index build).

    ``centroids`` is a small driver-side list (the coarse quantizer) —
    embedded as literals so assignment is one scan, no shuffle; at
    100 TB the assignment output is written partitioned by ``cell`` so
    probes prune partitions.

    Assignment is array-argmax over a dots array: each centroid dot
    is evaluated exactly once per row.  (A chained when/otherwise
    accumulator re-references every previous comparison — the
    expression tree doubles per centroid and evaluation goes
    exponential in the centroid count.)
    """
    return df.select(
        F.col(id_col),
        F.col(embedding_col),
        ivf_cell(embedding_col, centroids).alias("cell"),
    )


def ivf_cell(embedding: Column | str, centroids: list[list[float]]) -> Column:
    """Nearest-centroid cell of each row (largest dot, lowest cell on a
    tie), as an int Column.  The one assignment expression of every
    IVF kind: builds (:func:`ivf_assign`) and the serving refreshes
    place a row with it."""
    dots = F.array(*[dot_product(embedding, _as_vec_lit(c)) for c in centroids])
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def ivf_cell_numpy(emb: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """:func:`ivf_cell` of the rows of the float64 matrix ``emb``, bit
    for bit.  ``dot_product`` sums its products left to right from
    0.0, so the dots are accumulated one dimension at a time (a BLAS
    ``emb @ centroids.T`` sums in another order and can flip a near
    tie); ``argmax`` takes the lowest cell on a tie."""
    dots = np.zeros((len(emb), len(centroids)))
    for j in range(emb.shape[1]):
        dots += emb[:, j, None] * centroids[None, :, j]
    return np.argmax(dots, axis=1)


def topk_ivf(
    assigned: DataFrame,
    embedding_col: str,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the ``n_probe`` nearest cells, exact re-rank within."""
    scored = sorted(
        range(len(centroids)),
        key=lambda ci: -sum(a * b for a, b in zip(query_vec, centroids[ci])),
    )
    probe = scored[:n_probe]
    cand = assigned.filter(F.col("cell").isin(probe))
    return topk_exact(cand, embedding_col, query_vec, k=k, id_col=id_col)
