"""Deterministic distributed k-means over an embedding column.

Corpus-level domain discovery (cluster documents by embedding, then
inspect/re-weight clusters) is a standard step in training-data
curation; the reference stops at per-query similarity search
(``ocr-tesseract-unstructured.py:145-170``), so this generalizes that
index machinery (``operators/similarity.ivf_assign`` is the same
assignment primitive) into full Lloyd iterations.

Why not MLlib KMeans: its kmeans|| init and float-sum reductions make
results depend on partitioning and task order.  This implementation is
**bit-deterministic** regardless of partition layout:

- init: centroids = the vectors of the ``k`` smallest ids (no RNG);
- assignment: argmin of squared L2 distance, ties to the lowest
  cluster id — per-row double arithmetic, partition-independent;
- update: member vectors are scaled to exact int64
  (``round(x * SCALE)``) and summed per (cluster, dimension) —
  integer addition is associative, so the shuffle order cannot change
  the result; means divide the exact sums driver-side.

Scale shape: each round is one narrow assignment pass (k aggregate
expressions per row — no crossJoin blowup) plus one
(cluster, dim)-keyed combinable shuffle of ``n*dim`` longs; the only
driver traffic is the k×dim centroid table (control data, like the
IVF coarse quantizer).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000  # float -> exact int64 quantization for centroid sums


def _sq_dist(vec_col: Column, centroid: list[float]) -> Column:
    """Squared L2 distance to a literal centroid (one aggregate HOF)."""
    lit_c = F.array(*[F.lit(float(x)) for x in centroid])
    diffs = F.zip_with(vec_col, lit_c, lambda a, b: (a - b) * (a - b))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def assign_clusters(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """Add ``cluster_id``/``sq_dist``: nearest centroid by squared L2.

    Argmin via ``array_position(dists, array_min(dists))`` — the first
    position of the exact minimum, so ties break to the lowest cluster
    id deterministically.
    """
    dists = F.array(*[_sq_dist(F.col(vec_col), c) for c in centroids])
    return (
        df.withColumn("_dists", dists)
        .withColumn(
            "cluster_id",
            (
                F.array_position(F.col("_dists"), F.array_min(F.col("_dists")))
                - 1
            ).cast("int"),
        )
        .withColumn("sq_dist", F.array_min(F.col("_dists")))
        .drop("_dists")
    )


def init_centroids(
    df: DataFrame, vec_col: str, id_col: str, k: int
) -> list[list[float]]:
    """No-RNG init: the vectors of the ``k`` smallest ids.

    The single definition of the init rule — ``kmeans_fit`` and the
    catalog entries call this, and the
    ``ann_kmeans_assign`` oracle's ``WHERE vec_id < k`` assumes it.
    """
    rows = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    return [[float(x) for x in r[vec_col]] for r in rows]


@dataclass
class KMeansResult:
    centroids: list[list[float]]
    inertia_per_round: list[float]
    rounds_run: int


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    rounds: int = 5,
) -> KMeansResult:
    """Run Lloyd iterations; returns final centroids + inertia trace.

    Use :func:`assign_clusters` with ``result.centroids`` to get the
    final assignment DataFrame (kept lazy — no corpus collect here).
    Empty clusters keep their previous centroid.
    """
    dim = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()[0][
        "d"
    ]
    centroids = init_centroids(df, vec_col, id_col, k)
    inertia_trace: list[float] = []

    scaled = F.transform(
        F.col(vec_col), lambda x: F.round(x * SCALE).cast("long")
    )
    for _ in range(rounds):
        assigned = assign_clusters(df, vec_col, centroids)
        stats = (
            assigned.select(
                "cluster_id",
                # quantize per-row distances so the shuffled sum is an
                # exact (associative) int64 sum — float sums depend on
                # partition order
                F.round(F.col("sq_dist") * SCALE).cast("long").alias("qd"),
                F.posexplode(scaled).alias("pos", "v"),
            )
            .groupBy("cluster_id", "pos")
            .agg(
                F.sum("v").alias("s"),
                F.count("*").alias("n"),
                # qd repeats once per dimension; divide out below
                F.sum("qd").alias("qssd"),
            )
            .collect()
        )
        sums: dict[int, list[int]] = {}
        counts: dict[int, int] = {}
        inertia_scaled = 0
        for r in stats:
            sums.setdefault(r["cluster_id"], [0] * dim)[r["pos"]] = r["s"]
            counts[r["cluster_id"]] = r["n"]
            inertia_scaled += r["qssd"]
        inertia = inertia_scaled / (dim * SCALE)
        centroids = [
            (
                [s / (counts[ci] * SCALE) for s in sums[ci]]
                if counts.get(ci)
                else centroids[ci]
            )
            for ci in range(k)
        ]
        inertia_trace.append(inertia)
    return KMeansResult(
        centroids=centroids,
        inertia_per_round=inertia_trace,
        rounds_run=rounds,
    )
