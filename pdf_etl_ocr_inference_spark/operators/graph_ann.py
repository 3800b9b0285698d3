"""Sharded small-world graph ANN (NSW — Malkov et al. 2014, the
single-layer core of HNSW; public method).

Graph indexes answer top-k with O(ef·M·log-ish) distance evaluations
instead of scanning buckets, but their *construction* is inherently
sequential (each insert searches the graph so far).  The Spark-native
answer is the standard sharded-serving pattern: partition the corpus
into ``n_shards`` deterministic shards and build an independent NSW
graph PER SHARD (each build is a single-task sequential job — numpy
inside ``applyInPandas``).  Queries are answered by
``serving.serve_topk(kind="nsw")``: every shard's graph is pinned by
``shard_server`` (in the driver, or in the Python workers when the
shards exceed the pin budget) and walked there, and the local top-k
lists merge in the driver.  This module holds the build, the
walk kernel and the refresh; ``shard_server`` owns the on-disk format
(``shard=N`` directories and the meta).

Build parallelism = shard count, each shard bounded to fit one task's
memory (:func:`derive_n_shards`); a refresh rebuilds only the shards
a commit touches.

Metric: construction and search walk on L2 over NORMALIZED vectors,
so the walk agrees with the cosine ranking the results are scored by
(d² = 2 − 2·cos on unit vectors) even when input norms vary.

Determinism: shard = id % n_shards; inserts in ascending id order;
all candidate orderings break ties by (distance, id) — so the graph
and every search result are independent of partition layout.
"""

from __future__ import annotations

import heapq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_etl_ocr_inference_spark.operators.shard_server import (
    VecStore,
    read_meta,
    swap_shards,
    write_shards,
)

GRAPH_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        T.StructField("neighbors", T.ArrayType(T.LongType())),
    ]
)

# Target rows per graph shard.  Each shard's build is a SEQUENTIAL
# Python insert loop inside one task (O(rows·ef·M) distance evals) —
# so a fixed shard COUNT turns into an unbounded per-task build as
# the corpus grows.  The corpus must grow the shard count, never the
# shard: the derive_sample_mod doctrine (operators/pq.py) applied to
# sharding.  4096 unit vectors at d≈128 build in ~1 s per shard and
# pin in ~4 MB of worker memory.
GRAPH_SHARD_TARGET_ROWS = 4096

# Candidates each insert's greedy search keeps while building a shard
# graph (NSW and HNSW alike).
EF_CONSTRUCTION = 32


def derive_n_shards(
    n_rows: int, target: int = GRAPH_SHARD_TARGET_ROWS
) -> int:
    """``ceil(n_rows / target)``, min 1 — deterministic given the
    corpus, so the lazy DuckDB oracles (plans/graph_sql.py) replay
    the SAME rule from the same row count and the per-shard kernel
    replay cannot drift from the engine's sharding.  Explicit
    ``n_shards`` overrides remain for tests and benchmarks."""
    return max(1, -(-int(n_rows) // int(target)))


def _greedy_search(vecs, adj, ids_sorted, q, ef, entry=None):
    """Beam search over one shard's graph: returns [(dist, id)] of the
    ``ef`` closest visited nodes, deterministically (ties by id).

    ``vecs``: :class:`VecStore`; ``adj``: dict id -> list[id]; entry
    point = lowest id (the first inserted node) unless an explicit
    ``entry`` is given (the HNSW layered descent passes the upper
    layer's result down).
    """
    import numpy as np

    if not ids_sorted:
        return []
    if entry is None:
        entry = ids_sorted[0]
    qq = float(np.dot(q, q))
    diff = vecs[entry] - q
    visited = {entry}
    cand = [(float(np.dot(diff, diff)), entry)]  # min-heap of frontier
    best = [(-cand[0][0], entry)]  # max-heap (neg dist) of ef best
    while cand:
        dist, node = heapq.heappop(cand)
        if dist > -best[0][0] and len(best) >= ef:
            break  # frontier is farther than the worst of the best
        todo = [nb for nb in adj.get(node, ()) if nb not in visited]
        if not todo:
            continue
        visited.update(todo)
        # distances don't depend on the evolving beam, so scoring the
        # whole adjacency list up front is semantics-preserving
        for nb, dn in zip(todo, vecs.dists(todo, q, qq).tolist()):
            if len(best) < ef or dn < -best[0][0]:
                heapq.heappush(cand, (dn, nb))
                heapq.heappush(best, (-dn, nb))
                if len(best) > ef:
                    heapq.heappop(best)
    return sorted((-nd, i) for nd, i in best)


def build_shard_adjacency(
    ids: list, mat: "VecStore", m: int, efc: int
) -> dict:
    """The sequential NSW insert loop over ONE shard's ids (ascending
    order expected): each insert greedy-searches the graph so far for
    its ``m`` nearest, links bidirectionally, prunes over-full
    adjacencies back to the closest ``m`` (ties by id).

    Shared VERBATIM by the ``applyInPandas`` build task and the
    Spark-free replay (``plans/graph_sql.replay_topk``), so the
    oracle replays the exact graph the engine built — the PCA/OPQ
    shared-kernel doctrine applied to the graph family."""
    import numpy as np

    adj: dict[int, list[int]] = {}

    def prune(node):
        if len(adj[node]) > m:
            nb = adj[node]
            dd = mat.dists(nb, mat[node])
            order = np.lexsort((np.asarray(nb, dtype="int64"), dd))
            adj[node] = [nb[r] for r in order[:m]]

    inserted: list[int] = []
    for i in ids:
        if not inserted:
            adj[i] = []
            inserted.append(i)
            continue
        near = _greedy_search(mat, adj, inserted, mat[i], efc)
        links = [x for _, x in near[:m]]
        adj[i] = list(links)
        for x in links:
            adj[x].append(i)
            prune(x)
        inserted.append(i)
    return adj


def build_nsw_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    n_shards: int | None = None,
    m_neighbors: int = 8,
) -> str:
    """Build the sharded NSW graph and write it partitioned by shard.

    ``n_shards=None`` (default) derives the shard count from the
    corpus size (:func:`derive_n_shards` — one distributed count,
    no rows collected), so the per-shard sequential build stays
    bounded at any corpus scale; a refresh keeps the index's
    build-time shard count (meta) — resizing is a rebuild.

    Each shard builds independently inside ``applyInPandas``: nodes
    insert in ascending id order; the insert loop itself is
    :func:`build_shard_adjacency` (shared with the oracle replay).
    """
    import pandas as pd

    if n_shards is None:
        n_shards = derive_n_shards(corpus.count())

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")  # arrival order is arbitrary
        ids = pdf["vec_id"].tolist()
        mat = VecStore.unit(ids, pdf["embedding"])
        adj = build_shard_adjacency(ids, mat, m_neighbors, EF_CONSTRUCTION)
        out = pd.DataFrame(
            {
                "shard": pdf["shard"].tolist(),
                "vec_id": ids,
                "embedding": pdf["embedding"].tolist(),
                "neighbors": [adj[i] for i in ids],
            }
        )
        return out

    sharded = corpus.select(
        (F.col(id_col) % n_shards).cast("int").alias("shard"),
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(embedding_col).cast("array<double>").alias("embedding"),
    )
    graph = sharded.groupBy("shard").applyInPandas(_build, GRAPH_SCHEMA)
    return write_shards(
        graph, path, "nsw", {"n_shards": n_shards, "m_neighbors": m_neighbors}
    )


def refresh_nsw_index(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    version: int,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> list[int]:
    """Fold one change-feed commit into the graph by rebuilding ONLY
    the shards the commit touches (shard = id % n_shards), leaving
    every other shard's files untouched — the per-shard-rebuild
    maintenance the sharded layout exists for.

    Build parameters come from the index's persisted metadata (a
    refresh with mismatched shard count would silently scatter ids
    across two shardings — the ``dedup_index`` precedent), and the
    ``version`` watermark makes driver-retry re-delivery a no-op
    instead of a graph corruption.

    ``changes`` carries (id, embedding, _change_type) rows with the
    ``streaming.changefeed`` contract.  Per touched shard: survivors =
    current members minus removed AND re-added ids (upsert semantics —
    an insert for an existing id replaces it), plus the added rows;
    the shard graph rebuilds deterministically from that member set,
    so refresh ≡ full rebuild of the post-change corpus, shard by
    shard.  The rebuilt shard dirs are staged under a tmp index and
    swapped in by directory renames LAST, then ``last_version`` bumps
    (``shard_server.swap_shards`` holds the crash-safety contract).
    Returns the rebuilt shard ids.
    """

    def _rebuild(members, tmp, meta):
        build_nsw_index(
            spark,
            members,
            tmp,
            n_shards=meta["n_shards"],
            m_neighbors=meta["m_neighbors"],
        )

    return refresh_sharded_graph(
        spark, path, "nsw", changes, version, id_col, embedding_col,
        _rebuild,
    )


def refresh_sharded_graph(
    spark: SparkSession,
    path: str,
    kind: str,
    changes: DataFrame,
    version: int,
    id_col: str,
    embedding_col: str,
    rebuild,
    shard_col=None,
) -> list[int]:
    """Generic per-shard incremental maintenance shared by the sharded
    vector kinds (NSW/HNSW graphs, PQ/IVF/IVF-PQ serving layouts):
    read the ``kind`` meta at ``path``, compute touched shards,
    rebuild their member sets into a tmp index via
    ``rebuild(members_df, tmp_path, meta)``, then swap the shard dirs
    and publish the meta with ``last_version`` bumped
    (``shard_server.swap_shards``).
    ``shard_col(meta) -> Column`` overrides the default id-hash
    sharding (``vec_id % n_shards``) — IVF passes the centroid argmax
    so an update that MOVES a vector between cells touches both
    (preimage rows carry the old embedding, postimage rows the new
    one)."""
    meta = read_meta(path, kind)
    if version <= meta.get("last_version", 0):
        return []  # already folded (idempotent on driver retry)
    shard = (shard_col or _id_shard)(meta)

    adds = changes.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(embedding_col).cast("array<double>").alias("embedding"),
    )
    removes = changes.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(embedding_col).cast("array<double>").alias("embedding"),
    )

    touched = sorted(
        r["s"]
        for r in adds.select(shard.cast("int").alias("s"))
        .union(removes.select(shard.cast("int").alias("s")))
        .distinct()
        .collect()
    )

    def stage(tmp):
        # read after swap_shards has restored any shard a crashed
        # attempt parked, so the rebuild starts from the pre-change rows
        current = (
            spark.read.parquet(path)
            .filter(F.col("shard").isin(touched))
            .select("vec_id", "embedding")
        )
        # drop removed ids AND re-added ids (upsert: the add wins)
        gone = (
            removes.select("vec_id")
            .unionByName(adds.select("vec_id"))
            .distinct()
        )
        survivors = current.join(gone, on="vec_id", how="left_anti")
        rebuild(survivors.unionByName(adds), tmp, meta)

    return swap_shards(path, kind, meta, version, touched, stage)


def _id_shard(meta: dict):
    """The default shard of a row: ``vec_id % n_shards``."""
    return F.pmod(F.col("vec_id"), F.lit(meta["n_shards"]))
