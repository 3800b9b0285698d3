"""Sharded HIERARCHICAL navigable-small-world ANN (HNSW — Malkov &
Yashunin 2016, the multi-layer extension of the NSW family in
``operators/graph_ann.py``; public method).

Reference anchor: the managed vector-search index + online query at
``ocr-tesseract-unstructured.py:145-170`` — this is the engine-native
graph index that serves that surface at high recall.

Why layers: single-layer NSW's greedy walk enters at a fixed node and
pays O(graph diameter) hops to reach a far query's neighborhood, and
recall degrades as the corpus grows at fixed ef.  HNSW samples each
node into ``level ~ floor(-ln(u)·mL)`` layers (mL = 1/ln(M)), so upper
layers form an exponentially-sparsifying express network: the search
descends layer by layer with ef=1 (one cheap greedy walk each), then
runs the full beam search only at layer 0, already inside the right
neighborhood.  Search cost becomes O(log n · M) distance evaluations.

Spark shape — identical to the sharded NSW pattern: deterministic
shards (id % n_shards), each shard's multi-layer graph built
sequentially inside one ``applyInPandas`` task.  Queries are answered
by ``serving.serve_topk(kind="hnsw")`` from shards pinned by
``shard_server`` (in the driver when they fit its pin budget), and the
per-shard exact-cosine top-k lists merge in the driver.

Determinism (the layer-assignment rule the build is invariant under):
``level(id) = floor(-ln(u_id)·mL)`` with ``u_id`` the (0,1] uniform
derived from the top 53 bits of xxhash64 of the id — a pure function
of the id, NOT of arrival order or partition layout.  Inserts proceed
in ascending id order; every candidate ordering breaks ties by
(distance, id).  Two builds over any partitioning of the same rows
produce identical graphs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_etl_ocr_inference_spark.operators.graph_ann import (
    EF_CONSTRUCTION,
    _greedy_search,
    derive_n_shards,
    refresh_sharded_graph,
)
from pdf_etl_ocr_inference_spark.operators.shard_server import (
    VecStore,
    write_shards,
)

HNSW_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        # layers[l] = adjacency at layer l, l = 0..level(id)
        T.StructField("layers", T.ArrayType(T.ArrayType(T.LongType()))),
    ]
)

_MAX_LEVEL = 16  # ~M^16 nodes before this caps anything — plenty


def _fmix64(x: int) -> int:
    """MurmurHash3's 64-bit finalizer (``fmix64``) over the id: a
    deterministic avalanche mix, stdlib-only so executors need no
    extra deps.  Not XXH64 (that is ``search._xxhash64``)."""
    x &= 0xFFFFFFFFFFFFFFFF
    x ^= x >> 33
    x = (x * 0xFF51AFD7ED558CCD) & 0xFFFFFFFFFFFFFFFF
    x ^= x >> 33
    x = (x * 0xC4CEB9FE1A85EC53) & 0xFFFFFFFFFFFFFFFF
    x ^= x >> 33
    return x


def node_level(vec_id: int, m_neighbors: int) -> int:
    """Deterministic HNSW layer assignment: the standard geometric
    distribution ``floor(-ln(u)·mL)``, with u a pure function of the
    id (top 53 hash bits → (0,1]) instead of an RNG draw."""
    u = ((_fmix64(vec_id) >> 11) + 1) / float(1 << 53)
    ml = 1.0 / math.log(m_neighbors)
    return min(int(-math.log(u) * ml), _MAX_LEVEL)


def build_shard_layers(ids: list, mat: "VecStore", m: int, efc: int):
    """The sequential HNSW insert loop over ONE shard's ids
    (ascending order expected) → ``(levels, adj)`` with
    ``adj[l][i]`` the layer-``l`` neighbor list of ``i``.

    Shared VERBATIM by the ``applyInPandas`` build task and the
    Spark-free replay (``plans/graph_sql.replay_topk``) — the
    shared-kernel doctrine (see graph_ann.build_shard_adjacency)."""
    import numpy as np

    m0 = 2 * m
    levels = {i: node_level(i, m) for i in ids}
    # adj[l][i] = neighbor list of i at layer l
    adj: list[dict[int, list[int]]] = [
        {} for _ in range(max(levels.values(), default=0) + 1)
    ]
    inserted: list[int] = []
    ep: int | None = None  # entry point: highest level, then min id

    def cap(layer):
        return m0 if layer == 0 else m

    def prune(layer, node):
        lst = adj[layer][node]
        if len(lst) > cap(layer):
            dd = mat.dists(lst, mat[node])
            order = np.lexsort((np.asarray(lst, dtype="int64"), dd))
            adj[layer][node] = [lst[r] for r in order[: cap(layer)]]

    for i in ids:
        li = levels[i]
        for l in range(li + 1):
            adj[l][i] = []
        if ep is None:
            ep = i
            inserted.append(i)
            continue
        cur = ep
        # descend from the entry point's level to li+1, ef=1
        for l in range(levels[ep], li, -1):
            near = _greedy_search(
                mat, adj[l], inserted, mat[i], 1, entry=cur
            )
            if near:
                cur = near[0][1]
        # link layers min(level(ep), li)..0 with full beam
        for l in range(min(levels[ep], li), -1, -1):
            near = _greedy_search(
                mat, adj[l], inserted, mat[i], efc, entry=cur
            )
            if near:
                cur = near[0][1]
            links = [x for _, x in near if x in adj[l]][: cap(l)]
            adj[l][i] = list(links)
            for x in links:
                adj[l][x].append(i)
                prune(l, x)
        inserted.append(i)
        if li > levels[ep] or (li == levels[ep] and i < ep):
            ep = i
    return levels, adj


def build_hnsw_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    n_shards: int | None = None,
    m_neighbors: int = 8,
) -> str:
    """Build the sharded HNSW graph, partitioned by shard.

    ``n_shards=None`` derives the shard count from the corpus size
    (graph_ann.derive_n_shards — see that docstring for the
    bounded-per-shard-build rationale; a refresh keeps the
    build-time count from meta, resizing is a rebuild).

    Per shard (one sequential ``applyInPandas`` task, ascending id
    order): each insert descends from the entry point through layers
    above its level with ef=1 greedy walks, then at each layer ≤ its
    level searches EF_CONSTRUCTION candidates, links the closest M
    bidirectionally (2M at layer 0, per the paper), and prunes any
    over-full adjacency back to the closest allowed (ties by id).
    """
    import pandas as pd

    if n_shards is None:
        n_shards = derive_n_shards(corpus.count())

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].tolist()
        mat = VecStore.unit(ids, pdf["embedding"])
        levels, adj = build_shard_layers(ids, mat, m_neighbors, EF_CONSTRUCTION)
        out = pd.DataFrame(
            {
                "shard": pdf["shard"].tolist(),
                "vec_id": ids,
                "embedding": pdf["embedding"].tolist(),
                "layers": [
                    [adj[l][i] for l in range(levels[i] + 1)] for i in ids
                ],
            }
        )
        return out

    sharded = corpus.select(
        (F.col(id_col) % n_shards).cast("int").alias("shard"),
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(embedding_col).cast("array<double>").alias("embedding"),
    )
    graph = sharded.groupBy("shard").applyInPandas(_build, HNSW_SCHEMA)
    return write_shards(
        graph, path, "hnsw", {"n_shards": n_shards, "m_neighbors": m_neighbors}
    )


def refresh_hnsw_index(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    version: int,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> list[int]:
    """Fold one change-feed commit into the HNSW graph by rebuilding
    ONLY the touched shards — the same contract, crash-safe atomic
    shard swap, and version watermark as ``refresh_nsw_index`` (the
    generic machinery is shared: ``graph_ann.refresh_sharded_graph``).
    Deterministic layer assignment means refresh ≡ full rebuild of the
    post-change corpus, shard by shard."""

    def _rebuild(members, tmp, meta):
        build_hnsw_index(
            spark,
            members,
            tmp,
            n_shards=meta["n_shards"],
            m_neighbors=meta["m_neighbors"],
        )

    return refresh_sharded_graph(
        spark, path, "hnsw", changes, version, id_col, embedding_col,
        _rebuild,
    )

