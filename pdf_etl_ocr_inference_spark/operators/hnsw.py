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
sequentially inside one ``applyInPandas`` task, queries scatter-gather
all shards and merge exact-cosine top-k.  The same honesty notes as
graph_ann.py:13-26 apply (per-query tasks re-read shard parquet; the
pinned-serving cache in ``operators/serving.py`` is the low-latency
path).

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
    VecStore,
    _greedy_search,
)
from pdf_etl_ocr_inference_spark.scratch import (
    atomic_write_json,
    new_build_id,
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


def _xxh64(x: int) -> int:
    """Minimal deterministic 64-bit mix (xxhash64 finalizer avalanche
    over the id) — stdlib-only so executors need no extra deps."""
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
    u = ((_xxh64(vec_id) >> 11) + 1) / float(1 << 53)
    ml = 1.0 / math.log(m_neighbors)
    return min(int(-math.log(u) * ml), _MAX_LEVEL)


def build_shard_layers(ids: list, mat: "VecStore", m: int, efc: int):
    """The sequential HNSW insert loop over ONE shard's ids
    (ascending order expected) → ``(levels, adj)`` with
    ``adj[l][i]`` the layer-``l`` neighbor list of ``i``.

    Shared VERBATIM by the ``applyInPandas`` build task and the lazy
    DuckDB oracle generator (plans/graph_sql.py) — the shared-kernel
    doctrine (see graph_ann.build_shard_adjacency)."""
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
    ef_construction: int = 32,
) -> str:
    """Build the sharded HNSW graph, partitioned by shard.

    ``n_shards=None`` derives the shard count from the corpus size
    (graph_ann.derive_n_shards — see that docstring for the
    bounded-per-shard-build rationale; a refresh keeps the
    build-time count from meta, resizing is a rebuild).

    Per shard (one sequential ``applyInPandas`` task, ascending id
    order): each insert descends from the entry point through layers
    above its level with ef=1 greedy walks, then at each layer ≤ its
    level searches ef_construction candidates, links the closest M
    bidirectionally (2M at layer 0, per the paper), and prunes any
    over-full adjacency back to the closest allowed (ties by id).
    """
    import pandas as pd

    from pdf_etl_ocr_inference_spark.operators.graph_ann import (
        derive_n_shards,
    )

    if n_shards is None:
        n_shards = derive_n_shards(corpus.count())
    m, efc = m_neighbors, ef_construction

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].tolist()
        mat = VecStore.unit(ids, pdf["embedding"])
        levels, adj = build_shard_layers(ids, mat, m, efc)
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
    (
        graph.repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    _write_meta(
        path,
        {
            "n_shards": n_shards,
            "m_neighbors": m_neighbors,
            "ef_construction": ef_construction,
            "last_version": 0,
            "build_id": new_build_id(),
        },
    )
    return path


def _meta_path(path: str) -> str:
    import os

    return os.path.join(path, "_hnsw_meta.json")


def _write_meta(path: str, meta: dict) -> None:
    atomic_write_json(_meta_path(path), meta)


def _read_meta(path: str) -> dict:
    import json
    import os

    mp = _meta_path(path)
    if not os.path.exists(mp):
        raise ValueError(
            f"no HNSW index metadata at {path!r} — build with "
            "build_hnsw_index first"
        )
    with open(mp) as f:
        return json.load(f)


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
    from pdf_etl_ocr_inference_spark.operators.graph_ann import (
        refresh_sharded_graph,
    )

    meta = _read_meta(path)

    def _rebuild(members, tmp):
        build_hnsw_index(
            spark,
            members,
            tmp,
            n_shards=meta["n_shards"],
            m_neighbors=meta["m_neighbors"],
            ef_construction=meta["ef_construction"],
        )

    return refresh_sharded_graph(
        spark, path, changes, version, id_col, embedding_col,
        meta, lambda m: _write_meta(path, m), _rebuild,
    )


def _search_shard(pdf, qu, k, ef, excl):
    """Layered descent + layer-0 beam over one shard's graph rows."""
    import numpy as np

    ids_sorted = sorted(pdf["vec_id"].tolist())
    if not ids_sorted:
        return []
    mat = VecStore.unit(pdf["vec_id"].tolist(), pdf["embedding"])
    levels = {}
    for i, layers in zip(pdf["vec_id"], pdf["layers"]):
        levels[i] = len(layers) - 1
    adj = [
        {} for _ in range(max(levels.values(), default=0) + 1)
    ]
    for i, layers in zip(pdf["vec_id"], pdf["layers"]):
        for l, nb in enumerate(layers):
            adj[l][i] = list(nb)
    # entry point: highest level, then lowest id (matches the build)
    ep = min(mat, key=lambda i: (-levels[i], i))
    cur = ep
    for l in range(levels[ep], 0, -1):
        near = _greedy_search(mat, adj[l], ids_sorted, qu, 1, entry=cur)
        if near:
            cur = near[0][1]
    near = _greedy_search(mat, adj[0], ids_sorted, qu, ef, entry=cur)
    rows = []
    for _, i in near:
        if i in excl:
            continue
        rows.append((i, float(np.dot(qu, mat[i]))))
    rows.sort(key=lambda t: (-t[1], t[0]))
    return rows[:k]


def topk_hnsw(
    spark: SparkSession,
    path: str,
    query_vec: list,
    k: int = 5,
    ef_search: int = 32,
    exclude_ids: list | None = None,
) -> DataFrame:
    """Scatter-gather query over the sharded HNSW graph: each shard
    descends its layer stack (ef=1 per upper layer) and beam-searches
    layer 0 with ``ef_search``; local top-k merge globally by exact
    cosine (the graph only decides which vectors get scored)."""
    import numpy as np
    import pandas as pd

    q = np.asarray(query_vec, dtype="float64")
    qn = float(np.sqrt(np.dot(q, q)))
    qu = q / qn if qn > 0 else q
    excl = set(exclude_ids or [])
    ef = max(ef_search, k + len(excl))

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def _search(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = _search_shard(pdf, qu, k, ef, excl)
        return pd.DataFrame(rows, columns=["vec_id", "score"])

    graph = spark.read.parquet(path)
    local = graph.groupBy("shard").applyInPandas(_search, out_schema)
    return (
        local.orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("score", 4).alias("score"))
    )
