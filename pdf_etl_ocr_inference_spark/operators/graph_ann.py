"""Sharded small-world graph ANN (NSW — Malkov et al. 2014, the
single-layer core of HNSW; public method).

Graph indexes answer top-k with O(ef·M·log-ish) distance evaluations
instead of scanning buckets, but their *construction* is inherently
sequential (each insert searches the graph so far).  The Spark-native
answer is the standard sharded-serving pattern: partition the corpus
into ``n_shards`` deterministic shards, build an independent NSW graph
PER SHARD (each build is a single-task sequential job — Arrow-batched
numpy inside ``applyInPandas``), and answer queries by scatter-gather:
greedy-search every shard's graph in parallel, merge the local top-k.

Scale shape at 100 TB — stated honestly:
- build parallelism = shard count (each shard bounded to fit one
  task's memory); rebuilds are per-shard, so a corpus append only
  rebuilds the shards it touches;
- a query runs n_shards parallel walks; each walk COMPUTES only
  ``ef + M·hops`` distances, but because Spark is a scan engine the
  task still LOADS its whole shard partition into the Python worker
  first — per-shard read cost is O(shard size).  Bounding shard size
  (add shards as the corpus grows) keeps the per-task read constant;
  a latency-serving deployment would pin the per-shard graphs in
  worker memory (foreachBatch/external store) instead of re-reading
  them — within this engine, NSW is the build/layout story and the
  bucketed LSH/IVF/PQ paths remain the scan-time scale paths.

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

from pdf_etl_ocr_inference_spark.scratch import (
    atomic_write_json,
    new_build_id,
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


def derive_n_shards(
    n_rows: int, target: int = GRAPH_SHARD_TARGET_ROWS
) -> int:
    """``ceil(n_rows / target)``, min 1 — deterministic given the
    corpus, so the lazy DuckDB oracles (plans/graph_sql.py) replay
    the SAME rule from the same row count and the per-shard kernel
    replay cannot drift from the engine's sharding.  Explicit
    ``n_shards`` overrides remain for tests and benchmarks."""
    return max(1, -(-int(n_rows) // int(target)))


class VecStore:
    """Unit vectors in one contiguous row-major matrix, keyed by id.

    Reads like the historical dict (``vs[i]`` -> 1-D view, iteration
    yields ids) while letting the greedy walk score a node's whole
    adjacency list in one vectorized call (:meth:`dists`) instead of
    a Python-level ``np.dot`` per neighbor — the within-shard build
    parallelism that cut the 100k×64 sharded build ~4×.
    """

    __slots__ = ("V", "idx", "sq")

    def __init__(self, ids, V):
        """``V`` must already be row-normalized; rows align with ids."""
        import numpy as np

        self.V = V
        self.idx = {int(i): r for r, i in enumerate(ids)}
        # |v|² per row (1.0 unit rows, 0.0 zero rows) — lets dists()
        # run as one gemv instead of subtract+square per batch
        self.sq = np.einsum("ij,ij->i", V, V) if len(V) else V.reshape(0)

    @classmethod
    def unit(cls, ids, vectors):
        """Stack raw (array-like) vectors and normalize rows to unit
        L2 (zero vectors pass through unchanged, as before)."""
        import numpy as np

        if not len(ids):
            return cls([], np.empty((0, 0), dtype="float64"))
        V = np.stack(
            [np.asarray(v, dtype="float64") for v in vectors]
        )
        norms = np.sqrt(np.einsum("ij,ij->i", V, V))
        nz = norms > 0
        V[nz] = V[nz] / norms[nz, None]
        return cls(ids, V)

    def __getitem__(self, i):
        return self.V[self.idx[i]]

    def __iter__(self):
        return iter(self.idx)

    def __len__(self):
        return len(self.idx)

    def __contains__(self, i):
        return i in self.idx

    def dists(self, ids, q, qq=None):
        """Squared L2 from ``q`` to each of ``ids`` via the expansion
        ``|q|² + |v|² − 2·v·q`` — one row gather + one gemv.  Pass a
        precomputed ``qq = q·q`` to amortize it across a walk."""
        rows = [self.idx[i] for i in ids]
        if qq is None:
            qq = float(q @ q)
        return qq + self.sq[rows] - 2.0 * (self.V[rows] @ q)


def _greedy_search(vecs, adj, ids_sorted, q, ef, entry=None):
    """Beam search over one shard's graph: returns [(dist, id)] of the
    ``ef`` closest visited nodes, deterministically (ties by id).

    ``vecs``: :class:`VecStore` (or dict id -> numpy vector — the
    slow path kept for API compatibility); ``adj``: dict id ->
    list[id]; entry point = lowest id (the first inserted node)
    unless an explicit ``entry`` is given (the HNSW layered descent
    passes the upper layer's result down).
    """
    import numpy as np

    if not ids_sorted:
        return []
    if entry is None:
        entry = ids_sorted[0]
    batch_d = getattr(vecs, "dists", None)
    qq = float(np.dot(q, q))

    def d(i):
        diff = vecs[i] - q
        return float(np.dot(diff, diff))

    visited = {entry}
    cand = [(d(entry), entry)]  # min-heap of frontier
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
        dns = (
            batch_d(todo, q, qq).tolist() if batch_d else [d(x) for x in todo]
        )
        for nb, dn in zip(todo, dns):
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

    Shared VERBATIM by the ``applyInPandas`` build task and the lazy
    DuckDB oracle generator (plans/graph_sql.py), so the oracle
    replays the exact graph the engine built — the PCA/OPQ
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


def search_shard_nsw(
    ids: list, mat: "VecStore", adj: dict, qu, k: int, ef: int, excl
) -> list:
    """One shard's walk + exact-cosine local top-k: ``[(id, score)]``
    sorted by (-score, id).  Shared by :func:`topk_nsw`'s
    applyInPandas task and the oracle generator."""
    import numpy as np

    near = _greedy_search(mat, adj, sorted(ids), qu, ef)
    rows = []
    for _, i in near:
        if i in excl:
            continue
        # unit vectors: cosine == dot
        rows.append((i, float(np.dot(qu, mat[i]))))
    rows.sort(key=lambda t: (-t[1], t[0]))
    return rows[:k]


def build_nsw_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    n_shards: int | None = None,
    m_neighbors: int = 8,
    ef_construction: int = 32,
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
    m, efc = m_neighbors, ef_construction

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")  # arrival order is arbitrary
        ids = pdf["vec_id"].tolist()
        mat = VecStore.unit(ids, pdf["embedding"])
        adj = build_shard_adjacency(ids, mat, m, efc)
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

    return os.path.join(path, "_nsw_meta.json")


def _write_meta(path: str, meta: dict) -> None:
    atomic_write_json(_meta_path(path), meta)


def _read_meta(path: str) -> dict:
    import json
    import os

    mp = _meta_path(path)
    if not os.path.exists(mp):
        raise ValueError(
            f"no NSW index metadata at {path!r} — build with "
            "build_nsw_index first"
        )
    with open(mp) as f:
        return json.load(f)


def topk_nsw(
    spark: SparkSession,
    path: str,
    query_vec: list,
    k: int = 5,
    ef_search: int = 32,
    exclude_ids: list | None = None,
) -> DataFrame:
    """Scatter-gather query: greedy-search every shard's graph in
    parallel (one ``applyInPandas`` group per shard), merge local
    top-k globally by cosine.  Scores are exact cosine on the walked
    vectors — the graph only decides which vectors get scored.
    """
    import numpy as np
    import pandas as pd

    q = np.asarray(query_vec, dtype="float64")
    qn = float(np.sqrt(np.dot(q, q)))
    excl = set(exclude_ids or [])
    ef = max(ef_search, k + len(excl))

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    qu = q / qn if qn > 0 else q

    def _search(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].tolist()
        mat = VecStore.unit(ids, pdf["embedding"])
        adj = {
            i: list(nb) for i, nb in zip(pdf["vec_id"], pdf["neighbors"])
        }
        rows = search_shard_nsw(ids, mat, adj, qu, k, ef, excl)
        return pd.DataFrame(rows, columns=["vec_id", "score"])

    graph = spark.read.parquet(path)
    local = graph.groupBy("shard").applyInPandas(_search, out_schema)
    return (
        local.orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("score", 4).alias("score"))
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
    swapped in by O(1) directory renames LAST (the ``changefeed.
    compact`` discipline).  Each swap is two atomic renames —
    park the live shard under ``_old_shard_<n>`` (underscore prefix:
    ignored by Spark's file listing) then ``os.replace(src, dst)`` —
    so a crash between them leaves the old shard recoverable (never a
    missing shard: a retry of the same version restores it before
    rebuilding), and ``last_version`` only bumps after every shard
    swapped.  Returns the rebuilt shard ids.
    """
    meta = _read_meta(path)

    def _rebuild(members, tmp):
        build_nsw_index(
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


def refresh_sharded_graph(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    version: int,
    id_col: str,
    embedding_col: str,
    meta: dict,
    write_meta,
    rebuild,
    shard_col=None,
) -> list[int]:
    """Generic per-shard incremental maintenance shared by the sharded
    index families (NSW/HNSW graphs, PQ/IVF serving layouts): compute
    touched shards, rebuild their member sets into a tmp index via
    ``rebuild(members_df, tmp_path)``, then atomically swap shard dirs
    (see :func:`refresh_nsw_index` for the crash-safety contract).
    ``meta`` must carry ``n_shards`` and ``last_version``;
    ``write_meta(meta)`` persists it.  ``shard_col(df) -> Column``
    overrides the default id-hash sharding (``vec_id % n_shards``) —
    IVF passes the centroid-argmax so an update that MOVES a vector
    between cells touches both (preimage rows carry the old
    embedding, postimage rows the new one)."""
    import os
    import shutil

    if version <= meta.get("last_version", 0):
        return []  # already folded (idempotent on driver retry)
    n_shards = meta["n_shards"]
    sc_ = shard_col or (
        lambda df: F.pmod(F.col("vec_id"), F.lit(n_shards))
    )

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
        for r in adds.select(sc_(adds).cast("int").alias("s"))
        .union(removes.select(sc_(removes).cast("int").alias("s")))
        .distinct()
        .collect()
    )
    if not touched:
        meta["last_version"] = version
        write_meta(meta)
        return []

    # recover any shard left under .old by a crash mid-swap of a
    # PREVIOUS refresh attempt (version not yet bumped ⇒ this is a
    # retry of that same commit): restore the old shard so the
    # rebuild below reads the pre-change graph, not a missing dir.
    for sh in touched:
        dst = f"{path}/shard={sh}"
        old = f"{path}/_old_shard_{sh}"  # "_" prefix: invisible to Spark
        if os.path.exists(old) and not os.path.exists(dst):
            os.replace(old, dst)

    graph = spark.read.parquet(path)
    current = graph.filter(F.col("shard").isin(touched)).select(
        "vec_id", "embedding"
    )
    # drop removed ids AND re-added ids (upsert: the add wins)
    gone = (
        removes.select("vec_id")
        .unionByName(adds.select("vec_id"))
        .distinct()
    )
    survivors = current.join(gone, on="vec_id", how="left_anti")
    members = survivors.unionByName(adds)

    tmp = path + "_refresh_tmp"
    try:
        rebuild(members, tmp)
        # swap LAST: two atomic renames per shard — the old shard is
        # parked under .old (recoverable) before the new one lands,
        # so no crash point leaves the shard missing.
        for sh in touched:
            src = f"{tmp}/shard={sh}"
            dst = f"{path}/shard={sh}"
            old = f"{path}/_old_shard_{sh}"
            shutil.rmtree(old, ignore_errors=True)
            if os.path.exists(dst):
                os.replace(dst, old)
            if os.path.exists(src):
                os.replace(src, dst)
        meta["last_version"] = version
        write_meta(meta)
        for sh in touched:  # all swapped + version durable: drop .old
            shutil.rmtree(f"{path}/_old_shard_{sh}", ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return touched
