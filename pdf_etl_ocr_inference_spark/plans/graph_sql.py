"""Lazy DuckDB oracles for the graph-ANN query entries
(``ann_nsw_topk`` / ``ann_hnsw_topk`` / ``ann_served_topk``).

A beam walk over an incrementally-built graph has no SQL replay (the
build and the walk are inherently sequential), so — exactly like the
eigh/SVD lazy oracles (plans/pca_sql.py, opq_sql.py) — the
non-SQL kernel runs in the GENERATOR through the SAME code the engine
serves with.  :func:`replay_topk` builds each shard with the shared
kernel (``graph_ann.build_shard_adjacency`` /
``hnsw.build_shard_layers``), parses the built rows with the shard
server's loader (``shard_server._PARSE``) and walks them with the
served answer (``serving._ANSWERS``), straight from the parquet with
no Spark.  The SQL then independently verifies everything
DISTRIBUTED about the entry: that the engine sharded by
``vec_id % n_shards``, round-tripped float64 embeddings through Arrow
and parquet unchanged, scored the walked candidates by exact cosine
against the corpus (DuckDB recomputes the scores from the parquet —
they are NOT baked in), merged the per-shard lists globally with the
(-score, id) tie order, and rounded once at the end.

What stays outside the SQL: which candidates the walks visit — the
same freedom the r8 served-trio pin had; here it is closed by
running the identical kernel on identical inputs, so a drift in
either side's walk (or a nondeterministic build) surfaces as a gate
mismatch instead of hiding behind a rows-only check.

The oracles are ZERO-ARG CALLABLES (plans/registry.resolve_oracle):
the candidate ids depend on the corpus, so the SQL is generated at
``oracle_sql()`` time against ``SPARK_GRAFT_ORACLE_SF_DIR``
(default the driver's sf0.01; tools/run_gate.py pins it per --sf).
"""

from __future__ import annotations

import os

_DEFAULT_SF = "/root/testdata/sf0.01"

# pinned to the registered entries' parameters; the shard count is
# NOT pinned — both the entries and these oracles derive it from the
# corpus size via the SAME graph_ann.derive_n_shards rule (r10,
# verdict #2), so the replay cannot drift from the engine's sharding;
# the build's candidate width is the engine's EF_CONSTRUCTION
_M = 8
_K = 5
_EF_SEARCH = 32
_EXCLUDE = (0,)  # the query vector's own id


def _corpus(sf_dir: str):
    """(ids, embeddings) ascending by vec_id, straight from the
    parquet (same value stream Spark's array<double> cast sees:
    float32 → float64 widening is exact)."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    return [int(r[0]) for r in rows], [list(map(float, r[1])) for r in rows]


def replay_topk(
    kind: str,
    ids: list,
    embs: list,
    query_vec,
    k: int = _K,
    ef_search: int = _EF_SEARCH,
    exclude_ids=(),
    n_shards: int | None = None,
    m_neighbors: int = _M,
) -> list:
    """Spark-free replay of ``build_<kind>_index`` + ``serve_topk`` for
    a graph ``kind`` (``nsw`` or ``hnsw``) over the corpus
    ``(ids, embs)``: every shard's local top-k ``[(vec_id, score)]``
    at full precision, concatenated.  ``n_shards=None`` derives the
    count as the builders do."""
    import pyarrow as pa

    from pdf_etl_ocr_inference_spark.operators.graph_ann import (
        EF_CONSTRUCTION,
        build_shard_adjacency,
        derive_n_shards,
    )
    from pdf_etl_ocr_inference_spark.operators.hnsw import build_shard_layers
    from pdf_etl_ocr_inference_spark.operators.serving import (
        _ANSWERS,
        unit_query,
    )
    from pdf_etl_ocr_inference_spark.operators.shard_server import (
        _PARSE,
        VecStore,
    )

    n_shards = n_shards or derive_n_shards(len(ids))
    qu = unit_query(query_vec)
    excl = set(exclude_ids)
    ef = max(ef_search, k + len(excl))
    emb = dict(zip(ids, embs))
    rows: list = []
    for s in range(n_shards):
        sids = sorted(i for i in ids if i % n_shards == s)
        if not sids:
            continue
        vecs = [emb[i] for i in sids]
        mat = VecStore.unit(sids, vecs)
        if kind == "nsw":
            adj = build_shard_adjacency(sids, mat, m_neighbors, EF_CONSTRUCTION)
            graph = {"neighbors": [adj[i] for i in sids]}
        else:
            levels, adj = build_shard_layers(
                sids, mat, m_neighbors, EF_CONSTRUCTION
            )
            graph = {
                "layers": [
                    [adj[lv][i] for lv in range(levels[i] + 1)] for i in sids
                ]
            }
        tbl = pa.table(
            {
                "vec_id": pa.array(sids, pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float64())),
                **graph,
            }
        )
        state = _PARSE[kind](tbl, None, s, kind)
        rows += _ANSWERS[kind](state, qu, k, ef, 0, excl, None)
    return rows


def _topk_sql(cand_ids: list, k: int) -> str:
    """Score the walked candidates by exact cosine FROM THE PARQUET
    and take the global top-k — the op44-proven formulation, over the
    candidate subset instead of the corpus."""
    in_list = ", ".join(str(int(i)) for i in sorted(set(cand_ids)))
    cos = (
        "LIST_COSINE_SIMILARITY(e.embedding::DOUBLE[], "
        "q.embedding::DOUBLE[])"
    )
    return (
        f"SELECT e.vec_id, ROUND({cos}, 4) AS score "
        "FROM embeddings e, "
        "(SELECT embedding FROM embeddings WHERE vec_id = 0) q "
        f"WHERE e.vec_id IN ({in_list}) "
        f"ORDER BY {cos} DESC, e.vec_id "
        f"LIMIT {k}"
    )


def _graph_topk_oracle(kind: str) -> str:
    """Replay the ``kind`` build + walk per shard; emit SQL that
    re-scores and re-ranks the walked candidates."""
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", _DEFAULT_SF)
    ids, embs = _corpus(sf_dir)
    rows = replay_topk(
        kind, ids, embs, embs[ids.index(0)], exclude_ids=_EXCLUDE
    )
    return _topk_sql([i for i, _ in rows], _K)


def nsw_topk_oracle() -> str:
    return _graph_topk_oracle("nsw")


def hnsw_topk_oracle() -> str:
    return _graph_topk_oracle("hnsw")
