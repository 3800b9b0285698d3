"""Lazy DuckDB oracles for the graph-ANN query entries
(``ann_nsw_topk`` / ``ann_hnsw_topk``) — r9, verdict #4.

A beam walk over an incrementally-built graph has no SQL replay (the
build and the walk are inherently sequential), so — exactly like the
eigh/SVD lazy oracles (plans/pca_sql.py, opq_sql.py) — the
non-SQL kernel runs in the GENERATOR through the SAME shared code
path the engine executes (``graph_ann.build_shard_adjacency`` /
``search_shard_nsw``, ``hnsw.build_shard_layers`` /
``_search_shard``), straight from the parquet with no Spark, and the
SQL then independently verifies everything DISTRIBUTED about the
entry: that the engine sharded by ``vec_id % n_shards``, round-
tripped float64 embeddings through Arrow and parquet unchanged,
scored the walked candidates by exact cosine against the corpus
(DuckDB recomputes the scores from the parquet — they are NOT baked
in), merged the per-shard lists globally with the (-score, id) tie
order, and rounded once at the end.

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


def _query_unit(ids, embs):
    import numpy as np

    q = np.asarray(embs[ids.index(0)], dtype="float64")
    qn = float(np.sqrt(np.dot(q, q)))
    return q / qn if qn > 0 else q


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


def nsw_topk_oracle() -> str:
    """Replay the NSW build + walk per shard via the shared kernels;
    emit SQL that re-scores and re-ranks the walked candidates."""
    import pandas as pd

    from pdf_etl_ocr_inference_spark.operators.graph_ann import (
        EF_CONSTRUCTION,
        VecStore,
        build_shard_adjacency,
        derive_n_shards,
        search_shard_nsw,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", _DEFAULT_SF)
    ids, embs = _corpus(sf_dir)
    n_shards = derive_n_shards(len(ids))  # same rule as the entry
    pos = {i: r for r, i in enumerate(ids)}  # O(1) lookups, not .index
    qu = _query_unit(ids, embs)
    excl = set(_EXCLUDE)
    ef = max(_EF_SEARCH, _K + len(excl))
    cand: list = []
    for s in range(n_shards):
        sids = [i for i in ids if i % n_shards == s]
        if not sids:
            continue
        mat = VecStore.unit(
            sids, pd.Series([embs[pos[i]] for i in sids])
        )
        adj = build_shard_adjacency(sids, mat, _M, EF_CONSTRUCTION)
        rows = search_shard_nsw(sids, mat, adj, qu, _K, ef, excl)
        cand.extend(i for i, _ in rows)
    return _topk_sql(cand, _K)


def hnsw_topk_oracle() -> str:
    """Same doctrine for the layered graph: shared build + layered
    descent kernels, SQL re-scores the walked candidates."""
    import pandas as pd

    from pdf_etl_ocr_inference_spark.operators.graph_ann import (
        EF_CONSTRUCTION,
        VecStore,
        derive_n_shards,
    )
    from pdf_etl_ocr_inference_spark.operators.hnsw import (
        _search_shard,
        build_shard_layers,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", _DEFAULT_SF)
    ids, embs = _corpus(sf_dir)
    n_shards = derive_n_shards(len(ids))  # same rule as the entry
    pos = {i: r for r, i in enumerate(ids)}  # O(1) lookups, not .index
    qu = _query_unit(ids, embs)
    excl = set(_EXCLUDE)
    ef = max(_EF_SEARCH, _K + len(excl))
    cand: list = []
    for s in range(n_shards):
        sids = [i for i in ids if i % n_shards == s]
        if not sids:
            continue
        mat = VecStore.unit(
            sids, pd.Series([embs[pos[i]] for i in sids])
        )
        levels, adj = build_shard_layers(sids, mat, _M, EF_CONSTRUCTION)
        pdf = pd.DataFrame(
            {
                "vec_id": sids,
                "embedding": [embs[pos[i]] for i in sids],
                "layers": [
                    [adj[l][i] for l in range(levels[i] + 1)]
                    for i in sids
                ],
            }
        )
        rows = _search_shard(pdf, qu, _K, ef, excl)
        cand.extend(i for i, _ in rows)
    return _topk_sql(cand, _K)
