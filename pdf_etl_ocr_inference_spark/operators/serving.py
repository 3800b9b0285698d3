"""Pinned-index vector serving: ``serve_topk`` over five index kinds.

``serve_topk`` is the one read path of every built vector index: the
NSW and HNSW graphs built by ``graph_ann`` and ``hnsw`` and the PQ,
IVF and IVF-PQ layouts built here.  It answers like the reference's
ONLINE similarity call (``ocr-tesseract-unstructured.py:166-172``, a
managed-index query endpoint): top-k batches from state pinned in
Python memory, never a re-read of the parquet per query.  (The
DataFrame-level ``topk_pq``/``topk_ivf`` query caller-supplied
frames, not a built layout.)  The layouts are parquet partitioned by
shard plus a meta file, in the format ``shard_server`` owns:

- ``nsw`` / ``hnsw``: sharded graphs, one greedy walk per shard;
- ``pq``: ADC scan over pinned codes + exact re-rank;
- ``ivf``: cells are the shards; an exact scan of each query's
  ``n_probe`` nearest cells, and only probed cells are read;
- ``ivfpq``: IVF cells holding residual PQ codes.

Loading, answering and the merge are the shared shard server
(``operators.shard_server.lookup``): the probed shards are answered in
the driver from its pin when they fit the pin budget, with no Spark
job, and otherwise by one Spark job over pinned Python workers; a
per-qid top-k merge in the driver follows.  This module adds one
answer function per kind (``_ANSWERS``) and the IVF probe rounds.  A
lookup answers when called and returns a DataFrame over the merged
rows; collecting it runs no job.

Builds are batch jobs, and so are refreshes of every kind but IVF.
An IVF refresh whose commit fits the pin budget is folded in the
driver (``shard_server.frame_rows`` reads the change rows, with no
job for a plain change-feed read; numpy assigns their cells and
pyarrow rewrites the touched cells); a larger commit is rebuilt by
Spark.  Every meta carries a ``build_id`` and a
``last_version`` that a refresh bumps; together they key the shard
cache, so a refresh or a rebuild at the same path is never answered
from stale pinned state.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.operators.graph_ann import (
    _greedy_search,
    derive_n_shards,
    refresh_nsw_index,
    refresh_sharded_graph,
)
from pdf_etl_ocr_inference_spark.operators.shard_server import (
    WORKER_CACHE,
    frame_bytes,
    frame_rows,
    lookup,
    merge_topk,
    read_meta,
    read_shard,
    rows_schema,
    shard_bytes,
    shard_token,
    swap_shards,
    write_shard,
    write_shards,
)
from pdf_etl_ocr_inference_spark.operators.similarity import (
    ivf_assign,
    ivf_cell,
    ivf_cell_numpy,
)


# ------------------------------------------------------------------
# PQ serving index: sharded (id, embedding, pq_codes) + pinned
# codebooks — the ADC scan and exact re-rank run on cached arrays
# ------------------------------------------------------------------

# rows per PQ serving shard when n_shards is derived: bounds the
# per-worker pin (codes + float64 vectors ≈ 70 MB at d=64) — much
# larger than the graph target because an ADC scan is a vectorized
# numpy pass, not a sequential insert loop
_PQ_SHARD_TARGET_ROWS = 65536


def build_pq_serving_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    codebooks: list,
    rotation: list | None = None,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    n_shards: int | None = 8,
) -> str:
    """Materialize the PQ serving layout: (vec_id, embedding,
    pq_codes) partitioned by shard = id % n_shards, with the
    codebooks/rotation persisted in the index meta — the worker-side
    cache pins codes + vectors as dense numpy matrices and the
    codebooks once per process.  ``embedding`` is kept for the exact
    re-rank (the scan itself reads only the 32×-smaller codes).

    ``n_shards=None`` derives the count from the corpus size at
    ``_PQ_SHARD_TARGET_ROWS`` rows per shard (the graph_ann
    derivation doctrine applied to the PIN: a fixed count at 10⁹
    rows would pin ~100M-row matrices per worker).  Unlike the NSW/
    HNSW graphs, sharding here is RESULT-NEUTRAL — the ADC scan +
    exact re-rank merge per-shard top-k exactly — so the explicit
    default stays for the serving-matrix entries."""
    from pdf_etl_ocr_inference_spark.operators.pq import pq_encode

    if n_shards is None:
        n_shards = derive_n_shards(
            corpus.count(), target=_PQ_SHARD_TARGET_ROWS
        )

    encoded = pq_encode(
        corpus.select(
            (F.col(id_col) % n_shards).cast("int").alias("shard"),
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(embedding_col).cast("array<double>").alias("embedding"),
        ),
        "embedding",
        codebooks,
        out_col="pq_codes",
        rotation=rotation,
    )
    return write_shards(
        encoded,
        path,
        "pq",
        {"n_shards": n_shards, "codebooks": codebooks, "rotation": rotation},
    )


def refresh_pq_serving_index(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    version: int,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> list[int]:
    """Fold one change-feed commit into the PQ serving index —
    touched shards re-encode their member sets with the PERSISTED
    codebooks (quantizer retraining is a rebuild, not a refresh);
    same crash-safe swap + version watermark as the graph families
    (``graph_ann.refresh_sharded_graph``), so the serving cache
    invalidates by key."""

    def _rebuild(members, tmp, meta):
        build_pq_serving_index(
            spark,
            members,
            tmp,
            codebooks=meta["codebooks"],
            rotation=meta["rotation"],
            n_shards=meta["n_shards"],
        )

    return refresh_sharded_graph(
        spark, path, "pq", changes, version, id_col, embedding_col,
        _rebuild,
    )


# ------------------------------------------------------------------
# IVF serving index: cells ARE the shards — a query schedules tasks
# only for its probed cells
# ------------------------------------------------------------------


def _ivf_cell(meta: dict):
    """Refresh shard of a row of an IVF kind: the cell its build
    assigns (``ivf_assign`` uses the same expression)."""
    return ivf_cell("embedding", meta["centroids"])


def build_ivf_serving_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    centroids: list,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> str:
    """Materialize the IVF serving layout: rows partitioned by their
    nearest-centroid CELL (shard = cell), centroids persisted in the
    meta.  A query then schedules tasks ONLY for its ``n_probe``
    nearest cells — the serving twin of ``topk_ivf``'s partition-
    pruned scan."""
    assigned = ivf_assign(
        corpus.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(embedding_col).cast("array<double>").alias("embedding"),
        ),
        "embedding",
        centroids,
        id_col="vec_id",
    ).select(
        F.col("cell").cast("int").alias("shard"), "vec_id", "embedding"
    )
    return write_shards(
        assigned,
        path,
        "ivf",
        {"n_shards": len(centroids), "centroids": centroids},
    )


def refresh_ivf_serving_index(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    version: int,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> list[int]:
    """Fold one change-feed commit into the IVF layout and return the
    touched cells.  The shard function is the centroid argmax, so an
    update that moves a vector between cells touches BOTH (preimage
    rows carry the old embedding); the version watermark makes a
    re-delivered commit a no-op.

    A commit whose change rows (``shard_server.frame_bytes``: the
    bytes its scan reads) and touched cells (on-disk bytes) fit the
    pin budget is folded in the driver:
    ``shard_server.frame_rows`` collects the rows (a pyarrow read of
    the commit's files when ``changes`` only selects and renames
    columns of a change-feed read, else one Arrow job),
    :func:`_ivf_fold` assigns their cells in numpy and rewrites each
    touched cell with pyarrow.  A larger commit, or one with a null or
    non-integer id, a null or non-numeric embedding or a vector of the
    wrong dimension, rebuilds the touched cells with Spark
    (``graph_ann.refresh_sharded_graph``).  Both paths publish through
    ``shard_server.swap_shards`` and write the same rows."""
    meta = read_meta(path, "ivf")
    if version <= meta.get("last_version", 0):
        return []  # already folded (idempotent on driver retry)
    cols = changes.select(
        F.col(id_col).alias("vec_id"),
        F.col(embedding_col).alias("embedding"),
        "_change_type",
    )
    rows = frame_rows(cols)
    fold = None if rows is None else _ivf_fold(rows, meta["centroids"], path)
    if fold is not None:
        touched, stage = fold
        est = frame_bytes(cols) + shard_bytes(path, "ivf", touched)
        if est <= WORKER_CACHE.budget:
            return swap_shards(path, "ivf", meta, version, touched, stage)

    def _rebuild(members, tmp, meta):
        build_ivf_serving_index(
            spark, members, tmp, centroids=meta["centroids"]
        )

    return refresh_sharded_graph(
        spark, path, "ivf", changes, version, id_col, embedding_col,
        _rebuild, shard_col=_ivf_cell,
    )


_IVF_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float64()))]
)
_ADDS = ["insert", "update_postimage"]
_REMOVES = ["delete", "update_preimage"]


def _ivf_fold(rows: pa.Table, centroids: list, path: str):
    """``(touched cells, stage(tmp))`` of the change ``rows``
    ``(vec_id, embedding, _change_type)``, or ``None`` when an id is
    null or not an integer, an embedding is null or not a list of
    numbers, or a vector has the wrong dimension (the Spark path keeps
    its own handling of those).  Ids are cast to int64 and embeddings
    to float64 lists, as the Spark path's casts do.  ``stage`` writes
    each touched cell of the index at ``path`` under ``tmp`` with the
    members ``refresh_sharded_graph`` gives it: its current rows minus
    every id the commit removes or adds (upsert: the add wins), plus
    the adds that the centroid argmax places in it."""
    id_type = rows.schema.field("vec_id").type
    emb_type = rows.schema.field("embedding").type
    if not (
        pa.types.is_integer(id_type)
        and (pa.types.is_list(emb_type) or pa.types.is_large_list(emb_type))
        and (
            pa.types.is_integer(emb_type.value_type)
            or pa.types.is_floating(emb_type.value_type)
        )
    ):
        return None
    cents = np.asarray(centroids, dtype="float64")
    dim = cents.shape[1]
    ids = rows["vec_id"].combine_chunks().cast(pa.int64())
    emb = rows["embedding"].combine_chunks().cast(_IVF_SCHEMA.field("embedding").type)
    flat = emb.flatten()
    if ids.null_count or emb.null_count or flat.null_count:
        return None
    if (pc.list_value_length(emb).to_numpy() != dim).any():
        return None
    cells = ivf_cell_numpy(flat.to_numpy().reshape(len(emb), dim), cents)
    kinds = rows["_change_type"].combine_chunks()
    add, live = (
        pc.is_in(kinds, pa.array(types)).to_numpy(zero_copy_only=False)
        for types in (_ADDS, _ADDS + _REMOVES)
    )
    touched = sorted(set(cells[live].tolist()))
    gone = pa.array(ids.to_numpy()[live])
    adds = pa.table({"vec_id": ids, "embedding": emb}).cast(_IVF_SCHEMA)

    def stage(tmp):
        for sh in touched:
            cur = read_shard(path, sh, "ivf")
            parts = [adds.filter(pa.array(add & (cells == sh)))]
            if cur is not None:
                keep = pc.invert(pc.is_in(cur["vec_id"], gone))
                cur = cur.select(_IVF_SCHEMA.names).cast(_IVF_SCHEMA)
                parts.insert(0, cur.filter(keep))
            members = pa.concat_tables(parts)
            if members.num_rows:
                write_shard(members, f"{tmp}/shard={sh}")

    return touched, stage


def build_ivfpq_serving_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    centroids: list,
    codebooks: list,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> str:
    """Materialize the IVF-PQ serving layout: cells are the shards
    (like ``ivf``), rows carry RESIDUAL PQ codes (like ``pq``), and
    both the centroids and the residual codebooks persist in the
    meta.  A query schedules tasks only for its probed cells, and
    each task's ADC runs against that cell's residual LUT on pinned
    arrays — IVFADC end to end with no parquet scan per query."""
    from pdf_etl_ocr_inference_spark.operators.pq import ivfpq_encode

    assigned = ivf_assign(
        corpus.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(embedding_col).cast("array<double>").alias("embedding"),
        ),
        "embedding",
        centroids,
        id_col="vec_id",
    )
    encoded = ivfpq_encode(
        assigned, "embedding", centroids, codebooks
    ).select(
        F.col("cell").cast("int").alias("shard"),
        "vec_id",
        "embedding",
        "pq_codes",
    )
    return write_shards(
        encoded,
        path,
        "ivfpq",
        {
            "n_shards": len(centroids),
            "centroids": centroids,
            "codebooks": codebooks,
        },
    )


def refresh_ivfpq_serving_index(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    version: int,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> list[int]:
    """Fold one change-feed commit into the IVF-PQ layout: touched
    cells re-encode their member sets with the PERSISTED centroids
    and residual codebooks (quantizer retraining is a rebuild);
    cross-cell moves touch both cells via the centroid-argmax shard
    column; same crash-safe swap + version watermark as the other
    serving families."""

    def _rebuild(members, tmp, meta):
        build_ivfpq_serving_index(
            spark,
            members,
            tmp,
            centroids=meta["centroids"],
            codebooks=meta["codebooks"],
        )

    return refresh_sharded_graph(
        spark, path, "ivfpq", changes, version, id_col, embedding_col,
        _rebuild, shard_col=_ivf_cell,
    )


# ------------------------------------------------------------------
# Per-kind answers: answer(state, qu, k, ef, rerank, excl, pred) ->
# [(id, score)] top-k of one pinned shard, ties by id
# ------------------------------------------------------------------


def _select(ids, scores, k, excl, pred):
    """Top-k of ``(id, score)`` rows by ``(-score, id)`` among the ids
    that are not excluded and pass the predicate."""
    keep = np.ones(len(ids), dtype=bool)
    if excl:
        keep &= ~np.isin(ids, list(excl))
    if pred is not None:
        keep &= np.fromiter((pred(int(i)) for i in ids), bool, len(ids))
    idx = np.flatnonzero(keep)
    top = idx[np.lexsort((ids[idx], -scores[idx]))][:k]
    return [(int(ids[i]), float(scores[i])) for i in top]


def _ivf_answer(state, qu, k, ef, rerank, excl, pred):
    """Exact cosine top-k of one pinned cell (the whole cell is
    scanned, so a predicate needs no widening)."""
    ids, m = state
    return _select(ids, m @ qu, k, excl, pred)


def _adc_answer(state, qu, k, ef, rerank, excl, pred):
    """ADC scan + exact re-rank on pinned arrays, for ``pq`` and
    ``ivfpq``.  The two differ only in the LUT target: ``q @ R`` under
    a PQ rotation, ``q − c_cell`` for IVF-PQ residual codes.  The
    candidate window starts at ``max(rerank, k + |excl|)`` in (ADC
    distance, id) order and doubles until k candidates survive the
    exclusions and the predicate (PRE-filter: the LUT is computed
    once; only the window grows)."""
    ids, emb, codes, books, rot, centroid = state
    qr = qu if rot is None else qu @ rot
    if centroid is not None:
        qr = qr - centroid
    sub = books[0].shape[1]
    # LUT[j][c] = squared distance of the target's j-th subvector to
    # centroid c; ADC = sum over subspaces of LUT lookups
    adc = np.zeros(len(ids), dtype="float64")
    for j, book in enumerate(books):
        lut = ((book - qr[j * sub : (j + 1) * sub]) ** 2).sum(axis=1)
        adc += lut[codes[:, j]]
    full = np.lexsort((ids, adc))
    window = max(rerank, k + len(excl))
    while True:
        cand = full[:window]
        got = _select(ids[cand], emb[cand] @ qu, k, excl, pred)
        if len(got) >= k or window >= len(ids):
            return got
        window = min(window * 2, len(ids))


def _beam(mat, adj, ids_sorted, qu, k, ef, excl, pred, entry=None):
    """Layer-0 beam of a graph walk.  With a predicate the beam WIDENS
    (ef doubling, up to the shard size) until k survivors pass; the
    walk stays on the unfiltered graph (filtering edges would
    disconnect it) and filters at collection.  Without one it walks
    exactly once."""
    eff = ef
    while True:
        near = _greedy_search(mat, adj, ids_sorted, qu, eff, entry=entry)
        rows = [
            (i, float(np.dot(qu, mat[i])))
            for _, i in near
            if i not in excl and (pred is None or pred(i))
        ]
        if pred is None or len(rows) >= k or eff >= len(ids_sorted):
            break
        eff = min(eff * 2, len(ids_sorted))
    rows.sort(key=lambda t: (-t[1], t[0]))
    return rows[:k]


def _nsw_walk(state, qu, k, ef, rerank, excl, pred):
    """Greedy walk of one pinned NSW shard from its lowest id."""
    mat, adj, ids_sorted = state
    return _beam(mat, adj, ids_sorted, qu, k, ef, excl, pred)


def _hnsw_walk(state, qu, k, ef, rerank, excl, pred):
    """Layered descent from the entry point (highest level, then
    lowest id — as the build picks it) + layer-0 beam of one pinned
    HNSW shard."""
    mat, layered, levels, ids_sorted = state
    ep = min(mat, key=lambda i: (-levels[i], i))
    cur = ep
    for lv in range(levels[ep], 0, -1):
        near = _greedy_search(mat, layered[lv], ids_sorted, qu, 1, entry=cur)
        if near:
            cur = near[0][1]
    return _beam(mat, layered[0], ids_sorted, qu, k, ef, excl, pred, entry=cur)


def unit_query(vec) -> np.ndarray:
    """A query vector as float64 scaled to unit L2 (zero stays zero)."""
    q = np.asarray(vec, dtype="float64")
    n = float(np.sqrt(np.dot(q, q)))
    return q / n if n > 0 else q


_ANSWERS = {
    "nsw": _nsw_walk,
    "hnsw": _hnsw_walk,
    "pq": _adc_answer,
    "ivf": _ivf_answer,
    "ivfpq": _adc_answer,
}


def serve_topk(
    spark: SparkSession,
    path: str,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    ef_search: int = 32,
    exclude_ids: list | None = None,
    kind: str = "nsw",
    rerank: int = 50,
    n_probe: int = 2,
    predicate=None,
) -> DataFrame:
    """Top-k for a BATCH of (qid, vector) queries against the pinned
    sharded index (``kind``: ``nsw``/``hnsw`` graph walk, ``pq`` ADC
    scan + exact re-rank with pinned codebooks, ``ivf`` exact scan of
    the ``n_probe`` nearest pinned cells, ``ivfpq`` ADC within them).
    Every probed shard answers its queries from pinned state (IVF
    kinds probe only the queries' nearest cells): in the driver when
    the probed shards fit the pin budget, so a warm lookup runs no
    Spark job, else in one Spark job.  The per-qid merge runs in the
    driver.  The lookup runs when this is called; the returned
    ``(qid, vec_id, score)`` DataFrame is local, in rank order, and
    ``score`` is exact cosine rounded to 4 decimals.

    ``predicate`` (``Callable[[int], bool]``, optional) is a metadata
    filter resolved to id level by the caller (tenant = id mod T, a
    broadcast membership sketch, …) with PRE-filter semantics — it
    restricts the CANDIDATE FETCH, never post-filters a finished
    top-k (ref serving: the vector-search API's ``filters`` arg; the
    ocr:166-172 notebook passes none): graph kinds widen the layer-0
    beam (ef doubling, per shard) until k survivors pass; PQ kinds
    widen the ADC re-rank window the same way; IVF kinds widen the
    PROBE — still-starved queries double their probed-cell prefix,
    one extra round per doubling over only the newly probed cells, so
    a tight filter reads more cells instead of starving.

    The query list is bounded control data (an online request batch),
    held in the answer closure — there is deliberately no corpus-
    sized query-side DataFrame here; for corpus-scale two-table top-k
    use ``optimizer.knn_join``.
    """
    if kind not in _ANSWERS:
        raise ValueError(
            f"kind must be nsw|hnsw|pq|ivf|ivfpq, got {kind!r}"
        )
    meta = read_meta(path, kind)
    token = shard_token(meta)
    excl = set(exclude_ids or [])
    ef = max(ef_search, k + len(excl))
    kind_answer = _ANSWERS[kind]
    qnorm = [(int(qid), unit_query(vec)) for qid, vec in queries]

    def answer(state, todo):
        if state is None:
            return []
        return [
            (qid, i, s)
            for qid, qu in todo
            for i, s in kind_answer(state, qu, k, ef, rerank, excl, predicate)
        ]

    def run(plan):
        return lookup(
            spark, path, kind, token, plan, answer, rows_schema("vec_id")
        )

    if kind in ("ivf", "ivfpq"):
        frames = _probe_cells(
            np.asarray(meta["centroids"], dtype="float64"), qnorm, run,
            k, n_probe, widen=predicate is not None,
        )
    else:  # every shard answers every query
        frames = [run(dict.fromkeys(range(meta["n_shards"]), qnorm))]
    return merge_topk(spark, frames, k, "vec_id")


def _probe_cells(cents, qnorm, run, k, n_probe, widen):
    """IVF kinds: the cells ARE the shards.  Each query ranks the cells
    by (-dot, cell) and probes its ``n_probe`` nearest; a cell answers
    only the queries that probed it.  With ``widen`` (a predicate is
    set), any query left with fewer than k rows doubles its probed
    prefix and the next round answers only the newly probed cells: at
    most ``log2(n_cells)`` extra rounds, each smaller than the first.
    ``run(plan)`` answers one round (one ``shard_server.lookup``).
    Returns each round's rows."""
    n_cells = len(cents)
    ranked = {
        qid: np.lexsort((np.arange(n_cells), -(cents @ qu)))
        for qid, qu in qnorm
    }
    cur = {qid: max(min(n_probe, n_cells), 1) for qid, _ in qnorm}
    done = dict.fromkeys(cur, 0)
    found: Counter = Counter()
    frames = []
    while True:
        plan: dict[int, list] = {}
        for qid, qu in qnorm:
            for c in ranked[qid][done[qid] : cur[qid]]:
                plan.setdefault(int(c), []).append((qid, qu))
            done[qid] = cur[qid]
        if not plan:
            return frames
        frames.append(run(plan))
        found.update(frames[-1]["qid"].tolist())
        starved = [q for q in cur if found[q] < k and cur[q] < n_cells]
        if not widen or not starved:
            return frames
        for q in starved:
            cur[q] = min(cur[q] * 2, n_cells)


def serving_refresh_fn(path: str, kind: str):
    """Adapter: a ``refresh_fn`` for ``optimizer.sync_index_from_feed``
    that folds change-feed commits into a SERVING index — the same
    TRIGGERED availableNow maintenance loop the LSH/MinHash indexes
    use (streaming checkpoint + per-index version watermark =
    at-least-once ingestion with idempotent folds), pointed at the
    pinned-serving layouts.  Each fold bumps ``last_version``, so
    executor caches invalidate as commits land."""
    from pdf_etl_ocr_inference_spark.operators.hnsw import (
        refresh_hnsw_index,
    )

    refreshers = {
        "nsw": refresh_nsw_index,
        "hnsw": refresh_hnsw_index,
        "pq": refresh_pq_serving_index,
        "ivf": refresh_ivf_serving_index,
        "ivfpq": refresh_ivfpq_serving_index,
    }
    if kind not in refreshers:
        raise ValueError(f"kind must be one of {sorted(refreshers)}")
    refresh = refreshers[kind]

    def fn(spark, table_key, changes, version, catalog=None):
        refresh(spark, path, changes, version)

    return fn
