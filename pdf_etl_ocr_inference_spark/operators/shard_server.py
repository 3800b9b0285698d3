"""One shard server behind every pinned index.

Every online lookup — ``serving.serve_topk`` over the five vector
kinds (nsw, hnsw, pq, ivf, ivfpq) and ``search.serve_bm25`` over the
BM25 postings — runs the same three steps, all of them here:

1. **Load** (worker side).  :func:`_load_shard` parses one shard's
   parquet into numpy state once per Python worker process and pins
   it in :data:`WORKER_CACHE`, keyed ``(path, shard, kind)`` under a
   token.  The token is ``"<build_id>:<last_version>"`` from the
   index meta: a refresh bumps the version and a rebuild at the same
   path draws a new build id, so either one misses, and the miss
   drops the stale state.  Spark reuses Python workers across jobs
   (``spark.python.worker.reuse``, on by default), so warm lookups
   never touch parquet.  ``layout``'s sidecar chunks share the same
   worker cache.
2. **Dispatch** (one Spark job).  :func:`dispatch` runs
   ``spark.range(n, numSlices=n)`` → ``mapInPandas`` → Arrow
   ``toPandas()``: one task per shard, no scan, no shuffle.  Each task
   hands its shard id and its share of the work to the caller's
   ``answer`` function, which holds all per-kind logic.
3. **Merge** (driver).  :func:`merge_topk` ranks the candidate rows
   per query with numpy and returns them as a local relation, so
   collecting the result runs no second job.

:class:`PinCache` is the one LRU cache in the package: the worker
cache above, and every driver-side pin (``layout``'s sidecar, live
map and manifest caches, ``search``'s term → bucket memo).

Builds and refreshes stay batch jobs in ``serving``, ``search``,
``graph_ann`` and ``hnsw``; every one publishes its meta file through
:func:`publish_meta` (``scratch.atomic_write_json``).
"""

from __future__ import annotations

import glob
import json
import os
from collections import OrderedDict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_etl_ocr_inference_spark.operators.graph_ann import VecStore
from pdf_etl_ocr_inference_spark.scratch import atomic_write_json

META_FILES = {
    "nsw": "_nsw_meta.json",
    "hnsw": "_hnsw_meta.json",
    "pq": "_pqserve_meta.json",
    "ivf": "_ivfserve_meta.json",
    "ivfpq": "_ivfpqserve_meta.json",
    "postings": "_postings_meta.json",
}


def read_meta(path: str, kind: str) -> dict:
    with open(os.path.join(path, META_FILES[kind])) as f:
        return json.load(f)


def publish_meta(path: str, kind: str, meta: dict) -> None:
    """Crash-safe meta publish: a failed write leaves the previous
    meta in place, never truncated JSON."""
    atomic_write_json(os.path.join(path, META_FILES[kind]), meta)


def shard_token(meta: dict) -> str:
    """Cache token of the published index state (see module doc)."""
    return f"{meta.get('build_id', '')}:{meta.get('last_version', 0)}"


# ------------------------------------------------------------------
# Pin: the one LRU cache, and the worker-side instance
# ------------------------------------------------------------------

MISS = object()  # what PinCache.get returns when it holds no fresh value


class PinCache:
    """The engine's one LRU cache of pinned state, bounded by bytes.

    Each entry is ``key -> (token, value, nbytes)``.  ``get`` serves a
    value only under the token it was stored with; a stale token drops
    the entry and frees its bytes.  ``put`` evicts the coldest entries
    until the new one fits ``budget``.  Count-bounded caches pass
    ``nbytes=1``.  An entry larger than the whole budget is either
    kept alone, evicting everything else (``keep_oversized``: a
    payload that must never be parsed twice), or served once without
    evicting anything (the default: a cache that a huge entry would
    otherwise empty).  ``nbytes`` is the running total of ``entries``;
    tests read it and shrink ``budget``."""

    def __init__(self, budget: int, keep_oversized: bool = False):
        self.budget = budget
        self.keep_oversized = keep_oversized
        self.nbytes = 0
        self.entries: OrderedDict = OrderedDict()

    def get(self, key, token=None):
        hit = self.entries.get(key)
        if hit is None:
            return MISS
        if hit[0] != token:
            self.pop(key)
            return MISS
        self.entries.move_to_end(key)
        return hit[1]

    def put(self, key, token, value, nbytes: int) -> None:
        self.pop(key)
        if nbytes > self.budget and not self.keep_oversized:
            return
        while self.entries and self.nbytes + nbytes > self.budget:
            self.nbytes -= self.entries.popitem(last=False)[1][2]
        self.entries[key] = (token, value, nbytes)
        self.nbytes += nbytes

    def pop(self, key) -> None:
        hit = self.entries.pop(key, None)
        if hit is not None:
            self.nbytes -= hit[2]

    def clear(self) -> None:
        self.entries.clear()
        self.nbytes = 0


# State pinned per Python worker process: shards of every served
# index and layout's sidecar chunks, each sized by the Arrow table it
# was parsed from.
WORKER_PIN_BYTES = 256 << 20
WORKER_CACHE = PinCache(WORKER_PIN_BYTES, keep_oversized=True)


def _unit_rows(tbl):
    """(ids, row-normalised float64 matrix): one flatten + reshape
    instead of a Python loop over rows (the parse is the cold-load
    cost)."""
    ids = tbl["vec_id"].to_numpy(zero_copy_only=False).astype("int64")
    flat = (
        tbl["embedding"].combine_chunks().flatten()
        .to_numpy(zero_copy_only=False).astype("float64")
    )
    m = flat.reshape(len(ids), len(flat) // len(ids))
    norms = np.sqrt((m * m).sum(axis=1))
    norms[norms == 0] = 1.0
    return ids, m / norms[:, None]


def _ivf_state(tbl, path, shard, kind):
    return _unit_rows(tbl)


def _adc_state(tbl, path, shard, kind):
    """PQ and IVF-PQ share one state: (ids, vectors, codes, codebooks,
    rotation, cell centroid).  PQ may carry a rotation; IVF-PQ codes
    are residuals from this cell's centroid."""
    ids, emb = _unit_rows(tbl)
    flat = tbl["pq_codes"].combine_chunks().flatten()
    flat = flat.to_numpy(zero_copy_only=False)
    codes = flat.reshape(len(ids), len(flat) // len(ids))
    meta = read_meta(path, kind)
    books = [np.asarray(b, dtype="float64") for b in meta["codebooks"]]
    rot, cents = meta.get("rotation"), meta.get("centroids")
    return (
        ids,
        emb,
        codes,
        books,
        None if rot is None else np.asarray(rot, dtype="float64"),
        None if cents is None else np.asarray(cents[shard], dtype="float64"),
    )


def _nsw_state(tbl, path, shard, kind):
    # contiguous VecStore: the walk scores whole adjacency lists in
    # one vectorized call
    mat = VecStore(*_unit_rows(tbl))
    d = tbl.select(["vec_id", "neighbors"]).to_pydict()
    adj = {int(i): list(nb) for i, nb in zip(d["vec_id"], d["neighbors"])}
    return mat, adj, sorted(mat)


def _hnsw_state(tbl, path, shard, kind):
    mat = VecStore(*_unit_rows(tbl))
    d = tbl.select(["vec_id", "layers"]).to_pydict()
    levels = {int(i): len(ls) - 1 for i, ls in zip(d["vec_id"], d["layers"])}
    layered: list[dict] = [{} for _ in range(max(levels.values()) + 1)]
    for i, ls in zip(d["vec_id"], d["layers"]):
        for lv, nb in enumerate(ls):
            layered[lv][int(i)] = list(nb)
    return mat, layered, levels, sorted(mat)


def _postings_state(tbl, path, shard, kind):
    """{term: (ids, dls, tfs)} for one ``_pb`` bucket."""
    tbl = tbl.select(["term", "id", "dl", "tf"]).sort_by("term")
    terms = tbl["term"].to_pylist()
    cols = [tbl[c].to_numpy() for c in ("id", "dl", "tf")]
    cuts = [0]
    cuts += [i for i in range(1, len(terms)) if terms[i] != terms[i - 1]]
    cuts.append(len(terms))
    return {
        terms[a]: tuple(c[a:b] for c in cols)
        for a, b in zip(cuts, cuts[1:])
    }


_PARSE = {
    "nsw": _nsw_state,
    "hnsw": _hnsw_state,
    "pq": _adc_state,
    "ivf": _ivf_state,
    "ivfpq": _adc_state,
    "postings": _postings_state,
}

# a vector shard is one ``shard=N`` directory; a postings bucket is one
# ``_pb=N`` directory under every ``v=<version>`` append
_FILES = dict.fromkeys(_PARSE, "/shard={shard}/*.parquet")
_FILES["postings"] = "/v=*/_pb={shard}/*.parquet"


def _load_shard(path: str, shard: int, kind: str, token: str):
    """This worker's parsed state for one shard, or ``None`` when the
    shard holds no rows (an empty cell or bucket)."""
    key = (path, int(shard), kind)
    state = WORKER_CACHE.get(key, token)
    if state is not MISS:
        return state
    files = glob.glob(
        glob.escape(path) + _FILES[kind].format(shard=int(shard))
    )
    tbl = ds.dataset(files, format="parquet").to_table() if files else None
    state = None
    if tbl is not None and tbl.num_rows:
        state = _PARSE[kind](tbl, path, int(shard), kind)
    WORKER_CACHE.put(key, token, state, 0 if tbl is None else tbl.nbytes)
    return state


# ------------------------------------------------------------------
# Dispatch and merge
# ------------------------------------------------------------------


def rows_schema(id_col: str) -> T.StructType:
    """``(qid, <id_col>, score)``: the rows every task returns and the
    shape of every lookup's result."""
    return T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )


def dispatch(
    spark: SparkSession, plan: dict, answer, schema: T.StructType
) -> pd.DataFrame:
    """Run ``answer(shard, plan[shard])`` for every shard of ``plan`` in
    one Spark job and return the rows it produced.

    ``range(n)`` split into n partitions puts row i in partition i, so
    each task owns one shard with no shuffle; the job is one Python
    stage and its rows come back through Arrow.  ``answer`` runs in
    the worker and returns rows of ``schema``."""
    shards = sorted(plan)
    cols = schema.fieldNames()

    def _tasks(batches):
        for pdf in batches:
            for idx in pdf["shard"]:
                sh = shards[int(idx)]
                yield pd.DataFrame(answer(sh, plan[sh]), columns=cols)

    return (
        spark.range(0, len(shards), 1, max(len(shards), 1))
        .select(F.col("id").cast("int").alias("shard"))
        .mapInPandas(_tasks, schema)
        .toPandas()
    )


def round_half_up(x: np.ndarray, places: int) -> np.ndarray:
    """Spark's ``ROUND`` of a double, in numpy: HALF_UP on the
    shortest decimal form of the value.  Python's ``round`` is
    half-even, so it cannot stand in.  Away from a tie the scaled
    nearest integer is exact; values within 1e-6 of a tie take the
    decimal path."""
    scale = 10.0**places
    scaled = x * scale
    out = np.floor(scaled + 0.5) / scale
    q = Decimal(1).scaleb(-places)
    for i in np.flatnonzero(np.abs(scaled - np.floor(scaled) - 0.5) < 1e-6):
        out[i] = float(Decimal(repr(float(x[i]))).quantize(q, ROUND_HALF_UP))
    return out


def merge_topk(
    spark: SparkSession,
    frames: list,
    k: int,
    id_col: str,
    sum_per_id: bool = False,
) -> DataFrame:
    """Per-qid top-k of the shard rows, in the driver.

    Vector rows rank by ``(-score, id)``.  With ``sum_per_id`` (BM25)
    the rows are per-term contributions: they are summed per
    ``(qid, id)`` first and rank by the sum rounded HALF_UP to 6
    decimals, then id, so last-ulp differences in the sum cannot
    reorder.  The result is ``(qid, id, ROUND(score, 4))`` in rank
    order, served from a local relation."""
    empty = pd.DataFrame(
        {"qid": np.empty(0, "int64"), id_col: np.empty(0, "int64"),
         "score": np.empty(0)}
    )
    rows = pd.concat([empty, *frames], ignore_index=True)
    if sum_per_id:
        rows = rows.groupby(["qid", id_col], as_index=False, sort=False)[
            "score"
        ].sum()
        key = round_half_up(rows["score"].to_numpy(dtype="float64"), 6)
    else:
        key = rows["score"].to_numpy(dtype="float64")
    order = np.lexsort((rows[id_col].to_numpy(), -key, rows["qid"].to_numpy()))
    top = rows.iloc[order]
    top = top[top.groupby("qid").cumcount().to_numpy() < k]
    # an Arrow table, not the pandas frame: Spark turns an EMPTY pandas
    # frame into an RDD, which would cost a job to collect
    arrow = pa.Table.from_pandas(top, preserve_index=False)
    return spark.createDataFrame(arrow, rows_schema(id_col)).select(
        "qid", id_col, F.round("score", 4).alias("score")
    )
