"""One shard server behind every pinned index.

Every online lookup runs the same steps, all of them here, through
:func:`lookup`.  The shard kinds are:

- the five vector kinds (nsw, hnsw, pq, ivf, ivfpq) of
  ``serving.serve_topk``, one ``shard=N`` directory per shard;
- ``postings``, the BM25 buckets of ``search.serve_bm25``;
- ``stats`` and ``bloom``, ``layout``'s data-skipping sidecars.  A
  sidecar shard is one chunk parquet of the sidecar's published
  version directory (the ``path``), named by its file name.  Stats
  chunks hold ``(file, col, vmin, vmax)`` rows, Bloom chunks one
  packed bit array per data file.

1. **Load.**  :func:`_load_shard` parses one shard's parquet into
   numpy/Arrow state once per Python process and pins it in
   :data:`WORKER_CACHE`, keyed ``(path, shard, kind)`` under a token
   and charged the Arrow table's bytes.  For an index the token is
   ``"<build_id>:<last_version>"`` from its meta: a refresh bumps the
   version and a rebuild at the same path draws a new build id, so
   either one misses, and the miss drops the stale state.  A sidecar
   probe passes the layout fingerprint or the manifest digest.
2. **Answer** (driver, or one Spark job).  When the planned shards fit
   the pin budget, the driver loads them into its own copy of the
   cache and answers in-process: a warm lookup runs no Spark job and
   never touches parquet.  Otherwise :func:`dispatch` runs
   ``spark.range(n, numSlices=n)`` → ``mapInPandas`` → Arrow
   ``toPandas()``: at most ``defaultParallelism`` tasks over
   contiguous runs of the sorted shards, no scan, no shuffle, each
   task loading into its Python worker's copy of the cache (Spark
   reuses Python workers across jobs, ``spark.python.worker.reuse``,
   on by default).  Either way the caller's ``answer(state, todo)``
   holds all per-kind logic.
3. **Merge** (driver).  :func:`merge_topk` ranks the candidate rows
   per query with numpy and returns them as a local relation, so
   collecting the result runs no job.  A sidecar probe merges its own
   rows into keep/covered file sets.

:class:`PinCache` is the one LRU cache in the package: the shard cache
above, and every driver-side pin (``layout``'s live map, keep-verdict
and manifest caches).

This module also owns the on-disk index format.  A vector index is
one ``shard=N`` parquet directory per shard, written by
:func:`write_shards`; every index (postings too) has one meta file
(:data:`META_FILES`), read by :func:`read_meta` and published by
:func:`publish_meta` (``scratch.atomic_write_json``).  A build
publishes ``last_version`` 0 and a fresh ``build_id``
(:func:`publish_build`).  :func:`unit_rows` is the one row
normalisation: graph builds, the loader and the oracle replay
(``plans/graph_sql.py``) all use it, so a graph is walked on the
vectors it was built on.

A refresh publishes here too, through ``scratch``'s publish
protocol.  :func:`swap_shards` moves the staged shards of a vector
index into place (``swap_dir`` per shard) and publishes the meta last;
:func:`publish_version` moves a staged postings append to
``v=<version>`` (``replace_dir``), then publishes the meta.  Builds
stay batch jobs in ``serving``, ``search``, ``graph_ann`` and
``hnsw``.  A refresh whose change rows and touched shards fit the
pin budget (:func:`frame_bytes`, :func:`shard_bytes`) is folded in the
driver: the IVF and postings refreshes collect the change rows with
:func:`frame_rows`, a pyarrow read of the commit's files in the driver
when the frame only selects and renames columns of a change-feed read
(one Arrow job otherwise), and write each staged shard with
:func:`write_shard` (pyarrow).  A larger commit, and every other kind,
rebuilds its shards with Spark.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import uuid
from collections import OrderedDict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_etl_ocr_inference_spark.scratch import (
    atomic_write_json,
    replace_dir,
    restore_dir,
    staging,
    swap_dir,
)

# ------------------------------------------------------------------
# Index format: meta files, build ids, shard directories
# ------------------------------------------------------------------

META_FILES = {
    "nsw": "_nsw_meta.json",
    "hnsw": "_hnsw_meta.json",
    "pq": "_pqserve_meta.json",
    "ivf": "_ivfserve_meta.json",
    "ivfpq": "_ivfpqserve_meta.json",
    "postings": "_postings_meta.json",
}


def read_meta(path: str, kind: str) -> dict:
    mp = os.path.join(path, META_FILES[kind])
    if not os.path.exists(mp):
        raise ValueError(
            f"no {kind} index meta at {path!r}: build it first"
        )
    with open(mp) as f:
        return json.load(f)


def publish_meta(path: str, kind: str, meta: dict) -> None:
    """Crash-safe meta publish: a failed write leaves the previous
    meta in place, never truncated JSON."""
    atomic_write_json(os.path.join(path, META_FILES[kind]), meta)


def new_build_id() -> str:
    """Unique nonce stamped into an index meta at build time and
    included in worker shard-cache keys: rebuilding an index at the
    SAME path restarts versions at 0, so without the nonce a
    long-lived executor would keep serving the pre-rebuild cache
    entry keyed (path, shard, 0)."""
    return uuid.uuid4().hex[:12]


def publish_build(path: str, kind: str, meta: dict) -> None:
    """Publish the meta of a fresh build: ``meta`` plus
    ``last_version`` 0 and a new ``build_id``."""
    publish_meta(
        path, kind, {**meta, "last_version": 0, "build_id": new_build_id()}
    )


def write_shards(df: DataFrame, path: str, kind: str, meta: dict) -> str:
    """Write ``df`` as the index at ``path``, one ``shard=N`` directory
    per value of its ``shard`` column, then publish its build meta."""
    (
        df.repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    publish_build(path, kind, meta)
    return path


def shard_token(meta: dict) -> str:
    """Cache token of the published index state (see module doc)."""
    return f"{meta.get('build_id', '')}:{meta.get('last_version', 0)}"


def write_shard(tbl: pa.Table, directory: str) -> None:
    """Write ``tbl`` as one parquet file in ``directory``: a shard
    folded in the driver.  Lists use Spark's element name, so a Spark
    scan and :func:`read_shard` see the same rows as in a file Spark
    wrote."""
    os.makedirs(directory, exist_ok=True)
    pq.write_table(
        tbl,
        os.path.join(directory, f"part-{uuid.uuid4().hex}.parquet"),
        use_compliant_nested_type=True,
    )


def swap_shards(
    path: str, kind: str, meta: dict, version: int, touched: list, stage
) -> list:
    """Publish a refresh of the shards ``touched`` of the index at
    ``path``: ``stage(tmp)`` writes their new contents as ``shard=N``
    directories under ``tmp`` (a shard it leaves out ends empty); each
    is moved into place with ``scratch.swap_dir``; then ``meta`` is
    published with ``last_version`` = ``version``.  Returns ``touched``.

    Any shard a killed attempt left parked is restored before
    ``stage`` runs, since ``stage`` reads the live shards.  The meta
    publish is last, so a crash before it leaves the version unfolded,
    and its retry stages again: a fold applied twice to a shard gives
    the shard a single fold gives.  The Spark rebuild and the driver
    fold both publish through here."""
    for sh in touched:
        restore_dir(f"{path}/shard={sh}")
    if touched:
        with staging(path) as tmp:
            stage(tmp)
            for sh in touched:
                swap_dir(f"{tmp}/shard={sh}", f"{path}/shard={sh}")
    meta["last_version"] = version
    publish_meta(path, kind, meta)
    return touched


def publish_version(
    path: str, kind: str, meta: dict, version: int, stage
) -> None:
    """Publish an append to the index at ``path``: ``stage(staged)``
    writes it, ``scratch.replace_dir`` moves it to ``v=<version>``,
    then ``meta`` is published with ``last_version`` = ``version``.  A
    crashed attempt's ``v=<version>`` is replaced: its rows are not in
    the published meta, so a retry never counts them twice.  Readers
    match ``v=*``, and the staged copy's name does not."""
    replace_dir(os.path.join(path, f"v={version}"), stage)
    meta["last_version"] = version
    publish_meta(path, kind, meta)


def frame_bytes(df: DataFrame) -> int:
    """What collecting ``df`` reads, with no job: Catalyst's size
    estimate, capped by the bytes of the files its scans select when
    every leaf of its plan is a file scan.  Catalyst's estimate of a
    path-based relation does not prune partitions, so one ``v=<N>``
    commit of a change feed would size as the whole feed; the physical
    scan's selected files are the pruned ones.  A relation of unknown
    size estimates ``spark.sql.defaultSizeInBytes``, so it never fits
    the pin."""
    qe = df._jdf.queryExecution()
    est = int(qe.optimizedPlan().stats().sizeInBytes())
    leaves = qe.sparkPlan().collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    if scans and all(
        s.getClass().getSimpleName() == "FileSourceScanExec" for s in scans
    ):
        est = min(est, sum(s.selectedPartitions().totalFileSize() for s in scans))
    return est


def frame_rows(df: DataFrame) -> pa.Table | None:
    """``df``'s rows as an Arrow table of ``df.schema``'s Arrow form,
    or ``None`` when :func:`frame_bytes` puts them over the pin budget
    (the caller then takes its Spark path).

    When the plan is a projection of plain columns, renamed or not,
    over a parquet scan filtered only on partition columns, the scan's
    selected files are read with pyarrow in the driver and no job
    runs; partition columns take their directory's value.  Any other
    plan is collected with one ``toArrow()`` job.  Row order may
    differ from ``toArrow()``'s; the refresh folds that read these
    rows do not depend on it."""
    if frame_bytes(df) > WORKER_CACHE.budget:
        return None
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(
        df.schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=df.sparkSession._jconf.arrowUseLargeVarTypes(),
    )
    rows = _scan_rows(df, target)
    return df.toArrow() if rows is None else rows


# partition value types :func:`_scan_rows` fills in from a directory
_PARTITION_TYPES = {"byte", "short", "integer", "long", "float", "double",
                    "boolean", "string", "date"}


def _scan_rows(df: DataFrame, target: pa.Schema) -> pa.Table | None:
    """The driver read of :func:`frame_rows`, or ``None`` when the
    plan is not a plain projection over a local parquet scan with only
    partition filters."""
    plan = df._jdf.queryExecution().sparkPlan()
    exprs = None
    if plan.getClass().getSimpleName() == "ProjectExec":
        exprs = plan.projectList()
        plan = plan.child()
    if (
        plan.getClass().getSimpleName() != "FileSourceScanExec"
        or not plan.dataFilters().isEmpty()
        or plan.relation().fileFormat().getClass().getSimpleName()
        != "ParquetFileFormat"
    ):
        return None
    if exprs is None:
        exprs = plan.output()
    sources = []  # the scan column each output column reads
    for i in range(exprs.size()):
        e = exprs.apply(i)
        if e.getClass().getSimpleName() == "Alias":
            e = e.child()
        if e.getClass().getSimpleName() != "AttributeReference":
            return None
        sources.append(e.name())
    parts = plan.relation().partitionSchema()
    pnames = list(parts.fieldNames())
    if any(
        parts.apply(c).dataType().typeName() not in _PARTITION_TYPES
        for c in set(sources) & set(pnames)
    ):
        return None
    data = [c for c in dict.fromkeys(sources) if c not in pnames]
    tables = []
    it = plan.selectedPartitions().filePartitionIterator()
    while it.hasNext():
        part = it.next()
        files, fit = [], part.files()
        while fit.hasNext():
            uri = fit.next().getPath().toUri()
            if uri.getScheme() not in (None, "file"):
                return None
            files.append(uri.getPath())
        if not files:
            continue
        dset = ds.dataset(files, format="parquet")
        if not set(data) <= set(dset.schema.names):
            return None
        tbl = dset.to_table(columns=data)
        values = part.values()
        cols = []
        for c, field in zip(sources, target):
            if c not in pnames:
                cols.append(tbl[c])
                continue
            j = pnames.index(c)
            v = None if values.isNullAt(j) else values.get(
                j, parts.apply(c).dataType()
            )
            v = v if v is None or isinstance(v, (bool, int, float)) else str(v)
            cols.append(pa.array([v] * tbl.num_rows, field.type))
        tables.append(pa.Table.from_arrays(cols, names=target.names))
    if not tables:
        return target.empty_table()
    return pa.concat_tables([t.cast(target) for t in tables])


def shard_bytes(path: str, kind: str, shards) -> int:
    """On-disk bytes of the files that hold ``shards``."""
    return sum(
        os.path.getsize(f)
        for sh in shards
        for f in _shard_files(path, sh, kind)
    )


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
    tests read it and shrink ``budget``.  One lock serialises every
    method, so client threads can share a cache."""

    def __init__(self, budget: int, keep_oversized: bool = False):
        self.budget = budget
        self.keep_oversized = keep_oversized
        self.nbytes = 0
        self.entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key, token=None):
        with self._lock:
            hit = self.entries.get(key)
            if hit is None:
                return MISS
            if hit[0] != token:
                self._pop(key)
                return MISS
            self.entries.move_to_end(key)
            return hit[1]

    def put(self, key, token, value, nbytes: int) -> None:
        with self._lock:
            self._pop(key)
            if nbytes > self.budget and not self.keep_oversized:
                return
            while self.entries and self.nbytes + nbytes > self.budget:
                self.nbytes -= self.entries.popitem(last=False)[1][2]
            self.entries[key] = (token, value, nbytes)
            self.nbytes += nbytes

    def pop(self, key) -> None:
        with self._lock:
            self._pop(key)

    def clear(self) -> None:
        with self._lock:
            self.entries.clear()
            self.nbytes = 0

    def _pop(self, key) -> None:
        hit = self.entries.pop(key, None)
        if hit is not None:
            self.nbytes -= hit[2]


# State pinned per Python process: shards of every served index and
# of layout's sidecars, each sized by the Arrow table it was parsed
# from.  The driver's copy serves the lookups :func:`lookup` answers
# in-process; each Python worker's copy serves the dispatched ones.
WORKER_PIN_BYTES = 256 << 20
WORKER_CACHE = PinCache(WORKER_PIN_BYTES, keep_oversized=True)


# ------------------------------------------------------------------
# Load: unit vectors and the per-kind parse of one shard
# ------------------------------------------------------------------


def unit_rows(m: np.ndarray) -> np.ndarray:
    """Rows of the float64 matrix ``m`` scaled to unit L2 norm; zero
    rows stay zero.  The one normalisation of stored vectors (see the
    module doc)."""
    norms = np.sqrt(np.einsum("ij,ij->i", m, m))
    norms[norms == 0] = 1.0
    return m / norms[:, None]


class VecStore:
    """Unit vectors in one contiguous row-major matrix, keyed by id.

    Reads like a dict (``vs[i]`` -> 1-D view, iteration yields ids)
    while letting the greedy walk score a node's whole adjacency list
    in one vectorized call (:meth:`dists`) instead of a Python-level
    ``np.dot`` per neighbor.
    """

    __slots__ = ("V", "idx", "sq")

    def __init__(self, ids, V):
        """``V`` must already be row-normalized; rows align with ids."""
        self.V = V
        self.idx = {int(i): r for r, i in enumerate(ids)}
        # |v|² per row (1.0 unit rows, 0.0 zero rows) — lets dists()
        # run as one gemv instead of subtract+square per batch
        self.sq = np.einsum("ij,ij->i", V, V) if len(V) else V.reshape(0)

    @classmethod
    def unit(cls, ids, vectors):
        """Stack raw (array-like) vectors and normalize them with
        :func:`unit_rows` — how a graph build sees its shard."""
        if not len(ids):
            return cls([], np.empty((0, 0), dtype="float64"))
        V = np.stack([np.asarray(v, dtype="float64") for v in vectors])
        return cls(ids, unit_rows(V))

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


def _unit_table(tbl):
    """(ids, :func:`unit_rows` matrix) of a shard's Arrow table: one
    flatten + reshape instead of a Python loop over rows (the parse is
    the cold-load cost)."""
    ids = tbl["vec_id"].to_numpy(zero_copy_only=False).astype("int64")
    flat = (
        tbl["embedding"].combine_chunks().flatten()
        .to_numpy(zero_copy_only=False).astype("float64")
    )
    return ids, unit_rows(flat.reshape(len(ids), len(flat) // len(ids)))


def _ivf_state(tbl, path, shard, kind):
    return _unit_table(tbl)


def _adc_state(tbl, path, shard, kind):
    """PQ and IVF-PQ share one state: (ids, vectors, codes, codebooks,
    rotation, cell centroid).  PQ may carry a rotation; IVF-PQ codes
    are residuals from this cell's centroid."""
    ids, emb = _unit_table(tbl)
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
    mat = VecStore(*_unit_table(tbl))
    d = tbl.select(["vec_id", "neighbors"]).to_pydict()
    adj = {int(i): list(nb) for i, nb in zip(d["vec_id"], d["neighbors"])}
    return mat, adj, sorted(mat)


def _hnsw_state(tbl, path, shard, kind):
    mat = VecStore(*_unit_table(tbl))
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


def _stats_state(tbl, path, shard, kind):
    """A stats-sidecar chunk's rows as columns: ``file`` and ``col``
    (Arrow strings), ``vmin`` and ``vmax`` (numpy doubles)."""
    return (
        tbl["file"].combine_chunks(),
        tbl["col"].combine_chunks(),
        tbl["vmin"].to_numpy(),
        tbl["vmax"].to_numpy(),
    )


def _bloom_state(tbl, path, shard, kind):
    """A Bloom-sidecar chunk's rows as columns: ``file`` and the packed
    ``bits`` (Arrow), ``m``, ``k`` and the data file's ``fsize`` /
    ``fmtime_ns`` fingerprint (numpy; -1 in a sidecar written before
    fingerprints)."""
    n = tbl.num_rows
    fp = [
        tbl[c].to_numpy() if c in tbl.column_names else np.full(n, -1)
        for c in ("fsize", "fmtime_ns")
    ]
    return (
        tbl["file"].combine_chunks(),
        tbl["bits"].combine_chunks(),
        tbl["m"].to_numpy(),
        tbl["k"].to_numpy(),
        *fp,
    )


_PARSE = {
    "nsw": _nsw_state,
    "hnsw": _hnsw_state,
    "pq": _adc_state,
    "ivf": _ivf_state,
    "ivfpq": _adc_state,
    "postings": _postings_state,
    "stats": _stats_state,
    "bloom": _bloom_state,
}

# a vector shard is one ``shard=N`` directory; a postings bucket is one
# ``_pb=N`` directory under every ``v=<version>`` append; a sidecar
# shard is one chunk file, named by its file name
_FILES = dict.fromkeys(_PARSE, "/shard={shard}/*.parquet")
_FILES["postings"] = "/v=*/_pb={shard}/*.parquet"
_FILES["stats"] = _FILES["bloom"] = "/{shard}"


def _shard_files(path: str, shard, kind: str) -> list:
    """The parquet files that hold one shard of the index at ``path``."""
    pattern = _FILES[kind].format(shard=glob.escape(str(shard)))
    return glob.glob(glob.escape(path) + pattern)


def read_shard(path: str, shard, kind: str):
    """One shard's rows as an Arrow table, or ``None`` when it has no
    files."""
    files = _shard_files(path, shard, kind)
    return ds.dataset(files, format="parquet").to_table() if files else None


def _load_shard(path: str, shard, kind: str, token: str):
    """This process's parsed state for one shard, or ``None`` when the
    shard holds no rows (an empty cell, bucket or chunk)."""
    key = (path, shard, kind)
    state = WORKER_CACHE.get(key, token)
    if state is not MISS:
        return state
    tbl = read_shard(path, shard, kind)
    state = None
    if tbl is not None and tbl.num_rows:
        state = _PARSE[kind](tbl, path, shard, kind)
    WORKER_CACHE.put(key, token, state, 0 if tbl is None else tbl.nbytes)
    return state


def _pinned_bytes(path: str, kind: str, token: str, shard):
    """The bytes one shard holds in this process's pin under ``token``,
    or ``None`` when it is not pinned there.  A peek, not a get: it
    must not reorder the LRU; one dict read is atomic, and a stale read
    only moves the answer."""
    hit = WORKER_CACHE.entries.get((path, shard, kind))
    return hit[2] if hit is not None and hit[0] == token else None


def pinned(path: str, kind: str, token: str, shards) -> bool:
    """Whether every shard of ``shards`` is pinned in this process
    under ``token``: a lookup of them would answer from the pin."""
    return all(
        _pinned_bytes(path, kind, token, sh) is not None for sh in shards
    )


def _plan_bytes(path: str, kind: str, token: str, plan: dict) -> int:
    """What the planned shards take in the pin: a shard pinned under
    ``token`` counts its pinned bytes, any other the on-disk bytes of
    the files :func:`_load_shard` would read."""
    total = 0
    for shard in plan:
        hit = _pinned_bytes(path, kind, token, shard)
        total += shard_bytes(path, kind, [shard]) if hit is None else hit
    return total


# ------------------------------------------------------------------
# Answer: in the driver, or dispatched as one Spark job; then merge
# ------------------------------------------------------------------


def rows_schema(id_col: str) -> T.StructType:
    """``(qid, <id_col>, score)``: the rows every shard answers and the
    shape of every lookup's result."""
    return T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )


_DTYPES = {"long": "int64", "double": "float64", "string": "object",
           "boolean": "bool"}


def lookup(
    spark: SparkSession,
    path: str,
    kind: str,
    token: str,
    plan: dict,
    answer,
    schema: T.StructType,
) -> pd.DataFrame:
    """Rows of ``answer(state, plan[shard])`` over every shard of
    ``plan``, where ``state`` is the shard's :func:`_load_shard` state
    under ``token``.

    When the planned shards fit the pin budget (:func:`_plan_bytes`)
    the driver answers them in-process from its own pin, with no Spark
    job; otherwise :func:`dispatch` answers them in one job.  Both
    return rows of ``schema`` (long, double, string and boolean
    columns), typed even when empty."""

    def run(shard, todo):
        return answer(_load_shard(path, shard, kind, token), todo)

    if _plan_bytes(path, kind, token, plan) > WORKER_CACHE.budget:
        return dispatch(spark, plan, run, schema)
    rows = [r for sh in sorted(plan) for r in run(sh, plan[sh])]
    return pd.DataFrame(rows, columns=schema.fieldNames()).astype(
        {f.name: _DTYPES[f.dataType.typeName()] for f in schema.fields}
    )


def dispatch(
    spark: SparkSession, plan: dict, answer, schema: T.StructType
) -> pd.DataFrame:
    """Run ``answer(shard, plan[shard])`` for every shard of ``plan`` in
    one Spark job and return the rows it produced.

    The sorted shards are cut into ``n`` contiguous runs, at most
    ``defaultParallelism``: a probe of thousands of sidecar chunks
    would otherwise pay thousands of near-empty Python tasks.
    ``range(n)`` split into n partitions puts row i in partition i, so
    task i owns run i with no shuffle; the job is one Python stage and
    its rows come back through Arrow.  ``answer`` runs in the worker
    and returns rows of ``schema``."""
    shards = sorted(plan)
    n = min(len(shards), spark.sparkContext.defaultParallelism)
    runs = [shards[i * len(shards) // n : (i + 1) * len(shards) // n]
            for i in range(n)]
    cols = schema.fieldNames()

    def _tasks(batches):
        for pdf in batches:
            for t in pdf["task"]:
                for sh in runs[int(t)]:
                    yield pd.DataFrame(answer(sh, plan[sh]), columns=cols)

    return (
        spark.range(0, n, 1, max(n, 1))
        .select(F.col("id").cast("int").alias("task"))
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
    reorder.  The result is ``(qid, id, score)`` in rank order with the
    score rounded as Spark's ``ROUND(score, 4)`` (:func:`round_half_up`),
    served from a local relation."""
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
    # an Arrow table, not a pandas frame: Spark turns an EMPTY pandas
    # frame into an RDD, which would cost a job to collect
    arrow = pa.table(
        {
            "qid": top["qid"].to_numpy(dtype="int64"),
            id_col: top[id_col].to_numpy(dtype="int64"),
            "score": round_half_up(top["score"].to_numpy(dtype="float64"), 4),
        }
    )
    return spark.createDataFrame(arrow, rows_schema(id_col))
