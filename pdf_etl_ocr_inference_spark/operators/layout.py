"""Physical-layout helpers: partition-count guarantees for CPU-heavy
operators.

Spark sizes file-scan partitions by bytes (``spark.sql.files.
maxPartitionBytes``), which is right for I/O-bound scans but wrong for
CPU-bound per-row work: a 10 MB parquet file arrives as ONE partition,
so shingling / hashing / Python inference over it runs as ONE task
while 31 cores idle.  The reference hit the same mismatch between
data-intensive and compute-intensive work and solved it with Ray
(``01-download-pdfs.py:193-204`` discussion); the Spark-native answer
is simply to guarantee a minimum partition count before the heavy
stage.

At 100 TB this is a no-op: the scan already has thousands of
partitions, so ``ensure_min_parallelism`` adds no shuffle.  It only
fires on narrow inputs, where the data being shuffled is small by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pdf_etl_ocr_inference_spark.operators.shard_server import (
    MISS,
    PinCache,
    lookup,
    pinned,
)
from pdf_etl_ocr_inference_spark.sources.readers import read_parquet


def ensure_min_parallelism(
    df: DataFrame, min_partitions: int | None = None
) -> DataFrame:
    """Round-robin repartition iff the plan has fewer partitions than
    ``min_partitions`` (default ``sc.defaultParallelism``).

    Call immediately before CPU-heavy per-row work (shingling, sim/min
    hashing, Python UDF inference).  The partition probe is driver-side
    plan inspection — no job runs.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Checkpoint an iterative algorithm's intermediate state, cutting
    the growing lineage.

    Durability follows the session: if ``sc.setCheckpointDir`` was
    called (production — HDFS/object store), use a RELIABLE checkpoint
    that survives executor loss; otherwise fall back to
    ``localCheckpoint`` (executor-local blocks — fine on local[n],
    where executor loss means process death anyway).  Iterative
    drivers (label propagation, IVF training) call this per round, so
    at 100 TB with preemptible executors the reliable path is the
    difference between a retried stage and a restarted job.
    """
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def collect_file_stats(spark, path: str, cols: list[str]):
    """Per-FILE min/max statistics for ``cols``, computed from parquet
    FOOTERS only — the data-skipping sidecar open table formats (Delta,
    Iceberg) maintain, rebuilt here for a plain parquet directory.

    Distributed and footer-bound: the file listing fans out over
    executors and each task calls ``pyarrow.parquet.read_metadata``
    (a seek to the footer — no column pages are read), so cost scales
    with FILE COUNT, not data volume; at 100 TB with ~1 GB files
    that is ~100k footer reads across the cluster, seconds not hours.

    Values are normalized to doubles (timestamps → epoch seconds) so
    one schema serves every numeric/temporal column; exact-integer
    semantics survive below 2^53.  Returns a DataFrame
    ``(file, col, vmin, vmax)`` with one row per (file, column).

    The listing here is a local ``os.listdir`` (this module targets
    posix paths; the pyarrow footer read is the same either way).  On
    an object store, swap the listing for the distributed
    ``binaryFile`` source (op07's path) and give pyarrow the store's
    filesystem — the sidecar schema and pruning logic are unchanged.
    """
    files = sorted(_live_stat_map(path))
    return _footer_stats(spark, files, cols)


def _footer_stats(spark, files: list[str], cols: list[str]):
    """Footer-only min/max stats for an EXPLICIT file list — the core
    both the full build (:func:`collect_file_stats`) and the
    incremental refresh (:func:`load_or_refresh_file_stats`, which
    passes only uncovered files) share.

    Each row also records the data file's ``(fsize, fmtime_ns)`` stat
    fingerprint: a file rewritten IN PLACE (same name, new contents)
    must read as UNCOVERED by a cached sidecar, or stale min/max could
    wrongly prune live rows — the docstring invariant "a stale sidecar
    can only cost extra reads, never rows" holds by filename alone
    only for append/delete, not for in-place mutation."""
    import datetime as _dt

    import pandas as _pd
    from pyspark.sql import functions as F

    schema = (
        "file string, col string, vmin double, vmax double, "
        "fsize long, fmtime_ns long"
    )
    if not files:
        return spark.createDataFrame([], schema)
    want = list(cols)

    def _norm(v):
        # naive timestamps → epoch seconds WITHOUT consulting the host
        # timezone (datetime.timestamp() would): stats must mean the
        # same thing on every executor.
        epoch = _dt.datetime(1970, 1, 1)
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                return v.timestamp()
            return (v - epoch).total_seconds()
        if isinstance(v, _dt.date):
            return (_dt.datetime(v.year, v.month, v.day) - epoch).total_seconds()
        return float(v)

    def _read_footers(batches):
        import os as _os

        import pyarrow.parquet as _pq

        for pdf in batches:
            out = {
                "file": [], "col": [], "vmin": [], "vmax": [],
                "fsize": [], "fmtime_ns": [],
            }
            for fpath in pdf["file"]:
                fstat = _os.stat(fpath)
                md = _pq.read_metadata(fpath)
                names = md.schema.names
                # a column absent from THIS file's schema (schema
                # drift, or a marker column the table no longer
                # carries) gets the same ±inf never-prunes row as
                # missing footer stats — stats are advisory, a crash
                # here would make a stale marker column permanently
                # wedge every stats=None scan of the path
                idx = {c: names.index(c) for c in want if c in names}
                lo: dict[str, float] = {}
                hi: dict[str, float] = {}
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for c, i in idx.items():
                        st = g.column(i).statistics
                        if st is None or not st.has_min_max:
                            lo[c], hi[c] = float("-inf"), float("inf")
                            continue
                        mn, mx = _norm(st.min), _norm(st.max)
                        lo[c] = min(lo.get(c, mn), mn)
                        hi[c] = max(hi.get(c, mx), mx)
                for c in want:
                    out["file"].append(fpath)
                    out["col"].append(c)
                    out["vmin"].append(lo.get(c, float("-inf")))
                    out["vmax"].append(hi.get(c, float("inf")))
                    out["fsize"].append(fstat.st_size)
                    out["fmtime_ns"].append(fstat.st_mtime_ns)
            yield _pd.DataFrame(out)

    listing = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(min(len(files), 32) or 1, F.col("file"))
    return listing.mapInPandas(_read_footers, schema=schema)


def load_or_refresh_file_stats(
    spark, path: str, cols: list[str], verify: str = "probe"
):
    """Persisted, INCREMENTALLY maintained stats sidecar: the per-file
    min/max rows live under ``{path}/_stats`` and a refresh reads
    footers ONLY for files the sidecar does not cover yet — the
    maintenance shape every index family in this engine follows
    (cost ∝ new files, not table size).  Rows for vanished files are
    dropped on the same pass (compaction heals the sidecar), and a
    changed column set forces a full rebuild.

    Returns the up-to-date stats as a DataFrame.  Publication is
    swap-by-pointer (tmp + os.replace into a fresh ``_stats/v_*``
    subdir, then the ``stats_dir`` pointer doc flips — see
    :func:`_publish_sidecar_version`), so concurrent refreshes never
    delete chunks a reader is mid-read on; readers of a torn publish
    are safe regardless: the scan-side reconciliation treats
    uncovered files conservatively.

    Coverage is reconciled by the ``(fsize, fmtime_ns)`` stat
    fingerprint recorded per row, not by filename: a data file
    rewritten in place is re-footed like a new file, so a
    caller-cached sidecar can never prune on stale min/max.

    ``verify`` picks the freshness check: ``"probe"`` (default)
    takes the manifest fast path when the O(dirs) directory probe
    verifies — warm calls cost no per-file work, trusting the
    immutable-data-file convention (manifest section header);
    ``verify="full"`` always pays the per-file sweep and fingerprint
    reconciliation, catching the in-place byte-edit class the probe
    cannot — THE healing API for that class.
    """
    from pyspark.sql import functions as F

    phys = _stats_phys_dir(path)
    # Manifest fast path (r9): when the stats marker records the SAME
    # inventory digest as the probe-verified manifest and the column
    # set matches, the sidecar provably covers exactly the live files
    # with fresh fingerprints — return it directly: no O(files)
    # scandir+stat sweep, no O(files) recorded-rows collect, per
    # call.  Any append/delete/replace flips the O(dirs) probe and
    # falls through to the full reconciliation below (see the
    # manifest section header for the staleness contract).
    marker = _read_manifest_doc(path, "stats")
    if (
        verify == "probe"
        and marker is not None
        and set(marker.get("cols", [])) == set(cols)
        and phys is not None
    ):
        doc = fresh_manifest_summary(path)  # constant-size check
        if doc is not None and doc["digest"] == marker.get("digest"):
            return read_parquet(spark, phys)
    live = _live_stat_map(path)
    current = sorted(live)
    have = None
    if phys is not None:
        have = read_parquet(spark, phys)
        if "fsize" not in have.columns:
            have = None  # pre-fingerprint sidecar format: full rebuild
        else:
            seen_cols = {
                r["col"] for r in have.select("col").distinct().collect()
            }
            if seen_cols != set(cols):
                have = None  # column set changed: full rebuild
    if have is not None:
        recorded = {
            r["file"]: (r["fsize"], r["fmtime_ns"])
            for r in have.select("file", "fsize", "fmtime_ns")
            .distinct()
            .collect()
        }
        covered = {f for f, fp in recorded.items() if live.get(f) == fp}
        fresh_files = [f for f in current if f not in covered]
        kept = have.filter(F.col("file").isin(sorted(covered)))
        if not fresh_files and set(recorded) == covered <= set(current):
            # sidecar already covers the live set exactly: stamp the
            # manifest + marker (the stamp re-lists to verify — see
            # stamp_manifest_verified's cost note) so the NEXT call
            # takes the fast path above
            _stamp_stats_manifest(path, live, cols)
            return kept
        merged = kept.unionByName(
            _footer_stats(spark, fresh_files, cols)
        )
    else:
        merged = _footer_stats(spark, current, cols)
    # chunked sidecar (r8): ~1024 covered files per chunk parquet —
    # a single coalesce(1) chunk at 10⁶ files would be one giant
    # file that ONE probe task must parse; bounded chunks
    # parallelize both the pinned probes and their first parse.
    # Publication is swap-by-pointer (r11): the chunk set lands in a
    # fresh version subdir and the stats_dir pointer flips — a
    # concurrent query's executor probe keeps reading the superseded
    # chunks it listed (GC'd only after the grace period), closing
    # the rmtree-under-reader race the query-path rebuild opened.
    n_chunks = max(1, (len(current) + 1023) // 1024)
    new_dir = _publish_sidecar_version(path, "_stats", merged, n_chunks)
    # stamp AFTER the publish above; the data-file inventory itself
    # is unchanged by the hidden sidecar write, so `live` is still
    # the right map
    _stamp_stats_manifest(path, live, cols)
    return read_parquet(spark, new_dir)


def _stamp_stats_manifest(path: str, live: dict, cols) -> None:
    """Stamp manifest + stats marker, but only if the directory
    still matches the snapshot the sidecar was reconciled against
    (stamp_manifest_verified — the build-time TOCTOU guard); on
    mismatch the next call pays the full reconciliation, which is
    exactly right because something changed under it."""
    doc = stamp_manifest_verified(path, live)
    if doc is not None:
        _write_manifest_doc(
            path, "stats", {"digest": doc["digest"], "cols": sorted(cols)}
        )


# Grace period before a superseded stats-version directory is
# garbage-collected: an in-flight query that resolved the previous
# pointer (or whose executor probe listed the previous chunks) must
# be able to finish reading them.  Monkeypatch to 0 in tests to
# exercise the GC itself.
_STATS_GC_GRACE_S: float = 300.0


def _newest_mtime(root: str) -> float:
    """Newest mtime of ``root`` or anything under it — the liveness
    signal for an in-flight Spark write directory (task files keep
    landing in nested ``_temporary/`` subdirs while the top dir's
    mtime stays frozen at creation)."""
    import os as _os

    newest = 0.0
    try:
        newest = _os.stat(root).st_mtime
        for dirpath, _dirnames, filenames in _os.walk(root):
            try:
                newest = max(newest, _os.stat(dirpath).st_mtime)
            except OSError:
                continue
            for f in filenames:
                try:
                    newest = max(
                        newest, _os.stat(f"{dirpath}/{f}").st_mtime
                    )
                except OSError:
                    continue
    except OSError:
        pass
    return newest


def _sidecar_phys_dir(path: str, side_name: str):
    """The directory that PHYSICALLY holds the current chunk
    parquets of the ``side_name`` sidecar (``"_stats"`` or
    ``"_bloom_{col}"``), or ``None`` when none exists.  Since r11
    each publish lands in a fresh ``{side_name}/v_{nonce}``
    subdirectory and flips the ``{side}_dir`` pointer doc —
    swap-by-pointer, so a refresh never deletes chunks a concurrent
    query's executor probe is mid-read on (the r10 query-path
    rmtree race; superseded versions are GC'd after
    :data:`_STATS_GC_GRACE_S`).  Resolution order: pointer doc →
    legacy flat chunks directly under the sidecar dir (pre-r11
    layout) → orphan ``v_*`` dirs (pointer doc missing/unreadable):
    prefer a dir WITHOUT a ``.superseded`` marker — publication
    re-stamps the old generation's mtime at supersession (for GC
    grace), which makes the OLD dir mtime-newest, so mtime alone
    would resolve the stale generation (r11 advisory); the marker
    identifies it.  Among markerless candidates (or, failing that,
    all), newest mtime wins."""
    import os as _os

    side = f"{path}/{side_name}"
    if not _os.path.isdir(side):
        return None
    ptr = _read_manifest_doc(path, f"{side_name[1:]}_dir")
    if isinstance(ptr, dict):
        d = ptr.get("dir")
        if (
            isinstance(d, str)
            and d.startswith("v_")
            and "/" not in d
            and _os.path.isdir(f"{side}/{d}")
        ):
            return f"{side}/{d}"
    try:
        with _os.scandir(side) as it:
            entries = list(it)
    except OSError:
        return None
    if any(e.name.endswith(".parquet") for e in entries):
        return side  # legacy flat layout
    vs = [e for e in entries if e.is_dir() and e.name.startswith("v_")]
    if vs:
        live = [
            e
            for e in vs
            if not _os.path.exists(f"{side}/{e.name}/.superseded")
        ]
        pool = live or vs
        newest = max(pool, key=lambda e: e.stat().st_mtime_ns)
        return f"{side}/{newest.name}"
    return None


def _stats_phys_dir(path: str):
    return _sidecar_phys_dir(path, "_stats")


def _publish_sidecar_version(
    path: str, side_name: str, merged, n_chunks: int
) -> str:
    """Write ``merged`` as a NEW ``{side_name}/v_{nonce}`` chunk
    set, flip the ``{side}_dir`` pointer to it, and GC superseded
    versions past the grace period.  Never touches the
    previously-current chunks inside the grace window — the swap is
    a pointer write, so concurrent readers (driver
    ``spark.read.parquet`` and the executor-pinned chunk probes,
    which hold chunk paths by name) keep a consistent snapshot.
    Shared by the stats and Bloom sidecars (r11: Bloom rebuilds used
    Spark's delete-then-write overwrite — the same reader race the
    stats refresh had).  Returns the new version dir."""
    import os as _os
    import shutil as _shutil
    import time as _time
    import uuid as _uuid

    side_dir = f"{path}/{side_name}"
    _os.makedirs(side_dir, exist_ok=True)
    prev = _sidecar_phys_dir(path, side_name)
    vname = f"v_{_uuid.uuid4().hex[:8]}"
    tmp = f"{side_dir}/.tmp_{vname}"
    merged.repartition(n_chunks, "file").write.mode(
        "overwrite"
    ).parquet(tmp)
    _os.replace(tmp, f"{side_dir}/{vname}")
    _write_manifest_doc(path, f"{side_name[1:]}_dir", {"dir": vname})
    # Re-stamp the SUPERSEDED generation's mtime so the GC grace
    # counts from supersession, not creation — a version that was
    # current a second ago may still be mid-read, however old its
    # files are.  (For a pre-r11 flat sidecar, ``prev`` is side_dir
    # itself: touch its plain files instead.)  Also drop a
    # ``.superseded`` marker INSIDE the old v_ dir (r11 advisory):
    # the utime makes the superseded dir mtime-NEWER than the
    # current one, so the pointer-lost fallback must not order by
    # mtime alone — the marker is what distinguishes "old generation
    # we re-stamped" from "newest generation whose pointer write
    # crashed".
    if prev is not None and prev != f"{side_dir}/{vname}":
        targets = [prev]
        if prev == side_dir:
            try:
                with _os.scandir(side_dir) as it:
                    targets = [
                        e.path for e in it if e.is_file()
                    ]
            except OSError:
                targets = []
        else:
            try:
                with open(f"{prev}/.superseded", "w") as f:
                    f.write(vname)
            except OSError:
                pass
        for t in targets:
            try:
                _os.utime(t)
            except OSError:
                pass
    now = _time.time()
    stale_dirs, stale_files = [], []
    try:
        with _os.scandir(side_dir) as it:
            for e in it:
                if e.name == vname:
                    continue
                if now - e.stat().st_mtime <= _STATS_GC_GRACE_S:
                    continue
                if e.is_dir() and e.name.startswith("v_"):
                    stale_dirs.append(e.name)
                elif e.is_dir() and e.name.startswith(".tmp_"):
                    # a CONCURRENT refresher's in-flight write: the
                    # tmp dir's own mtime freezes at creation while
                    # Spark streams task files into nested
                    # _temporary/ subdirs — judge staleness by the
                    # NEWEST mtime anywhere inside, or B's GC would
                    # rmtree A's >grace-long write mid-flight
                    # (review-r11)
                    if (
                        now - _newest_mtime(f"{side_dir}/{e.name}")
                        > _STATS_GC_GRACE_S
                    ):
                        stale_dirs.append(e.name)
                elif e.is_file():  # pre-r11 flat chunks + _SUCCESS
                    stale_files.append(e.name)
    except OSError:
        pass
    for name in stale_dirs:
        _shutil.rmtree(f"{side_dir}/{name}", ignore_errors=True)
    for name in stale_files:
        try:
            _os.unlink(f"{side_dir}/{name}")
        except OSError:
            pass
    return f"{side_dir}/{vname}"


def _live_stat_map(path: str) -> dict:
    """``{file: (size, mtime_ns)}`` for the live data files under
    ``path`` — one scandir pass per directory (the stat comes free
    with the listing entry), so staleness reconciliation costs what
    the listing already cost.  Hive-style partition subdirectories
    (``col=value``) are recursed into, so partitioned clustered
    layouts list the same way flat ones do; ``_``/``.``-prefixed
    entries stay hidden (sidecars, Spark markers)."""
    import os as _os

    out = {}

    def walk(d: str) -> None:
        with _os.scandir(d) as it:
            for e in it:
                if e.name.startswith((".", "_")) and "=" not in e.name:
                    continue
                if e.is_dir():
                    if "=" in e.name:
                        walk(f"{d}/{e.name}")
                    continue
                if e.name.endswith(".parquet") and not e.name.startswith(
                    (".", "_")
                ):
                    st = e.stat()
                    out[f"{d}/{e.name}"] = (st.st_size, st.st_mtime_ns)

    walk(path)
    return out


# ------------------------------------------------------------------
# Manifest-backed file inventory (r9): the transaction-log answer to
# the last corpus-proportional per-query driver cost.  Every sidecar
# BUILD/REFRESH writes the full ``[name, size, mtime_ns]`` inventory
# to ``{path}/_manifest/inventory.json`` (atomic tmp+replace INSIDE
# the subdirectory, so the write cannot disturb its own freshness
# probe), stamped with an O(dirs) directory-mtime probe and the
# constant-size inventory digest.  Per-query freshness is then ONE
# stat of the root (+ one per hive partition dir) instead of a full
# scandir+stat sweep — at 10⁶ files on an object store, one HEAD
# instead of a full LIST per point lookup.  Sidecar markers
# (``stats.json``, ``bloom_{col}.json``) record the digest the
# sidecar was built against, so a probe-verified digest match proves
# the sidecar covers EXACTLY the live files with fresh fingerprints
# and reconciliation collapses to "read the hits".
#
# Staleness contract (the ONE place; tests/test_staleness_contract.py
# pins it): data files are immutable by convention — writers create
# new files and rename, which touches the parent directory and flips
# the probe, so append/delete/replace always falls through to the
# live listing (conservative, exactly the pre-manifest behavior).
# An in-place byte-level EDIT of an existing file does not touch the
# directory entry and is therefore NOT caught by the warm probe —
# same class, same wording as :func:`_source_probe` for registered
# layouts and the result cache; the explicit refresh APIs
# (:func:`load_or_refresh_file_stats` with ``verify="full"``,
# :func:`build_file_bloom`, :func:`refresh_clustered_layout`) pay
# the full per-file sweep and heal it.  The changefeed commit log (streaming/changefeed.py) is
# the same design one level up: versioned manifests written at
# commit time, never derived per query.
# ------------------------------------------------------------------

_MANIFEST_DIRNAME = "_manifest"


def _manifest_dir(path: str) -> str:
    return f"{path}/{_MANIFEST_DIRNAME}"


def _dir_probe(path: str) -> list:
    """O(dirs) freshness probe: ``[relative-dir, mtime_ns]`` for the
    root and every nested hive partition directory (``col=value``) —
    EXACTLY the directories :func:`_live_stat_map` recurses into
    (any dir with ``=`` in its name, underscore-prefixed included:
    ``_date=2026`` is data to the listing, so it must be probe-
    covered too — r9 review).  One stat per DIRECTORY, never per
    file."""
    import os as _os

    out = []

    def walk(d: str, rel: str) -> None:
        out.append([rel, _os.stat(d).st_mtime_ns])
        with _os.scandir(d) as it:
            subs = sorted(
                e.name for e in it if e.is_dir() and "=" in e.name
            )
        for name in subs:
            walk(f"{d}/{name}", f"{rel}/{name}" if rel else name)

    walk(path, "")
    return out


def _write_manifest_doc(path: str, name: str, doc: dict) -> None:
    """Atomic write of ``{path}/_manifest/{name}.json``
    (``scratch.atomic_write_json``).  The temp file and the rename both
    live INSIDE ``_manifest``, so the data directory's mtime — the
    probe — is untouched (only the first ``mkdir`` of ``_manifest``
    bumps it, which is why probes are always taken after
    ``makedirs``)."""
    import os as _os

    from pdf_etl_ocr_inference_spark.scratch import atomic_write_json

    mdir = _manifest_dir(path)
    _os.makedirs(mdir, exist_ok=True)
    atomic_write_json(f"{mdir}/{name}.json", doc)


def _read_manifest_doc(path: str, name: str):
    import json as _json

    try:
        with open(f"{_manifest_dir(path)}/{name}.json") as f:
            return _json.load(f)
    except (OSError, ValueError):
        return None


def write_inventory_manifest(path: str, live: dict | None = None) -> dict:
    """Stamp ``{path}/_manifest/inventory.json`` from the live file
    inventory (``live`` lets a caller that already paid the sweep
    reuse it), PLUS the constant-size ``inventory_summary.json``
    (probe, digest, file count) that the warm fast paths read — at
    10⁶ files the full manifest is ~100 MB of JSON, and a fast path
    that parsed it per call would smuggle the O(files) driver cost
    back in through deserialization.  Returns the written full doc.
    Called at sidecar build/refresh time — the only times the
    O(files) sweep runs.

    TOCTOU discipline (r9 review): the probe is taken BEFORE the
    inventory sweep.  A rename-class change landing DURING the sweep
    then flips every later probe comparison (the stamped probe
    reflects the pre-change directory), so the manifest reads stale
    and callers fall through to the live listing — conservative.
    Probe-after-sweep had the opposite failure: the change would be
    blessed as fresh while the inventory missed its file, silently
    losing rows on the warm path.  Callers whose ARTIFACT was built
    from an earlier snapshot must use :func:`stamp_manifest_verified`
    instead of passing ``live`` directly."""
    import os as _os

    _os.makedirs(_manifest_dir(path), exist_ok=True)
    probe = _dir_probe(path)  # after makedirs (mkdir bump folded in),
    # BEFORE the sweep — see TOCTOU note above
    if live is None:
        live = _live_stat_map(path)
    return _write_manifest_docs(path, probe, live)


def _write_manifest_docs(path: str, probe: list, live: dict) -> dict:
    """The ONE construction site for the inventory doc pair — shared
    by :func:`write_inventory_manifest` and
    :func:`stamp_manifest_verified` so the schema and the crash
    ordering can't diverge.  Full doc FIRST, summary LAST: a crash
    between the writes leaves an older summary whose digest matches
    no current marker, so fast paths just decline — conservative."""
    inv = [[f, sz, mt] for f, (sz, mt) in sorted(live.items())]
    doc = {
        "format": 1,
        "probe": probe,
        "digest": _inventory_digest(inv),
        "files": {f: [sz, mt] for f, sz, mt in inv},
    }
    _write_manifest_doc(path, "inventory", doc)
    _write_manifest_doc(
        path,
        "inventory_summary",
        {
            "format": 1,
            "probe": probe,
            "digest": doc["digest"],
            "n_files": len(inv),
        },
    )
    return doc


def stamp_manifest_verified(path: str, live_before: dict):
    """Stamp the manifest ONLY IF the live inventory still equals the
    snapshot ``live_before`` the just-built sidecar was derived from
    — the stamping API for long builds (Bloom scans, footer sweeps):
    a rename-class change that landed mid-build means the sidecar
    lags the directory, and blessing the RE-listed inventory would
    hide the sidecar-uncovered files from the warm fast paths
    (r9 review, the build-time TOCTOU).  Returns the stamped doc, or
    None when the verify re-list differs (callers then skip their
    marker write too, so fast paths decline and the slow paths'
    covered-reconciliation keeps the new files conservatively).

    Order inside: probe FIRST, re-list second — a change landing
    after the probe but before the re-list fails the compare (skip);
    a change landing after the re-list post-dates the stamped probe,
    so every later probe comparison fails (conservative).

    Cost: the verify re-list is a SECOND O(files) scandir at
    build/refresh time — deliberate, and negligible next to the
    per-file footer/column pass every caller just paid (an O(dirs)
    probe compare can't replace it: the sidecar write itself bumps
    the root mtime, and a same-name replace is invisible to a
    name-set diff)."""
    import os as _os

    _os.makedirs(_manifest_dir(path), exist_ok=True)
    probe = _dir_probe(path)
    live_now = _live_stat_map(path)
    if live_now != live_before:
        return None
    return _write_manifest_docs(path, probe, live_now)


# The budget of each driver pin of O(files) file-map state: the
# inventory doc and a layout's live map.  Sidecar chunks are pinned in
# ``shard_server.WORKER_CACHE`` under its one budget instead.
_DRIVER_PIN_BYTES = 64 << 20
# path -> summary doc under the directory probe; the docs are ~100
# bytes, so this cache counts entries
_SUMMARY_PINS = 256
_MANIFEST_SUMMARY_CACHE = PinCache(_SUMMARY_PINS)


def fresh_manifest_summary(path: str):
    """The constant-size manifest summary iff its stored probe
    matches the directory's current probe — the warm fast paths'
    freshness check: O(dirs) stats + a ~100-byte JSON parse,
    INDEPENDENT of file count.  Falls back to deriving a summary
    from the full manifest for pre-summary stamps."""
    try:
        probe = _dir_probe(path)
    except OSError:
        return None
    doc = _MANIFEST_SUMMARY_CACHE.get(path, probe)
    if doc is not MISS:
        return doc
    doc = _read_manifest_doc(path, "inventory_summary")
    if doc is None:  # pre-summary manifest: derive once (O(files))
        full = fresh_manifest_doc(path)
        if full is None:
            return None
        doc = {
            "format": 1,
            "probe": full["probe"],
            "digest": full["digest"],
            "n_files": len(full["files"]),
        }
    if doc.get("format") != 1 or doc.get("probe") != probe:
        return None
    _MANIFEST_SUMMARY_CACHE.put(path, probe, doc, 1)
    return doc


# path -> doc under the inventory file's (size, mtime_ns).  Keyed by
# the MANIFEST FILE's stat fingerprint, not the directory probe: the
# doc's freshness can flip per call (any data mutation moves the
# probe) but the doc's CONTENT only changes when the file is
# re-stamped — so a stale doc is decided from the cached copy too,
# never re-parsed per call.  An oversized doc is kept alone (see
# fresh_manifest_doc).
_MANIFEST_DOC_CACHE = PinCache(_DRIVER_PIN_BYTES, keep_oversized=True)
# Contract counter (tests/test_manifest.py): full-inventory JSON
# parses.  The staleness machinery must parse the O(files) doc at
# most ONCE per inventory-file VERSION — including docs past the
# cache budget, and including docs whose stored probe is stale.
MANIFEST_DOC_PARSES: int = 0


def fresh_manifest_doc(path: str):
    """The inventory manifest iff its stored probe matches the
    directory's CURRENT probe — else ``None`` (callers fall through
    to the live listing, conservative).  Warm cost: O(dirs) stats +
    one stat of the manifest file + a dict hit; the JSON parse
    happens once per inventory-file version — ENFORCED, not
    best-effort (r10): a doc past the LRU byte budget evicts every
    colder entry and still occupies a single slot (the r9 shape
    silently declined to cache it, so at ~10⁶ files every slow-path
    caller re-parsed ~100 MB of JSON per query — the exact cost the
    summary fast path exists to avoid), and a STALE doc is decided
    from the cached copy, never re-read.  Memory stays bounded by
    ONE inventory per path (~100 B/file), the same order as the live
    stat map every consumer of this doc materializes anyway."""
    import os as _os

    global MANIFEST_DOC_PARSES
    try:
        probe = _dir_probe(path)
        ist = _os.stat(_os.path.join(_manifest_dir(path), "inventory.json"))
    except OSError:
        return None
    inv_fp = (ist.st_size, ist.st_mtime_ns)
    doc = _MANIFEST_DOC_CACHE.get(path, inv_fp)
    if doc is MISS:
        raw = _read_manifest_doc(path, "inventory")
        MANIFEST_DOC_PARSES += 1
        # validate BEFORE sizing/caching: a future-format stamp, a
        # torn write, or valid-JSON corruption without a files map
        # must read as "no manifest" (conservative live-listing
        # fallback), never a KeyError on the query path.  The
        # invalid verdict is cached too (keyed by the same file
        # fingerprint), so a bad doc is decided once per version.
        doc = (
            raw
            if (
                raw is not None
                and raw.get("format") == 1
                and isinstance(raw.get("files"), dict)
            )
            else None
        )
        nbytes = (
            sum(len(f) + 64 for f in doc["files"]) if doc is not None
            else 64
        )
        _MANIFEST_DOC_CACHE.put(path, inv_fp, doc, nbytes)
    if doc is None or doc.get("probe") != probe:
        return None
    return doc


def manifest_stat_map(path: str) -> dict:
    """``{file: (size, mtime_ns)}`` — served from the probe-verified
    manifest when one exists (O(dirs) driver cost), else the live
    O(files) listing.  Drop-in for :func:`_live_stat_map` on the
    QUERY path; build/refresh paths keep the live sweep."""
    doc = fresh_manifest_doc(path)
    if doc is None:
        return _live_stat_map(path)
    return {f: (int(sz), int(mt)) for f, (sz, mt) in doc["files"].items()}


# (path, inventory digest, canonical range box) -> (keep list,
# n_files); byte-budgeted LRU.  The keep verdict is a pure
# function of (live files' footer stats, box), and the digest pins
# the live files + fresh fingerprints — any append/delete/replace
# re-stamps a new digest, so a stale hit is impossible through the
# engine's own APIs (the op96_result_cache fingerprint doctrine).
# Closes r10 verdict #2: the warm fast path paid a fixed
# executor-probe mapInPandas job PER QUERY even for a repeat
# (digest, box); at sf0.1 file counts that fixed task was the whole
# +0.14 s on op70d/op70f.  Repeat boxes now skip the job entirely.
_KEEP_VERDICT_BYTES = 32 << 20
_STATS_KEEP_CACHE = PinCache(_KEEP_VERDICT_BYTES)


def _manifest_stats_keep(spark, path: str, ranges: dict):
    """``(sorted keep files, n_files)`` via the warm fast path, or
    ``None`` when it cannot engage: manifest summary stale, stats
    marker missing / digest-mismatched / not covering the queried
    columns, or sidecar chunks gone.  When the marker's digest equals
    the probe-verified summary's, the sidecar PROVABLY covers exactly
    the live files with fresh fingerprints and a row for every
    queried column — so no listing runs, no reconciliation rows move,
    and the driver collects only the passing (file, col) rows
    (:func:`_stats_chunk_probe`); a repeat (digest, box)
    answers from the driver keep-verdict cache without any job."""
    doc = fresh_manifest_summary(path)  # constant-size: never the
    # O(files) file map — the fast path must stay flat in file count
    if doc is None:
        return None
    marker = _read_manifest_doc(path, "stats")
    if (
        marker is None
        or marker.get("digest") != doc["digest"]
        or not set(ranges) <= set(marker.get("cols", []))
    ):
        return None
    box = tuple(
        sorted((c, float(lo), float(hi)) for c, (lo, hi) in ranges.items())
    )
    key = (path, doc["digest"], box)
    hit = _STATS_KEEP_CACHE.get(key)
    if hit is not MISS:
        return list(hit[0]), hit[1]
    phys = _stats_phys_dir(path)
    if phys is None:
        return None
    found = _stats_chunk_probe(
        spark, phys, f"manifest:{doc['digest']}", ranges, hits_only=True
    )
    if found is None:
        # marker outlived its sidecar parquet (deletions inside the
        # ``_``-prefixed dir don't bump the root probe) — fall through
        # to the slow path's loud read, never a silent full keep
        return None
    files = sorted(found[0])
    # an over-budget verdict is served one-shot, NOT cached, and evicts
    # nothing (review-r11: a broad box keeping ~10⁶ files must not wipe
    # the cache, re-opening the per-query probe for every other box)
    _STATS_KEEP_CACHE.put(
        key,
        None,
        (tuple(files), int(doc["n_files"])),
        sum(len(f) + 16 for f in files) + 256,
    )
    return files, int(doc["n_files"])


def scan_with_skipping(
    spark, path: str, ranges: dict[str, tuple[float, float]],
    stats=None, read_only: bool = False,
):
    """Data-skipping scan: read ONLY the files whose per-file min/max
    ranges overlap every ``col: (lo, hi)`` predicate, then re-apply the
    exact predicates to the surviving rows.

    Warm control-plane cost is FLAT in file count (r10 — the same
    treatment ``scan_point_lookup`` got in r9): when the
    probe-verified inventory manifest and the ``stats`` marker carry
    the same digest and the marker's column set covers the queried
    box, the persisted ``_stats`` sidecar provably covers exactly
    the live files, so the sidecar chunk probe returns ONLY the
    passing (file, col) rows — O(keep·cols) driver rows, no
    O(files) listing, no O(files) fingerprint collect.  A cold or
    mutated directory refreshes the persisted sidecar
    (:func:`load_or_refresh_file_stats` — cost ∝ NEW files, widened
    to the union of marker columns so alternating range boxes
    converge on one sidecar) and re-stamps, making the SAME call
    warm; only a refresh that loses the TOCTOU stamp race falls
    through to the full reconciliation below.

    Callers may still pass an explicit ``stats`` DataFrame (e.g. a
    caller-cached sidecar); that path keeps the full fingerprint
    reconciliation: the keep-list is reconciled against the file map
    BY STAT FINGERPRINT (size + mtime_ns, not filename) — an
    uncovered file is kept conservatively, so a stale sidecar can
    only cost extra reads, never rows.  Every rename-class mutation
    — including a same-name ``os.replace`` — flips the O(dirs) probe
    and is reconciled live; the in-place BYTE-EDIT class is
    warm-undetected by design (see the manifest section header for
    the contract and the ``verify="full"`` healing path).
    Returns ``(DataFrame, files_read, files_total)``; correctness
    never depends on the stats — a file wrongly kept is filtered
    row-by-row.
    """
    from pyspark.sql import functions as F

    if stats is None:
        import os as _os

        fast = _manifest_stats_keep(spark, path, ranges)
        if fast is None and (
            read_only or not _os.access(path, _os.W_OK)
        ):
            # READ-ONLY dataset (shared mount, foreign table): the
            # persisted-sidecar machinery writes into the directory,
            # so fall back to the pre-r10 read-only shape — a fresh
            # footer pass + the conservative reconciliation below.
            # (Pruning still works; only the warm reuse is lost.)
            # ``read_only=True`` is the caller's explicit contract
            # for foreign datasets: os.access(W_OK) is bypassed by
            # root (mode bits don't apply; only EROFS mounts return
            # False), so the flag — not the probe — is what protects
            # a mode-protected directory when running privileged.
            stats = collect_file_stats(spark, path, list(ranges))
        elif fast is None:
            # the refresh's first write may fail driver-side
            # (makedirs/os.replace → OSError) or JVM-side (the Spark
            # parquet write → Py4JError / PySparkException) — the
            # W_OK probe lies for root on an EROFS bind mount, which
            # reports writable until the first actual write
            try:
                from py4j.protocol import Py4JError as _WriteErr2
            except ImportError:  # pragma: no cover
                _WriteErr2 = OSError
            try:
                from pyspark.errors import (
                    PySparkException as _WriteErr3,
                )
            except ImportError:  # pragma: no cover
                _WriteErr3 = OSError
            try:
                marker = _read_manifest_doc(path, "stats") or {}
                cols = sorted(set(marker.get("cols", [])) | set(ranges))
                stats = load_or_refresh_file_stats(spark, path, cols)
                fast = _manifest_stats_keep(spark, path, ranges)
            except (OSError, _WriteErr2, _WriteErr3):
                # degrade to the read-only footer-pass shape instead
                # of failing the query on a sidecar it never needed
                stats = collect_file_stats(spark, path, list(ranges))
        if fast is not None:
            return _kept_scan(spark, path, *fast)
        # refresh lost its stamp race (directory changed mid-build) or
        # the dataset is read-only: reconcile the just-built stats DF
        # the conservative way
    keep_expr = None
    for c, (lo, hi) in ranges.items():
        e = (
            (F.col("col") == c)
            & (F.col("vmax") >= float(lo))
            & (F.col("vmin") <= float(hi))
        )
        keep_expr = e if keep_expr is None else keep_expr | e
    n_cols = len(ranges)
    kept = {
        r["file"]
        for r in stats.filter(keep_expr)
        .groupBy("file")
        .count()
        .filter(F.col("count") == n_cols)
        .select("file")
        .collect()
    }
    live = manifest_stat_map(path)
    current = set(live)
    if "fsize" in stats.columns:
        covered = {
            r["file"]
            for r in stats.select("file", "fsize", "fmtime_ns")
            .distinct()
            .collect()
            if live.get(r["file"]) == (r["fsize"], r["fmtime_ns"])
        }
    else:  # pre-fingerprint sidecar: filename-only coverage (legacy)
        covered = {
            r["file"] for r in stats.select("file").distinct().collect()
        }
    files = sorted(((kept & covered) | (current - covered)) & current)
    return _kept_scan(spark, path, files, len(current))


def _kept_scan(spark, path: str, files: list, total: int):
    """``(rows of the kept files, files read, total)`` with the columns
    of ``spark.read.parquet(path)`` whether or not a file is kept: the
    ``basePath`` option keeps hive partition columns (``part=0/``) on a
    read of leaf files, and an empty keep-list reads the root with no
    rows."""
    reader = spark.read.option("basePath", path)
    if not files:
        return reader.parquet(path).limit(0), 0, total
    return reader.parquet(*files), len(files), total


def _splitmix64(x):
    """Deterministic 64-bit mix (splitmix64, public domain) — numpy
    uint64 in, uint64 out, wrap-around semantics."""
    import numpy as np

    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _bloom_positions(vals, k: int, m: int):
    """Bit positions (k per value) via Kirsch–Mitzenmacher double
    hashing: pos_j = (h1 + j·h2) mod m.  ``vals`` is a 1-D numpy
    int64/uint64 array; returns a (len(vals)·k,) position array."""
    import numpy as np

    v = vals.astype("uint64")
    h1 = _splitmix64(v)
    h2 = _splitmix64(v ^ np.uint64(0xA076_1D64_78BD_642F)) | np.uint64(1)
    j = np.arange(k, dtype="uint64")
    return ((h1[:, None] + j[None, :] * h2[:, None]) % np.uint64(m)).ravel()


def _bloom_may_hold(bits, m: int, k: int, probe) -> bool:
    """The one Bloom membership test: may the ``m``-bit filter with
    ``k`` hashes, stored packed (``numpy.packbits`` order, so bit
    ``p`` is ``(byte[p >> 3] >> (7 - p % 8)) & 1``), hold ANY value of
    ``probe`` (an int64 array)?  Indexes the packed bytes directly:
    no per-query unpack of the m-bit array."""
    import numpy as np

    m, k = int(m), int(k)
    packed = np.frombuffer(bits, dtype="uint8")
    pos = _bloom_positions(probe, k, m)
    hit = (packed[pos >> 3] >> (7 - (pos & 7))) & 1
    return bool(hit.astype(bool).reshape(len(probe), k).all(axis=1).any())


# Target false-positive rate of a per-file Bloom filter, per (file,
# probed value): ~9.6 bits per row.
BLOOM_FPP = 0.01


def build_file_bloom(spark, path: str, col: str) -> str:
    """Per-FILE Bloom-filter sidecar over an integer column — the
    point-lookup complement of :func:`collect_file_stats`: min/max
    ranges prune RANGE predicates on clustered columns, but for a
    point lookup on a column the layout does NOT cluster (e.g. find
    5 order ids in a table laid out by customer) every file's range
    covers the probe and nothing skips.  A per-file Bloom answers
    "might this file contain value v" in O(k) bit probes with
    ~``BLOOM_FPP`` false positives — the file-skipping index
    Delta/Iceberg attach to parquet, rebuilt here for a plain
    directory.

    Distributed one-column scan: each task reads ONLY ``col`` of its
    files (columnar projection — payload columns untouched) and sets
    k bits per value in an m-bit array sized from the file's row count
    and ``BLOOM_FPP``.  The sidecar lands under ``{path}/_bloom_{col}``
    (the ``_`` prefix hides it from Spark's table listing).  Cost ∝ the
    one column's bytes; at 100 TB that is the same shape as a stats
    collection pass and embarrassingly parallel.
    """
    import math
    import os as _os

    import numpy as _np
    import pandas as _pd

    from pyspark.sql import functions as F

    live0 = _live_stat_map(path)  # the snapshot the sidecar covers
    files = sorted(live0)

    def _build(batches):
        import os as _los

        import pyarrow.parquet as _pq

        for pdf in batches:
            out = {
                "file": [], "m": [], "k": [], "bits": [],
                "fsize": [], "fmtime_ns": [],
            }
            for fpath in pdf["file"]:
                st = _los.stat(fpath)
                arr = _pq.read_table(fpath, columns=[col])[col]
                vals = arr.to_numpy(zero_copy_only=False).astype("int64")
                n = max(len(vals), 1)
                m = max(
                    64,
                    int(math.ceil(-n * math.log(BLOOM_FPP) / (math.log(2) ** 2))),
                )
                k = max(1, round(m / n * math.log(2)))
                bits = _np.zeros(m, dtype=bool)
                if len(vals):
                    bits[_bloom_positions(vals, k, m)] = True
                out["file"].append(fpath)
                out["m"].append(m)
                out["k"].append(k)
                out["bits"].append(_np.packbits(bits).tobytes())
                out["fsize"].append(st.st_size)
                out["fmtime_ns"].append(st.st_mtime_ns)
            yield _pd.DataFrame(out)

    listing = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(min(len(files), 32) or 1, F.col("file"))
    sidecar = listing.mapInPandas(
        _build,
        schema="file string, m long, k long, bits binary, "
        "fsize long, fmtime_ns long",
    )
    # ~256 bit arrays per chunk (they are MBs each at 1% fpp on big
    # files): bounds per-chunk parse cost for the chunk pins; one
    # chunk at local fixture sizes, many at 10⁶ files.  Publication
    # is swap-by-pointer (r11, shared with the stats sidecar): a
    # REBUILD over a live table must not delete the chunk files a
    # concurrent point-lookup's executor probe resolved — Spark's
    # overwrite mode is delete-then-write, exactly that race.
    n_chunks = max(1, (len(files) + 255) // 256)
    out_path = _publish_sidecar_version(
        path, f"_bloom_{col}", sidecar, n_chunks
    )
    # stamp manifest + bloom marker ONLY IF the directory still
    # matches the snapshot this sidecar was built from — a mid-build
    # append would otherwise be digest-blessed with no Bloom row and
    # vanish from warm lookups (r9 review); on mismatch the slow
    # path's covered-reconciliation keeps the new files
    doc = stamp_manifest_verified(path, live0)
    if doc is not None:
        _write_manifest_doc(
            path, f"bloom_{col}", {"digest": doc["digest"]}
        )
    return out_path


def scan_point_lookup(
    spark, path: str, col: str, values: list[int]
):
    """Bloom-pruned point lookup: read ONLY the files whose sidecar
    Bloom filter (``build_file_bloom``) might contain ANY of
    ``values``, then re-apply the exact IN predicate row-wise.

    The membership test runs where ``shard_server.lookup`` answers the
    sidecar's chunks (:func:`_bloom_chunk_probe`): in the driver when
    they fit the pin budget, else in one Spark job over the Python
    workers' pins, so the driver collects ``(file, fingerprint, hit)``
    rows, never the bit arrays, whose total size is rows-proportional
    (~1.2 MB per 10 M-row file at 1% fpp).  False positives cost one
    extra file read, never a wrong row — correctness is carried
    entirely by the re-applied predicate, and files the sidecar does
    not cover — added after the build, or replaced same-name since
    it (every rename-class mutation flips the O(dirs) probe, so the
    slow path's stat-fingerprint reconciliation sees them) — are
    kept conservatively so their rows can never silently vanish.
    The in-place BYTE-EDIT class is warm-undetected by design: see
    the manifest section header for the contract and the explicit
    rebuild healing path.
    Returns ``(DataFrame, files_read, files_total)``.

    Warm control-plane cost is FLAT in file count (r9): when the
    probe-verified inventory manifest and the ``bloom_{col}`` marker
    carry the same digest, the sidecar provably covers exactly the
    live files with fresh fingerprints, so no listing runs and no
    reconciliation is needed — the probe returns ONLY the hit files
    (O(hits) driver rows, each chunk parsed once per process per
    version).  Any append/delete/replace flips the O(dirs) probe and
    falls through to the full path below; the in-place-edit class is
    documented at the manifest section header.
    """
    from pyspark.sql import functions as F

    probe_vals = sorted(set(int(v) for v in values))
    doc = fresh_manifest_summary(path)  # constant-size: never the
    # O(files) file map — the fast path must stay flat in file count
    bloom_phys = _sidecar_phys_dir(path, f"_bloom_{col}")
    marker = _read_manifest_doc(path, f"bloom_{col}") or {}
    token = f"manifest:{marker.get('digest')}"
    found = None
    if (
        doc is not None
        and bloom_phys is not None
        and marker.get("digest") == doc["digest"]
    ):
        found = _bloom_chunk_probe(
            spark, bloom_phys, token, probe_vals, hits_only=True
        )
    # found is None when the sidecar has no chunks (marker outlived
    # its parquet): the slow path below then fails loud instead of
    # giving a silent zero-row answer
    if found is not None:
        files, total = sorted(found["file"]), int(doc["n_files"])
    else:
        side = None
        if bloom_phys is not None:
            side = _bloom_chunk_probe(
                spark, bloom_phys, token, probe_vals, hits_only=False
            )
        if side is None:
            raise FileNotFoundError(
                f"no Bloom sidecar on {col!r} under {path!r}: "
                "build it with build_file_bloom"
            )
        live = manifest_stat_map(path)
        keep, covered = set(), set()
        for f, size, mtime, hit in side.itertuples(index=False):
            # a row whose fingerprint no longer matches its live file
            # is stale, so that file counts as uncovered (-1: a
            # sidecar written before fingerprints covers by name)
            if size >= 0 and live.get(f) != (size, mtime):
                continue
            covered.add(f)
            if hit:
                keep.add(f)
        current = set(live)
        files = sorted((keep | (current - covered)) & current)
        total = len(current)
    df, n_read, total = _kept_scan(spark, path, files, total)
    return df.filter(F.col(col).isin(probe_vals)), n_read, total


def zorder_key(cols, bits: int = 12):
    """Morton (Z-order) key: interleave the low ``bits`` bits of each
    column, column ``i`` occupying bit positions ``i, i+n, i+2n, ...``.

    Inputs must already be non-negative integers scaled into
    ``[0, 2**bits)`` (callers clamp with ``% 2**bits`` or a min-max
    rescale).  Sorting the table by this key clusters rows that are
    close in EVERY dimension, so parquet row-group min/max stats become
    selective for *all* interleaved columns at once — a multi-dim scan
    can then prune row groups regardless of which dimension the
    predicate hits, where a linear sort only serves its leading column.
    Pure bit arithmetic (shift/or), fully inside whole-stage codegen.
    """
    from pyspark.sql import functions as F

    n = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


# ------------------------------------------------------------------
# Registered clustered layouts: the optimizer-visible skipping index
# ------------------------------------------------------------------

LAYOUT_FORMAT_VERSION = 1


def _norm_path(p: str) -> str:
    import os as _os

    if p.startswith("file:"):
        p = p[len("file:"):]
    return _os.path.normpath(p)


def layout_key(source_path: str) -> str:
    return f"layout::{_norm_path(source_path)}"


def _source_files(source_path: str) -> list[str]:
    """Data files behind a source path — the path itself if it is a
    single parquet file, else its non-hidden ``*.parquet`` children."""
    import os as _os

    if _os.path.isfile(source_path):
        return [source_path]
    return sorted(
        f"{source_path}/{f}"
        for f in _os.listdir(source_path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _source_inventory(source_path: str) -> list[list]:
    """``[name, size, mtime_ns]`` per data file — the same
    staleness fingerprint the result cache uses: any rewrite of any
    source file changes the inventory, so a registered layout can
    never silently serve stale data (the rewrite rule falls through
    to the brute scan instead)."""
    import os as _os

    inv = []
    for f in _source_files(source_path):
        st = _os.stat(f)
        inv.append([f, st.st_size, st.st_mtime_ns])
    return inv


def _inventory_digest(inv: list[list]) -> str:
    """Constant-size fingerprint of a full inventory — what the meta
    stores and every per-query check compares, instead of shipping
    the O(files) ``[name, size, mtime]`` list around (verdict-r6 #2:
    at 10⁶ files the list is ~100 MB of JSON per lookup)."""
    import hashlib as _hashlib
    import json as _json

    return _hashlib.md5(
        _json.dumps(inv, separators=(",", ":")).encode()
    ).hexdigest()


def _source_probe(source_path: str) -> list:
    """O(1)-ish freshness probe: the source DIRECTORY's mtime_ns plus
    its data-file count from ONE scandir (no per-file stat; one LIST
    on an object store).  Parquet data files are immutable by
    convention — every writer creates new files and renames — so any
    append/delete/replace touches the directory and flips the probe.
    An in-place byte-level edit that preserves the directory entry is
    outside that convention; :func:`refresh_clustered_layout` (the
    explicit sync API) still pays the full per-file sweep and
    catches it.

    Considered and rejected (r8, advice): folding max(file mtime)
    into the probe.  On Linux a dirent does NOT carry mtime —
    ``entry.stat()`` is one syscall per file — so the "free" extra
    coverage would silently reintroduce the O(files) stat pass this
    probe exists to remove (and the warm-path ≤2-os.stat test would
    fail).  The in-place-edit class stays covered by the explicit
    refresh API, as documented above."""
    import os as _os

    if _os.path.isfile(source_path):
        st = _os.stat(source_path)
        return [1, st.st_size, st.st_mtime_ns]
    st = _os.stat(source_path)
    n = sum(
        1
        for e in _os.scandir(source_path)
        if e.name.endswith(".parquet") and not e.name.startswith((".", "_"))
    )
    return [n, 0, st.st_mtime_ns]


def layout_fresh(source_path: str, meta: dict) -> bool:
    """Per-query freshness WITHOUT the O(files) stat sweep: compare
    the cheap directory probe against the one stored at
    register/refresh time; only on probe mismatch (or a pre-digest
    meta) pay the full inventory sweep and compare digests — e.g. a
    touched-but-unchanged directory re-verifies once instead of
    falling through forever."""
    probe = meta.get("probe")
    digest = meta.get("inventory_digest")
    try:
        if probe is not None and _source_probe(source_path) == list(probe):
            return True
        inv = _source_inventory(source_path)
    except OSError:
        return False
    if digest is not None:
        return _inventory_digest(inv) == digest
    return inv == [list(r) for r in meta.get("inventory", [])]


def _layout_expr(spec: dict, bits: int):
    """Serializable z-dimension spec -> Column scaled into
    ``[0, 2**bits)``.  Two kinds cover the numeric/temporal layouts
    this engine clusters on:

    - ``{"col": c, "kind": "int"}``          — integer column, masked
    - ``{"col": c, "kind": "days",
         "origin": "YYYY-MM-DD"}``           — days since origin, masked

    The spec (not a live Column) goes into the layout meta so an
    incremental refresh can recompute the SAME key for appended files
    in a later process.
    """
    from pyspark.sql import functions as F

    mask = F.lit((1 << bits) - 1)
    if spec["kind"] == "int":
        return F.col(spec["col"]).cast("long").bitwiseAND(mask)
    if spec["kind"] == "days":
        return (
            F.datediff(
                F.to_date(spec["col"]), F.to_date(F.lit(spec["origin"]))
            )
            .cast("long")
            .bitwiseAND(mask)
        )
    raise ValueError(f"unknown layout spec kind {spec['kind']!r}")


# Hive partition column name for multi-level (partitioned) layouts.
# No leading underscore: Spark's file index hides pure `_`-prefixed
# paths, but `name=value` partition dirs must stay visible.
PARTITION_COL = "zpart"


def _partition_spec_list(partition_spec) -> list:
    """Normalize the ``partition_spec`` argument/meta field: ``None``
    → no levels, a single dict (the r5 format, kept for stored-meta
    compatibility) → one level, a list → that many nested hive
    levels (``zpart=…/zpart1=…/…``)."""
    if partition_spec is None:
        return []
    if isinstance(partition_spec, dict):
        return [partition_spec]
    return list(partition_spec)


def _partition_col_name(i: int) -> str:
    """Level-0 keeps the bare ``zpart`` name (r5 layouts stay
    readable); deeper levels are ``zpart1``, ``zpart2``, …"""
    return PARTITION_COL if i == 0 else f"{PARTITION_COL}{i}"


def _partition_value_expr(spec: dict):
    """Coarse partition bucket for a multi-level layout: the scaled
    axis value floor-divided by ``spec["width"]`` (e.g. 90-day
    buckets of a timestamp, 100k-wide buckets of an id).  F.floor on
    double division, NOT integer `div`, so negative values bucket
    identically to the driver-side Python replay (// is floor; SQL
    div truncates toward zero)."""
    from pyspark.sql import functions as F

    width = float(int(spec.get("width", 1)))
    if spec["kind"] == "int":
        base = F.col(spec["col"]).cast("double")
    elif spec["kind"] == "days":
        base = F.datediff(
            F.to_date(spec["col"]), F.to_date(F.lit(spec["origin"]))
        ).cast("double")
    else:
        raise ValueError(f"unknown partition spec kind {spec['kind']!r}")
    return F.floor(base / F.lit(width)).cast("long")


def _bucket_of(spec: dict, v: float):
    """Driver-side replay of :func:`_partition_value_expr` for a
    NORMALIZED bound value (the stats axis: epoch seconds for
    temporals, plain value for ints).  Returns None for an unbounded
    side.  Exact for the same reason the write-side expr is: bucket
    is a monotone floor composition of the column value, evaluated
    on exact integers (days / ints) — so predicate ``col in [lo,hi]``
    implies ``bucket in [_bucket_of(lo), _bucket_of(hi)]``."""
    import datetime as _dt
    import math as _math

    if v in (float("-inf"), float("inf")):
        return None
    width = int(spec.get("width", 1))
    if spec["kind"] == "int":
        return _math.floor(v / width)
    if spec["kind"] == "days":
        o = _dt.date.fromisoformat(spec["origin"])
        origin_days = (o - _dt.date(1970, 1, 1)).days
        day = _math.floor(v / 86400.0) - origin_days
        return _math.floor(day / width)
    raise ValueError(f"unknown partition spec kind {spec['kind']!r}")


def _file_partition_value(fpath: str, col: str = PARTITION_COL):
    """Parse the ``<col>=<v>`` hive segment out of a layout file path;
    None when absent or non-integer (e.g. __HIVE_DEFAULT_PARTITION__
    for NULL keys) — callers treat None as always-keep.  The
    ``f"{col}="`` prefix match is exact per level: ``zpart1=…`` does
    not match ``zpart=``."""
    for seg in fpath.split("/"):
        if seg.startswith(f"{col}="):
            val = seg.split("=", 1)[1]
            try:
                return int(val)
            except ValueError:
                return None
    return None


def partition_keep_files(
    files: set, spec: dict, ranges: dict, part_col: str = PARTITION_COL
) -> set:
    """Directory-level pruning for a partitioned layout: keep only
    files whose ``zpart=<bucket>`` dir can contain rows satisfying
    the range bound on the partition column.  EXACT, not
    conservative-only: every row in a dir has exactly that bucket
    value (written by ``_partition_value_expr``), and bucket is
    monotone in the column, so a dir outside [bucket(lo), bucket(hi)]
    provably holds no qualifying row.  Files without a parseable
    partition segment (NULL-key dir, flat layouts) are always kept.

    At 100 TB this is the level that bounds the per-query CONTROL
    data: the file-stats sidecar is rows ∝ files, but dir pruning is
    a pure path-string filter — no stats row of a pruned dir is even
    consulted."""
    col = spec["col"]
    if col not in ranges:
        return files
    lo, hi = ranges[col]
    blo, bhi = _bucket_of(spec, lo), _bucket_of(spec, hi)
    out = set()
    for f in files:
        v = _file_partition_value(f, part_col)
        if v is None:
            out.add(f)
        elif (blo is None or v >= blo) and (bhi is None or v <= bhi):
            out.add(f)
    return out


def partition_keep_files_multi(files: set, partition_spec, ranges: dict):
    """Apply :func:`partition_keep_files` per nested hive LEVEL of a
    (possibly multi-axis) ``partition_spec`` — the keep set is the
    intersection, since a file's path carries every level's bucket.
    Returns ``(kept_files, n_levels_applied)``."""
    applied = 0
    for i, sp in enumerate(_partition_spec_list(partition_spec)):
        if sp["col"] in ranges:
            files = partition_keep_files(
                files, sp, ranges, part_col=_partition_col_name(i)
            )
            applied += 1
    return files, applied


def _cluster_to(spark, files: list[str], dest: str, specs, bits, n_files,
                mode: str, partition_spec: dict | None = None) -> None:
    from pyspark.sql import functions as F  # noqa: F401

    from pdf_etl_ocr_inference_spark.operators.layout import zorder_key

    df = spark.read.parquet(*files)
    exprs = [_layout_expr(s, bits) for s in specs]
    out = df.withColumn("_z", zorder_key(exprs, bits=bits))
    pspecs = _partition_spec_list(partition_spec)
    if pspecs:
        # multi-level: coarse hive dirs on the partition bucket(s) —
        # nested ``zpart=…/zpart1=…`` for a multi-axis spec — fine
        # Z-order within.  Range-partition on (buckets…, z) so each
        # write task lands in ~one dir and file counts stay ~n_files.
        pcols = [_partition_col_name(i) for i in range(len(pspecs))]
        for c, sp in zip(pcols, pspecs):
            out = out.withColumn(c, _partition_value_expr(sp))
        (
            out.repartitionByRange(n_files, *pcols, "_z")
            .sortWithinPartitions(*pcols, "_z")
            .drop("_z")
            .write.mode(mode)
            .partitionBy(*pcols)
            .parquet(dest)
        )
        return
    (
        out.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(dest)
    )


def register_clustered_layout(
    spark,
    source_path: str,
    specs: list[dict],
    bits: int = 12,
    n_files: int = 16,
    bloom_cols: list[str] | None = None,
    partition_spec: dict | None = None,
    catalog=None,
):
    """Build and REGISTER a Z-order-clustered copy of ``source_path``
    (plus its footer-stats sidecar) so the optimizer's skipping rule
    (:func:`pdf_etl_ocr_inference_spark.optimizer.rewrite_skipping_scan`)
    can route range-predicate scans onto it automatically — the
    engine-native equivalent of a clustered materialized table with a
    skipping index, behind the same ``optimize()`` entry point as the
    similarity/BM25/matview rules.

    Reference anchor: the managed platform's liquid-clustering /
    OPTIMIZE ZORDER surface the reference notebooks assume of their
    warehouse (pdf-etl pipeline writes, ``pdf:61-74``); here it is an
    explicit registration the optimizer consults.

    The meta records the source file inventory (sizes + mtimes): the
    rewrite fires ONLY while the inventory still matches, so a layout
    that lags its source silently degrades to the brute scan — never
    a stale answer.  ``refresh_clustered_layout`` re-syncs at
    cost ∝ appended data.
    """
    from pdf_etl_ocr_inference_spark.optimizer import IndexCatalog

    source_path = _norm_path(source_path)
    cat = catalog or IndexCatalog()
    key = layout_key(source_path)
    import hashlib as _hl
    import os as _os

    from pdf_etl_ocr_inference_spark.scratch import scratch_root

    dest = _os.path.join(
        scratch_root(),
        "layouts",
        _hl.sha256(source_path.encode()).hexdigest()[:16],
    )
    files = _source_files(source_path)
    _cluster_to(
        spark, files, dest, specs, bits, n_files, "overwrite",
        partition_spec=partition_spec,
    )
    cols = [s["col"] for s in specs]
    load_or_refresh_file_stats(spark, dest, cols)
    for bc in bloom_cols or []:
        build_file_bloom(spark, dest, bc)
    meta = {
        "kind": "layout",
        "format_version": LAYOUT_FORMAT_VERSION,
        "source_path": source_path,
        "layout_path": dest,
        "cols": cols,
        "specs": specs,
        "bits": bits,
        "n_files": n_files,
        "bloom_cols": list(bloom_cols or []),
        "partition_spec": partition_spec,
    }
    _stamp_inventory(meta, source_path)
    cat.register(key, meta)
    return meta


def _stamp_inventory(meta: dict, source_path: str) -> None:
    """Record the source inventory's DIGEST and cheap probe in meta —
    the two constant-size fields every per-query freshness check
    reads — and write the full per-file rows to the layout's
    ``_manifest/source_inventory.json`` (:func:`_write_manifest_doc`,
    so the layout directory's probe is untouched), which ONLY
    :func:`refresh_clustered_layout` loads for its append diff.
    Keeping the O(files) list out of meta.json matters at scale: the
    optimizer parses meta on every routed query, and a 10⁶-file
    inventory is ~100 MB of JSON (verdict-r6 #2, last layer).
    ``layout_build`` is a fresh nonce per register/refresh: the
    layout's OWN files change on every rebuild even when the source
    digest does not (re-register with new specs), so driver pins
    keyed on it can never serve a previous build's file map."""
    import uuid as _uuid

    inv = _source_inventory(source_path)
    meta.pop("inventory", None)  # legacy in-meta copy
    meta["inventory_digest"] = _inventory_digest(inv)
    meta["probe"] = _source_probe(source_path)
    meta["layout_build"] = _uuid.uuid4().hex
    _write_manifest_doc(meta["layout_path"], "source_inventory", inv)


def _stamped_inventory(meta: dict) -> list[list]:
    """The per-file inventory recorded at register/refresh time: the
    manifest doc _stamp_inventory wrote, or the legacy in-meta copy
    for pre-r7 registrations."""
    inv = _read_manifest_doc(meta["layout_path"], "source_inventory")
    if inv is not None:
        return inv
    return [list(r) for r in meta.get("inventory", [])]


def refresh_clustered_layout(spark, source_path: str, catalog=None):
    """Re-sync a registered layout with its source at cost ∝ CHANGE:

    - nothing changed        → no-op;
    - files purely APPENDED  → cluster ONLY the new files into
      additional layout parquet files (``mode=append``) and refresh
      the stats sidecar incrementally (footers of new files only) —
      the maintenance shape every index family in this engine follows;
    - anything rewritten or deleted → full rebuild (an in-place
      mutation cannot be folded append-only).

    Returns ``{"mode": "noop"|"incremental"|"rebuild",
    "new_files": n}``.
    """
    from pdf_etl_ocr_inference_spark.optimizer import IndexCatalog

    source_path = _norm_path(source_path)
    cat = catalog or IndexCatalog()
    key = layout_key(source_path)
    meta = cat.lookup(key)
    if meta is None:
        raise ValueError(f"no layout registered for {source_path!r}")
    old = {
        name: (size, mt) for name, size, mt in _stamped_inventory(meta)
    }
    cur = {name: (size, mt) for name, size, mt in
           _source_inventory(source_path)}
    if cur == old:
        return {"mode": "noop", "new_files": 0}
    appended = sorted(set(cur) - set(old))
    unchanged = all(cur.get(n) == v for n, v in old.items())
    if unchanged and appended:
        _cluster_to(
            spark, appended, meta["layout_path"], meta["specs"],
            meta["bits"], max(1, len(appended)), "append",
            partition_spec=meta.get("partition_spec"),
        )
        load_or_refresh_file_stats(
            spark, meta["layout_path"], meta["cols"]
        )
        # Bloom sidecars are NOT rebuilt here: the point-lookup scan
        # keeps sidecar-uncovered (appended) layout files
        # conservatively, so a lagging bloom costs extra reads, never
        # rows — rebuild happens on the next full rebuild.
        _stamp_inventory(meta, source_path)
        cat.register(key, meta)
        return {"mode": "incremental", "new_files": len(appended)}
    new_meta = register_clustered_layout(
        spark, source_path, meta["specs"], bits=meta["bits"],
        n_files=meta["n_files"], bloom_cols=meta.get("bloom_cols"),
        partition_spec=meta.get("partition_spec"),
        catalog=cat,
    )
    return {
        "mode": "rebuild",
        "new_files": len(_stamped_inventory(new_meta)),
    }


# ------------------------------------------------------------------
# Sidecar serving: every probe is a ``shard_server.lookup``
# ------------------------------------------------------------------
#
# Each chunk parquet of a published sidecar version is one shard of
# the ``stats`` or ``bloom`` kind: ``_PARSE`` loads it once per Python
# process into ``shard_server.WORKER_CACHE`` as numpy/Arrow columns,
# keyed by the chunk under the caller's token (the layout fingerprint
# :func:`_inventory_fp`, or the manifest digest of the sidecar
# marker).  A refresh publishes new chunks and changes the token, so a
# stale chunk is never served.  ``lookup`` answers the probe in the
# driver when the planned chunks fit the one pin budget
# (``WORKER_CACHE.budget``, shared with the vector and postings
# shards), else in one Spark job whose tasks answer from the Python
# workers' pins; the driver then sees file names and fingerprints,
# never sidecar payload bytes.  :func:`_stats_answer` and
# :func:`_bloom_answer` are the one keep rule of each sidecar, for
# every caller: the manifest fast paths, the optimizer's skipping
# rewrite (:func:`stats_keep_files`, :func:`bloom_keep_files`) and
# the fingerprint-reconciled point lookup.

# path -> live-file map of a registered layout
_LIVEMAP_CACHE = PinCache(_DRIVER_PIN_BYTES)


def _inventory_fp(meta: dict) -> str:
    """Constant-size pin fingerprint: the stored inventory digest
    (pre-digest metas fall back to digesting their inventory in
    place — still O(files) once, never a ~100 MB JSON string) plus
    the per-build nonce — a re-register over an UNCHANGED source
    still rewrites the layout's own files, and every pin must drop
    with it."""
    fp = meta.get("inventory_digest")
    if fp is None:
        fp = _inventory_digest(meta["inventory"])
    return f"{fp}:{meta.get('layout_build', '')}"


def cached_live_stat_map(meta: dict) -> dict:
    """Per-query pin of the LAYOUT's live-file map, fingerprinted by
    the source-inventory digest: every register/refresh changes the
    digest, so a stale hit is impossible through the engine's own
    APIs (layout files are engine-owned derived data — nothing else
    writes them).  Turns the remaining per-routed-query listing walk
    into an O(1) dict hit."""
    key = meta["layout_path"]
    if meta.get("layout_build") is None:
        return _live_stat_map(key)  # pre-nonce meta: never pin
    fp = _inventory_fp(meta)
    live = _LIVEMAP_CACHE.get(key, fp)
    if live is MISS:
        live = _live_stat_map(key)
        _LIVEMAP_CACHE.put(key, fp, live, sum(len(f) + 64 for f in live))
    return live


_STATS_ROWS = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("col", T.StringType()),
        T.StructField("hit", T.BooleanType()),
    ]
)
_BLOOM_ROWS = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("fsize", T.LongType()),
        T.StructField("fmtime_ns", T.LongType()),
        T.StructField("hit", T.BooleanType()),
    ]
)


def _sidecar_chunks(side_dir: str) -> list:
    import os as _os

    if not _os.path.isdir(side_dir):
        return []
    return sorted(
        f"{side_dir}/{e.name}"
        for e in _os.scandir(side_dir)
        if e.name.endswith(".parquet")
    )


def _chunk_names(side_dir: str) -> list:
    """The sidecar's chunks as ``shard_server`` shards: file names."""
    return [c.rsplit("/", 1)[1] for c in _sidecar_chunks(side_dir)]


def _stats_answer(state, box: dict, hits_only: bool) -> list:
    """The stats sidecar's keep rule over one chunk: ``(file, col,
    hit)`` for each row of a box column, ``hit`` when its ``[vmin,
    vmax]`` overlaps the box.  ``hits_only`` drops the rows that miss,
    for callers that proved the sidecar holds a row for every box
    column of every live file."""
    import numpy as _np
    import pyarrow.compute as _pc

    if state is None:
        return []
    files, cols, vmin, vmax = state
    rows = []
    for c, (lo, hi) in box.items():
        idx = _np.flatnonzero(_pc.equal(cols, c).to_numpy(zero_copy_only=False))
        hit = (vmax[idx] >= lo) & (vmin[idx] <= hi)
        if hits_only:
            idx, hit = idx[hit], hit[hit]
        rows += zip(files.take(idx).to_pylist(), [c] * len(idx), hit.tolist())
    return rows


def _stats_chunk_probe(
    spark, side_dir: str, token: str, ranges: dict, hits_only: bool
):
    """``(keep, covered)`` file sets for a range box from the stats
    sidecar's chunks, or ``None`` (NOT empty sets) when the sidecar has
    no chunks: a marker that outlived its parquet files — deletions
    inside the ``_``-prefixed sidecar dir don't bump the root probe —
    must fall through to the slow path's loud read, not become a
    silent zero-row answer.

    A file is kept when every box column has a row and every such row
    overlaps the box (:func:`_stats_answer`).  The rule is finished in
    the driver over all chunks, so a sidecar that splits or duplicates
    a file's rows across chunks can only err conservative: duplicate
    rows are OR-kept.  With ``hits_only`` ``covered`` is meaningless."""
    box = {c: (float(lo), float(hi)) for c, (lo, hi) in ranges.items()}
    chunks = _chunk_names(side_dir)
    if not chunks:
        return None
    out = lookup(
        spark, side_dir, "stats", token, dict.fromkeys(chunks, box),
        lambda state, b: _stats_answer(state, b, hits_only), _STATS_ROWS,
    )
    per_col = out.groupby(["file", "col"])["hit"].any()
    per_file = per_col.groupby(level="file").agg(["size", "all"])
    ok = (per_file["size"] == len(box)) & per_file["all"]
    return set(per_file.index[ok]), set(per_file.index)


def _bloom_answer(state, probe, hits_only: bool) -> list:
    """The Bloom sidecar's keep rule over one chunk: ``(file, fsize,
    fmtime_ns, hit)`` per data file, ``hit`` when its filter may hold
    a value of ``probe`` (:func:`_bloom_may_hold`).  ``hits_only``
    drops the misses."""
    import numpy as _np

    if state is None:
        return []
    files, bits, m, k, fsize, fmtime = state
    hit = _np.array(
        [
            _bloom_may_hold(bits[i].as_buffer(), m[i], k[i], probe)
            for i in range(len(m))
        ],
        dtype=bool,
    )
    idx = _np.flatnonzero(hit) if hits_only else _np.arange(len(hit))
    return list(
        zip(
            files.take(idx).to_pylist(),
            fsize[idx].tolist(),
            fmtime[idx].tolist(),
            hit[idx].tolist(),
        )
    )


def _bloom_chunk_probe(
    spark, side_dir: str, token: str, values: list, hits_only: bool
):
    """The Bloom sidecar's ``(file, fsize, fmtime_ns, hit)`` rows for
    an IN-list, as pandas, or ``None`` when the sidecar has no chunks
    (see :func:`_stats_chunk_probe`).  ``hits_only`` keeps the driver
    transfer O(hits), not O(files) — the manifest fast path's probe."""
    import numpy as _np

    probe = _np.asarray(sorted(set(int(v) for v in values)), dtype="int64")
    chunks = _chunk_names(side_dir)
    if not chunks:
        return None
    return lookup(
        spark, side_dir, "bloom", token, dict.fromkeys(chunks, probe),
        lambda state, p: _bloom_answer(state, p, hits_only), _BLOOM_ROWS,
    )


def stats_keep_files(spark, meta: dict, ranges: dict):
    """``(keep, covered)`` file sets for a range box from the layout's
    stats sidecar (:func:`_stats_chunk_probe` under the layout
    fingerprint).  A cold call, whose chunks are not all pinned in the
    driver under that fingerprint, first refreshes the sidecar
    (:func:`load_or_refresh_file_stats`); a warm one reads nothing but
    the pin.  Exposed separately from the scan so the optimizer rule
    can INTERSECT this keep-list with per-column Bloom keep-lists
    before scheduling a single file."""
    path, fp = meta["layout_path"], _inventory_fp(meta)
    phys = _stats_phys_dir(path)
    if phys is None or not pinned(phys, "stats", fp, _chunk_names(phys)):
        load_or_refresh_file_stats(spark, path, meta["cols"])
        phys = _stats_phys_dir(path)
    found = None
    if phys is not None:
        found = _stats_chunk_probe(spark, phys, fp, ranges, hits_only=False)
    return (set(), set()) if found is None else found


def bloom_keep_files(spark, meta: dict, col: str, values: list):
    """``(keep, covered)`` file sets for an IN-list probe of the
    layout's Bloom sidecar on ``col`` (:func:`_bloom_chunk_probe`
    under the layout fingerprint); no sidecar covers nothing."""
    phys = _sidecar_phys_dir(meta["layout_path"], f"_bloom_{col}")
    out = None
    if phys is not None:
        out = _bloom_chunk_probe(
            spark, phys, _inventory_fp(meta), values, hits_only=False
        )
    if out is None:
        return set(), set()
    return set(out["file"][out["hit"]]), set(out["file"])


def _pruned_scan(spark, meta: dict, files: list, total: int):
    if not files:
        # Root reads of a partitioned layout infer the synthetic
        # zpart/zpartN partition column(s), which leaf-file reads
        # (the non-empty branch) do not — drop them so both branches
        # hand callers the same (data-file) schema.
        empty = spark.read.parquet(meta["layout_path"]).limit(0)
        n_levels = len(_partition_spec_list(meta.get("partition_spec")))
        for i in range(n_levels):
            c = _partition_col_name(i)
            if c in empty.columns:
                empty = empty.drop(c)
        return empty, 0, total
    return spark.read.parquet(*files), len(files), total


def served_scan_with_skipping(spark, meta: dict, ranges: dict):
    """scan_with_skipping through the pinned sidecar: the keep-list
    comes from :func:`stats_keep_files` — ZERO Spark jobs before the
    final pruned scan while its chunks fit the driver's pin.  Uncovered layout files are kept
    conservatively.  The live-file set comes from the
    fingerprint-keyed pin (cached_live_stat_map): layout files are
    ENGINE-OWNED (every engine write re-stamps the fingerprint), so
    an out-of-band deletion is outside the contract and surfaces as
    a read error until the next refresh — it is NOT silently
    dropped the way the r8 per-call listing did."""
    keep, covered = stats_keep_files(spark, meta, ranges)
    current = set(cached_live_stat_map(meta))
    files = sorted(((keep & covered) | (current - covered)) & current)
    return _pruned_scan(spark, meta, files, len(current))


def served_point_lookup(spark, meta: dict, col: str, values: list):
    """scan_point_lookup through the layout's Bloom sidecar
    (:func:`bloom_keep_files`).  Live-file set semantics as in
    :func:`served_scan_with_skipping` (engine-owned layout files,
    fingerprint-keyed pin)."""
    from pyspark.sql import functions as F

    keep, covered = bloom_keep_files(spark, meta, col, values)
    current = set(cached_live_stat_map(meta))
    files = sorted(((keep & covered) | (current - covered)) & current)
    df, n_read, total = _pruned_scan(spark, meta, files, len(current))
    if n_read:
        df = df.filter(F.col(col).isin([int(v) for v in values]))
    return df, n_read, total
