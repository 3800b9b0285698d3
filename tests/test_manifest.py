"""Manifest-backed file inventory (r9, verdict #1): per-query
freshness is an O(dirs) probe against ``_manifest/inventory.json``
written at sidecar build/refresh time — never a per-call O(files)
scandir+stat sweep.  These tests pin the mechanism itself; the
staleness semantics live in tests/test_staleness_contract.py."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _write(spark, n, d, parts=1):
    spark.range(n).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).repartition(parts).write.mode("overwrite").parquet(d)


def test_warm_point_lookup_never_sweeps_files(spark, tmp_path):
    """The whole point: a warm scan_point_lookup must not list or
    stat data files on the driver — poison the live listing and the
    lookup must still answer, via the probe-verified manifest and
    the worker-pinned Bloom chunks (O(hits) driver rows)."""
    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write(spark, 1000, d, parts=4)
    L.build_file_bloom(spark, d, "id")
    # cold call primes the manifest-doc cache and the worker pins
    df, n_read, n_total = L.scan_point_lookup(spark, d, "id", [7])
    assert n_total == 4 and df.count() == 1

    orig = L._live_stat_map
    L._live_stat_map = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("warm point lookup must not sweep data files")
    )
    try:
        df, n_read, n_total = L.scan_point_lookup(spark, d, "id", [7])
        assert n_total == 4
        assert [r["id"] for r in df.collect()] == [7]
        # a miss probe answers from the manifest too
        df, n_read, n_total = L.scan_point_lookup(spark, d, "id", [-5])
        assert n_read <= 1 and df.count() == 0
    finally:
        L._live_stat_map = orig


def test_manifest_digest_matches_inventory_digest(tmp_path, spark):
    """The manifest's digest is the SAME _inventory_digest the
    registered-layout meta stores — one fingerprint vocabulary
    across the module."""
    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write(spark, 100, d)
    doc = L.write_inventory_manifest(d)
    inv = [[f, sz, mt] for f, (sz, mt) in sorted(L._live_stat_map(d).items())]
    assert doc["digest"] == L._inventory_digest(inv)
    assert L.manifest_stat_map(d) == L._live_stat_map(d)


def test_append_in_hive_subdir_flips_probe(spark, tmp_path):
    """_dir_probe covers nested hive partition dirs: a file appended
    INSIDE ``zpart=…`` does not touch the root mtime, so the probe
    must carry subdir mtimes or the manifest would serve a stale
    inventory."""
    import glob
    import shutil

    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    spark.range(100).select(
        F.col("id"), (F.col("id") % 4).alias("zpart")
    ).write.mode("overwrite").partitionBy("zpart").parquet(d)
    doc = L.write_inventory_manifest(d)
    assert L.fresh_manifest_doc(d) is not None

    extra = str(tmp_path / "extra")
    spark.range(1000, 1010).select(F.col("id")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(extra)
    part = glob.glob(f"{extra}/part-*.parquet")[0]
    shutil.move(part, f"{d}/zpart=3/appended.parquet")

    assert L.fresh_manifest_doc(d) is None, (
        "subdir append must invalidate the manifest probe"
    )
    # and the fallthrough live map sees the appended file
    assert any(
        f.endswith("appended.parquet") for f in L.manifest_stat_map(d)
    )
    # re-stamp heals
    doc2 = L.write_inventory_manifest(d)
    assert doc2["digest"] != doc["digest"]
    assert L.fresh_manifest_doc(d) is not None


def test_stats_fast_path_column_set_guard(spark, tmp_path):
    """A different column set must NOT take the stats fast path —
    the sidecar on disk covers the wrong columns."""
    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write(spark, 100, d)
    L.load_or_refresh_file_stats(spark, d, ["id"])
    got = L.load_or_refresh_file_stats(spark, d, ["id", "v"])
    cols = {r["col"] for r in got.select("col").distinct().collect()}
    assert cols == {"id", "v"}


def test_fast_path_reads_only_the_constant_size_summary(spark, tmp_path):
    """At 10^6 files the FULL manifest is ~100 MB of JSON — the warm
    fast path must decide from inventory_summary.json alone (r9):
    poison the full-doc reader and the warm lookup must still
    answer."""
    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write(spark, 1000, d, parts=4)
    L.build_file_bloom(spark, d, "id")
    L.load_or_refresh_file_stats(spark, d, ["id"])  # build + stamp
    L.scan_point_lookup(spark, d, "id", [7])  # prime

    orig_doc = L.fresh_manifest_doc
    orig_live = L._live_stat_map
    boom = lambda *a, **k: (_ for _ in ()).throw(  # noqa: E731
        AssertionError("fast path must not touch the O(files) doc")
    )
    L.fresh_manifest_doc = boom
    L._live_stat_map = boom
    try:
        df, n_read, n_total = L.scan_point_lookup(spark, d, "id", [7])
        assert n_total == 4
        assert [r["id"] for r in df.collect()] == [7]
        stats = L.load_or_refresh_file_stats(spark, d, ["id"])
        assert stats.count() > 0
    finally:
        L.fresh_manifest_doc = orig_doc
        L._live_stat_map = orig_live


def test_stamp_verified_declines_when_dir_changed_mid_build(
    spark, tmp_path
):
    """The build-time TOCTOU guard (r9 review): a file appended
    between a sidecar build's snapshot and its stamp means the
    sidecar lags the directory — stamp_manifest_verified must
    DECLINE (return None) so the fast paths never bless an
    inventory the sidecar doesn't cover."""
    import glob
    import shutil

    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write(spark, 100, d)
    live0 = L._live_stat_map(d)

    extra = str(tmp_path / "extra")
    _write(spark, 10, extra)
    part = glob.glob(f"{extra}/part-*.parquet")[0]
    shutil.move(part, f"{d}/appended.parquet")

    assert L.stamp_manifest_verified(d, live0) is None
    # and nothing fresh was stamped: the fast paths decline
    assert L.fresh_manifest_summary(d) is None


def test_point_lookup_vanished_sidecar_fails_loud(spark, tmp_path):
    """A bloom marker that outlived its sidecar parquet (deletions
    inside the _-prefixed dir don't bump the root probe) must NOT
    become a silent zero-row answer — the fast path falls through
    and the slow path's sidecar read raises."""
    import glob
    import os as _os

    import pytest

    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write(spark, 100, d)
    L.build_file_bloom(spark, d, "id")
    L.scan_point_lookup(spark, d, "id", [7])  # prime

    phys = L._sidecar_phys_dir(d, "_bloom_id")
    for f in glob.glob(f"{phys}/*.parquet"):
        _os.remove(f)
    # the probe still verifies (sidecar dirs are hidden from it)
    assert L.fresh_manifest_summary(d) is not None

    with pytest.raises(Exception):
        L.scan_point_lookup(spark, d, "id", [7])


def test_nested_multilevel_partition_probe(spark, tmp_path):
    """_dir_probe recurses through NESTED hive levels (zpart=…/
    zpart1=…): an append two levels deep touches only the leaf dir's
    mtime, which the probe must carry."""
    import glob
    import shutil

    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    spark.range(100).select(
        F.col("id"),
        (F.col("id") % 2).alias("zpart"),
        (F.col("id") % 3).alias("zpart1"),
    ).write.mode("overwrite").partitionBy("zpart", "zpart1").parquet(d)
    L.write_inventory_manifest(d)
    assert L.fresh_manifest_summary(d) is not None

    extra = str(tmp_path / "extra")
    spark.range(5).select(F.col("id")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(extra)
    part = glob.glob(f"{extra}/part-*.parquet")[0]
    shutil.move(part, f"{d}/zpart=1/zpart1=2/appended.parquet")

    assert L.fresh_manifest_summary(d) is None, (
        "nested-leaf append must flip the probe"
    )


def _write_ranged(spark, n, d, parts=4):
    spark.range(n).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).repartitionByRange(parts, "id").sortWithinPartitions(
        "id"
    ).write.mode("overwrite").parquet(d)


def test_warm_range_scan_never_sweeps_files(spark, tmp_path):
    """The r10 twin of the point-lookup contract: a warm
    scan_with_skipping must not list/stat data files on the driver,
    must not parse the O(files) manifest doc, and must not read
    sidecar payload again — the keep-list comes from the
    manifest-verified chunk probe over the pinned sidecar chunks
    (O(keep·cols) driver rows)."""
    import pdf_etl_ocr_inference_spark.operators.layout as L
    import pdf_etl_ocr_inference_spark.operators.shard_server as S

    d = str(tmp_path / "tbl")
    _write_ranged(spark, 1000, d, parts=4)
    box = {"id": (0.0, 10.0)}
    # cold call: builds + stamps the persisted sidecar, then serves
    # THIS call from the fast path already
    df, n_read, n_total = L.scan_with_skipping(spark, d, box)
    assert n_total == 4 and 0 < n_read < 4
    assert df.filter(F.col("id") <= 10).count() == 11

    orig_live, orig_doc = L._live_stat_map, L.fresh_manifest_doc
    orig_read = S.read_shard
    boom = lambda *a, **k: (_ for _ in ()).throw(  # noqa: E731
        AssertionError("warm range scan must stay O(dirs)+O(keep)")
    )
    L._live_stat_map = boom
    L.fresh_manifest_doc = boom
    S.read_shard = boom  # the sidecar chunks stay pinned
    try:
        df, n_read, n_total = L.scan_with_skipping(spark, d, box)
        assert n_total == 4 and 0 < n_read < 4
        got = sorted(
            r["id"] for r in df.filter(F.col("id") <= 10).collect()
        )
        assert got == list(range(11))
        # a disjoint box schedules nothing, still warm
        df, n_read, n_total = L.scan_with_skipping(
            spark, d, {"id": (-100.0, -50.0)}
        )
        assert n_read == 0 and df.count() == 0
    finally:
        L._live_stat_map = orig_live
        L.fresh_manifest_doc = orig_doc
        S.read_shard = orig_read


def test_range_scan_mutation_falls_back_then_rewarms(spark, tmp_path):
    """An appended file flips the O(dirs) probe: the next scan must
    surface the new rows (refresh ∝ new files, conservative), and the
    call after that is warm again."""
    import glob
    import shutil

    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write_ranged(spark, 1000, d, parts=4)
    box = {"id": (2000.0, 3000.0)}
    df, n_read, n_total = L.scan_with_skipping(spark, d, box)
    assert n_total == 4 and n_read == 0 and df.count() == 0

    extra = str(tmp_path / "extra")
    spark.range(2500, 2510).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.mode("overwrite").parquet(extra)
    part = glob.glob(f"{extra}/part-*.parquet")[0]
    shutil.move(part, f"{d}/appended.parquet")

    df, n_read, n_total = L.scan_with_skipping(spark, d, box)
    assert n_total == 5 and n_read == 1
    assert df.filter(F.col("id") >= 2000).count() == 10

    orig = L._live_stat_map
    L._live_stat_map = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("post-refresh scan must be warm again")
    )
    try:
        df, n_read, n_total = L.scan_with_skipping(spark, d, box)
        assert n_total == 5 and n_read == 1
    finally:
        L._live_stat_map = orig


def test_oversized_manifest_doc_parsed_once(spark, tmp_path, monkeypatch):
    """A manifest doc past the LRU byte budget must still be served
    from cache on repeat calls — parse count grows by ONE per
    (path, probe), not per call (r9 advisory: the un-cached oversized
    doc re-parsed ~100 MB of JSON per query at 10^6 files)."""
    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write_ranged(spark, 100, d, parts=2)
    L.write_inventory_manifest(d)
    monkeypatch.setattr(L._MANIFEST_DOC_CACHE, "budget", 1)
    L._MANIFEST_DOC_CACHE.clear()

    before = L.MANIFEST_DOC_PARSES
    live = L.manifest_stat_map(d)
    assert set(live) and L.MANIFEST_DOC_PARSES == before + 1
    assert L.manifest_stat_map(d) == live
    assert L.manifest_stat_map(d) == live
    assert L.MANIFEST_DOC_PARSES == before + 1, (
        "oversized doc re-parsed on a warm call"
    )

    # a STALE doc (probe flipped by a mutation, manifest not yet
    # re-stamped) must also decide from the cached copy — the parse
    # count is per inventory-file VERSION, not per call
    import glob
    import shutil

    extra = str(tmp_path / "extra")
    spark.range(5).select(F.col("id")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(extra)
    part = glob.glob(f"{extra}/part-*.parquet")[0]
    shutil.move(part, f"{d}/appended.parquet")
    stale = L.manifest_stat_map(d)  # falls back to the live listing
    assert "appended.parquet" in {
        f.rsplit("/", 1)[-1] for f in stale
    }
    L.manifest_stat_map(d)
    assert L.MANIFEST_DOC_PARSES == before + 1, (
        "stale doc re-parsed per call"
    )
    # a re-stamp is a new file version: exactly one more parse
    L.write_inventory_manifest(d)
    assert L.manifest_stat_map(d) == L._live_stat_map(d)
    assert L.MANIFEST_DOC_PARSES == before + 2


def test_readonly_dataset_scan_never_writes(spark, tmp_path, monkeypatch):
    """A dataset the engine cannot write to (shared/foreign mount)
    still gets a pruned stats=None scan — the pre-r10 read-only
    footer pass — and the scan leaves NO sidecar/manifest behind.
    (os.access is monkeypatched: the suite runs as root, which
    bypasses mode bits.)"""
    import os as _os

    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write_ranged(spark, 1000, d, parts=4)
    real_access = _os.access
    monkeypatch.setattr(
        _os, "access",
        lambda p, m, **k: False if str(p) == d else real_access(p, m, **k),
    )
    df, n_read, n_total = L.scan_with_skipping(
        spark, d, {"id": (0.0, 10.0)}
    )
    assert n_total == 4 and 0 < n_read < 4
    assert df.filter(F.col("id") <= 10).count() == 11
    assert not _os.path.isdir(f"{d}/_stats")
    assert not _os.path.isdir(f"{d}/_manifest")


def test_malformed_manifest_falls_back_conservatively(spark, tmp_path):
    """A future-format stamp or valid-JSON corruption must read as
    'no manifest' (live-listing fallback), never a KeyError on the
    query path — and the invalid verdict is cached per file version
    (one parse, not one per call)."""
    import json
    import os as _os

    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write_ranged(spark, 100, d, parts=2)
    L.write_inventory_manifest(d)
    mdir = L._manifest_dir(d)
    live = L._live_stat_map(d)

    for bad in ({"format": 2, "probe": [], "files": {}}, {"oops": 1}):
        with open(f"{mdir}/inventory.json", "w") as f:
            json.dump(bad, f)
        L._MANIFEST_DOC_CACHE.pop(d)
        before = L.MANIFEST_DOC_PARSES
        assert L.fresh_manifest_doc(d) is None
        assert L.manifest_stat_map(d) == live
        assert L.fresh_manifest_doc(d) is None
        assert L.MANIFEST_DOC_PARSES == before + 1, (
            "invalid doc re-parsed per call"
        )

    # healing: a re-stamp restores the fast path
    L.write_inventory_manifest(d)
    assert L.fresh_manifest_doc(d) is not None
    _os.stat(mdir)  # mdir still present, sanity

def test_stats_refresh_is_swap_by_pointer(spark, tmp_path, monkeypatch):
    """r11 (advice): a stats refresh must never delete the chunk set
    a concurrent query's executor probe is mid-read on.  Publication
    lands in a fresh ``_stats/v_*`` subdir and flips the stats_dir
    pointer; the superseded generation survives the grace window (so
    chunk paths resolved before the flip stay readable) and is GC'd
    only by a later publish once the grace has passed."""
    import glob
    import shutil

    import pyarrow.parquet as pq

    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write_ranged(spark, 1000, d, parts=4)
    L.load_or_refresh_file_stats(spark, d, ["id"])
    gen1 = L._stats_phys_dir(d)
    assert gen1 is not None and "/_stats/v_" in gen1
    gen1_chunks = L._sidecar_chunks(gen1)
    assert gen1_chunks

    # mutate the dataset -> the next load refreshes and re-publishes
    extra = str(tmp_path / "extra")
    spark.range(2000, 2100).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.mode("overwrite").parquet(extra)
    part = glob.glob(f"{extra}/part-*.parquet")[0]
    shutil.move(part, f"{d}/appended.parquet")
    L.load_or_refresh_file_stats(spark, d, ["id"])
    gen2 = L._stats_phys_dir(d)
    assert gen2 is not None and gen2 != gen1

    # THE RACE FIX: the superseded generation's chunks are intact —
    # a reader that listed them before the flip can still read them
    for c in gen1_chunks:
        assert pq.read_table(c).num_rows > 0

    # and the refreshed scan answers from the new generation
    df, n_read, n_total = L.scan_with_skipping(
        spark, d, {"id": (2000.0, 2049.0)}
    )
    assert n_read < n_total
    assert df.filter(F.col("id") <= 2049).count() == 50

    # grace elapsed (simulated): the NEXT publish collects gen1+gen2
    monkeypatch.setattr(L, "_STATS_GC_GRACE_S", -1.0)
    spark.range(3000, 3010).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.mode("overwrite").parquet(extra)
    part2 = glob.glob(f"{extra}/part-*.parquet")[0]
    shutil.move(part2, f"{d}/appended2.parquet")
    L.load_or_refresh_file_stats(spark, d, ["id"])
    gen3 = L._stats_phys_dir(d)
    assert gen3 not in (gen1, gen2)
    import os as _os

    assert not _os.path.isdir(gen1) and not _os.path.isdir(gen2)


def test_stats_legacy_flat_sidecar_still_resolves(spark, tmp_path):
    """Pre-r11 sidecars kept chunk parquets directly under _stats;
    the resolver must serve them (and a refresh migrates them into a
    versioned subdir without losing coverage)."""
    import os as _os
    import shutil

    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write_ranged(spark, 1000, d, parts=4)
    L.load_or_refresh_file_stats(spark, d, ["id"])
    ver = L._stats_phys_dir(d)
    # manufacture the legacy layout: chunks flat under _stats, no
    # pointer doc
    side = f"{d}/_stats"
    for c in L._sidecar_chunks(ver):
        shutil.move(c, f"{side}/{_os.path.basename(c)}")
    shutil.rmtree(ver)
    _os.unlink(f"{L._manifest_dir(d)}/stats_dir.json")
    assert L._stats_phys_dir(d) == side
    got = L.load_or_refresh_file_stats(spark, d, ["id"])
    files = {r["file"] for r in got.select("file").distinct().collect()}
    assert files == set(L._live_stat_map(d))


def test_scan_read_only_flag_never_writes(spark, tmp_path):
    """read_only=True is the caller contract for foreign datasets:
    root bypasses mode bits (os.access W_OK lies), so the flag alone
    must prevent any sidecar/manifest write on a WRITABLE dir."""
    import os as _os

    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write_ranged(spark, 1000, d, parts=4)
    df, n_read, n_total = L.scan_with_skipping(
        spark, d, {"id": (0.0, 10.0)}, read_only=True
    )
    assert n_total == 4 and 0 < n_read < 4
    assert df.filter(F.col("id") <= 10).count() == 11
    assert not _os.path.isdir(f"{d}/_stats")
    assert not _os.path.isdir(f"{d}/_manifest")


def test_scan_survives_refresh_oserror(spark, tmp_path, monkeypatch):
    """When the W_OK probe lies (root on an EROFS mount reports
    writable until the first write fails), the refresh's OSError must
    degrade the scan to the read-only footer pass — correct rows, no
    query failure."""
    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write_ranged(spark, 1000, d, parts=4)
    monkeypatch.setattr(
        L,
        "load_or_refresh_file_stats",
        lambda *a, **k: (_ for _ in ()).throw(OSError(30, "EROFS")),
    )
    df, n_read, n_total = L.scan_with_skipping(
        spark, d, {"id": (0.0, 10.0)}
    )
    assert n_total == 4 and 0 < n_read < 4
    assert df.filter(F.col("id") <= 10).count() == 11


def test_manifest_doc_cache_byte_counter_consistent(spark, tmp_path):
    """r11 (advice): eviction bookkeeping is a running counter, not a
    per-pop re-sum — it must always equal the true sum over entries."""
    import pdf_etl_ocr_inference_spark.operators.layout as L

    L._MANIFEST_DOC_CACHE.clear()
    for i in range(3):
        d = str(tmp_path / f"tbl{i}")
        _write(spark, 50, d)
        L.write_inventory_manifest(d)
        assert L.fresh_manifest_doc(d) is not None
        assert L.fresh_manifest_doc(d) is not None  # warm hit
    assert L._MANIFEST_DOC_CACHE.nbytes == sum(
        e[2] for e in L._MANIFEST_DOC_CACHE.entries.values()
    )
    # re-stamp one path: the old entry's bytes must be released
    d0 = str(tmp_path / "tbl0")
    _write(spark, 80, d0)
    L.write_inventory_manifest(d0)
    assert L.fresh_manifest_doc(d0) is not None
    assert L._MANIFEST_DOC_CACHE.nbytes == sum(
        e[2] for e in L._MANIFEST_DOC_CACHE.entries.values()
    )

def test_warm_keep_verdict_cached_per_digest_and_box(
    spark, tmp_path, monkeypatch
):
    """r11 (verdict #2): a REPEAT (manifest digest, range box) must
    answer from the driver keep-verdict cache — no executor probe job
    at all — while any data mutation (digest flip) forces a fresh
    probe.  Also pins the running byte counter."""
    import glob
    import shutil

    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write_ranged(spark, 1000, d, parts=4)
    L.load_or_refresh_file_stats(spark, d, ["id"])
    L._STATS_KEEP_CACHE.clear()

    calls = {"n": 0}
    real = L._stats_chunk_probe

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(L, "_stats_chunk_probe", counting)
    box = {"id": (0.0, 10.0)}
    df1, r1, t1 = L.scan_with_skipping(spark, d, box)
    assert calls["n"] == 1 and 0 < r1 < t1
    df2, r2, t2 = L.scan_with_skipping(spark, d, box)
    assert (r2, t2) == (r1, t1)
    assert calls["n"] == 1, "repeat (digest, box) must skip the probe"
    assert df2.filter(F.col("id") <= 10).count() == 11
    # a different box probes once, then caches too
    L.scan_with_skipping(spark, d, {"id": (500.0, 510.0)})
    L.scan_with_skipping(spark, d, {"id": (500.0, 510.0)})
    assert calls["n"] == 2
    assert L._STATS_KEEP_CACHE.nbytes == sum(
        e[2] for e in L._STATS_KEEP_CACHE.entries.values()
    )

    # mutation: append a file -> digest flips -> fresh probe, fresh
    # verdict that INCLUDES the new file's rows
    extra = str(tmp_path / "extra")
    spark.range(5, 8).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.mode("overwrite").parquet(extra)
    part = glob.glob(f"{extra}/part-*.parquet")[0]
    shutil.move(part, f"{d}/appended.parquet")
    before = calls["n"]
    df3, r3, t3 = L.scan_with_skipping(spark, d, box)
    assert t3 == t1 + 1
    assert df3.filter(F.col("id") <= 10).count() == 14  # 11 + 3 new
    assert calls["n"] > before, "digest flip must re-probe"

def test_oversized_keep_verdict_served_oneshot_without_eviction(
    spark, tmp_path, monkeypatch
):
    """review-r11: a keep verdict past the cache budget must be
    served one-shot WITHOUT first evicting every other cached
    verdict (the old loop drained the dict, then skipped the
    insert)."""
    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write_ranged(spark, 1000, d, parts=4)
    L.load_or_refresh_file_stats(spark, d, ["id"])
    L._STATS_KEEP_CACHE.clear()
    df, r1, t1 = L.scan_with_skipping(spark, d, {"id": (0.0, 10.0)})
    assert len(L._STATS_KEEP_CACHE.entries) == 1
    cached_key = next(iter(L._STATS_KEEP_CACHE.entries))
    # every verdict is now oversized: served correctly, not cached,
    # and the existing entry SURVIVES
    monkeypatch.setattr(L._STATS_KEEP_CACHE, "budget", 1)
    df2, r2, t2 = L.scan_with_skipping(spark, d, {"id": (900.0, 950.0)})
    assert df2.filter(
        (F.col("id") >= 900) & (F.col("id") <= 950)
    ).count() == 51
    assert list(L._STATS_KEEP_CACHE.entries) == [cached_key]


def test_gc_spares_inflight_tmp_write(spark, tmp_path, monkeypatch):
    """review-r11: a concurrent refresher's in-flight .tmp_ dir has a
    frozen top-level mtime while Spark streams task files into nested
    _temporary/ subdirs — GC must judge liveness by the NEWEST mtime
    inside, sparing the live write and collecting the truly dead."""
    import glob
    import os as _os
    import shutil

    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write_ranged(spark, 1000, d, parts=4)
    L.load_or_refresh_file_stats(spark, d, ["id"])
    side = f"{d}/_stats"

    # live write: top dir OLD, nested task file FRESH
    live = f"{side}/.tmp_live"
    _os.makedirs(f"{live}/_temporary/0")
    with open(f"{live}/_temporary/0/task-part-0", "w") as f:
        f.write("x")
    _os.utime(live, (0, 0))
    # dead write: everything ancient
    dead = f"{side}/.tmp_dead"
    _os.makedirs(f"{dead}/_temporary")
    with open(f"{dead}/_temporary/task-part-0", "w") as f:
        f.write("x")
    for p in (f"{dead}/_temporary/task-part-0", f"{dead}/_temporary", dead):
        _os.utime(p, (0, 0))

    # trigger a publish (mutation -> refresh) with the normal grace
    extra = str(tmp_path / "extra")
    spark.range(5000, 5010).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.mode("overwrite").parquet(extra)
    part = glob.glob(f"{extra}/part-*.parquet")[0]
    shutil.move(part, f"{d}/appended.parquet")
    L.load_or_refresh_file_stats(spark, d, ["id"])

    assert _os.path.isdir(live), "live in-flight write was GC'd"
    assert not _os.path.isdir(dead), "dead tmp dir survived GC"

def test_bloom_rebuild_is_swap_by_pointer(spark, tmp_path, monkeypatch):
    """r11: a Bloom REBUILD over a live table must not delete the
    chunk files a concurrent point-lookup's executor probe resolved
    (Spark's overwrite mode is delete-then-write) — same
    swap-by-pointer publication as the stats sidecar."""
    import os as _os

    import pyarrow.parquet as pq

    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write(spark, 1000, d, parts=4)
    L.build_file_bloom(spark, d, "id")
    gen1 = L._sidecar_phys_dir(d, "_bloom_id")
    assert gen1 is not None and "/_bloom_id/v_" in gen1
    gen1_chunks = L._sidecar_chunks(gen1)
    assert gen1_chunks

    # rebuild: old generation must survive
    L.build_file_bloom(spark, d, "id")
    gen2 = L._sidecar_phys_dir(d, "_bloom_id")
    assert gen2 is not None and gen2 != gen1
    for c in gen1_chunks:
        assert pq.read_table(c).num_rows > 0

    # and the lookup still answers from the new generation
    df, n_read, n_total = L.scan_point_lookup(spark, d, "id", [7])
    assert n_total == 4 and [r["id"] for r in df.collect()] == [7]

    # grace elapsed: the NEXT publish collects the old generations
    monkeypatch.setattr(L, "_STATS_GC_GRACE_S", -1.0)
    L.build_file_bloom(spark, d, "id")
    gen3 = L._sidecar_phys_dir(d, "_bloom_id")
    assert gen3 not in (gen1, gen2)
    assert not _os.path.isdir(gen1) and not _os.path.isdir(gen2)


def test_pointer_lost_fallback_prefers_unsuperseded_generation(
    spark, tmp_path
):
    """r11 advisory: publication re-stamps the SUPERSEDED dir's
    mtime (for GC grace), making it mtime-newest — so when the
    pointer doc is lost, the fallback must resolve by the
    ``.superseded`` marker, not mtime, or it serves the stale
    generation by design."""
    import glob
    import os as _os
    import shutil

    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    _write_ranged(spark, 1000, d, parts=4)
    L.load_or_refresh_file_stats(spark, d, ["id"])
    gen1 = L._stats_phys_dir(d)

    extra = str(tmp_path / "extra")
    spark.range(2000, 2100).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.mode("overwrite").parquet(extra)
    part = glob.glob(f"{extra}/part-*.parquet")[0]
    shutil.move(part, f"{d}/appended.parquet")
    L.load_or_refresh_file_stats(spark, d, ["id"])
    gen2 = L._stats_phys_dir(d)
    assert gen2 != gen1

    # the superseded generation is marked, and (by the utime grace
    # re-stamp) mtime-NEWER than the current one — the exact
    # condition that fooled the pre-fix fallback
    assert _os.path.exists(f"{gen1}/.superseded")
    assert not _os.path.exists(f"{gen2}/.superseded")
    assert _os.stat(gen1).st_mtime_ns >= _os.stat(gen2).st_mtime_ns

    # lose the pointer doc -> resolver must still pick gen2
    _os.unlink(f"{d}/_manifest/stats_dir.json")
    assert L._stats_phys_dir(d) == gen2


@pytest.mark.parametrize("scan", ["range", "point"])
def test_hive_partitioned_scan_keeps_partition_columns(spark, tmp_path, scan):
    """On a hive-partitioned directory the skipping scans return the
    columns of ``spark.read.parquet(d)`` — partition column included —
    whether one file or no file survives, and the rows a probe keeps
    are the rows the full read holds."""
    import pdf_etl_ocr_inference_spark.operators.layout as L

    d = str(tmp_path / "tbl")
    spark.range(100).select(
        F.col("id"), (F.col("id") >= 50).cast("int").alias("part")
    ).repartitionByRange(2, "id").write.partitionBy("part").parquet(d)
    full = spark.read.parquet(d)
    assert full.columns == ["id", "part"]
    if scan == "point":
        L.build_file_bloom(spark, d, "id")
    for lo, hi in ((10, 20), (-100, -50)):
        if scan == "range":
            df, n_read, total = L.scan_with_skipping(
                spark, d, {"id": (float(lo), float(hi))}
            )
        else:
            df, n_read, total = L.scan_point_lookup(
                spark, d, "id", list(range(lo, hi + 1))
            )
        assert total == 2
        assert n_read == (1 if lo >= 0 else 0)
        assert df.columns == full.columns
        box = F.col("id").between(lo, hi)
        got = sorted(tuple(r) for r in df.filter(box).collect())
        want = sorted(tuple(r) for r in full.filter(box).collect())
        assert got == want
