"""A crash at each step of every publish heals on retry.

Each publish goes through ``scratch`` (``replace_dir``, ``swap_dir``,
``atomic_write_json``).  A case runs the publish once on a copy of its
start state to count the renames it makes, then, for every rename k,
runs it again on a fresh copy with the k-th rename raising (in
``kill`` mode, every later one too), checks what a reader sees right
after the crash, retries, and checks the result equals the clean
run's.  The injector is ``test_refresh_fold._renames_under``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.operators.dedup_index import (
    build_minhash_index,
    live_band_rows,
)
from pdf_etl_ocr_inference_spark.operators.matview import (
    create_materialized_view,
    matview_rewrite,
    refresh_materialized_view,
)
from pdf_etl_ocr_inference_spark.operators.result_cache import cached_result
from pdf_etl_ocr_inference_spark.optimizer import (
    IndexCatalog,
    build_lsh_index,
    probe_lsh_index,
)
from pdf_etl_ocr_inference_spark.operators.shard_server import (
    read_meta,
    swap_shards,
)
from pdf_etl_ocr_inference_spark.scratch import atomic_write_json, replace_dir
from pdf_etl_ocr_inference_spark.streaming.changefeed import (
    commit_changes,
    compact,
    diff_snapshots,
    list_versions,
    snapshot,
)

from .test_refresh_fold import _copy, _Crash, _renames_under

CHANGES = "k long, val string, _change_type string"


def _count_renames(monkeypatch, root, run) -> int:
    with monkeypatch.context() as m:
        calls = _renames_under(m, root)
        run()
    return len(calls)


def _crash(monkeypatch, root, run, k, kill=False) -> None:
    with monkeypatch.context() as m:
        _renames_under(m, root, crash_at=k, kill=kill)
        with pytest.raises(_Crash):
            run()


def _hidden_entries(d) -> list:
    return sorted(n for n in os.listdir(d) if n.startswith("_"))


# ---------------------------------------------------------------------------
# change feed
# ---------------------------------------------------------------------------


def _feed(spark, path) -> None:
    """Keys 1-4 over commits 0-2; commit 1 deletes key 2."""
    for v, rows in enumerate(
        [
            [(1, "a", "insert"), (2, "b", "insert")],
            [(3, "c", "insert"), (2, "b", "delete")],
            [(4, "d", "insert")],
        ]
    ):
        commit_changes(spark.createDataFrame(rows, CHANGES), path, v)


def _state(spark, feed) -> dict:
    return {r["k"]: r["val"] for r in snapshot(spark, feed, "k").collect()}


WANT = {1: "a", 3: "c", 4: "d"}


def test_compact_crash_at_each_step_heals_on_retry(
    spark, tmp_path, monkeypatch
):
    """``compact`` through version 1, cut at each rename and at the
    removal of the folded ``v=0``: right after the crash the snapshot
    has every key and no deleted one, and the retry leaves the base and
    the later commit only."""
    start = str(tmp_path / "start")
    _feed(spark, start)
    clean = _copy(start, tmp_path / "clean")
    n = _count_renames(
        monkeypatch, clean, lambda: compact(spark, clean, "k", 1)
    )
    assert n == 2  # park v=1, move the base in
    assert _state(spark, clean) == WANT

    steps = [(k, kill) for k in range(1, n + 1) for kill in (False, True)]
    steps.append(("remove", False))
    for k, kill in steps:
        feed = _copy(start, tmp_path / f"c{k}{kill}")
        run = lambda feed=feed: compact(spark, feed, "k", 1)  # noqa: E731
        if k == "remove":
            real = shutil.rmtree

            def rmtree(p, *a, **kw):
                if os.path.basename(p) == "v=0":
                    raise _Crash(p)
                return real(p, *a, **kw)

            with monkeypatch.context() as m:
                m.setattr(shutil, "rmtree", rmtree)
                with pytest.raises(_Crash):
                    run()
            assert list_versions(feed) == [0, 1, 2]
        else:
            _crash(monkeypatch, feed, run, k, kill)
        if not kill:
            assert _state(spark, feed) == WANT, (k, kill)
        run()
        assert _state(spark, feed) == WANT, (k, kill)
        assert list_versions(feed) == [1, 2], (k, kill)
        assert not _hidden_entries(feed), (k, kill)


def test_commit_changes_crash_shows_no_partial_commit(
    spark, tmp_path, monkeypatch
):
    """A commit cut at its rename, or by a failing write job, leaves no
    ``v=1`` for readers; the retry publishes it whole."""
    start = str(tmp_path / "start")
    rows = [(1, "a", "insert"), (2, "b", "insert")]
    commit_changes(spark.createDataFrame(rows, CHANGES), start, 0)
    rows = [(3, "c", "insert"), (2, "b", "delete")]
    change = spark.createDataFrame(rows, CHANGES)
    fail = F.udf(lambda v: 1 // 0 if v == "c" else v, "string")
    broken = change.withColumn("val", fail("val"))

    clean = _copy(start, tmp_path / "clean")
    n = _count_renames(
        monkeypatch, clean, lambda: commit_changes(change, clean, 1)
    )
    assert n == 1
    steps = [(k, kill) for k in range(1, n + 1) for kill in (False, True)]
    for k, kill in steps + [("stage", False)]:
        feed = _copy(start, tmp_path / f"c{k}{kill}")
        if k == "stage":
            with pytest.raises(Exception):
                commit_changes(broken, feed, 1)
        else:
            _crash(
                monkeypatch, feed, lambda: commit_changes(change, feed, 1), k, kill
            )
        assert list_versions(feed) == [0], (k, kill)
        assert _state(spark, feed) == {1: "a", 2: "b"}, (k, kill)
        commit_changes(change, feed, 1)
        assert list_versions(feed) == [0, 1]
        assert _state(spark, feed) == {1: "a", 3: "c"}, (k, kill)
        assert not _hidden_entries(feed), (k, kill)


# ---------------------------------------------------------------------------
# materialized view and result cache
# ---------------------------------------------------------------------------


def _define(spark, path):
    return (
        spark.read.parquet(path)
        .groupBy("grp")
        .agg(F.count("*").alias("n_rows"), F.sum("val").alias("sum_val"))
    )


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()))


def test_matview_refresh_crash_serves_old_or_new(spark, tmp_path, monkeypatch):
    """A view refresh cut at each rename leaves the old view in place
    (or, killed mid-swap, no view: the query falls through); every
    rewrite answers as the base does, and the retry serves the refreshed
    view."""
    base = str(tmp_path / "base")
    spark.range(100).select(
        "id",
        (F.col("id") % 4).cast("string").alias("grp"),
        (F.col("id") * 3).alias("val"),
    ).write.parquet(base)
    start = str(tmp_path / "start")
    create_materialized_view(spark, _define(spark, base), "v", root=start)
    old = _rows(spark.read.parquet(f"{start}/v/data"))

    before = spark.read.parquet(base)
    after = before.filter(F.col("id") % 10 != 0).withColumn(
        "val", F.when(F.col("id") % 10 == 1, F.col("val") + 5).otherwise(F.col("val"))
    )
    changes = str(tmp_path / "changes")
    diff_snapshots(before, after, "id").write.parquet(changes)
    replace_dir(base, after.write.parquet)
    q = _define(spark, base)
    want = _rows(q)

    def refresh(root):
        refresh_materialized_view(
            spark, "v", _define(spark, base), spark.read.parquet(changes),
            keys=["grp"], sum_cols={"sum_val": "val"}, root=root,
        )

    clean = _copy(start, tmp_path / "clean")
    n = _count_renames(monkeypatch, clean, lambda: refresh(clean))
    assert n == 3  # the meta in the staged copy, park, move
    for k in range(1, n + 1):
        for kill in (False, True):
            root = _copy(start, tmp_path / f"c{k}{kill}")
            _crash(monkeypatch, root, lambda: refresh(root), k, kill)
            assert _rows(matview_rewrite(q, root=root)) == want, (k, kill)
            if not kill:
                assert _rows(spark.read.parquet(f"{root}/v/data")) == old
            refresh(root)
            served = matview_rewrite(q, root=root)
            assert served is not q, (k, kill)
            assert _rows(served) == want, (k, kill)
            assert _hidden_entries(f"{root}/v") == [], (k, kill)


def test_result_cache_crash_is_a_miss_that_heals(spark, tmp_path, monkeypatch):
    """An entry whose earlier publish died before its manifest is
    republished, cut at each rename: the cache never serves a missing
    directory, the retry recomputes, and the call after it hits."""
    src = str(tmp_path / "src")
    spark.range(60).withColumn("g", F.col("id") % 3).write.parquet(src)
    q = spark.read.parquet(src).groupBy("g").agg(F.sum("id").alias("s"))
    want = _rows(q)
    start = str(tmp_path / "start")
    cached_result(q, root=start)
    (fp,) = os.listdir(start)
    os.remove(f"{start}/{fp}/_manifest.json")  # data, but no manifest

    clean = _copy(start, tmp_path / "clean")
    n = _count_renames(monkeypatch, clean, lambda: cached_result(q, root=clean))
    assert n == 3  # park data, move the new data in, the manifest
    for k in range(1, n + 1):
        for kill in (False, True):
            root = _copy(start, tmp_path / f"c{k}{kill}")
            _crash(monkeypatch, root, lambda: cached_result(q, root=root), k, kill)
            entry = f"{root}/{fp}"
            if os.path.exists(f"{entry}/_manifest.json"):
                assert os.path.isdir(f"{entry}/data"), (k, kill)
            df, hit = cached_result(q, root=root)
            assert not hit and _rows(df) == want, (k, kill)
            df, hit = cached_result(q, root=root)
            assert hit and _rows(df) == want, (k, kill)
            assert _hidden_entries(entry) == ["_manifest.json"], (k, kill)


# ---------------------------------------------------------------------------
# LSH and MinHash rebuilds over a live index
# ---------------------------------------------------------------------------


def _vectors(spark, first_id: int):
    rng = np.random.default_rng(first_id)
    rows = [(first_id + i, rng.standard_normal(8).tolist()) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _failing(df, col, id_col):
    """``df`` whose last row fails in a Python worker, so a job that
    writes it fails after writing some rows."""
    last = max(r[0] for r in df.select(id_col).collect())
    boom = F.udf(lambda v, i: 1 // 0 if i == last else v, df.schema[col].dataType)
    return df.withColumn(col, boom(col, id_col))


def _index_dirs(cat, key) -> list:
    d = os.path.dirname(cat.lookup(key)["data_path"])
    return [e.name for e in os.scandir(d) if e.is_dir()]


def _rebuild_crashes(monkeypatch, root, rebuild, broken, answer):
    """Cut ``rebuild`` at each rename and with a failing write job; the
    index keeps answering as before each time.  Returns the answer."""
    old = answer()
    with pytest.raises(Exception):
        broken()
    assert answer() == old
    with monkeypatch.context() as m:
        calls = _renames_under(m, root, crash_at=1)
        with pytest.raises(_Crash):
            rebuild()
    assert len(calls) == 1  # the meta publish is the one rename
    assert answer() == old
    return old


def test_lsh_rebuild_crash_keeps_old_index_answering(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "idx")
    cat = IndexCatalog(root=root)
    key = "t/lsh"

    def build(corpus):
        build_lsh_index(spark, corpus, key, n_planes=4, n_tables=1, catalog=cat)

    def answer():
        probe = probe_lsh_index(spark, cat.lookup(key), [1.0] * 8, 4)
        return sorted(r["vec_id"] for r in probe.collect())

    build(_vectors(spark, 0))
    old = _rebuild_crashes(
        monkeypatch, root,
        lambda: build(_vectors(spark, 100)),
        lambda: build(_failing(_vectors(spark, 100), "embedding", "vec_id")),
        answer,
    )
    assert old == list(range(40))
    build(_vectors(spark, 100))
    assert answer() == list(range(100, 140))
    assert len(_index_dirs(cat, key)) == 1


def test_minhash_rebuild_crash_keeps_old_index_answering(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "idx")
    cat = IndexCatalog(root=root)
    key = "t/minhash"

    def docs(first_id):
        rows = [
            (first_id + i, " ".join(f"w{i}x{j}" for j in range(12)))
            for i in range(6)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def answer():
        rows = live_band_rows(spark, key, catalog=cat).select("doc_id")
        return sorted({r["doc_id"] for r in rows.collect()})

    build_minhash_index(spark, docs(0), key, catalog=cat)
    old = _rebuild_crashes(
        monkeypatch, root,
        lambda: build_minhash_index(spark, docs(10), key, catalog=cat),
        lambda: build_minhash_index(
            spark, _failing(docs(10), "text", "doc_id"), key, catalog=cat
        ),
        answer,
    )
    assert old == list(range(6))
    build_minhash_index(spark, docs(10), key, catalog=cat)
    assert answer() == list(range(10, 16))
    assert len(_index_dirs(cat, key)) == 1


# ---------------------------------------------------------------------------
# shard swap
# ---------------------------------------------------------------------------


def test_swap_shards_kill_restores_shards_before_staging(tmp_path, monkeypatch):
    """A refresh killed between a shard's two renames leaves the shard
    parked; the retry restores it before ``stage`` reads it, so the
    retried fold starts from the old rows."""

    def shard(root, sh):
        return os.path.join(root, f"shard={sh}", "rows")

    def stage(tmp):
        for sh in (0, 1):
            with open(shard(path, sh)) as f:
                rows = f.read()
            os.makedirs(os.path.dirname(shard(tmp, sh)))
            with open(shard(tmp, sh), "w") as f:  # a fold: idempotent
                f.write(rows if rows.endswith("+") else rows + "+")

    start = str(tmp_path / "start")
    for sh in (0, 1):
        os.makedirs(os.path.dirname(shard(start, sh)))
        with open(shard(start, sh), "w") as f:
            f.write("old")
    atomic_write_json(f"{start}/_ivfserve_meta.json", {"last_version": 0})
    for k in range(1, 6):  # park and move per shard, then the meta
        path = _copy(start, tmp_path / f"k{k}")
        _crash(
            monkeypatch, path,
            lambda: swap_shards(path, "ivf", {}, 1, [0, 1], stage), k, True,
        )
        swap_shards(path, "ivf", {}, 1, [0, 1], stage)
        for sh in (0, 1):
            with open(shard(path, sh)) as f:
                assert f.read() == "old+", (k, sh)
        assert read_meta(path, "ivf") == {"last_version": 1}
        assert _hidden_entries(path) == ["_ivfserve_meta.json"], k


# ---------------------------------------------------------------------------
# atomic_write_json
# ---------------------------------------------------------------------------


def test_atomic_write_json_concurrent_writers(tmp_path):
    """8 threads write one path 50 times each: every call returns, the
    file always parses, and no temp file is left."""
    path = str(tmp_path / "meta.json")
    errors = []

    def writer(t):
        for i in range(50):
            try:
                atomic_write_json(path, {"t": t, "i": i, "pad": "x" * 4096})
                with open(path) as f:
                    json.load(f)
            except Exception as e:  # noqa: BLE001 — collected, asserted below
                errors.append(repr(e))

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors[:3]
    with open(path) as f:
        assert len(json.load(f)["pad"]) == 4096
    assert os.listdir(tmp_path) == ["meta.json"]
