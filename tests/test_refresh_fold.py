"""Change-feed refreshes of the IVF and postings indexes folded in the
driver: the fold writes what the Spark rebuild writes, runs one Spark
job per refresh call, and heals on a retry after a crash at any
publish step.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import numpy as np
import pyarrow.dataset as ds
import pytest
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.operators import search, serving
from pdf_etl_ocr_inference_spark.operators.search import (
    bm25_topk_indexed,
    build_postings_index,
    refresh_postings_index,
    serve_bm25,
)
from pdf_etl_ocr_inference_spark.operators.serving import (
    build_ivf_serving_index,
    refresh_ivf_serving_index,
    serve_topk,
)
from pdf_etl_ocr_inference_spark.operators.shard_server import (
    META_FILES,
    WORKER_CACHE,
    frame_bytes,
)
from pdf_etl_ocr_inference_spark.scratch import _hidden
from pdf_etl_ocr_inference_spark.streaming.changefeed import (
    commit_changes,
    read_changes,
)

from .test_shard_server import _jobs

FEED_SCHEMA = (
    "doc_id long, embedding array<double>, text string, _change_type string"
)
# four cells on the axes of R^4
CENTS = [[1.0 if j == c else 0.0 for j in range(4)] for c in range(4)]


def _corpus():
    """40 vectors in 4 dims with their texts; id 0 lies on the tie of
    cells 0 and 1 (the lower cell wins)."""
    rng = np.random.default_rng(7)
    emb = rng.normal(size=(40, 4)).round(3)
    emb[0] = [0.5, 0.5, 0.0, 0.0]
    words = ["spark", "vector", "join", "cell", "feed", "index"]
    return [
        (i, [float(x) for x in emb[i]], " ".join(words[i % 6 : i % 6 + 3]))
        for i in range(40)
    ]


CORPUS = _corpus()
TEXTS = [
    "tab\tseparated\twords spark",
    "runs   of    spaces",
    "  leading and trailing  ",
    "non\u00a0breaking space",
    "",
    None,
    "spark spark  vector spark",
]


def _commits():
    """Versions 1..3 of the feed: inserts, deletes and an update that
    moves id 5 across cells; an insert of an existing id; an empty
    commit."""
    base = {i: (e, t) for i, e, t in CORPUS}
    v1 = [
        (1000 + n, [0.1 * n, 1.0, -0.2, 0.3 * n], t, "insert")
        for n, t in enumerate(TEXTS)
    ]
    v1 += [(i, *base[i], "delete") for i in (3, 17)]
    v1 += [
        (5, *base[5], "update_preimage"),
        (5, [-base[5][0][0], 2.0, 0.0, 0.0], "moved five", "update_postimage"),
    ]
    v2 = [
        (8, [0.0, 0.0, 1.5, -1.0], "\tleading tab", "insert"),
        (1010, [0.2, 0.2, 0.2, 0.2], "trailing tab\t", "insert"),
    ]
    return [v1, v2, []]


def _build(spark, root):
    rows = spark.createDataFrame(CORPUS, "doc_id long, embedding array<double>, text string")
    ivf, post = str(root / "ivf"), str(root / "postings")
    build_ivf_serving_index(
        spark, rows.select(F.col("doc_id").alias("vec_id"), "embedding"), ivf, CENTS
    )
    build_postings_index(spark, rows, post, text_col="text", id_col="doc_id")
    return ivf, post


def _changes(spark, feed, v):
    changes = read_changes(spark, feed, since_version=v - 1)
    ivf = changes.select(F.col("doc_id").alias("vec_id"), "embedding", "_change_type")
    docs = changes.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select("doc_id", "text")
    return ivf, docs


def _refresh(spark, ivf, post, feed, v):
    ivf_changes, docs = _changes(spark, feed, v)
    touched = refresh_ivf_serving_index(spark, ivf, ivf_changes, v)
    refresh_postings_index(spark, post, docs, v, text_col="text", id_col="doc_id")
    return touched


def _meta(path, kind, *keys):
    with open(os.path.join(path, META_FILES[kind])) as f:
        meta = json.load(f)
    return {k: meta[k] for k in keys}


def _cells(ivf):
    """{cell: sorted (vec_id, embedding)} as the serving loader reads
    them, plus the published version."""
    out = {}
    for d in sorted(glob.glob(os.path.join(ivf, "shard=*"))):
        tbl = ds.dataset(d, format="parquet").to_table()
        rows = zip(tbl["vec_id"].to_pylist(), tbl["embedding"].to_pylist())
        out[int(d.rsplit("=", 1)[1])] = sorted((i, tuple(e)) for i, e in rows)
    return out, _meta(ivf, "ivf", "last_version")


def _postings(spark, post):
    df = spark.read.parquet(post)
    rows = sorted(tuple(r) for r in df.collect())
    return df.schema.simpleString(), rows, _meta(
        post, "postings", "n_docs", "sum_dl", "last_version"
    )


QUERIES = [(0, [1.0, 0.2, 0.0, 0.0]), (1, [0.0, 1.0, 0.4, 0.0]), (2, [0.0, 0.0, 1.5, -1.0])]
TERMS = [
    (0, ["spark", "tab"]),
    (1, ["space", "non\u00a0breaking", ""]),
    (2, ["leading", "trailing", "moved"]),
    (3, ["separated", "words", "runs", "of"]),
]


def _served(spark, ivf, post):
    vec = serve_topk(spark, ivf, QUERIES, k=5, kind="ivf", n_probe=2).collect()
    txt = serve_bm25(spark, post, TERMS, k=5).collect()
    return [tuple(r) for r in vec], [tuple(r) for r in txt]


def _state(spark, ivf, post):
    return _cells(ivf), _postings(spark, post), _served(spark, ivf, post)


def _no_spark_rebuild(monkeypatch):
    """Fail if a refresh leaves the driver fold for the Spark path."""

    def boom(*a, **k):
        raise AssertionError("refresh took the Spark path")

    monkeypatch.setattr(serving, "refresh_sharded_graph", boom)
    monkeypatch.setattr(search, "_postings_rows", boom)


def test_fold_equals_spark_refresh(spark, tmp_path, monkeypatch):
    """The same commits folded in the driver and rebuilt by Spark (pin
    budget 1 byte) leave the same cells, postings, meta and answers;
    a re-delivered version changes nothing."""
    feed = str(tmp_path / "feed")
    fold = _build(spark, tmp_path / "fold")
    full = _build(spark, tmp_path / "spark")
    for v, rows in enumerate(_commits(), start=1):
        commit_changes(spark.createDataFrame(rows, FEED_SCHEMA), feed, v)
        with monkeypatch.context() as m:
            _no_spark_rebuild(m)
            touched = _refresh(spark, *fold, feed, v)
        with monkeypatch.context() as m:
            m.setattr(WORKER_CACHE, "budget", 1)
            assert _refresh(spark, *full, feed, v) == touched
        assert _state(spark, *fold) == _state(spark, *full)
    assert touched == []  # the empty commit

    # the update moved id 5 out of its cell; id 8 was replaced in its
    # cell
    cells, _ = _cells(fold[0])
    assert sum(i == 5 for c in cells.values() for i, _ in c) == 1
    assert [e for i, e in cells[2] if i == 8] == [(0.0, 0.0, 1.5, -1.0)]
    assert [i for i, _ in cells[0]].count(0) == 1  # the tie goes to cell 0

    before = _state(spark, *fold)
    with monkeypatch.context() as m:
        _no_spark_rebuild(m)
        assert _refresh(spark, *fold, feed, 2) == []
    assert _state(spark, *fold) == before

    # the whitespace cases, as Spark's split(trim(text), '\\s+') gives them
    _, rows, meta = _postings(spark, fold[1])
    got = {(t, i) for t, i, *_ in rows if i >= 1000 or i == 8}
    assert {("tab", 1000), ("separated", 1000), ("non\u00a0breaking", 1003),
            ("", 1004), ("", 8), ("leading", 8), ("", 1010)} <= got
    assert ("", 1002) not in got and 1005 not in {i for _, i in got}
    assert ("spark", 1006, 4, 3) in {r[:4] for r in rows}  # tf counts repeats
    assert meta["n_docs"] == 40 + 8 + 2


def test_small_commit_folds_with_one_job_per_refresh(spark, tmp_path):
    """The IVF frame only renames columns of the change-feed read, so
    its rows are read from the commit's files with no job; the
    postings frame filters on ``_change_type``, a data column, so it
    is collected with one job."""
    ivf, post = _build(spark, tmp_path)
    feed = str(tmp_path / "feed")
    commit_changes(spark.createDataFrame(_commits()[0], FEED_SCHEMA), feed, 1)
    ivf_changes, docs = _changes(spark, feed, 1)
    with _jobs(spark) as n_ivf:
        refresh_ivf_serving_index(spark, ivf, ivf_changes, 1)
    with _jobs(spark) as n_post:
        refresh_postings_index(spark, post, docs, 1, text_col="text", id_col="doc_id")
    assert (n_ivf, n_post) == ([0], [1])


def test_change_feed_cycle_runs_only_the_commit_job(spark, tmp_path):
    """A commit, its read and both refreshes, called as the search_serve
    benchmark calls them, run one Spark job: the commit's write.  Both
    indexes then serve the commit."""
    ivf, post = _build(spark, tmp_path)
    feed = str(tmp_path / "feed")
    rows = spark.createDataFrame(_commits()[1], FEED_SCHEMA)
    with _jobs(spark) as n:
        commit_changes(rows, feed, 1)
        changes = read_changes(spark, feed, since_version=0)
        refresh_ivf_serving_index(
            spark, ivf,
            changes.select(F.col("doc_id").alias("vec_id"), "embedding", "_change_type"),
            1,
        )
        refresh_postings_index(
            spark, post, changes.select("doc_id", "text"), 1,
            text_col="text", id_col="doc_id",
        )
    assert n == [1]
    q = [(0, [0.2, 0.2, 0.2, 0.2])]
    assert serve_topk(spark, ivf, q, k=1, kind="ivf", n_probe=4).collect()[0][1] == 1010
    assert {r["id"] for r in serve_bm25(spark, post, [(0, ["trailing"])], k=5).collect()} == {1010}


def test_small_commit_of_a_feed_over_the_budget_folds(
    spark, tmp_path, monkeypatch
):
    """The rule sizes the commit the refresh reads, not the feed: with
    an earlier commit far over the (shrunk) pin budget, a small commit
    read with ``since_version`` still folds in the driver.  Catalyst
    sizes a partition-filtered read of the whole feed as the whole
    feed; ``frame_bytes`` caps it by the files the scan selects."""
    ivf, post = _build(spark, tmp_path)
    feed = str(tmp_path / "feed")
    big = spark.range(20000).select(
        (F.col("id") + 5000).alias("doc_id"),
        F.array(*[F.rand(seed=j) for j in range(4)]).alias("embedding"),
        F.repeat(F.lit("filler "), 40).alias("text"),
        F.lit("insert").alias("_change_type"),
    )
    commit_changes(big, feed, 1)
    commit_changes(spark.createDataFrame(_commits()[1], FEED_SCHEMA), feed, 2)
    budget = 64 << 10
    ivf_changes, docs = _changes(spark, feed, 2)
    whole = spark.read.option("basePath", feed).parquet(feed).filter(F.col("v") >= 2)
    # Catalyst's own estimate of the pruned read is the whole feed
    catalyst = whole._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(catalyst) > budget >= frame_bytes(whole)
    with monkeypatch.context() as m:
        _no_spark_rebuild(m)
        m.setattr(WORKER_CACHE, "budget", budget)
        assert refresh_ivf_serving_index(spark, ivf, ivf_changes, 2) == [0, 2]
        refresh_postings_index(spark, post, docs, 2, text_col="text", id_col="doc_id")
    assert _meta(post, "postings", "n_docs", "last_version") == {
        "n_docs": 42, "last_version": 2
    }


def test_staged_postings_are_hidden_from_spark_readers(
    spark, tmp_path, monkeypatch
):
    """A fold killed after staging (no cleanup runs) leaves
    ``_staged_v<N>`` in the index.  Spark's reads of the index, as
    ``bm25_topk_indexed`` makes them, do not see it, and the retry
    publishes the version as a clean fold does."""
    _, post = _build(spark, tmp_path / "base")
    feed = str(tmp_path / "feed")
    commit_changes(spark.createDataFrame(_commits()[0], FEED_SCHEMA), feed, 1)
    _, docs = _changes(spark, feed, 1)

    def refresh(path):
        refresh_postings_index(spark, path, docs, 1, text_col="text", id_col="doc_id")

    clean = _copy(post, tmp_path / "clean")
    refresh(clean)
    terms = ["spark", "tab", "words", "vector"]

    def read(path):
        df = spark.read.parquet(path)
        top = bm25_topk_indexed(spark, path, terms, k=5).collect()
        return df.schema.simpleString(), df.count(), [tuple(r) for r in top]

    before = read(post)
    real_rmtree = shutil.rmtree
    with monkeypatch.context() as m:
        _renames_under(m, tmp_path / "base", crash_at=1)  # the v=1 rename
        m.setattr(
            shutil, "rmtree",
            lambda p, *a, **k: None
            if "staged" in os.path.basename(p)
            else real_rmtree(p, *a, **k),
        )
        with pytest.raises(_Crash):
            refresh(post)
    staged = glob.glob(f"{post}/_*staged*")
    assert len(staged) == 1 and os.listdir(staged[0])
    assert read(post) == before
    refresh(post)
    assert not os.path.exists(staged[0])
    assert _postings(spark, post) == _postings(spark, clean)
    assert read(post) == read(clean)


def test_null_text_sums_as_spark_sizes_it_without_ansi(
    spark, tmp_path, monkeypatch
):
    """Without ANSI, Spark's ``size(null)`` is -1 and the Spark path's
    Σdl counts it; the fold does the same."""
    feed = str(tmp_path / "feed")
    rows = [(1000, [1.0, 0.0, 0.0, 0.0], None, "insert"),
            (1001, [1.0, 0.0, 0.0, 0.0], "two words", "insert")]
    commit_changes(spark.createDataFrame(rows, FEED_SCHEMA), feed, 1)
    _, docs = _changes(spark, feed, 1)
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        metas = []
        for name, budget in (("fold", WORKER_CACHE.budget), ("spark", 1)):
            _, post = _build(spark, tmp_path / name)
            with monkeypatch.context() as m:
                m.setattr(WORKER_CACHE, "budget", budget)
                refresh_postings_index(spark, post, docs, 1, text_col="text", id_col="doc_id")
            metas.append(_postings(spark, post))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert metas[0] == metas[1]
    base = sum(len(t.split()) for _, _, t in CORPUS)
    assert metas[0][2]["sum_dl"] == base + 2 - 1


class _Crash(Exception):
    pass


def _renames_under(monkeypatch, root, crash_at=None, kill=False):
    """Count the ``os.replace`` calls from or to a path under ``root``;
    raise :class:`_Crash` instead of the ``crash_at``-th one and, with
    ``kill``, instead of every later one too: a killed process renames
    nothing more, so a swap cannot put its parked copy back."""
    real = os.replace
    calls = []

    def replace(src, dst, *a, **k):
        if str(src).startswith(str(root)) or str(dst).startswith(str(root)):
            calls.append(src)
            n = len(calls)
            if crash_at is not None and (
                n == crash_at or (kill and n > crash_at)
            ):
                raise _Crash(src)
        return real(src, dst, *a, **k)

    monkeypatch.setattr(os, "replace", replace)
    return calls


def _copy(src, dst):
    shutil.copytree(src, dst)
    return str(dst)


@pytest.mark.parametrize("kind", ["ivf", "postings"])
def test_fold_crash_at_each_publish_step_heals_on_retry(
    spark, tmp_path, monkeypatch, kind
):
    """A fold that dies at any rename of its publish (after staging;
    between a cell's two renames; after the swaps, at the meta publish;
    for postings before and after the ``v=1`` rename), also when no
    rename runs after it (``kill``: a cell stays parked), or while staging
    leaves the version unpublished and no cell lost; the retry of that
    version gives the index a clean fold gives."""
    ivf, post = _build(spark, tmp_path / "base")
    base = ivf if kind == "ivf" else post
    feed = str(tmp_path / "feed")
    commit_changes(spark.createDataFrame(_commits()[0], FEED_SCHEMA), feed, 1)
    ivf_changes, docs = _changes(spark, feed, 1)

    def fold(path):
        if kind == "ivf":
            return refresh_ivf_serving_index(spark, path, ivf_changes, 1)
        refresh_postings_index(spark, path, docs, 1, text_col="text", id_col="doc_id")

    def state(path):
        return _cells(path) if kind == "ivf" else _postings(spark, path)

    clean = _copy(base, tmp_path / "clean")
    with monkeypatch.context() as m:
        renames = _renames_under(m, tmp_path / "clean")
        fold(clean)
    want = state(clean)
    # ivf: two per touched cell and the meta; postings: v=1 and the meta
    assert len(renames) >= 3 if kind == "ivf" else len(renames) == 2

    crashes = [
        (step, k)
        for k in range(1, len(renames) + 1)
        for step in ("rename", "kill")
    ]
    crashes.append(("stage", 2 if kind == "ivf" else 1))
    for step, k in crashes:
        path = _copy(base, tmp_path / f"{step}{k}")
        with monkeypatch.context() as m:
            if step != "stage":
                _renames_under(m, path, crash_at=k, kill=step == "kill")
            else:
                real, calls = (serving if kind == "ivf" else search).write_shard, []

                def write_shard(tbl, d, real=real, calls=calls, k=k):
                    calls.append(d)
                    if len(calls) == k:
                        raise _Crash(d)
                    real(tbl, d)

                m.setattr(serving if kind == "ivf" else search, "write_shard", write_shard)
            with pytest.raises(_Crash):
                fold(path)
        meta = _meta(path, kind, "last_version")
        assert meta == {"last_version": 0}, (step, k)
        if kind == "ivf":  # every cell is live or parked, none lost
            for c in _cells(base)[0]:
                cell = f"{path}/shard={c}"
                assert os.path.isdir(cell) or os.path.isdir(
                    _hidden(cell, "parked")
                ), (step, k, c)
        fold(path)
        assert state(path) == want, (step, k)
        # no staged or parked copy is left in the index or beside it
        assert sorted(os.listdir(path)) == sorted(os.listdir(clean)), (step, k)
        assert not [n for n in os.listdir(tmp_path) if n.startswith("_")]
