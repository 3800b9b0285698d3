"""The shard server behind ``serve_topk`` and ``serve_bm25``: cache
invalidation on a rebuild, crash-safe meta publish, repeated query
terms, the number of Spark jobs per lookup, and empty lookups.
"""

from __future__ import annotations

import json
import os
import random
import sys
import threading
import uuid
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_etl_ocr_inference_spark.operators.search import (
    _term_bucket,
    _xxhash64,
    bm25_topk,
    bm25_topk_indexed,
    build_postings_index,
    serve_bm25,
)
from pdf_etl_ocr_inference_spark.operators.serving import (
    build_ivf_serving_index,
    refresh_ivf_serving_index,
    serve_topk,
)
from pdf_etl_ocr_inference_spark.operators import serving
from pdf_etl_ocr_inference_spark.streaming.changefeed import (
    commit_changes,
    read_changes,
)
from pdf_etl_ocr_inference_spark.operators.shard_server import (
    META_FILES,
    WORKER_CACHE,
    _load_shard,
    _plan_bytes,
    frame_rows,
    read_meta,
    round_half_up,
    shard_token,
)

from .conftest import SF0001

DOCS = [
    (0, "spark join spark join spark"),
    (1, "spark join"),
    (2, "spark alpha beta gamma delta epsilon"),
    (3, "unrelated words only here"),
    (4, "join join join join"),
    (5, "spark vector join vector spark"),
]
# four cells on the axes of R^4; cell c holds ids 100c .. 100c+4
CENTS = [[1.0 if j == c else 0.0 for j in range(4)] for c in range(4)]


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _cell_corpus(spark):
    rows = []
    for c in range(4):
        for i in range(5):
            v = [0.0] * 4
            v[c] = 1.0
            v[(c + 1) % 4] = 0.01 * (i + 1)
            rows.append((100 * c + i, v))
    return _vecs(spark, rows)


@contextmanager
def _jobs(spark, tasks=None):
    """Count the Spark jobs run inside the block (appended to the
    yielded list on exit); with ``tasks``, append their task count
    there too."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    out: list[int] = []
    try:
        yield out
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    ids = st.getJobIdsForGroup(group)
    out.append(len(ids))
    if tasks is not None:
        tasks.append(
            sum(
                st.getStageInfo(s).numTasks
                for j in ids
                for s in st.getJobInfo(j).stageIds
            )
        )


def test_serve_ivf_rebuild_same_path_invalidates(spark, tmp_path):
    """A rebuild at the same path restarts last_version at 0; the
    build id in the cache token must still force a miss in workers
    that pinned the pre-rebuild cell."""
    path = str(tmp_path / "ivf")
    old = _vecs(spark, [(i, [1.0, 0.01 * i, 0.0, 0.0]) for i in range(10)])
    build_ivf_serving_index(spark, old, path, CENTS[:2])
    q = [(0, [1.0, 0.0, 0.0, 0.0])]
    # one task per call; enough calls to pin the cell in every idle
    # Python worker
    for _ in range(2 * spark.sparkContext.defaultParallelism):
        before = serve_topk(spark, path, q, k=3, kind="ivf", n_probe=1)
        assert {r["vec_id"] for r in before.collect()} <= set(range(10))

    new = _vecs(spark, [(500 + i, [1.0, 0.02 * i, 0.0, 0.0]) for i in range(3)])
    build_ivf_serving_index(spark, new, path, CENTS[:2])
    after = serve_topk(spark, path, q, k=3, kind="ivf", n_probe=1).collect()
    assert [r["vec_id"] for r in after] == [500, 501, 502], after


def test_ivf_meta_publish_survives_failed_write(spark, tmp_path, monkeypatch):
    """A refresh whose meta write fails part-way leaves the previous
    meta parseable, and serving keeps answering at that version."""
    path = str(tmp_path / "ivf")
    corpus = _vecs(spark, [(i, [1.0, 0.01 * i, 0.0, 0.0]) for i in range(10)])
    build_ivf_serving_index(spark, corpus, path, CENTS[:2])
    q = [(0, [1.0, 0.0, 0.0, 0.0])]
    before = serve_topk(spark, path, q, k=3, kind="ivf", n_probe=1).collect()
    # a far vector in the probed cell: not in the top 3 either way
    changes = _vecs(spark, [(99, [1.0, 0.0, 0.9, 0.0])]).withColumn(
        "_change_type", F.lit("insert")
    )
    real_dump = json.dump

    def failing_dump(obj, f, *a, **kw):
        if os.path.dirname(f.name) != path:  # the staged rebuild's meta
            return real_dump(obj, f, *a, **kw)
        f.write('{"n_shards": ')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", failing_dump)
    with pytest.raises(OSError, match="disk full"):
        refresh_ivf_serving_index(spark, path, changes, version=1)
    monkeypatch.undo()

    with open(os.path.join(path, "_ivfserve_meta.json")) as f:
        assert json.load(f)["last_version"] == 0
    again = serve_topk(spark, path, q, k=3, kind="ivf", n_probe=1).collect()
    assert again == before
    # the retried refresh publishes and serves the insert
    assert refresh_ivf_serving_index(spark, path, changes, version=1) == [0]
    near = [(0, [1.0, 0.0, 0.9, 0.0])]
    got = serve_topk(spark, path, near, k=1, kind="ivf", n_probe=1).collect()
    assert got[0]["vec_id"] == 99


def test_repeated_query_terms_count_once(spark, tmp_path):
    """bm25_scores, bm25_topk_indexed and serve_bm25 all treat a
    repeated term as one occurrence."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    path = str(tmp_path / "postings")
    build_postings_index(spark, docs, path)
    terms = ["spark", "spark", "vector"]

    def pairs(rows):
        return [(r["id"], r["score"]) for r in rows]

    want = pairs(bm25_topk_indexed(spark, path, ["spark", "vector"]).collect())
    assert want
    assert pairs(bm25_topk(docs, "text", "doc_id", terms).collect()) == want
    assert pairs(bm25_topk_indexed(spark, path, terms).collect()) == want
    assert pairs(serve_bm25(spark, path, [(0, terms)], k=20).collect()) == want


def test_warm_serve_topk_ivf_runs_no_job(spark, tmp_path):
    path = str(tmp_path / "ivf")
    build_ivf_serving_index(spark, _cell_corpus(spark), path, CENTS)
    q = [(0, [1.0, 0.5, 0.0, 0.0])]
    cold = serve_topk(spark, path, q, k=3, kind="ivf", n_probe=2).collect()
    with _jobs(spark) as n:
        warm = serve_topk(spark, path, q, k=3, kind="ivf", n_probe=2).collect()
    assert n == [0]
    assert warm == cold and len(warm) == 3


def test_warm_serve_bm25_runs_no_job(spark, tmp_path):
    """Neither a warm lookup nor one with a term never queried before
    runs a job: the term's bucket is hashed in the driver, and its
    postings load there."""
    path = str(tmp_path / "postings")
    build_postings_index(spark, spark.createDataFrame(DOCS, ["doc_id", "text"]), path)
    q = [(0, ["spark", "join"]), (1, ["vector"])]
    cold = serve_bm25(spark, path, q, k=3).collect()
    with _jobs(spark) as n:
        warm = serve_bm25(spark, path, q, k=3).collect()
        new = serve_bm25(spark, path, [(2, ["gamma", "words"])], k=3).collect()
    assert n == [0]
    assert warm == cold and {r["qid"] for r in warm} == {0, 1}
    assert {r["id"] for r in new} == {2, 3}


def test_filtered_ivf_runs_no_job(spark, tmp_path):
    """Only cell 1 passes the filter.  Round 1 probes the query's
    nearest cell (0) and finds nothing; round 2 widens to cells 0-1
    and answers only cell 1.  Both rounds and the result run in the
    driver."""
    path = str(tmp_path / "ivf")
    build_ivf_serving_index(spark, _cell_corpus(spark), path, CENTS)
    q = [(0, [1.0, 0.5, 0.2, 0.0])]
    serve_topk(spark, path, q, k=3, kind="ivf", n_probe=1).collect()
    with _jobs(spark) as n:
        got = serve_topk(
            spark, path, q, k=3, kind="ivf", n_probe=1,
            predicate=lambda i: i // 100 == 1,
        ).collect()
    assert n == [0]
    assert [r["vec_id"] for r in got] == [104, 103, 102]


def _over_budget_case(spark, tmp_path, case):
    """``(lookup, Spark jobs it runs when its shards do not fit the
    pin)`` for one lookup of each shape the shard server answers."""
    from pdf_etl_ocr_inference_spark.operators.graph_ann import (
        build_nsw_index,
    )

    q = [(0, [1.0, 0.5, 0.2, 0.0]), (1, [0.0, 0.1, 1.0, 0.3])]
    path = str(tmp_path / case)
    if case == "bm25":
        docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
        build_postings_index(spark, docs, path)
        terms = [(0, ["spark", "join"]), (1, ["vector", "words"])]
        return lambda: serve_bm25(spark, path, terms, k=3), 1
    if case == "nsw":
        build_nsw_index(spark, _cell_corpus(spark), path, n_shards=2)
        return lambda: serve_topk(spark, path, q, k=3, kind="nsw"), 1
    build_ivf_serving_index(spark, _cell_corpus(spark), path, CENTS)
    if case == "ivf":
        return lambda: serve_topk(spark, path, q, k=3, kind="ivf"), 1
    # filtered: round 1 probes cell 0 and starves, round 2 adds cell 1
    return lambda: serve_topk(
        spark, path, q[:1], k=3, kind="ivf", n_probe=1,
        predicate=lambda i: i // 100 == 1,
    ), 2


@pytest.mark.parametrize("case", ["ivf", "filtered_ivf", "nsw", "bm25"])
def test_lookup_over_the_pin_budget_runs_one_job_per_round(
    spark, tmp_path, monkeypatch, case
):
    """When the planned shards do not fit the driver's pin, each round
    is one Spark job over the Python workers' pins, and it answers
    exactly as the driver does."""
    serve, jobs = _over_budget_case(spark, tmp_path, case)
    local = serve().collect()
    assert local
    monkeypatch.setattr(WORKER_CACHE, "budget", 1)
    with _jobs(spark) as n:
        got = serve().collect()
    assert n == [jobs]
    assert got == local


def test_dispatch_runs_at_most_parallelism_tasks(spark, tmp_path, monkeypatch):
    """A dispatched lookup over more shards than ``defaultParallelism``
    cuts the sorted shards into contiguous runs: one job of at most
    ``defaultParallelism`` tasks, answering as the driver does."""
    par = spark.sparkContext.defaultParallelism
    dim = par + 3
    axes = np.eye(dim)
    rows = [
        (10 * c + i, (axes[c] + 0.01 * (i + 1) * axes[(c + 1) % dim]).tolist())
        for c in range(dim)
        for i in range(2)
    ]
    path = str(tmp_path / "ivf")
    build_ivf_serving_index(spark, _vecs(spark, rows), path, axes.tolist())
    # equidistant from every centroid: the plan holds all dim cells
    q = [(0, [1.0] * dim)]

    def serve():
        return serve_topk(
            spark, path, q, k=2 * dim, kind="ivf", n_probe=dim
        ).collect()

    local = serve()
    assert len(local) == 2 * dim
    monkeypatch.setattr(WORKER_CACHE, "budget", 1)
    tasks: list[int] = []
    with _jobs(spark, tasks) as n:
        got = serve()
    assert n == [1]
    assert 1 <= tasks[0] <= par
    assert got == local


def test_empty_lookups_keep_the_output_schema(spark, tmp_path):
    ivf = str(tmp_path / "ivf")
    # cell 4 (all-negative centroid) gets no members
    build_ivf_serving_index(
        spark, _cell_corpus(spark), ivf, CENTS + [[-1.0] * 4]
    )
    got = serve_topk(spark, ivf, [(0, [-1.0] * 4)], k=3, kind="ivf", n_probe=1)
    assert got.collect() == []
    assert got.schema == T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    post = str(tmp_path / "postings")
    build_postings_index(spark, spark.createDataFrame(DOCS, ["doc_id", "text"]), post)
    got = serve_bm25(spark, post, [(0, ["absent"])], k=3)
    assert got.collect() == []
    assert got.schema == T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField("id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )


def test_shard_keeps_one_token(tmp_path, spark):
    """A new token replaces the shard's stale state instead of leaving
    it pinned until LRU eviction."""
    path = str(tmp_path / "ivf")
    build_ivf_serving_index(spark, _cell_corpus(spark), path, CENTS)
    _load_shard(path, 0, "ivf", "a:0")
    ids, _ = _load_shard(path, 0, "ivf", "a:1")
    assert sorted(ids.tolist()) == [0, 1, 2, 3, 4]
    assert [
        v[0] for k, v in WORKER_CACHE.entries.items() if k[0] == path
    ] == ["a:1"]


def _dense_cells(spark):
    """Four cells (on the axes of R^4) of 200 rows each: big enough that
    a cell pins at least half of its on-disk bytes."""
    rng = np.random.default_rng(11)
    rows = []
    for c in range(4):
        for i in range(200):
            v = rng.random(4) * 0.1
            v[c] = 1.0
            rows.append((1000 * c + i, v.tolist()))
    return _vecs(spark, rows)


def _two_cells(path: str) -> int:
    """A pin budget of two cells of the IVF index at ``path``, each at
    the larger of its pinned and its on-disk bytes: a two-cell probe
    fits it, cold or warm, and four pinned cells do not."""
    token = shard_token(read_meta(path, "ivf"))
    WORKER_CACHE.clear()
    sizes = []
    for c in range(4):
        disk = _plan_bytes(path, "ivf", token, {c: None})
        _load_shard(path, c, "ivf", token)
        sizes.append(max(disk, WORKER_CACHE.entries[(path, c, "ivf")][2]))
    WORKER_CACHE.clear()
    return 2 * max(sizes)


def _pin_is_exact():
    return WORKER_CACHE.nbytes <= WORKER_CACHE.budget and (
        WORKER_CACHE.nbytes
        == sum(e[2] for e in WORKER_CACHE.entries.values())
    )


def test_worker_cache_stays_within_budget_in_a_long_session(
    spark, tmp_path, monkeypatch
):
    """Memory stays bounded in a long-lived serving session: loading
    more IVF cells than the pin budget holds evicts the coldest, the
    pinned total never passes the budget, and lookups answer the same
    after evicted cells reload.  Each lookup probes two cells, which
    fit the shrunken budget, so it runs in this process (no Spark job)
    against the cache this test shrinks."""
    path = str(tmp_path / "ivf")
    build_ivf_serving_index(spark, _dense_cells(spark), path, CENTS)
    queries = [(c, CENTS[c]) for c in range(4)]

    def serve_each():
        return [
            r
            for q in queries
            for r in serve_topk(
                spark, path, [q], k=3, kind="ivf", n_probe=2
            ).collect()
        ]

    want = serve_each()
    assert len(want) == 12
    token = shard_token(read_meta(path, "ivf"))
    monkeypatch.setattr(WORKER_CACHE, "budget", _two_cells(path))
    try:
        for _ in range(3):
            for c in range(4):
                _load_shard(path, c, "ivf", token)
                assert WORKER_CACHE.nbytes <= WORKER_CACHE.budget
            assert len(WORKER_CACHE.entries) < 4  # cells were evicted
            with _jobs(spark) as n:
                got = serve_each()
            assert n == [0]
            assert got == want
            assert _pin_is_exact()
    finally:
        WORKER_CACHE.clear()


def test_concurrent_lookups_share_one_pin(spark, tmp_path, monkeypatch):
    """8 client threads, each making 100 ``serve_topk`` and 100
    ``serve_bm25`` calls against a pin shrunk to two cells, so cells
    and buckets are evicted and reloaded while other threads read
    them: every answer equals the single-threaded one, and afterwards
    the pin's byte total is exact and within the budget."""
    ivf = str(tmp_path / "ivf")
    build_ivf_serving_index(spark, _dense_cells(spark), ivf, CENTS)
    post = str(tmp_path / "postings")
    build_postings_index(spark, spark.createDataFrame(DOCS, ["doc_id", "text"]), post)
    vq = [(c, CENTS[c]) for c in range(4)]
    tq = [(0, ["spark", "join"]), (1, ["vector"]), (2, ["gamma", "words"]),
          (3, ["join", "alpha"])]

    def one(i):
        v = serve_topk(spark, ivf, [vq[i % 4]], k=3, kind="ivf", n_probe=2)
        t = serve_bm25(spark, post, [tq[i % 4]], k=3)
        return v.collect(), t.collect()

    monkeypatch.setattr(WORKER_CACHE, "budget", _two_cells(ivf))
    want = [one(i) for i in range(4)]
    assert all(v and t for v, t in want)
    wrong, errors = [], []

    def client(t):
        try:
            for i in range(t, t + 100):
                if one(i) != want[i % 4]:
                    wrong.append(i)
        except Exception as e:  # reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(t,)) for t in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    try:
        assert not any(th.is_alive() for th in threads)
        assert not errors and not wrong, (errors, wrong)
        assert _pin_is_exact()
    finally:
        WORKER_CACHE.clear()


def test_round_half_up_matches_spark_round(spark):
    """At 6 places (the BM25 rank key) and 4 (every served score)."""
    rng = np.random.default_rng(7)
    vals = [
        0.0000125, 1.0000005, 2.4999995, 0.1234565, 12.3456785,
        3.0000004999, 7.25e-7, 0.0, 1e-9, 123.4567895, 0.00005,
        2.34565, -0.12345, -0.99995,
    ] + (rng.random(500) * 30).tolist() + (
        np.round(rng.random(200) * 30, 7)
    ).tolist() + (np.round(rng.random(200) * 2 - 1, 5)).tolist()
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    for places in (4, 6):
        want = [
            r["r"]
            for r in df.select(F.round("x", places).alias("r")).collect()
        ]
        got = round_half_up(np.asarray(vals, dtype="float64"), places)
        assert got.tolist() == want, places


def test_term_bucket_matches_spark_xxhash64(spark):
    """The driver's term hash equals Spark's ``xxhash64`` and the
    postings layout's ``pmod(xxhash64(term), 64)``: the empty string,
    every tail length of the hash (1/7/8/31/32/33/100 bytes),
    multi-byte UTF-8, and 3000 seeded random strings."""
    rng = random.Random(42)
    alphabet = "abcxyz019 -_.éßж中😀"
    strs = ["", "é", "ß", "ж", "中", "😀", "naïve straße жук 中文 😀🎉"]
    strs += ["q" * n for n in (1, 7, 8, 31, 32, 33, 100)]
    strs += ["中" * n for n in (1, 3, 11, 33)]
    strs += [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 120)))
        for _ in range(3000)
    ]
    rows = (
        spark.createDataFrame([(s,) for s in strs], "s string")
        .select(
            F.xxhash64("s").alias("h"),
            F.pmod(F.xxhash64("s"), F.lit(64)).alias("pb"),
        )
        .collect()
    )
    got = [(_xxhash64(s.encode("utf-8")), _term_bucket(s)) for s in strs]
    assert got == [(r["h"], r["pb"]) for r in rows]


def test_graph_walks_the_vectors_it_was_built_on(spark, tmp_path):
    """The unit matrix a graph shard is built with (its rows as the
    build task sees them, normalised by ``VecStore.unit``) equals, bit
    for bit, the one ``_load_shard`` pins for the walk."""
    from pdf_etl_ocr_inference_spark.operators.graph_ann import (
        build_nsw_index,
    )
    from pdf_etl_ocr_inference_spark.operators.shard_server import VecStore

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    path = str(tmp_path / "nsw")
    build_nsw_index(spark, emb, path, n_shards=2)
    token = shard_token(read_meta(path, "nsw"))
    for shard in range(2):
        pdf = pd.read_parquet(f"{path}/shard={shard}").sort_values("vec_id")
        ids = pdf["vec_id"].tolist()
        built = VecStore.unit(ids, pdf["embedding"])
        pinned = _load_shard(path, shard, "nsw", token)[0]
        assert sorted(pinned) == ids
        rows = pinned.V[[pinned.idx[i] for i in ids]]
        assert rows.tobytes() == built.V.tobytes(), shard


@pytest.mark.parametrize("kind", sorted(META_FILES))
def test_missing_meta_is_one_clear_error(spark, tmp_path, kind):
    """Every kind's refresh on a path with no index meta raises a
    ValueError naming the kind and the path."""
    from pdf_etl_ocr_inference_spark.operators.graph_ann import (
        refresh_nsw_index,
    )
    from pdf_etl_ocr_inference_spark.operators.hnsw import refresh_hnsw_index
    from pdf_etl_ocr_inference_spark.operators.search import (
        refresh_postings_index,
    )

    refresh = {
        "nsw": refresh_nsw_index,
        "hnsw": refresh_hnsw_index,
        "pq": serving.refresh_pq_serving_index,
        "ivf": serving.refresh_ivf_serving_index,
        "ivfpq": serving.refresh_ivfpq_serving_index,
        "postings": refresh_postings_index,
    }[kind]
    path = str(tmp_path / "missing")
    with pytest.raises(ValueError, match="build") as err:
        refresh(spark, path, None, 1)
    assert kind in str(err.value).lower() and path in str(err.value)


# ------------------------------------------------------------------
# frame_rows: the driver collect of a refresh
# ------------------------------------------------------------------


def _feed(spark, tmp_path):
    """A change feed of two commits, v=1 (ids 0..2) and v=2 (ids
    10..13, one null text)."""
    path = str(tmp_path / "feed")
    schema = "doc_id long, embedding array<double>, text string, _change_type string"
    for v, ids in ((1, range(3)), (2, range(10, 14))):
        rows = [(i, [float(i), 0.5], None if i == 11 else f"t{i}", "insert")
                for i in ids]
        commit_changes(spark.createDataFrame(rows, schema), path, v)
    return path


def _collects_as_to_arrow(spark, df, jobs):
    """``frame_rows(df)`` runs ``jobs`` jobs and gives ``toArrow()``'s
    schema and rows (in any order)."""
    with _jobs(spark) as n:
        got = frame_rows(df)
    assert n == [jobs]
    want = df.toArrow()
    assert got.schema.equals(want.schema)
    assert sorted(got.to_pylist(), key=repr) == sorted(want.to_pylist(), key=repr)
    return got


def test_frame_rows_reads_a_projection_of_a_feed_read_with_no_job(spark, tmp_path):
    feed = _feed(spark, tmp_path)
    changes = read_changes(spark, feed, since_version=0)
    got = _collects_as_to_arrow(spark, changes.select("doc_id", "text"), 0)
    assert got.num_rows == 7
    _collects_as_to_arrow(spark, changes, 0)  # with the partition column


def test_frame_rows_reads_a_renamed_projection_with_no_job(spark, tmp_path):
    changes = read_changes(spark, _feed(spark, tmp_path), since_version=1)
    renamed = changes.select(
        F.col("doc_id").alias("vec_id"),
        F.col("embedding").alias("emb"),
        "_change_type",
        F.col("_commit_version").alias("v"),
    )
    got = _collects_as_to_arrow(spark, renamed, 0)
    assert sorted(got["vec_id"].to_pylist()) == [10, 11, 12, 13]


def test_frame_rows_reads_only_the_pruned_partitions(spark, tmp_path):
    feed = _feed(spark, tmp_path)
    whole = spark.read.option("basePath", feed).parquet(feed)
    got = _collects_as_to_arrow(
        spark, whole.filter(F.col("v") == 2).select("doc_id", "v"), 0
    )
    assert sorted(got.to_pylist(), key=repr) == [
        {"doc_id": i, "v": 2} for i in range(10, 14)
    ]
    none = _collects_as_to_arrow(spark, whole.filter(F.col("v") == 7), 0)
    assert none.num_rows == 0


def test_frame_rows_collects_other_plans_with_one_job(spark, tmp_path):
    changes = read_changes(spark, _feed(spark, tmp_path), since_version=0)
    filtered = changes.filter(F.col("text").isNotNull()).select("doc_id", "text")
    assert _collects_as_to_arrow(spark, filtered, 1).num_rows == 6
    computed = changes.select((F.col("doc_id") + 1).alias("next_id"), "text")
    _collects_as_to_arrow(spark, computed, 1)


def test_frame_rows_over_the_budget_returns_no_rows(spark, tmp_path, monkeypatch):
    changes = read_changes(spark, _feed(spark, tmp_path), since_version=0)
    monkeypatch.setattr(WORKER_CACHE, "budget", 1)
    with _jobs(spark) as n:
        assert frame_rows(changes.select("doc_id", "text")) is None
    assert n == [0]
