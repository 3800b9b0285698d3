"""Behavioral checks for the round-9 curation entries beyond oracle
parity: quality-aware survivor selection really picks the cluster
argmax, the cross-source matrix conserves the pair count, and
temperature mixing demotes the head language while never exceeding a
language's own count (UniMax one-epoch saturation)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.functions.text import quality_score
from pdf_etl_ocr_inference_spark.operators.dedup import (
    connected_components,
    minhash_dedup_pairs,
)
from pdf_etl_ocr_inference_spark.plans import all_specs

SF = "/root/testdata/sf0.001"

_SPECS = all_specs()


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _minhash_pairs(spark):
    return minhash_dedup_pairs(
        _docs(spark).select("doc_id", "text"),
        "text",
        "doc_id",
        jaccard_threshold=0.5,
        hash_family="md5",
    )


def test_best_quality_survivor_is_cluster_argmax(spark):
    res = {
        r["cluster_id"]: r
        for r in _SPECS["dedup_cluster_best_quality"].fn(spark, SF).collect()
    }
    assert res, "fixture corpus has near-dup clusters"
    labels, _ = connected_components(
        _minhash_pairs(spark).select("id_a", "id_b")
    )
    q = {
        r["doc_id"]: r["q"]
        for r in _docs(spark)
        .select("doc_id", quality_score("text").alias("q"))
        .collect()
    }
    clusters: dict[int, list[int]] = {}
    for r in labels.collect():
        clusters.setdefault(r["component"], []).append(r["node"])
    assert set(clusters) == set(res)
    for cid, members in clusters.items():
        want = min(members, key=lambda d: (-q[d], d))
        row = res[cid]
        assert row["survivor_id"] == want
        assert row["n_members"] == len(members)
        assert row["best_q"] == q[want]
        # the survivor's quality dominates every member's
        assert all(q[want] >= q[d] for d in members)


def test_cross_source_matrix_conserves_pairs(spark):
    mat = _SPECS["dedup_cross_source_matrix"].fn(spark, SF).collect()
    n_pairs = _minhash_pairs(spark).count()
    assert sum(r["n_pairs"] for r in mat) == n_pairs
    assert all(r["src_a"] <= r["src_b"] for r in mat)
    assert all(r["n_pairs"] > 0 for r in mat)


def test_temperature_mix_rebalances_and_saturates(spark):
    sel = _SPECS["train_temperature_mix"].fn(spark, SF).collect()
    counts = {
        r["lang"]: r["n"]
        for r in _docs(spark).groupBy("lang").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    total = sum(counts.values())
    picked: dict[str, int] = {}
    for r in sel:
        picked[r["lang"]] = picked.get(r["lang"], 0) + 1
    # every language is represented, none beyond its own count
    assert set(picked) == set(counts)
    assert all(picked[lg] <= counts[lg] for lg in picked)
    # the head language's share shrinks toward the temperature target
    en_raw = counts["en"] / total
    en_mix = picked["en"] / len(sel)
    assert en_mix < en_raw
    # tail languages gain share
    for lg in counts:
        if lg != "en":
            assert picked[lg] / len(sel) >= counts[lg] / total


def test_temperature_mix_deterministic(spark):
    fn = _SPECS["train_temperature_mix"].fn
    a = sorted((r["doc_id"], r["lang"]) for r in fn(spark, SF).collect())
    b = sorted((r["doc_id"], r["lang"]) for r in fn(spark, SF).collect())
    assert a == b


def test_centroid_outliers_are_cluster_maxima(spark):
    import math

    from pdf_etl_ocr_inference_spark.operators.clustering import (
        assign_clusters,
        init_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    centroids = init_centroids(emb, "embedding", "vec_id", 8)
    assigned = {
        r["vec_id"]: r["cluster_id"]
        for r in assign_clusters(emb, "embedding", centroids)
        .select("vec_id", "cluster_id")
        .collect()
    }
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.select("vec_id", "embedding").collect()
    }

    def qdist(v, c):
        return sum(
            (math.floor(a * 1048576.0) - math.floor(b * 1048576.0)) ** 2
            for a, b in zip(v, c)
        )

    res = _SPECS["ann_centroid_outliers"].fn(spark, SF).collect()
    by_cluster: dict[int, list] = {}
    for r in res:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, rows in by_cluster.items():
        assert len(rows) <= 3
        # every reported qdist is the exact integer distance to the
        # assigned centroid, and no non-reported member is farther
        reported = {r["vec_id"] for r in rows}
        dists = {
            v: qdist(vec, centroids[cid])
            for v, vec in vecs.items()
            if assigned[v] == cid
        }
        for r in rows:
            assert r["qdist"] == dists[r["vec_id"]]
        floor_q = min(r["qdist"] for r in rows)
        for v, d in dists.items():
            if v not in reported:
                assert d <= floor_q


def test_split_leakage_pairs_cross_and_subset(spark):
    res = _SPECS["train_split_leakage"].fn(spark, SF).collect()
    assert res, "fixture corpus has cross-split near-dup pairs"
    assert all(r["split_a"] != r["split_b"] for r in res)
    all_pairs = {
        (r["id_a"], r["id_b"])
        for r in _minhash_pairs(spark).select("id_a", "id_b").collect()
    }
    leak = {(r["id_a"], r["id_b"]) for r in res}
    assert leak <= all_pairs
    # the complement stays within one split: re-derive the split rule
    import hashlib

    def split(doc_id: int) -> str:
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16)
        return "train" if b % 10 < 8 else "eval"

    for a, b in all_pairs - leak:
        assert split(a) == split(b)
    for r in res:
        assert split(r["id_a"]) == r["split_a"]
        assert split(r["id_b"]) == r["split_b"]


def test_novelty_rate_invariants(spark):
    res = {
        r["doc_id"]: (r["n_grams"], r["n_novel"])
        for r in _SPECS["text_novelty_rate"].fn(spark, SF).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in _docs(spark).select("doc_id", "text").collect()
    }
    assert set(res) == set(docs)

    def grams(text: str) -> set:
        toks = text.strip().split()
        k = max(len(toks) - 4, 1)
        return {" ".join(toks[i : i + 5]) for i in range(k)}

    first: dict[str, int] = {}
    for d in sorted(docs):
        for g in grams(docs[d]):
            first.setdefault(g, d)
    for d, text in docs.items():
        gs = grams(text)
        n_novel = sum(1 for g in gs if first[g] == d)
        assert res[d] == (len(gs), n_novel)
    # sum of novel grams over docs == number of distinct grams
    assert sum(v[1] for v in res.values()) == len(first)


def test_curated_mix_draws_from_survivors_only(spark):
    sel = {
        r["doc_id"]: r["lang"]
        for r in _SPECS["pipeline_curated_mix"].fn(spark, SF).collect()
    }
    assert sel
    # non-survivors (cluster members other than the best) never appear
    best = {
        r["cluster_id"]: r["survivor_id"]
        for r in _SPECS["dedup_cluster_best_quality"].fn(spark, SF).collect()
    }
    labels, _ = connected_components(
        _minhash_pairs(spark).select("id_a", "id_b")
    )
    dropped = {
        r["node"]
        for r in labels.collect()
        if r["node"] != best[r["component"]]
    }
    assert not (set(sel) & dropped)
    # the mix is a subset of the plain temperature mix domain rule:
    # every language respects its survivor-count-derived quota
    surv_counts: dict[str, int] = {}
    all_langs = {
        r["doc_id"]: r["lang"]
        for r in _docs(spark).select("doc_id", "lang").collect()
    }
    for d, lg in all_langs.items():
        if d not in dropped:
            surv_counts[lg] = surv_counts.get(lg, 0) + 1
    tot = sum(n**0.5 for n in surv_counts.values())
    picked: dict[str, int] = {}
    for lg in sel.values():
        picked[lg] = picked.get(lg, 0) + 1
    for lg, n in picked.items():
        assert n <= 100 * (surv_counts[lg] ** 0.5) / tot + 1e-9


def test_kcore_is_maximal_and_consistent(spark):
    res = {
        r["doc_id"]: r["core_degree"]
        for r in _SPECS["graph_kcore"].fn(spark, SF).collect()
    }
    assert res, "fixture corpus has a non-empty 2-core"
    # rebuild the span-share edge set independently and verify the
    # core property: every member has >= 2 neighbors IN the core, and
    # no peeled node could survive (maximality via fixpoint re-peel)
    from pdf_etl_ocr_inference_spark.operators.dedup import exact_dedup
    from pdf_etl_ocr_inference_spark.operators.span_dedup import (
        positional_ngrams,
    )
    from pdf_etl_ocr_inference_spark.plans.scale_plans import (
        _gram_share_pairs,
    )

    docs = exact_dedup(
        _docs(spark).select("doc_id", "text"), "text", "doc_id"
    )
    occ = positional_ngrams(docs, "text", "doc_id", 6).select("id", "gram")
    pairs = {
        (r["ia"], r["ib"]) for r in _gram_share_pairs(occ).collect()
    }
    adj: dict[int, set] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # python reference peel
    alive = set(adj)
    while True:
        keep = {v for v in alive if len(adj[v] & alive) >= 2}
        if keep == alive:
            break
        alive = keep
    assert set(res) == alive
    for v, d in res.items():
        assert d == len(adj[v] & alive)
        assert d >= 2


def test_novelty_incremental_equals_full_recompute(spark):
    res = {
        r["id"]: (r["n_grams"], r["n_new"])
        for r in _SPECS["text_novelty_incremental"].fn(spark, SF).collect()
    }
    assert res
    docs = {
        r["doc_id"]: r["text"]
        for r in _docs(spark).select("doc_id", "text").collect()
    }

    def grams(text: str) -> set:
        toks = text.strip().split()
        return {
            " ".join(toks[i : i + 6]) for i in range(max(len(toks) - 5, 0))
        }

    corpus_grams: set = set()
    for d, t in docs.items():
        if d % 10 != 7:
            corpus_grams |= grams(t)
    both = 0
    for d, t in docs.items():
        if d % 10 != 7:
            continue
        gs = grams(t)
        if not gs:
            assert d not in res
            continue
        n_new = sum(1 for g in gs if g not in corpus_grams)
        assert res[d] == (len(gs), n_new)
        if 0 < n_new < len(gs):
            both += 1
    # the fixture exercises BOTH branches (known and novel grams)
    assert both > 0
    # batch runs the probe twice: second call must be identical
    # (index build is overwrite-idempotent)
    res2 = {
        r["id"]: (r["n_grams"], r["n_new"])
        for r in _SPECS["text_novelty_incremental"].fn(spark, SF).collect()
    }
    assert res2 == res


def test_chunk_attrition_lineage_invariants(spark):
    """pipeline_chunk_attrition_by_source: the ledger CONSERVES the
    chunk universe (n = dedup + scrub + kept per group and in total),
    dedup losses equal the chunk counts of the shared drop set
    (precedence: a dropped doc's chunks never count as scrubbed), and
    every group key is a real (source, lang) of the corpus."""
    import math

    from pdf_etl_ocr_inference_spark.plans.dedup_plans import (
        quality_cluster_members,
        quality_collapse_drop,
    )

    rows = _SPECS["pipeline_chunk_attrition_by_source"].fn(
        spark, SF
    ).collect()
    assert rows, "empty attrition ledger"
    for r in rows:
        assert (
            r["n_chunks"]
            == r["lost_dedup"] + r["lost_scrub"] + r["kept"]
        ), r
    docs = _docs(spark).collect()
    keys = {(d["source"], d["lang"]) for d in docs}
    assert {(r["source"], r["lang"]) for r in rows} <= keys

    # total chunk universe = sum of per-doc ceil(n_tokens / 20)
    def n_chunks(text: str) -> int:
        n = len([t for t in text.split() if t])
        return max(1, math.ceil(n / 20)) if n else 0

    assert sum(r["n_chunks"] for r in rows) == sum(
        n_chunks(d["text"]) for d in docs
    )

    # dedup attribution equals the shared drop set's chunk mass
    drop_ids = {
        r["doc_id"]
        for r in quality_collapse_drop(
            quality_cluster_members(spark, SF)
        ).collect()
    }
    assert drop_ids, "drop set vacuous at this SF"
    by_id = {d["doc_id"]: d["text"] for d in docs}
    assert sum(r["lost_dedup"] for r in rows) == sum(
        n_chunks(by_id[i]) for i in drop_ids
    )
    assert sum(r["lost_scrub"] for r in rows) > 0, (
        "scrub losses vacuous at this SF"
    )

    # keep-first policy column (r11): coverage under keep-first is a
    # subset of symmetric coverage, so per group the keep-first loss
    # can never exceed the symmetric one; and the column is not
    # vacuous (some group loses strictly less under keep-first,
    # else the policy knob would be untested dead weight)
    for r in rows:
        assert r["lost_scrub_keepfirst"] <= r["lost_scrub"], r
    assert sum(r["lost_scrub_keepfirst"] for r in rows) < sum(
        r["lost_scrub"] for r in rows
    )

def test_chunk_attrition_excludes_empty_documents(spark, tmp_path):
    """r11 (advice): empty/whitespace-only text tokenizes to ['']
    (size 1) in both engines, so without the trim filter an empty doc
    would be ledgered as one 'kept' chunk.  Engine and oracle must
    BOTH attribute 0 chunks to such docs — pinned by full parity on a
    fixture that contains them."""
    import math

    import duckdb

    from pdf_etl_ocr_inference_spark.plans.registry import resolve_oracle

    base = _docs(spark)
    mx = base.agg(F.max("doc_id")).first()[0]
    tmpl = base.limit(1).collect()[0].asDict()
    extras = []
    for i, txt in enumerate(["", "   \n\t  "]):
        r = dict(tmpl)
        r["doc_id"] = mx + 1 + i
        r["text"] = txt
        r["source"] = "emptysrc"
        extras.append(tuple(r[f] for f in base.columns))
    fixture = str(tmp_path / "sf_empty")
    base.unionByName(
        spark.createDataFrame(extras, base.schema)
    ).coalesce(1).write.parquet(f"{fixture}/documents.parquet")

    spec = _SPECS["pipeline_chunk_attrition_by_source"]
    rows = spec.fn(spark, fixture).collect()
    assert rows
    # the empty docs' unique source never appears: 0 chunks ledgered
    assert all(r["source"] != "emptysrc" for r in rows)
    # conservation against the python chunk count (empty docs -> 0)
    def n_chunks(text: str) -> int:
        n = len([t for t in text.split() if t])
        return max(1, math.ceil(n / 20)) if n else 0

    docs = spark.read.parquet(f"{fixture}/documents.parquet").collect()
    assert sum(r["n_chunks"] for r in rows) == sum(
        n_chunks(d["text"]) for d in docs
    )

    # full engine/oracle parity on the fixture
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{fixture}/documents.parquet/*.parquet'"
        )
        res = con.execute(resolve_oracle(spec.oracle))
        duck_cols = [d[0] for d in res.description]
        duck_rows = res.fetchall()
    finally:
        con.close()
    sdf = spec.fn(spark, fixture)
    assert sorted(sdf.columns) == sorted(duck_cols)

    def norm(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(
            tuple(r[i] for i in order) for r in rows
        )

    assert norm([tuple(r) for r in sdf.collect()], sdf.columns) == norm(
        duck_rows, duck_cols
    )

def test_span_clean_keepfirst_packs_at_least_symmetric_tokens(spark):
    """pipeline_span_clean_corpus_keepfirst (r11): keep-first scrubs
    a subset of what symmetric scrubs, so after the <30-token drop
    the surviving doc set is a superset and the packed token ledger
    can only grow."""
    sym = _SPECS["pipeline_span_clean_corpus"].fn(spark, SF).collect()
    kf = _SPECS["pipeline_span_clean_corpus_keepfirst"].fn(
        spark, SF
    ).collect()
    assert sum(r["seq_tokens"] for r in kf) >= sum(
        r["seq_tokens"] for r in sym
    )
    assert sum(r["n_docs"] for r in kf) >= sum(r["n_docs"] for r in sym)
    # non-vacuous on the fixture: the policies genuinely differ
    assert sum(r["seq_tokens"] for r in kf) > sum(
        r["seq_tokens"] for r in sym
    )


def test_span_intervals_both_leaves_no_persisted_frames(spark):
    """r11 advisory: dup_span_intervals_both must not leak a cached
    plan into the session — both interval sets are staged to scratch
    inside the call and the hit frame is unpersisted before return."""
    from pdf_etl_ocr_inference_spark.operators.span_dedup import (
        dup_span_intervals_both,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )

    # Compare persisted-RDD ID SETS, not counts (review-r12): the
    # shared-session ContextCleaner asynchronously unpersists frames
    # whose driver references earlier tests dropped, so an absolute
    # count can legitimately DECREASE mid-test; the leak invariant is
    # "this call leaves no NEW persisted RDD behind".
    def _ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = _ids()
    iv, iv_kf = dup_span_intervals_both(
        docs, "text", "doc_id", n=6, stage_tag="leak_test"
    )
    # consuming the returned frames must not resurrect the cache.
    # The invariant is COVERAGE, not row count (review-r12: dropping
    # an exempt middle hit can SPLIT one symmetric island into two
    # keep-first rows): keep-first hits ⊂ symmetric hits ⇒ covered
    # token positions ⊆ ⇒ total covered length is ≤.
    import pyspark.sql.functions as F

    cov = lambda d: (  # noqa: E731
        d.select(
            F.sum(F.col("span_end") - F.col("span_start")).alias("c")
        ).collect()[0]["c"]
        or 0
    )
    assert cov(iv) >= cov(iv_kf)
    leaked = _ids() - before
    assert not leaked, leaked


def _cached_ids(spark):
    """IDs of the Spark session's persisted RDDs that are cached
    frames: the localCheckpoint RDDs lineage truncation leaves are
    checkpoints, dropped by the ContextCleaner once unreferenced."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {
        int(k)
        for k in jmap.keySet().toArray()
        if not jmap.get(k).isCheckpointed()
    }


@pytest.mark.parametrize(
    "name", ["train_temperature_mix", "pipeline_curated_mix"]
)
def test_temperature_mix_leaves_no_persisted_frames(spark, name):
    """temperature_mix (ADVICE.md, sampling.py) must not leave a
    cached frame in the session.

    Compares persisted-RDD ID sets, as above, restricted to cached
    frames (:func:`_cached_ids`).  pipeline_curated_mix runs the
    whole curation path, near-dup stage included; the cache is
    cleared first so an earlier test's cached projection cannot hide
    a new one."""
    spark.catalog.clearCache()
    before = _cached_ids(spark)
    assert _SPECS[name].fn(spark, SF).collect()
    leaked = _cached_ids(spark) - before
    assert not leaked, leaked


def _run_dedup_operator(spark, name, tmp_path):
    from pdf_etl_ocr_inference_spark.operators.dedup import (
        hamming_near_pairs,
        simhash,
        simhash_near_pairs,
    )
    from pdf_etl_ocr_inference_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_against_index,
    )
    from pdf_etl_ocr_inference_spark.optimizer import IndexCatalog

    docs = _docs(spark).select("doc_id", "text")
    if name == "minhash_dedup_pairs":
        return minhash_dedup_pairs(docs, "text", "doc_id", hash_family="md5")
    if name == "simhash_near_pairs":
        return simhash_near_pairs(docs, "text", "doc_id")
    if name == "hamming_near_pairs":
        fps = simhash(docs, "text", "doc_id")
        return hamming_near_pairs(fps, "simhash", "doc_id")
    cat = IndexCatalog(root=str(tmp_path))
    build_minhash_index(spark, docs, "t/leak", catalog=cat)
    return dedup_against_index(
        spark, "t/leak", docs.filter(F.col("doc_id") < 50), docs,
        catalog=cat,
    )


@pytest.mark.parametrize(
    "name",
    [
        "minhash_dedup_pairs",
        "simhash_near_pairs",
        "hamming_near_pairs",
        "dedup_against_index",
    ],
)
def test_dedup_operator_leaves_no_persisted_frames(spark, name, tmp_path):
    """A dedup operator releases what it caches: calling it and
    consuming its output leaves no new cached frame in the Spark session,
    so no caller has to ``clearCache()`` after it."""
    spark.catalog.clearCache()
    before = _cached_ids(spark)
    _run_dedup_operator(spark, name, tmp_path).collect()
    leaked = _cached_ids(spark) - before
    assert not leaked, leaked


def test_span_clean_window_dedup_matches_semi_join(spark):
    """r13 perf pass (ADVICE-r12): the span-clean staged frontier
    dedups via a map-side-combinable ``min_by`` aggregate (one scan,
    one combinable fingerprint shuffle, no per-clique window
    buffering) — its survivor set must equal exact_dedup's semi-join
    rule exactly."""
    from pyspark.sql import functions as F

    from pdf_etl_ocr_inference_spark.functions.text import (
        doc_fingerprint,
        quality_score,
    )
    from pdf_etl_ocr_inference_spark.operators.dedup import exact_dedup

    from .conftest import SF0001

    docs = spark.read.parquet(f"{SF0001}/documents.parquet").select(
        "doc_id", "text"
    )
    q = docs.filter(quality_score("text") >= 0.5)
    agg = (
        q.withColumn("_fp", doc_fingerprint("text"))
        .groupBy("_fp")
        .agg(F.min_by(F.struct("doc_id", "text"), "doc_id").alias("_s"))
        .select(F.col("_s.doc_id").alias("doc_id"))
    )
    a = {r["doc_id"] for r in agg.select("doc_id").collect()}
    b = {
        r["doc_id"]
        for r in exact_dedup(q, "text", "doc_id")
        .select("doc_id")
        .collect()
    }
    assert a == b and len(a) > 0
