"""Full-text ranked retrieval: distributed BM25 (Okapi) scoring.

The reference's retrieval story is embedding-vector search
(``ocr-tesseract-unstructured.py:145-170``); lexical ranked retrieval
is the standard complement (hybrid search re-ranks the union of BM25
and ANN candidates), and at corpus-build time BM25 doubles as a
relevance filter for query-conditioned corpus selection.

Shape (no Python UDFs, no driver round-trips):

1. tokenize + doc lengths                       narrow map
2. explode tokens, FILTER TO THE QUERY'S TERMS  — the predicate lands
   right after the generator, so only matching postings ever enter a
   shuffle; the corpus-sized token stream is never shuffled
3. tf per (doc, term)                           ONE combinable shuffle
4. df per term (tiny: |query| rows)             broadcast back
5. corpus stats (N, avgdl)                      1-row agg, broadcast
   cross-join — never collected to the driver
6. per-doc score sum, quantized rank, top-k

Scoring: idf = ln(1 + (N - df + ½)/(df + ½)), Robertson-Sparck-Jones
with the +1 floor (Lucene's variant — keeps idf positive for terms in
more than half the corpus); tf saturation k1=1.2, length
normalization b=0.75.

Determinism: ranking compares ROUND(score, 6), ties broken by doc id,
so engines that differ in the last float ulp still rank identically.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.operators.shard_server import (
    _load_shard,
    dispatch,
    merge_topk,
    publish_meta,
    read_meta,
    shard_token,
)

K1 = 1.2
B = 0.75


def bm25_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
) -> DataFrame:
    """Raw BM25 scores for every doc matching >= 1 query term:
    (id, _score).  Building block for ``bm25_topk`` and hybrid
    fusion; no ranking or rounding applied.

    Shape (r12 perf pass — guide §2.3/§2.4): doc length rides the
    postings rows (``dl`` is a constant within a doc, so grouping by
    ``(id, dl, term)`` is the same grouping as ``(id, term)``).  The
    r11 shape kept ``dl`` as its own corpus-sized frame and joined it
    back into the (tiny) matching-postings set — a corpus-wide
    exchange (Catalyst chose to BROADCAST the per-doc length table,
    which at 100 TB is a driver-killing plan) — and computed df by
    re-deriving the whole tf subtree a second time (4 corpus tokenize
    passes in the physical plan).  Now: one corpus pass for
    (N, avgdl) — a combinable 1-row agg — and one corpus pass for the
    postings; everything after the term filter is proportional to
    matching postings, never the corpus.

    Per-term document frequency (r13, ADVICE-r12): one conditional
    ``array_contains`` count per query term RIDES THE STATS PASS —
    the same combinable 1-row aggregate that already computes
    (N, avgdl) — and reaches the postings through the existing 1-row
    broadcast as a term→df map literal lookup.  df(t) = #docs whose
    token array contains t ≡ #distinct (id, t) postings groups, the
    value the r12 window computed.  The r12 window form —
    ``count() over partitionBy(term)`` — routed EVERY posting row of
    a term into a single window partition, so one stop-word query
    term made one task buffer (and spill) the whole posting list at
    100 TB; this shape has no per-term partition anywhere — df is
    map-side-combined into one row — and adds zero exchanges, zero
    extra passes, zero joins.

    A repeated query term counts once (set semantics, like
    ``bm25_topk_indexed`` and ``serve_bm25``)."""
    query_terms = list(dict.fromkeys(query_terms))
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    docs = df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size("_toks")).alias("avgdl"),
        *[
            F.sum(
                F.array_contains("_toks", t).cast("long")
            ).alias(f"_df{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    tf = (
        docs.select(
            "id", F.size("_toks").alias("dl"),
            F.explode("_toks").alias("term"),
        )
        .filter(F.col("term").isin(query_terms))
        .groupBy("id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    from itertools import chain as _chain

    df_map = F.create_map(
        *_chain.from_iterable(
            (F.lit(t), F.col(f"_df{i}"))
            for i, t in enumerate(query_terms)
        )
    )
    scored = (
        tf.crossJoin(F.broadcast(stats))
        .withColumn("df", df_map[F.col("term")])
        .select(
            "id",
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * F.col("tf")
                * (K1 + 1.0)
                / (
                    F.col("tf")
                    + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("_s"),
        )
        .groupBy("id")
        .agg(F.sum("_s").alias("_score"))
    )
    return scored


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k: int = 20,
    table_key: str | None = None,
) -> DataFrame:
    """Top-k documents for a bag-of-words query: (id, score).

    ``table_key`` declares that ``df`` is exactly the corpus whose
    postings index is registered under that key: the BM25 hint rides
    the score column's metadata and ``optimizer.rewrite_bm25_topk``
    may substitute the postings-index probe for this corpus-wide
    scan — same contract as ``topk_exact``'s similarity hint.  The
    hinted plan ranks on the ROUNDED-4 score attribute itself (so
    the rewrite rule can match the sort key structurally); the
    unhinted path keeps the finer 6-decimal rank."""
    scored = bm25_scores(df, text_col, id_col, query_terms)
    if table_key is None:
        return (
            scored.orderBy(F.round("_score", 6).desc(), "id")
            .limit(k)
            .select("id", F.round("_score", 4).alias("score"))
        )
    import json as _json

    from pdf_etl_ocr_inference_spark.optimizer import BM25_HINT_KEY

    hint = _json.dumps(
        {"query_terms": list(query_terms), "table_key": table_key}
    )
    return (
        scored.select(
            "id",
            F.round("_score", 4).alias(
                "score", metadata={BM25_HINT_KEY: hint}
            ),
        )
        .orderBy(F.desc("score"), "id")
        .limit(k)
    )


def _ranked_topk(
    scored: DataFrame, score_col: str, k: int, quant: int = 6
) -> DataFrame:
    """(id, rank) for the quantized-score top-k.  The top-k cut is a
    distributed TakeOrderedAndProject; the rank window then runs over
    only k rows (never the corpus).  ``quant`` sets the score-rounding
    used as the ordering key (ties broken by id): coarser quantization
    makes the selection robust to last-ulp float differences between
    engines / reduction orders at the cost of more id-order ties."""
    from pyspark.sql import Window

    topk = scored.orderBy(
        F.round(score_col, quant).desc(), "id"
    ).limit(k)
    w = Window.orderBy(F.round(score_col, quant).desc(), "id")
    return topk.select(
        "id", F.row_number().over(w).alias("rank")
    )


def hybrid_rrf(
    lex_scored: DataFrame,
    vec_scored: DataFrame,
    k_each: int = 20,
    k_out: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a vector retrieval leg
    (Cormack et al. SIGIR'09): score = Σ_legs 1/(c + rank), docs
    missing from a leg contribute nothing.  Inputs are raw scored
    sets with columns (id, _score); output (id, lex_rank, vec_rank,
    rrf) for the fused top ``k_out``."""
    lex = _ranked_topk(lex_scored, "_score", k_each).withColumnRenamed(
        "rank", "lex_rank"
    )
    vec = _ranked_topk(vec_scored, "_score", k_each).withColumnRenamed(
        "rank", "vec_rank"
    )
    fused = lex.join(vec, "id", "full_outer").select(
        "id",
        "lex_rank",
        "vec_rank",
        (
            F.coalesce(1.0 / (c + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (c + F.col("vec_rank")), F.lit(0.0))
        ).alias("_rrf"),
    )
    return (
        fused.orderBy(F.round("_rrf", 6).desc(), "id")
        .limit(k_out)
        .select(
            "id",
            "lex_rank",
            "vec_rank",
            F.round("_rrf", 6).alias("rrf"),
        )
    )


# ------------------------------------------------------------------ #
# Two-stage ranked retrieval: cheap candidate generation over the    #
# corpus, expensive model scoring over candidates only — the         #
# retrieve -> rerank split every production search stack uses        #
# (the reranker sees k docs, not the corpus, so its cost is O(k)     #
# regardless of corpus size).                                        #
# ------------------------------------------------------------------ #


def make_rerank_udf(query_terms: list[str], score_fn=None):
    """Iterator pandas UDF scoring (query, doc-text) relevance — the
    OP-23 inference template (client init once per iterator, Arrow
    batches).  ``score_fn(texts) -> list[float]`` is the injection
    point for a real cross-encoder; the default is the deterministic
    stub ``stub_cross_score`` so results are reproducible and
    SQL-replayable (the catalog oracle depends on that)."""
    from pyspark.sql import types as T

    fn = score_fn or (lambda texts: stub_cross_score(query_terms, texts))

    @F.pandas_udf(T.DoubleType())
    def rerank(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # a real client would be constructed HERE, once per iterator
        for series in it:
            yield pd.Series(fn(series.tolist()))

    return rerank


def stub_cross_score(query_terms: list[str], texts: list[str]) -> list[float]:
    """Deterministic stand-in for a cross-encoder: query-term
    occurrence count normalized by sqrt(doc length).  Favors
    term-dense short docs — a DIFFERENT ranking than BM25 (no idf, no
    tf saturation), so the rerank stage visibly reorders."""
    import math

    out = []
    for t in texts:
        toks = t.strip().split()
        hits = sum(toks.count(q) for q in query_terms)
        out.append(hits / math.sqrt(len(toks)) if toks else 0.0)
    return out


def rerank_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    candidates_k: int = 50,
    k: int = 10,
    score_fn=None,
) -> DataFrame:
    """BM25 top-``candidates_k`` -> model rerank -> top-``k``:
    (id, bm25_rank, score).  The candidate cut is a distributed
    TakeOrderedAndProject; only ``candidates_k`` rows cross the
    Python boundary."""
    cand = _ranked_topk(
        bm25_scores(df, text_col, id_col, query_terms),
        "_score",
        candidates_k,
    ).withColumnRenamed("rank", "bm25_rank")
    texts = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_text")
    )
    scored = cand.join(texts, "id").withColumn(
        "_rr", make_rerank_udf(query_terms, score_fn)("_text")
    )
    return (
        scored.orderBy(F.round("_rr", 6).desc(), "id")
        .limit(k)
        .select("id", "bm25_rank", F.round("_rr", 4).alias("score"))
    )


# ------------------------------------------------------------------ #
# Persisted postings index: BM25 without re-tokenizing the corpus    #
# per query.  Layout mirrors the other incremental indexes           #
# (span_index / dedup_index): term-keyed rows partitioned by         #
# _pb = pmod(xxhash64(term), 64) so a query scans only its terms'    #
# partition dirs; corpus stats (N, Σdl) ride the meta and are        #
# maintained by every refresh, so scoring needs NO corpus pass.      #
# Append-only contract like the span index: batches carry new doc    #
# ids only; updates/deletes are a compaction (rebuild).              #
# ------------------------------------------------------------------ #

_POSTINGS_PB = 64
_PB_MEMO: OrderedDict[str, int] = OrderedDict()
_PB_MEMO_MAX = 4096  # terms whose bucket is remembered


def _term_buckets(spark, terms: list[str]) -> dict[str, int]:
    """term -> ``_pb`` bucket, ``pmod(xxhash64(term), 64)`` as the
    postings layout computes it.  Memoised per term in a bounded LRU;
    only terms not seen before cost a (one-row-per-term) job."""
    new = sorted({t for t in terms if t not in _PB_MEMO})
    if new:
        for r in (
            spark.createDataFrame([(t,) for t in new], "term string")
            .select(
                "term",
                F.pmod(F.xxhash64("term"), F.lit(_POSTINGS_PB)).alias("_pb"),
            )
            .collect()
        ):
            _PB_MEMO[r["term"]] = int(r["_pb"])
    out = {}
    for t in terms:
        out[t] = _PB_MEMO[t]
        _PB_MEMO.move_to_end(t)
    while len(_PB_MEMO) > _PB_MEMO_MAX:
        _PB_MEMO.popitem(last=False)
    return out


def _postings_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    docs = df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
    return (
        docs.select("id", F.size("_toks").alias("dl"), F.explode("_toks").alias("term"))
        .groupBy("term", "id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("_pb", F.pmod(F.xxhash64("term"), F.lit(_POSTINGS_PB)))
    )


def build_postings_index(
    spark, df: DataFrame, path: str, text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Materialize (term, id, dl, tf) postings partitioned by the
    term-hash bucket, plus corpus stats in the meta.  One combinable
    shuffle over the corpus, written once."""
    from pdf_etl_ocr_inference_spark.scratch import new_build_id

    rows = _postings_rows(df, text_col, id_col).withColumn("v", F.lit(0))
    (
        rows.repartition("_pb")
        .sortWithinPartitions("_pb", "term", "id")
        .write.mode("overwrite")
        .partitionBy("v", "_pb")
        .parquet(path)
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    stats = df.select(F.size(toks).alias("dl")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
    ).first()
    publish_meta(
        path,
        "postings",
        {
            "n_docs": int(stats["n"]),
            "sum_dl": int(stats["sum_dl"]),
            "last_version": 0,
            # unique per build: versions restart at 0 on a rebuild at
            # the same path, so worker caches key on this nonce too
            "build_id": new_build_id(),
        },
    )
    return path


def refresh_postings_index(
    spark, path: str, batch: DataFrame, version: int,
    text_col: str = "text", id_col: str = "doc_id",
) -> None:
    """Fold a new-arrivals batch in: append its postings under a
    ``v=<version>`` partition, bump the corpus stats (N, Σdl) in the
    meta.  Idempotent per version: the watermark skips re-applied
    commits AND a retry clears its own version dir first, so a crash
    between the append and the meta bump cannot double-count."""
    import os
    import shutil

    meta = read_meta(path, "postings")
    if version <= meta["last_version"]:
        return
    shutil.rmtree(os.path.join(path, f"v={version}"), ignore_errors=True)
    rows = _postings_rows(batch, text_col, id_col).withColumn(
        "v", F.lit(version)
    )
    (
        rows.repartition("_pb")
        .sortWithinPartitions("_pb", "term", "id")
        .write.mode("append")
        .partitionBy("v", "_pb")
        .parquet(path)
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    stats = batch.select(F.size(toks).alias("dl")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
    ).first()
    meta["n_docs"] += int(stats["n"] or 0)
    meta["sum_dl"] += int(stats["sum_dl"] or 0)
    meta["last_version"] = version
    publish_meta(path, "postings", meta)


def bm25_topk_indexed(
    spark, path: str, query_terms: list[str], k: int = 20,
    rank_decimals: int = 6,
) -> DataFrame:
    """BM25 top-k served FROM the postings index: the scan touches
    only the query terms' ``_pb`` partition dirs and the matching
    term rows inside them (min/max row-group pruning on the sorted
    ``term`` column); corpus stats come from the meta — no corpus
    pass, no full-index scan.  Scores are identical to the batch
    ``bm25_topk`` by construction (same formula, same stats) —
    asserted in tests and by the catalog oracle."""
    meta = read_meta(path, "postings")
    n_docs = meta["n_docs"]
    avgdl = meta["sum_dl"] / max(n_docs, 1)
    # STATIC partition pruning: resolve the query terms' _pb buckets
    # up front and filter with a literal IN-list, which lands in the
    # scan's PartitionFilters unconditionally.  (A broadcast join on
    # (_pb, term) was tried — dynamic partition pruning did not
    # engage for the tiny local-relation side, so the scan read every
    # directory.)
    pbs = sorted(set(_term_buckets(spark, query_terms).values()))
    post = (
        spark.read.parquet(path)
        .filter(F.col("_pb").isin(pbs))
        .filter(F.col("term").isin(query_terms))
    )
    dfq = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        post.join(F.broadcast(dfq), "term")
        .select(
            "id",
            (
                F.log(
                    1.0
                    + (F.lit(n_docs) - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * F.col("tf")
                * (K1 + 1.0)
                / (
                    F.col("tf")
                    + K1 * (1.0 - B + B * F.col("dl") / F.lit(avgdl))
                )
            ).alias("_s"),
        )
        .groupBy("id")
        .agg(F.sum("_s").alias("_score"))
    )
    return (
        scored.orderBy(F.round("_score", rank_decimals).desc(), "id")
        .limit(k)
        .select("id", F.round("_score", 4).alias("score"))
    )


# ------------------------------------------------------------------ #
# Pinned lexical serving: the search-engine sharding (postings       #
# sharded BY TERM bucket, pinned in worker memory by the shard       #
# server) applied to the BM25 index — the lexical twin of            #
# serving.serve_topk.  A term's postings live wholly inside one _pb  #
# bucket, so each bucket task computes COMPLETE per-term score       #
# contributions locally (df is the bucket-local posting count); the  #
# driver merge sums them per (qid, doc) and takes per-qid top-k.     #
# ------------------------------------------------------------------ #


def serve_bm25(
    spark,
    path: str,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
) -> DataFrame:
    """Top-k BM25 for a BATCH of (qid, terms) queries against the
    pinned postings index: one Spark job with tasks ONLY for the
    queried terms' _pb buckets, each answering from its worker-cached
    postings (query 2..n never touches parquet).  The job runs when
    this is called; the result ``(qid, id, score)`` is local, in rank
    order (score rounded HALF_UP to 6 decimals, then id), with scores
    equal to ``bm25_topk_indexed`` (same formula, same meta stats).  A
    repeated query term counts once."""
    import math

    meta = read_meta(path, "postings")
    n_docs = meta["n_docs"]
    avgdl = meta["sum_dl"] / max(n_docs, 1)
    token = shard_token(meta)
    bucket = _term_buckets(spark, [t for _, ts in queries for t in ts])
    plan: dict[int, list] = {}
    for qid, terms in queries:
        for t in dict.fromkeys(terms):  # a repeated term counts once
            plan.setdefault(bucket[t], []).append((int(qid), t))

    def answer(pb, todo):
        post = _load_shard(path, pb, "postings", token) or {}
        rows = []
        for qid, term in todo:
            if term not in post:
                continue
            ids, dls, tfs = post[term]
            df_t = len(ids)
            idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
            s = (
                idf
                * tfs
                * (K1 + 1.0)
                / (tfs + K1 * (1.0 - B + B * dls / avgdl))
            )
            rows.extend((qid, int(i), float(v)) for i, v in zip(ids, s))
        return rows

    rows = dispatch(spark, plan, answer, "id")
    return merge_topk(spark, [rows], k, "id", sum_per_id=True)
