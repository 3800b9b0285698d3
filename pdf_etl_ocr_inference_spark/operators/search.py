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

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.operators.shard_server import (
    frame_rows,
    lookup,
    merge_topk,
    publish_build,
    publish_version,
    read_meta,
    rows_schema,
    shard_token,
    write_shard,
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

# XXH64 (Spark's ``xxhash64``, seed 42) in Python: the driver buckets
# a query term with no Spark job.  ``_postings_rows`` buckets with
# ``F.xxhash64``; tests hold the two equal.
_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxhash64(data: bytes) -> int:
    """XXH64 of ``data`` as a signed long, bit for bit Spark's
    ``xxhash64`` of a string column (over its UTF-8 bytes)."""
    seed, n, i = 42, len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_xxh_round(a, lane) for a, lane in zip(v, lanes)]
            i += 32
        h = sum(_rotl(a, r) for a, r in zip(v, (1, 7, 12, 18))) & _M64
        for a in v:
            h = ((h ^ _xxh_round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh_round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= struct.unpack_from("<I", data, i)[0] * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def _term_bucket(term: str) -> int:
    """A term's ``_pb`` bucket, ``pmod(xxhash64(term), 64)`` as the
    postings layout computes it (64 is a power of two, so the pmod of
    a two's-complement hash is its low bits)."""
    return _xxhash64(term.encode("utf-8")) & (_POSTINGS_PB - 1)


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
    publish_build(
        path,
        "postings",
        {"n_docs": int(stats["n"]), "sum_dl": int(stats["sum_dl"])},
    )
    return path


def refresh_postings_index(
    spark, path: str, batch: DataFrame, version: int,
    text_col: str = "text", id_col: str = "doc_id",
) -> None:
    """Fold a new-arrivals batch in: its postings become a
    ``v=<version>`` partition and the corpus stats (N, Σdl) in the
    meta grow by the batch's, published last
    (``shard_server.publish_version``).  Idempotent per version: the
    watermark skips re-applied commits, and a retry replaces its own
    crashed ``v=<version>``, so nothing is counted twice.

    A batch that fits the pin budget (``shard_server.frame_bytes``:
    the bytes its scan reads) is folded in the driver:
    ``shard_server.frame_rows`` collects ``(id, text)`` (a pyarrow read
    of the commit's files when ``batch`` only selects and renames
    columns of a change-feed read, else one Arrow job) and
    :func:`_postings_fold` builds the postings and the stats with
    Arrow kernels and the tokenisation of :func:`_postings_rows`.  A
    larger batch, a text column that is not a string, or ids that are
    not integers are written by Spark."""
    meta = read_meta(path, "postings")
    if version <= meta["last_version"]:
        return
    rows = frame_rows(
        batch.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    )
    if (
        rows is not None
        and rows["id"].null_count == 0
        and pa.types.is_integer(rows.schema.field("id").type)
        and pa.types.is_string(rows.schema.field("text").type)
    ):
        # what a null text adds to Σdl: Spark's size(null) is null
        # under ANSI (the default) and -1 under the legacy setting
        ansi = spark.conf.get("spark.sql.ansi.enabled") == "true"
        legacy = not ansi and (
            spark.conf.get("spark.sql.legacy.sizeOfNull", "true") == "true"
        )
        buckets, n_docs, sum_dl = _postings_fold(rows, -1 if legacy else 0)

        def stage(staged):
            for pb, tbl in buckets.items():
                write_shard(tbl, f"{staged}/_pb={pb}")

    else:
        toks = F.split(F.trim(F.col(text_col)), r"\s+")
        stats = batch.select(F.size(toks).alias("dl")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
        ).first()
        n_docs, sum_dl = int(stats["n"] or 0), int(stats["sum_dl"] or 0)

        def stage(staged):
            (
                _postings_rows(batch, text_col, id_col)
                .repartition("_pb")
                .sortWithinPartitions("_pb", "term", "id")
                .write.mode("overwrite")
                .partitionBy("_pb")
                .parquet(staged)
            )

    meta["n_docs"] += n_docs
    meta["sum_dl"] += sum_dl
    publish_version(path, "postings", meta, version, stage)


def _postings_fold(rows: pa.Table, null_dl: int):
    """``({bucket: postings table}, n_docs, sum_dl)`` of the ``(id,
    text)`` rows (integer ids), equal to :func:`_postings_rows` and
    the stats job of the Spark path: ``split(trim(text), '\\s+')``, tf
    per ``(term, id, dl)``, rows in ``(term, id)`` order.  Spark's
    ``trim`` strips only U+0020, and Arrow's ASCII whitespace is
    Java's ``\\s``, ``[ \\t\\n\\x0B\\f\\r]``.  A null text yields no
    postings, counts in ``n_docs`` and adds ``null_dl`` to ``sum_dl``:
    0 where Spark's ``size(null)`` is null, -1 where it is -1."""
    toks = pc.ascii_split_whitespace(
        pc.utf8_trim(rows["text"].combine_chunks(), characters=" ")
    )
    dl = pc.list_value_length(toks)
    flat = pc.list_flatten(toks)
    terms = pc.unique(flat)
    bucket = np.array([_term_bucket(t) for t in terms.to_pylist()], "int64")
    # the distinct terms in layout order, (bucket, term); rank[c] is
    # the place of term c in it
    by_term = pc.sort_indices(terms).to_numpy()
    order = by_term[np.argsort(bucket[by_term], kind="stable")]
    rank = np.empty(len(order), "int64")
    rank[order] = np.arange(len(order))
    # each row's (id, dl), numbered in sorted order; one int64 key per
    # token then sorts and counts as (term, id, dl)
    pairs, doc = np.unique(
        np.stack(
            [
                rows["id"].combine_chunks().to_numpy().astype("int64"),
                dl.fill_null(0).to_numpy().astype("int64"),
            ],
            axis=1,
        ),
        axis=0,
        return_inverse=True,
    )
    key = rank[pc.index_in(flat, value_set=terms).to_numpy()] * len(pairs)
    key += doc[pc.list_parent_indices(toks).to_numpy()]
    key, tf = np.unique(key, return_counts=True)
    code = order[key // max(len(pairs), 1)]
    pairs = pairs[key % max(len(pairs), 1)]
    post = pa.Table.from_arrays(
        [
            terms.take(code),
            pa.array(pairs[:, 0], rows.schema.field("id").type),
            pa.array(pairs[:, 1], pa.int32()),
            pa.array(tf, pa.int64()),
        ],
        schema=pa.schema(
            [
                pa.field("term", pa.string(), nullable=False),
                pa.field("id", rows.schema.field("id").type),
                pa.field("dl", pa.int32()),
                pa.field("tf", pa.int64(), nullable=False),
            ]
        ),
    )
    pbs = bucket[code]
    starts = np.flatnonzero(np.diff(pbs, prepend=-1))
    ends = np.r_[starts[1:], len(pbs)]
    buckets = {
        int(pbs[a]): post.slice(a, b - a) for a, b in zip(starts, ends)
    }
    sum_dl = (pc.sum(dl).as_py() or 0) + dl.null_count * null_dl
    return buckets, rows.num_rows, sum_dl


def bm25_topk_indexed(
    spark, path: str, query_terms: list[str], k: int = 20,
    rank_decimals: int = 6,
) -> DataFrame:
    """BM25 top-k served FROM the postings index: the scan touches
    only the query terms' ``_pb`` partition dirs and the matching
    term rows inside them (min/max row-group pruning on the sorted
    ``term`` column); corpus stats come from the meta — no corpus
    pass, no full-index scan.  The buckets are hashed in the driver
    (``_term_bucket``), so the scan is the only job.  Scores are
    identical to the batch ``bm25_topk`` by construction (same
    formula, same stats) — asserted in tests and by the catalog
    oracle."""
    meta = read_meta(path, "postings")
    n_docs = meta["n_docs"]
    avgdl = meta["sum_dl"] / max(n_docs, 1)
    # STATIC partition pruning: resolve the query terms' _pb buckets
    # up front and filter with a literal IN-list, which lands in the
    # scan's PartitionFilters unconditionally.  (A broadcast join on
    # (_pb, term) was tried — dynamic partition pruning did not
    # engage for the tiny local-relation side, so the scan read every
    # directory.)
    pbs = sorted({_term_bucket(t) for t in query_terms})
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
# sharded BY TERM bucket, pinned by the shard server) applied to the #
# BM25 index — the lexical twin of serving.serve_topk.  A term's     #
# postings live wholly inside one _pb bucket, so each bucket         #
# computes COMPLETE per-term score contributions locally (df is the  #
# bucket-local posting count); the driver merge sums them per (qid,  #
# doc) and takes per-qid top-k.  The buckets are answered in the     #
# driver when they fit the pin budget, else in one Spark job.        #
# ------------------------------------------------------------------ #


def serve_bm25(
    spark,
    path: str,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
) -> DataFrame:
    """Top-k BM25 for a BATCH of (qid, terms) queries against the
    pinned postings index: only the queried terms' _pb buckets
    (hashed in the driver) are read, each from its pinned postings
    (query 2..n never touches parquet).  They are answered in the
    driver when they fit the pin budget, so a warm lookup runs no
    Spark job, else in one Spark job (``shard_server.lookup``).  The
    lookup runs when this is called; the result ``(qid, id, score)``
    is local, in rank order (score rounded HALF_UP to 6 decimals,
    then id), with scores equal to ``bm25_topk_indexed`` (same
    formula, same meta stats).  A repeated query term counts once."""
    import math

    meta = read_meta(path, "postings")
    n_docs = meta["n_docs"]
    avgdl = meta["sum_dl"] / max(n_docs, 1)
    token = shard_token(meta)
    plan: dict[int, list] = {}
    for qid, terms in queries:
        for t in dict.fromkeys(terms):  # a repeated term counts once
            plan.setdefault(_term_bucket(t), []).append((int(qid), t))

    def answer(post, todo):
        post = post or {}
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

    rows = lookup(
        spark, path, "postings", token, plan, answer, rows_schema("id")
    )
    return merge_topk(spark, [rows], k, "id", sum_per_id=True)
