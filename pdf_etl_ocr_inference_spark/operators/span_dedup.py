"""Span-level (substring) deduplication: find and scrub token n-gram
spans that recur across documents.

Doc-level dedup (exact / MinHash / SimHash, ``operators/dedup.py``)
drops whole near-identical documents; it cannot touch the other large
duplication mode in web/pretraining corpora — repeated *passages*
(boilerplate paragraphs, licence headers, templated footers) embedded
in otherwise-distinct documents.  Deduplicating those requires
substring-level detection (Lee et al., "Deduplicating Training Data
Makes Language Models Better", ACL 2022).  The exact suffix-array
construction of that paper is a single-machine algorithm; the
distributed re-expression here uses fixed-width token n-grams, which
detect every duplicated substring of >= n tokens (any such substring
contains a duplicated n-gram) at the cost of a fixed resolution floor.

Pipeline (all native Column ops, no Python UDFs):

1. tokenize -> positional n-grams              narrow map, no shuffle
2. gram -> (distinct-doc count, occurrences)   ONE combinable shuffle
   on the gram key; partial aggregation makes hot grams cheap
3. occurrences of grams seen in >= min_docs docs    join back on gram
4. merge overlapping/touching occurrences into maximal per-doc
   intervals                 per-doc sort window (docs are bounded)
5. optionally scrub: drop covered token positions, reassemble

Scale notes (100 TB):
- the gram aggregation is the only corpus-sized shuffle and is fully
  combinable; the join-back fan-out equals the true result size.
- gram keys are the shingle STRINGS so results are engine-portable
  (DuckDB oracles replay the identical pipeline); a production run
  would map grams through ``xxhash64`` first to shrink the shuffle —
  that switch changes bytes moved, not semantics.
- pathological grams ("the the the ..." across millions of docs) make
  the *output* large, not the shuffle skewed; ``max_doc_freq`` drops
  grams above a document-frequency ceiling with a LOGGED count
  (no-silent-caps).

Reference anchor: the reference corpus prep dedups at document
granularity only (``02-ocr-tesseract.py:96-101`` drops exact path
dups); span-level scrub is the training-pipeline extension the
SURVEY scopes beyond it.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def _tokens(text_col: str):
    return F.split(F.trim(F.col(text_col)), r"\s+")


def positional_ngrams(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, pos, gram) for every token n-gram; pos is the 0-based
    token index of the gram's first token.  Docs shorter than ``n``
    tokens yield no grams (a doc that short IS its only span; doc-level
    dedup owns that regime).

    The input widens to default parallelism first
    (``ensure_min_parallelism``): ``maxPartitionBytes`` sizes scan
    partitions by input BYTES, but the explode amplifies each row
    ~500×, so a compact corpus would otherwise run its whole gram
    generation nearly serially (measured 10 s → 5 s at sf0.1); a
    well-partitioned input passes through untouched."""
    from pdf_etl_ocr_inference_spark.operators.layout import (
        ensure_min_parallelism,
    )

    df = ensure_min_parallelism(df)
    toks = _tokens(text_col)
    # slice() is 1-based; guard short docs — sequence(0, negative)
    # would count DOWN, not produce an empty array.
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        starts, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(grams).alias("pos", "gram")
    )


def dup_span_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 6,
    min_docs: int = 2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Grams appearing in >= ``min_docs`` distinct docs:
    (gram, n_docs, n_occ).  ``max_doc_freq`` drops super-common grams
    (logged) — boilerplate miners want them, scrubbers may not."""
    stats = (
        positional_ngrams(df, text_col, id_col, n)
        .groupBy("gram")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    if max_doc_freq is not None:
        dropped = stats.filter(F.col("n_docs") > max_doc_freq).count()
        if dropped:
            log.warning(
                "dup_span_stats: max_doc_freq=%d drops %d hot grams",
                max_doc_freq,
                dropped,
            )
        stats = stats.filter(F.col("n_docs") <= max_doc_freq)
    return stats


def dup_span_intervals(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 6,
    min_docs: int = 2,
    max_doc_freq: int | None = None,
    policy: str = "symmetric",
) -> DataFrame:
    """Maximal merged per-doc intervals covered by cross-doc duplicated
    n-grams: (id, span_start, span_end) with token positions
    [span_start, span_end).  Overlapping AND touching occurrences merge
    (touching spans are one duplicated region at resolution n).

    ``policy`` picks which occurrences count as hits:

    - ``"symmetric"`` (default): EVERY occurrence of a duplicated
      gram, first copy included — the aggressive variant.
    - ``"keepfirst"``: only REPEAT occurrences — the canonical copy
      (the gram's minimum doc id; a total, deterministic order) is
      exempt, so one occurrence of every duplicated passage survives
      in place — the standard substring-dedup practice (Lee et al.
      2022).  Same plan shape: the gram window already computes the
      min, the exemption is one more filter clause.
    """
    if policy not in ("symmetric", "keepfirst"):
        raise ValueError(f"unknown span policy: {policy!r}")
    occ = positional_ngrams(df, text_col, id_col, n)
    if min_docs == 2 and max_doc_freq is None:
        # fast path: ">= 2 distinct docs" ⟺ min(id) < max(id), ONE
        # ngram pass and ONE gram shuffle (r8).  r13 (verdict-r12 #6,
        # guide §2.3): the shuffle is now a map-side-COMBINABLE
        # aggregate carrying the (id, pos) occurrence structs as
        # payload — each map task ships every duplicated gram's
        # STRING once (plus ~12 B per occurrence) where the r8 window
        # shipped the ~n-token string on EVERY occurrence row; unique
        # grams are dropped before the explode re-expands
        # occurrences, so post-shuffle work is ∝ duplicated mass.
        # Same hit set by construction.  Memory bound: a gram's
        # occurrence list is ONE aggregation buffer, and sort-based
        # aggregation fallback spills rows between groups, never
        # within one — so the hottest gram's (id, pos) list must fit
        # in one task's heap (the r12 window buffered it in a
        # spillable array).  Passing ``max_doc_freq`` takes the
        # join-based stats path below, which buffers no gram's list
        # and drops (and logs) grams above the cap.
        g = (
            occ.groupBy("gram")
            .agg(
                F.min("id").alias("_mn"),
                F.max("id").alias("_mx"),
                F.collect_list(F.struct("id", "pos")).alias("_occ"),
            )
            .filter(F.col("_mn") < F.col("_mx"))
        )
        hits = g.select(F.explode("_occ").alias("_o"), "_mn").select(
            F.col("_o.id").alias("id"), F.col("_o.pos").alias("pos"), "_mn"
        )
        if policy == "keepfirst":
            hits = hits.filter(F.col("id") > F.col("_mn"))
        return merge_islands(
            hits.select("id", "pos", (F.col("pos") + n).alias("end"))
        )
    dup = dup_span_stats(
        df, text_col, id_col, n, min_docs, max_doc_freq
    ).select("gram")
    hits = occ.join(dup, "gram")
    if policy == "keepfirst":
        # min over the joined occurrences == the gram's global min
        # (every occurrence of a surviving gram is in the join)
        wg = Window.partitionBy("gram")
        hits = hits.withColumn("_mn", F.min("id").over(wg)).filter(
            F.col("id") > F.col("_mn")
        )
    return merge_islands(
        hits.select("id", "pos", (F.col("pos") + n).alias("end"))
    )


def dup_span_intervals_both(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 6,
    stage_tag: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``(symmetric intervals, keep-first intervals)`` from ONE
    positional-ngram pass and ONE gram shuffle (review-r11: a
    consumer needing both policies — the attrition ledger — was
    calling :func:`dup_span_intervals` twice, doubling the corpus
    explode and the gram exchange, the entry's dominant stages).
    The gram window already computes the per-gram min, so the
    keep-first hit set is the symmetric one minus a filter.

    Both interval sets are MATERIALIZED to process-scratch parquet
    INSIDE the call — one short-lived persist of the hit frame
    (∝ duplicated occurrences, result-sized) feeds the two island
    merges, then is unpersisted before returning — so no cached plan
    outlives the call (r11 advisory: the returned-lazy idiom left
    the persist alive for the whole session, accumulating per
    call).  ``stage_tag`` keys the staging dirs: callers with a
    natural key (the attrition entry passes the sf tag) get
    rerun-stable overwritten paths; the default per-call uuid dirs are
    GC'd with the process scratch root."""
    import os
    import uuid

    from pdf_etl_ocr_inference_spark.scratch import scratch_root

    occ = positional_ngrams(df, text_col, id_col, n)
    # same combinable-aggregate hit derivation as the
    # dup_span_intervals fast path (r13, guide §2.3): the gram string
    # ships once per map partition, occurrences ride as structs —
    # with the same bound, one gram's list in one task's heap
    hits = (
        occ.groupBy("gram")
        .agg(
            F.min("id").alias("_mn"),
            F.max("id").alias("_mx"),
            F.collect_list(F.struct("id", "pos")).alias("_occ"),
        )
        .filter(F.col("_mn") < F.col("_mx"))
        .select(F.explode("_occ").alias("_o"), "_mn")
        .select(
            F.col("_o.id").alias("id"),
            F.col("_o.pos").alias("pos"),
            (F.col("_o.pos") + n).alias("end"),
            (F.col("_o.id") > F.col("_mn")).alias("_repeat"),
        )
        .persist()
    )
    base = os.path.join(
        scratch_root(),
        f"span_iv_{stage_tag or uuid.uuid4().hex[:12]}",
    )
    sym_p, kf_p = f"{base}_sym", f"{base}_kf"
    try:
        merge_islands(hits.select("id", "pos", "end")).write.mode(
            "overwrite"
        ).parquet(sym_p)
        merge_islands(
            hits.filter(F.col("_repeat")).select("id", "pos", "end")
        ).write.mode("overwrite").parquet(kf_p)
    finally:
        hits.unpersist()
    spark = df.sparkSession
    return spark.read.parquet(sym_p), spark.read.parquet(kf_p)


def merge_islands(hits: DataFrame) -> DataFrame:
    """Classic interval-island merge over (id, pos, end) hit rows:
    per-id running-max-end window, new island when a hit starts past
    it; returns (id, span_start, span_end).  Per-id work is bounded
    by doc length, never the corpus."""
    w = Window.partitionBy("id").orderBy("pos")
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.withColumn(
        "new_island",
        (F.col("pos") > F.coalesce(prev_max_end, F.lit(-1))).cast("int"),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return islands.groupBy("id", "island").agg(
        F.min("pos").alias("span_start"), F.max("end").alias("span_end")
    ).select("id", "span_start", "span_end")


def scrub_dup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 6,
    min_docs: int = 2,
    max_doc_freq: int | None = None,
    policy: str = "symmetric",
) -> DataFrame:
    """Remove duplicated spans from every document:
    (id, n_kept, n_removed, scrubbed).

    ``policy="symmetric"`` (default) is the aggressive variant — ALL
    occurrences go, including the "first" (compose with doc-level
    exact dedup for a keep-one-copy pipeline).
    ``policy="keepfirst"`` keeps the canonical occurrence (the gram's
    minimum doc id — a total, deterministic order) and scrubs only
    repeats — the standard substring-dedup practice (Lee et al.
    2022); per doc its removed-token count is <= the symmetric one,
    and a doc that is first for every gram it contains is unscathed.
    Whitespace is canonicalized (single spaces) as a side effect of
    tokenize/reassemble."""
    toks = _tokens(text_col)
    pos_tok = df.select(
        F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "tok")
    )
    covered = (
        dup_span_intervals(
            df, text_col, id_col, n, min_docs, max_doc_freq,
            policy=policy,
        )
        .select(
            "id",
            F.explode(
                F.sequence(F.col("span_start"), F.col("span_end") - 1)
            ).alias("pos"),
        )
    )
    kept = pos_tok.join(covered, ["id", "pos"], "left_anti")
    n_tokens = df.select(
        F.col(id_col).alias("id"), F.size(toks).alias("n_total")
    )
    out = (
        kept.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("scrubbed"),
        )
    )
    # docs whose every token was covered drop out of `kept` — restore
    # them as empty strings so the op is total.
    return (
        n_tokens.join(out, "id", "left")
        .select(
            "id",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_total") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_removed"
            ),
            F.coalesce("scrubbed", F.lit("")).alias("scrubbed"),
        )
    )
