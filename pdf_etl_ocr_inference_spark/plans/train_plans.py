"""Training-data preparation catalog: sequence packing, corpus
language-model scoring, and incremental materialized aggregates.

These extend the reference's chunk→embed pipeline (``02-parallel-ocr-
with-ray.py:292-297`` persists chunks for model consumption) toward
what an LLM pre-training pipeline needs after chunking: packing chunks
into fixed token budgets, scoring documents against corpus statistics,
and keeping corpus-level aggregates fresh without full rescans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.functions.text import token_count, tokens
from pdf_etl_ocr_inference_spark.plans.registry import register
from pdf_etl_ocr_inference_spark.sources.catalog import load_table as _t

_PACK_BUDGET = 512  # tokens per packed training sequence
_PACK_SHARDS = 8  # independent packing streams


def _documents_change_feed(spark: SparkSession, sf: str, tag: str) -> str:
    """Shared IVM fixture: a change feed over documents with
    v0 = insert-all and v1 = (n_chars += 17 where doc_id%10==3,
    delete %10==7).  Both op72 variants and both oracles encode this
    exact scenario — single construction site so they cannot diverge.
    Uses a per-process per-(sf, tag) scratch dir wiped on entry
    (scratch.py: no cross-run leak, no cross-session race)."""
    from pdf_etl_ocr_inference_spark.scratch import scratch_dir
    from pdf_etl_ocr_inference_spark.streaming.changefeed import (
        commit_changes,
        diff_snapshots,
    )

    safe = sf.strip("/").replace("/", "_")
    # wipe the WHOLE scratch dir: siblings of the feed (streaming
    # checkpoints, state tables) must not survive across runs
    scratch = scratch_dir(f"{tag}_{safe}")
    feed = f"{scratch}/feed"
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    commit_changes(
        docs.withColumn("_change_type", F.lit("insert")), feed, 0
    )
    after = docs.filter(F.col("doc_id") % 10 != 7).withColumn(
        "n_chars",
        F.when(
            F.col("doc_id") % 10 == 3, F.col("n_chars") + F.lit(17)
        ).otherwise(F.col("n_chars")),
    )
    commit_changes(diff_snapshots(docs, after, "doc_id"), feed, 1)
    return feed


@register(
    "op97_matview_rewrite",
    """
    SELECT lang, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN doc_id % 10 = 3 THEN n_chars + 17
                    ELSE n_chars END) AS BIGINT) AS sum_chars
    FROM documents WHERE doc_id % 10 != 7 GROUP BY lang
    """,
    doc="materialized view with AUTOMATIC query rewrite (the "
    "warehouse aggregate navigator, composed from the engine's own "
    "pieces): the per-lang aggregate over the base table is "
    "registered under a semantic fingerprint (canonicalized plan + "
    "base file inventory); when the base evolves (v1: update %10==3, "
    "delete %10==7) the view refreshes via the IVM signed-delta "
    "merge — change-volume cost, no base rescan — and re-stamps its "
    "fingerprint. The user's query DECLARES the full aggregation "
    "over the current base; matview_rewrite routes it onto the "
    "maintained store (asserted: the returned plan is not the "
    "declared one). Stale serving is impossible: an unrefreshed "
    "view's fingerprint no longer matches the rewritten base files, "
    "so the query falls through to direct computation "
    "(tests/test_matview.py). Oracle recomputes the final snapshot "
    "aggregate — matching proves served state ≡ recompute.",
)
def op97_matview_rewrite(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_etl_ocr_inference_spark.operators.matview import (
        create_materialized_view,
        matview_rewrite,
        refresh_materialized_view,
    )
    from pdf_etl_ocr_inference_spark.scratch import replace_dir, scratch_dir
    from pdf_etl_ocr_inference_spark.streaming.changefeed import (
        diff_snapshots,
    )

    safe = sf.strip("/").replace("/", "_")
    scratch = scratch_dir(f"mv_{safe}")
    base_dir = f"{scratch}/base"
    mv_root = f"{scratch}/views"
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    docs.write.mode("overwrite").parquet(base_dir)

    def define() -> DataFrame:
        return (
            spark.read.parquet(base_dir)
            .groupBy("lang")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("n_chars").alias("sum_chars"),
            )
        )

    create_materialized_view(spark, define(), "doclang", root=mv_root)

    # the base evolves: same v1 scenario as the op72 family
    before = spark.read.parquet(base_dir)
    after = before.filter(F.col("doc_id") % 10 != 7).withColumn(
        "n_chars",
        F.when(
            F.col("doc_id") % 10 == 3, F.col("n_chars") + F.lit(17)
        ).otherwise(F.col("n_chars")),
    )
    changes_dir = f"{scratch}/changes_v1"
    diff_snapshots(before, after, "doc_id").write.mode(
        "overwrite"
    ).parquet(changes_dir)
    replace_dir(base_dir, after.write.parquet)

    refresh_materialized_view(
        spark,
        "doclang",
        define(),
        spark.read.parquet(changes_dir),
        keys=["lang"],
        sum_cols={"sum_chars": "n_chars"},
        root=mv_root,
    )
    q = define()
    served = matview_rewrite(q, root=mv_root)
    assert served is not q, "matview rewrite did not fire"
    return served


@register(
    "train_pack_sequences",
    f"""
    WITH toks AS (
      SELECT doc_id % {_PACK_SHARDS} AS shard, doc_id,
             LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS n_tokens
      FROM documents),
    pos AS (
      SELECT shard, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_tok
      FROM toks)
    SELECT shard, CAST(FLOOR(start_tok / {_PACK_BUDGET}.0) AS BIGINT)
             AS seq_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM pos GROUP BY shard, seq_id
    """,
    doc="GPT-style concat-and-pack: assign each document to the "
    f"{_PACK_BUDGET}-token training sequence where its text begins, "
    "packing greedily in doc_id order within each of "
    f"{_PACK_SHARDS} hash shards. The shard is the unit of "
    "parallelism — each packing stream is an independent window, so "
    "the plan scales by adding shards instead of funnelling the "
    "corpus through one global cumulative sum.",
)
def train_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    toks = _t(spark, sf, "documents").select(
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        "doc_id",
        token_count("text").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pos = toks.withColumn(
        "start_tok", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        pos.withColumn(
            "seq_id", F.floor(F.col("start_tok") / F.lit(_PACK_BUDGET))
        )
        .groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "train_pack_split",
    f"""
    WITH toks AS (
      SELECT doc_id % {_PACK_SHARDS} AS shard, doc_id,
             LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS n_tokens
      FROM documents),
    pos AS (
      SELECT shard, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_tok
      FROM toks WHERE n_tokens > 0),
    span AS (
      SELECT shard, doc_id, start_tok, start_tok + n_tokens AS end_tok,
             CAST(FLOOR(start_tok / {_PACK_BUDGET}.0) AS BIGINT) AS s0,
             CAST(FLOOR((start_tok + n_tokens - 1) / {_PACK_BUDGET}.0)
               AS BIGINT) AS s1
      FROM pos),
    ex AS (
      SELECT shard, doc_id, start_tok, end_tok, i AS seq_id
      FROM span, UNNEST(RANGE(s0, s1 + 1)) AS r(i))
    SELECT shard, seq_id, COUNT(*) AS n_docs,
           CAST(SUM(LEAST(end_tok, (seq_id + 1) * {_PACK_BUDGET})
               - GREATEST(start_tok, seq_id * {_PACK_BUDGET})) AS BIGINT)
             AS seq_tokens
    FROM ex GROUP BY shard, seq_id
    """,
    doc="concat-and-pack WITH document splitting (the actual GPT "
    "pretraining layout): the shard-local token stream is chopped at "
    f"every {_PACK_BUDGET}-token boundary, so a long document SPANS "
    "sequences instead of leaving tail slack — every sequence except "
    "each shard's last carries exactly the budget (asserted by the "
    "oracle's seq_tokens). A doc's covered-sequence range explodes "
    "via sequence(s0, s1) — rows grow by ceil(n/budget), not "
    "quadratically — and the per-seq token share is interval "
    "arithmetic, all native. Same sharded-window scale shape as "
    "train_pack_sequences (no global cumulative sum).",
)
def train_pack_split(spark: SparkSession, sf: str) -> DataFrame:
    toks = (
        _t(spark, sf, "documents")
        .select(
            (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
            "doc_id",
            token_count("text").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    b = F.lit(_PACK_BUDGET)
    span = (
        toks.withColumn(
            "start_tok", F.sum("n_tokens").over(w) - F.col("n_tokens")
        )
        .withColumn("end_tok", F.col("start_tok") + F.col("n_tokens"))
        .withColumn("s0", F.floor(F.col("start_tok") / b))
        .withColumn("s1", F.floor((F.col("end_tok") - 1) / b))
    )
    ex = span.select(
        "shard",
        "start_tok",
        "end_tok",
        F.explode(F.sequence("s0", "s1")).alias("seq_id"),
    )
    return ex.groupBy("shard", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.least(F.col("end_tok"), (F.col("seq_id") + 1) * b)
            - F.greatest(F.col("start_tok"), F.col("seq_id") * b)
        ).alias("seq_tokens"),
    )


@register(
    "text_unigram_logprob",
    """
    WITH tok AS (
      SELECT doc_id,
             UNNEST(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')) AS tok
      FROM documents),
    freq AS (SELECT tok, COUNT(*) AS tf FROM tok GROUP BY tok),
    total AS (SELECT SUM(tf) AS n FROM freq)
    SELECT doc_id,
           ROUND(AVG(LN(tf / (SELECT n FROM total))), 4) AS avg_logprob
    FROM tok JOIN freq USING (tok)
    GROUP BY doc_id
    """,
    doc="corpus-unigram language-model scoring (CCNet/RefinedWeb-style "
    "perplexity filter, done with corpus term frequencies instead of "
    "an external LM): per-document mean log-probability of its tokens "
    "under the corpus unigram distribution. Two shuffles total "
    "(vocab count, per-doc mean); the vocab join keys on the token, "
    "so skewed stopwords spread across partitions instead of one hot "
    "key — and the frequency table can be broadcast when the vocab "
    "is capped.",
)
def text_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    tok = (
        _t(spark, sf, "documents")
        .select(
            "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
        )
    )
    freq = tok.groupBy("tok").agg(F.count("*").alias("tf"))
    total = freq.agg(F.sum("tf").alias("n"))
    scored = (
        tok.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(F.log(F.col("tf") / F.col("n"))), 4).alias(
                "avg_logprob"
            )
        )
    )
    return scored


@register(
    "text_bigram_logprob",
    """
    WITH tok AS (
      SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS t
      FROM documents),
    bg AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM tok, UNNEST(RANGE(1, GREATEST(LEN(t), 1))) AS r(i)),
    uni AS (
      SELECT w1 AS w, COUNT(*) AS uf FROM (
        SELECT doc_id, UNNEST(t) AS w1 FROM tok) GROUP BY w1),
    v AS (SELECT COUNT(*) AS vocab FROM uni),
    bf AS (SELECT w1, w2, COUNT(*) AS bf FROM bg GROUP BY w1, w2)
    SELECT doc_id,
           ROUND(AVG(LN((bf + 1.0) / (uf + (SELECT vocab FROM v)))), 4)
             AS avg_logprob,
           COUNT(*) AS n_bigrams
    FROM bg JOIN bf USING (w1, w2) JOIN uni ON uni.w = bg.w1
    GROUP BY doc_id
    """,
    doc="corpus-BIGRAM language-model scoring with add-one smoothing "
    "(the next rung above text_unigram_logprob on the CCNet-style "
    "perplexity-filter ladder — a bigram LM separates scrambled "
    "boilerplate from fluent text where unigrams cannot): "
    "P(w2|w1) = (B(w1,w2)+1)/(U(w1)+V), scored as the per-document "
    "mean log-prob over its bigrams. Counts are two combinable "
    "shuffles (bigram, unigram) + the scoring join keyed on the "
    "bigram — hot stopword pairs spread by the compound key; V rides "
    "in as a broadcast scalar. Docs with <2 tokens drop out "
    "(no bigrams), matching the oracle's join semantics.",
)
def text_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    tok = _t(spark, sf, "documents").select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("t")
    )
    # guard size<2 BEFORE sequence(): Spark's sequence(1, 0) counts
    # DOWN ([1, 0]) instead of returning empty like DuckDB's RANGE
    bg = (
        tok.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at("t", i).alias("w1"),
                        F.element_at("t", i + 1).alias("w2"),
                    ),
                )
            ).alias("_b"),
        )
        .select("doc_id", "_b.w1", "_b.w2")
    )
    uni = (
        tok.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("uf"))
    )
    v = uni.agg(F.count("*").alias("vocab"))
    bf = bg.groupBy("w1", "w2").agg(F.count("*").alias("bf"))
    return (
        bg.join(bf, ["w1", "w2"])
        .join(uni, bg["w1"] == uni["w"])
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(
                    F.log(
                        (F.col("bf") + F.lit(1.0))
                        / (F.col("uf") + F.col("vocab"))
                    )
                ),
                4,
            ).alias("avg_logprob"),
            F.count("*").alias("n_bigrams"),
        )
    )


@register(
    "op72_incremental_agg",
    # final snapshot after v0 insert-all, v1 (n_chars += 17 where
    # doc_id%10==3, delete %10==7) — aggregated by lang, maintained
    # incrementally, never recomputed from the base table.
    """
    SELECT lang, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN doc_id % 10 = 3 THEN n_chars + 17
                    ELSE n_chars END) AS BIGINT) AS sum_chars
    FROM documents WHERE doc_id % 10 != 7 GROUP BY lang
    """,
    doc="incremental materialized aggregate (generalizes ref ocr:149's "
    "TRIGGERED index sync to arbitrary COUNT/SUM views): the per-lang "
    "aggregate is built once from the v0 change rows, then maintained "
    "by merging the signed delta of v1 (updates contribute post-image "
    "minus pre-image, deletes subtract) — refresh cost tracks change "
    "volume, not corpus size. The oracle recomputes the final-state "
    "aggregate arithmetically; matching it proves the incremental "
    "path equals a full recompute.",
)
def op72_incremental_agg(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_etl_ocr_inference_spark.streaming.changefeed import (
        read_changes,
    )
    from pdf_etl_ocr_inference_spark.streaming.ivm import (
        agg_delta,
        merge_delta,
    )

    cdf_dir = _documents_change_feed(spark, sf, "ivm")

    base = agg_delta(
        read_changes(spark, cdf_dir, since_version=-1).filter(
            F.col("_commit_version") == 0
        ),
        keys=["lang"],
        sum_cols={"sum_chars": "n_chars"},
    )
    delta = agg_delta(
        read_changes(spark, cdf_dir, since_version=0),
        keys=["lang"],
        sum_cols={"sum_chars": "n_chars"},
    )
    return merge_delta(base, delta, keys=["lang"], value_cols=["sum_chars"])


@register(
    "op72b_ivm_stream_sync",
    # same final state as op72_incremental_agg — the maintenance now
    # runs as a TRIGGERED availableNow stream over the change feed
    """
    SELECT lang, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN doc_id % 10 = 3 THEN n_chars + 17
                    ELSE n_chars END) AS BIGINT) AS sum_chars
    FROM documents WHERE doc_id % 10 != 7 GROUP BY lang
    """,
    doc="triggered streaming maintenance of a materialized aggregate: "
    "the documents change feed (v0 insert-all, v1 update/delete) is "
    "consumed by an availableNow foreachBatch stream (the same "
    "machinery as the index syncs); each commit folds a signed "
    "COUNT/SUM delta into a versioned aggregate-state table via a "
    "distributed write — no driver-side state, refresh cost tracks "
    "change volume. Oracle proves the streamed state equals a full "
    "recompute of the final snapshot.",
)
def op72b_ivm_stream_sync(spark: SparkSession, sf: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    from pdf_etl_ocr_inference_spark.optimizer import sync_index_from_feed
    from pdf_etl_ocr_inference_spark.streaming.ivm import (
        agg_delta,
        merge_delta,
    )

    feed = _documents_change_feed(spark, sf, "ivmsync")
    scratch = os.path.dirname(feed)
    state = f"{scratch}/agg_state"

    applied = {"v": -1}

    def _fold_agg(spark, table_key, changes, version, catalog):
        if version <= applied["v"]:
            return  # re-delivered commit: idempotent no-op
        delta = agg_delta(
            changes, keys=["lang"], sum_cols={"sum_chars": "n_chars"}
        )
        if applied["v"] < 0:
            merged = delta.filter(F.col("n_rows") > 0)
        else:
            base = spark.read.parquet(f"{state}/v={applied['v']}")
            merged = merge_delta(
                base, delta, keys=["lang"], value_cols=["sum_chars"]
            )
        merged.write.mode("overwrite").parquet(f"{state}/v={version}")
        applied["v"] = version

    change_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_change_type", T.StringType()),
        ]
    )
    sync_index_from_feed(
        spark,
        feed,
        f"catalog/ivm_sync/{sf}",
        change_schema,
        checkpoint_dir=f"{scratch}/ckpt",
        refresh_fn=_fold_agg,
    )
    return spark.read.parquet(f"{state}/v={applied['v']}")


# SQL mirror of functions.text.quality_score (same expression as the
# text_quality_score oracle, kept unrounded: per-row IEEE arithmetic
# is bit-identical across engines)
_QUALITY_SQL = """(
    (LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g'))
     / GREATEST(LENGTH(text), 1))
  + (CASE WHEN LENGTH(text) BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END)
  + (CASE WHEN
        (LENGTH(text) - LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) + 1)
          / GREATEST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')), 1)
        BETWEEN 2.0 AND 12.0
     THEN 1.0 ELSE 0.0 END)
) / 3.0"""

# SQL mirror of functions.text.normalize_text (same as dedup_plans)
_NORM_SQL = (
    "TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\\s]', '', "
    "'g'), '\\s+', ' ', 'g'))"
)


@register(
    "pipeline_pretrain_corpus",
    f"""
    WITH q AS (
      SELECT doc_id, text FROM documents WHERE {_QUALITY_SQL} >= 0.5),
    surv AS (
      SELECT MIN(doc_id) AS doc_id FROM (
        SELECT doc_id, MD5({_NORM_SQL}) AS f FROM q) GROUP BY f),
    d AS (SELECT q.doc_id, q.text FROM q JOIN surv USING (doc_id)),
    toks AS (
      SELECT doc_id % {_PACK_SHARDS} AS shard, doc_id,
             LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS n_tokens
      FROM d),
    pos AS (
      SELECT shard, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_tok
      FROM toks)
    SELECT shard, CAST(FLOOR(start_tok / {_PACK_BUDGET}.0) AS BIGINT)
             AS seq_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
    FROM pos GROUP BY shard, seq_id
    """,
    doc="end-to-end pretraining-corpus construction as ONE lazy plan: "
    "quality filter (C4/Gopher-style heuristics) -> exact dedup "
    "(canonical-fingerprint survivor semi-join) -> GPT-style sequence "
    "packing, emitting per-sequence stats. No stage materializes or "
    "touches the driver; Catalyst fuses the filter into the scan and "
    "the whole chain is three shuffles (dedup groupBy, survivor "
    "semi-join broadcast-able at dup-key cardinality, packing "
    "window+agg). The oracle replays the identical chain in SQL — "
    "every stage stays value-checked even composed.",
)
def pipeline_pretrain_corpus(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_etl_ocr_inference_spark.functions.text import quality_score
    from pdf_etl_ocr_inference_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    q = docs.filter(quality_score("text") >= 0.5)
    d = exact_dedup(q, "text", "doc_id")
    toks = d.select(
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        "doc_id",
        token_count("text").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        toks.withColumn(
            "start_tok", F.sum("n_tokens").over(w) - F.col("n_tokens")
        )
        .withColumn(
            "seq_id", F.floor(F.col("start_tok") / F.lit(_PACK_BUDGET))
        )
        .groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
        )
    )


# 5-gram shingle list, SQL side (same fragment as text_contamination)
_GRAMS5_SQL = (
    "LIST_DISTINCT(LIST_TRANSFORM("
    "GENERATE_SERIES(1, GREATEST(LEN(toks) - 4, 1)), "
    "i -> ARRAY_TO_STRING(toks[i:i+4], ' ')))"
)


@register(
    "pipeline_pretrain_decontaminated",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 3),
    q AS (
      SELECT doc_id, text FROM corpus WHERE {_QUALITY_SQL} >= 0.5),
    surv AS (
      SELECT MIN(doc_id) AS doc_id FROM (
        SELECT doc_id, MD5({_NORM_SQL}) AS f FROM q) GROUP BY f),
    d AS (SELECT q.doc_id, q.text FROM q JOIN surv USING (doc_id)),
    bg AS (
      SELECT DISTINCT UNNEST({_GRAMS5_SQL}) AS gram FROM (
        SELECT STRING_SPLIT_REGEX(TRIM(text), '\\s+') AS toks
        FROM documents WHERE doc_id % 97 = 3)),
    dg AS (
      SELECT doc_id, UNNEST({_GRAMS5_SQL}) AS gram FROM (
        SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\\s+') AS toks
        FROM d)),
    contam AS (
      SELECT dg.doc_id,
             ROUND(COUNT(bg.gram) * 1.0 / COUNT(*), 6) AS contamination
      FROM dg LEFT JOIN bg USING (gram) GROUP BY dg.doc_id),
    clean AS (
      SELECT d.doc_id, d.text FROM d JOIN contam USING (doc_id)
      WHERE contamination < 0.01),
    toks AS (
      SELECT doc_id % {_PACK_SHARDS} AS shard, doc_id,
             LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS n_tokens
      FROM clean),
    pos AS (
      SELECT shard, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_tok
      FROM toks)
    SELECT shard, CAST(FLOOR(start_tok / {_PACK_BUDGET}.0) AS BIGINT)
             AS seq_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
    FROM pos GROUP BY shard, seq_id
    """,
    doc="pipeline_pretrain_corpus WITH the benchmark-decontamination "
    "step a real pretraining run always includes (GPT-3 appendix C): "
    "quality filter -> exact dedup -> drop every doc whose 5-gram "
    "overlap with the HELD-OUT benchmark table (doc_id % 97 == 3) "
    "reaches 1% -> sequence packing, one lazy plan. The benchmark "
    "n-gram set is schema-bounded so it broadcasts (the corpus never "
    "shuffles for the check; only the per-doc agg does). Both "
    "fixtures carry a planted contaminated doc, so the drop is "
    "exercised, and the oracle replays the identical chain — the "
    "decontamination is value-checked end-to-end through packing.",
)
def pipeline_pretrain_decontaminated(
    spark: SparkSession, sf: str
) -> DataFrame:
    from pdf_etl_ocr_inference_spark.functions.text import quality_score
    from pdf_etl_ocr_inference_spark.operators.contamination import (
        contamination_report,
    )
    from pdf_etl_ocr_inference_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 3)
    corpus = docs.filter(F.col("doc_id") % 97 != 3)
    q = corpus.filter(quality_score("text") >= 0.5)
    d = exact_dedup(q, "text", "doc_id")
    rep = contamination_report(d, bench, "text", "doc_id", n=5)
    clean = d.join(
        rep.filter(F.col("contamination") < 0.01).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    toks = clean.select(
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        "doc_id",
        token_count("text").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        toks.withColumn(
            "start_tok", F.sum("n_tokens").over(w) - F.col("n_tokens")
        )
        .withColumn(
            "seq_id", F.floor(F.col("start_tok") / F.lit(_PACK_BUDGET))
        )
        .groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
        )
    )


@register(
    "train_pack_incremental",
    # oracle replays a FULL repack of the whole corpus and restricts
    # to the new batch — proving the incremental path (per-shard token
    # totals as the only state) is exactly the full result
    f"""
    WITH thr AS (
      SELECT CAST(FLOOR(0.8 * (MAX(doc_id) + 1)) AS BIGINT) AS t FROM documents),
    toks AS (
      SELECT doc_id % {_PACK_SHARDS} AS shard, doc_id,
             LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS n_tokens
      FROM documents),
    pos AS (
      SELECT shard, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_tok
      FROM toks)
    SELECT shard, CAST(FLOOR(start_tok / {_PACK_BUDGET}.0) AS BIGINT)
             AS seq_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
    FROM pos WHERE doc_id >= (SELECT t FROM thr)
    GROUP BY shard, seq_id
    """,
    doc="incremental sequence packing for append-only arrivals: docs "
    "with id below the 80th-percentile threshold are the already-"
    "packed corpus, the rest a new batch. The only state is the "
    "per-shard packed-token total (one tiny aggregate, broadcast to "
    "the batch), so the refresh windows over the BATCH only — cost "
    "tracks arrivals, not corpus size. The oracle repacks the whole "
    "corpus from scratch and restricts to the batch: incremental == "
    "full, per value.",
)
def train_pack_incremental(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents").select(
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        "doc_id",
        token_count("text").alias("n_tokens"),
    )
    thr = docs.agg(
        (0.8 * (F.max("doc_id") + 1)).cast("long").alias("_thr")
    )
    docs = docs.crossJoin(F.broadcast(thr))
    base = docs.filter(F.col("doc_id") < F.col("_thr"))
    batch = docs.filter(F.col("doc_id") >= F.col("_thr"))
    state = base.groupBy("shard").agg(
        F.sum("n_tokens").alias("_base_tokens")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        batch.join(F.broadcast(state), on="shard", how="left")
        .withColumn(
            "start_tok",
            F.coalesce(F.col("_base_tokens"), F.lit(0))
            + F.sum("n_tokens").over(w)
            - F.col("n_tokens"),
        )
        .withColumn(
            "seq_id", F.floor(F.col("start_tok") / F.lit(_PACK_BUDGET))
        )
        .groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
        )
    )


@register(
    "pipeline_incremental_corpus",
    # per-lang: corpus size after the new batch (maintained via signed
    # deltas, never recomputed), arrivals in the batch, and arrivals
    # that survive exact-dedup against the existing corpus + the batch
    f"""
    WITH thr AS (
      SELECT CAST(FLOOR(0.8 * (MAX(doc_id) + 1)) AS BIGINT) AS t FROM documents),
    fp AS (
      SELECT doc_id, lang, MD5({_NORM_SQL}) AS f,
             doc_id >= (SELECT t FROM thr) AS is_new
      FROM documents),
    surv AS (
      SELECT lang, COUNT(*) AS n_new_unique FROM fp b
      WHERE b.is_new
        AND NOT EXISTS (SELECT 1 FROM fp c
                        WHERE NOT c.is_new AND c.f = b.f)
        AND b.doc_id = (SELECT MIN(b2.doc_id) FROM fp b2
                        WHERE b2.is_new AND b2.f = b.f)
      GROUP BY lang),
    tot AS (
      SELECT lang, COUNT(*) AS n_total,
             CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      FROM fp GROUP BY lang)
    SELECT lang, n_total, n_new,
           COALESCE(n_new_unique, 0) AS n_new_unique
    FROM tot LEFT JOIN surv USING (lang)
    """,
    doc="continuous-corpus maintenance, composed: new arrivals (ids "
    "past the 80th-percentile threshold) land as a change-feed commit; "
    "the per-lang corpus aggregate is maintained by signed IVM deltas "
    "(never recomputed from the base table), and the batch is "
    "exact-deduped against the existing corpus + itself via a "
    "fingerprint anti-join + survivor rule — the steady-state shape "
    "of a training-data ingestion pipeline, where every per-batch "
    "cost tracks the batch, not the corpus. All three outputs are "
    "value-checked against a from-scratch SQL replay.",
)
def pipeline_incremental_corpus(spark: SparkSession, sf: str) -> DataFrame:

    from pdf_etl_ocr_inference_spark.functions.text import doc_fingerprint
    from pdf_etl_ocr_inference_spark.streaming.changefeed import (
        commit_changes,
        read_changes,
    )
    from pdf_etl_ocr_inference_spark.streaming.ivm import (
        agg_delta,
        merge_delta,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "lang", "text")
    thr = docs.agg(
        (0.8 * (F.max("doc_id") + 1)).cast("long").alias("_thr")
    )
    docs = docs.crossJoin(F.broadcast(thr))
    base = docs.filter(F.col("doc_id") < F.col("_thr")).drop("_thr")
    batch = docs.filter(F.col("doc_id") >= F.col("_thr")).drop("_thr")

    from pdf_etl_ocr_inference_spark.scratch import scratch_dir

    safe = sf.strip("/").replace("/", "_")
    feed = f"{scratch_dir(f'inccorpus_{safe}')}/feed"
    cols = ["doc_id", "lang"]
    commit_changes(
        base.select(*cols).withColumn("_change_type", F.lit("insert")),
        feed, 0,
    )
    commit_changes(
        batch.select(*cols).withColumn("_change_type", F.lit("insert")),
        feed, 1,
    )

    # (a) per-lang totals maintained by signed deltas, commit by commit
    keys = ["lang"]
    agg0 = agg_delta(
        read_changes(spark, feed, since_version=-1).filter(
            F.col("_commit_version") == 0
        ),
        keys, sum_cols={}, count_col="n_total",
    )
    delta1 = agg_delta(
        read_changes(spark, feed, since_version=0),
        keys, sum_cols={}, count_col="n_total",
    )
    totals = merge_delta(
        agg0, delta1, keys, value_cols=[], count_col="n_total"
    )

    # (b) batch arrivals per lang
    arrivals = batch.groupBy("lang").agg(F.count("*").alias("n_new"))

    # (c) exact-dedup the batch against corpus + itself: fingerprint
    # anti-join (corpus side) + min-id survivor rule (within batch)
    bfp = batch.select(
        "doc_id", "lang", doc_fingerprint("text").alias("f")
    )
    corpus_fp = base.select(doc_fingerprint("text").alias("f")).distinct()
    fresh = bfp.join(corpus_fp, on="f", how="left_anti")
    survivors = (
        fresh.groupBy("f")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(fresh, on=["f", "doc_id"])
        .groupBy("lang")
        .agg(F.count("*").alias("n_new_unique"))
    )

    return (
        totals.join(arrivals, on="lang", how="left")
        .join(survivors, on="lang", how="left")
        .select(
            "lang",
            "n_total",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.coalesce("n_new_unique", F.lit(0)).alias("n_new_unique"),
        )
    )


_SAMPLE_HASH = "((doc_id * 2654435761 + 12345) % 4294967296)"


@register(
    "train_stratified_sample",
    "SELECT doc_id, lang, source FROM documents WHERE "
    + _SAMPLE_HASH
    + " < CASE lang WHEN 'en' THEN CAST(0.5 * 4294967296 AS BIGINT) "
    "WHEN 'zh' THEN CAST(0.4 * 4294967296 AS BIGINT) "
    "ELSE CAST(0.2 * 4294967296 AS BIGINT) END",
    doc="deterministic stratified (per-language) Bernoulli-by-hash "
    "sample for mixture weighting: membership is a pure function of "
    "doc_id (Knuth multiplicative hash vs a per-stratum threshold) — "
    "reproducible, auditable in plain SQL, NESTED under rate "
    "increases, and a narrow no-shuffle map over the scan.",
)
def train_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_etl_ocr_inference_spark.operators.sampling import (
        stratified_sample,
    )

    docs = _t(spark, sf, "documents")
    return stratified_sample(
        docs, "lang", "doc_id", {"en": 0.5, "zh": 0.4}, default_rate=0.2
    ).select("doc_id", "lang", "source")


@register(
    "train_stratified_fixed",
    "SELECT doc_id, lang FROM ("
    "SELECT doc_id, lang, ROW_NUMBER() OVER ("
    "PARTITION BY lang ORDER BY " + _SAMPLE_HASH + ", doc_id) AS rn "
    "FROM documents) WHERE rn <= 10",
    doc="exact-size per-stratum sample (10 per language) by ranking "
    "on the same multiplicative hash with id tie-break — the "
    "eval-holdout shape where approximate rates aren't acceptable; "
    "one window shuffle on the stratum key.",
)
def train_stratified_fixed(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_etl_ocr_inference_spark.operators.sampling import (
        stratified_fixed_n,
    )

    docs = _t(spark, sf, "documents")
    return stratified_fixed_n(docs, "lang", "doc_id", 10).select(
        "doc_id", "lang"
    )


def _span_clean_oracle(policy: str = "symmetric") -> str:
    """The span-clean pipeline oracle, parameterized by the scrub
    policy: ``symmetric`` hits every occurrence of a duplicated
    gram; ``keepfirst`` exempts the canonical occurrence (the
    gram's MIN(doc_id)).  The occ/dup/hits/island CTEs are SPLICED
    from the span family's shared fragments (dedup_plans) — only the
    upstream frontier (quality filter + exact dedup) and the
    downstream packing are local — so a change to either policy's
    hit rule propagates here by construction (review-r11: the
    keepfirst rule briefly existed in two hand-maintained copies)."""
    from pdf_etl_ocr_inference_spark.plans.dedup_plans import (
        _SPAN_DUP,
        _SPAN_HITS,
        _SPAN_OCC,
        _span_hits_keepfirst_sql,
        _span_islands_tail_sql,
    )

    hits = (
        f"{_SPAN_DUP}, {_SPAN_HITS}"
        if policy == "symmetric"
        else _span_hits_keepfirst_sql()
    )
    return f"""
    WITH q AS (
      SELECT doc_id, text FROM documents WHERE {_QUALITY_SQL} >= 0.5),
    surv AS (
      SELECT MIN(doc_id) AS doc_id FROM (
        SELECT doc_id, MD5({_NORM_SQL}) AS f FROM q) GROUP BY f),
    d AS (SELECT q.doc_id, q.text FROM q JOIN surv USING (doc_id)),
    toks AS (
      SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\\s+') AS t FROM d),
    {_SPAN_OCC},
    {hits},
    {_span_islands_tail_sql()},
    cov AS (
      SELECT doc_id, SUM(span_end - span_start) AS n_cov
      FROM iv GROUP BY doc_id),
    kept AS (
      SELECT t.doc_id, LEN(t.t) - COALESCE(c.n_cov, 0) AS n_tokens
      FROM toks t LEFT JOIN cov c USING (doc_id)),
    flt AS (SELECT * FROM kept WHERE n_tokens >= 30),
    pos AS (
      SELECT doc_id % {_PACK_SHARDS} AS shard, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY doc_id % {_PACK_SHARDS}
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_tok
      FROM flt)
    SELECT shard, CAST(FLOOR(start_tok / {_PACK_BUDGET}.0) AS BIGINT)
             AS seq_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
    FROM pos GROUP BY shard, seq_id
    """


def _span_clean_corpus(
    spark: SparkSession, sf: str, policy: str
) -> DataFrame:
    from pdf_etl_ocr_inference_spark.functions.text import (
        doc_fingerprint,
        quality_score,
    )
    from pdf_etl_ocr_inference_spark.operators.span_dedup import (
        dup_span_intervals,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    q = docs.filter(quality_score("text") >= 0.5)
    # Exact dedup of the quality-filtered frontier via a COMBINABLE
    # aggregate (r13, ADVICE-r12): one scan, one fingerprint-keyed
    # shuffle with map-side partial aggregation — each map task ships
    # at most ONE (doc_id, text) candidate per fingerprint, and no
    # task ever buffers a whole clique.  The r12 window form shuffled
    # every member's FULL TEXT into one window partition per clique —
    # a single hot task under the 10k-deep boilerplate cliques the r8
    # comments call out.  Survivor rule unchanged (min doc_id per
    # fingerprint; min_by ties are impossible — doc_id is unique),
    # set-equality asserted in tests.
    d = (
        q.withColumn("_fp", doc_fingerprint("text"))
        .groupBy("_fp")
        .agg(F.min_by(F.struct("doc_id", "text"), "doc_id").alias("_s"))
        .select(F.col("_s.doc_id").alias("doc_id"), F.col("_s.text").alias("text"))
    )
    # Stage the deduped frontier once: three downstream branches
    # (gram-occurrence explode, dup-gram agg probe, token-count join)
    # re-derive it otherwise — the physical plan showed 6 document
    # scans and zero ReusedExchange.  One materialized pass replaces
    # three filter+dedup recomputes; at 100 TB staging the shared
    # stage (or persisting it) is exactly what a production pipeline
    # does between fan-out branches.
    import os as _os

    from pdf_etl_ocr_inference_spark.scratch import scratch_root as _sr

    # per-POLICY stage path (r11 advisory): the two policy entries
    # share the staged frontier's CONTENT but not its path — a lazy
    # frame returned by one entry must never read through the other
    # entry's in-flight overwrite of the same directory
    _tag = _os.path.basename(_os.path.normpath(sf))
    _stage = _os.path.join(
        _sr(), f"span_clean_stage_{_tag}_{policy}"
    )
    d.write.mode("overwrite").parquet(_stage)
    d = spark.read.parquet(_stage)
    cov = (
        dup_span_intervals(
            d, "text", "doc_id", n=6, min_docs=2, policy=policy
        )
        .groupBy("id")
        .agg(F.sum(F.col("span_end") - F.col("span_start")).alias("n_cov"))
    )
    kept = (
        d.select(F.col("doc_id"), token_count("text").alias("n_total"))
        .join(cov, F.col("doc_id") == F.col("id"), "left")
        .select(
            "doc_id",
            (
                F.col("n_total") - F.coalesce("n_cov", F.lit(0))
            ).alias("n_tokens"),
        )
        .filter(F.col("n_tokens") >= 30)
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        kept.withColumn("shard", F.col("doc_id") % _PACK_SHARDS)
        .withColumn(
            "start_tok", F.sum("n_tokens").over(w) - F.col("n_tokens")
        )
        .withColumn(
            "seq_id", F.floor(F.col("start_tok") / F.lit(_PACK_BUDGET))
        )
        .groupBy("shard", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
        )
    )


@register(
    "pipeline_span_clean_corpus",
    _span_clean_oracle("symmetric"),
    doc="corpus prep with SUBSTRING-level dedup composed in: quality "
    "filter -> exact doc dedup -> duplicated-span interval detection "
    "(Lee et al. 2022 at 6-gram resolution) -> drop docs left under "
    "30 tokens after scrubbing -> sequence packing over the SCRUBBED "
    "token counts. The deduped frontier is STAGED once (three "
    "downstream branches re-derived it otherwise — 6 document scans "
    "in the physical plan; staging cut the sf0.1 wall ~27%), then "
    "the rest runs lazily. The packing budget sees post-scrub "
    "lengths, so boilerplate passages stop inflating the token "
    "ledger. Every stage replayed in the oracle SQL — the "
    "composition stays value-checked end to end.",
)
def pipeline_span_clean_corpus(spark: SparkSession, sf: str) -> DataFrame:
    return _span_clean_corpus(spark, sf, "symmetric")


@register(
    "pipeline_span_clean_corpus_keepfirst",
    _span_clean_oracle("keepfirst"),
    doc="the span-clean corpus-prep pipeline under the KEEP-FIRST "
    "scrub policy (r11): after quality filter + exact doc dedup, "
    "duplicated-span intervals exempt the canonical occurrence "
    "(MIN doc_id per gram over the deduped frontier) and only "
    "repeats are scrubbed before the <30-token drop and sequence "
    "packing — the policy a trainer picks when boilerplate should "
    "survive EXACTLY once in the corpus rather than vanish "
    "(Lee et al. 2022's standard). Same staged-frontier plan and "
    "packing math as the symmetric entry; per doc the scrubbed "
    "token count is <= the symmetric entry's, so packed sequences "
    "carry >= tokens.",
)
def pipeline_span_clean_corpus_keepfirst(
    spark: SparkSession, sf: str
) -> DataFrame:
    return _span_clean_corpus(spark, sf, "keepfirst")


@register(
    "train_curriculum_packing",
    f"""
    WITH q AS (
      SELECT doc_id, text, {_QUALITY_SQL} AS quality FROM documents),
    toks AS (
      SELECT doc_id % {_PACK_SHARDS} AS shard, doc_id,
             ROUND(quality, 6) AS quality,
             LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS n_tokens
      FROM q),
    pos AS (
      SELECT shard, doc_id, quality, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard
               ORDER BY ROUND(quality, 6) DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_tok
      FROM toks)
    SELECT shard, CAST(FLOOR(start_tok / {_PACK_BUDGET}.0) AS BIGINT)
             AS seq_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           ROUND(AVG(quality), 4) AS avg_quality
    FROM pos GROUP BY shard, seq_id
    """,
    doc="curriculum-ordered sequence packing: docs pack in QUALITY-"
    "descending order within each shard (quantized to 6 decimals + "
    "doc_id tie-break for a cross-engine-total order), so early "
    "training sequences carry the cleanest data — the curriculum "
    "knob a mixture scheduler actually turns. Identical shuffle "
    "shape to id-ordered packing (the window just sorts by a "
    "different key); per-sequence avg_quality exposes the "
    "monotone-ish decay for downstream schedulers.",
)
def train_curriculum_packing(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_etl_ocr_inference_spark.functions.text import quality_score

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.round(quality_score("text"), 6).alias("quality"),
        token_count("text").alias("n_tokens"),
    )
    toks = docs.withColumn("shard", F.col("doc_id") % _PACK_SHARDS)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.desc("quality"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        toks.withColumn(
            "start_tok", F.sum("n_tokens").over(w) - F.col("n_tokens")
        )
        .withColumn(
            "seq_id", F.floor(F.col("start_tok") / F.lit(_PACK_BUDGET))
        )
        .groupBy("shard", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
    )


@register(
    "op72c_ivm_minmax",
    "SELECT user_id, ROUND(MIN(value), 4) AS min_v, "
    "ROUND(MAX(value), 4) AS max_v FROM events GROUP BY user_id",
    doc="insert-only MIN/MAX materialized-aggregate maintenance: the "
    "base extremes fold a new-arrivals batch via LEAST/GREATEST "
    "merge (aggregate-table-sized join), equaling the full-corpus "
    "recompute the oracle runs. MIN/MAX are NOT maintainable "
    "through deletes (the runner-up lives only in the base data) — "
    "minmax_delta raises on removal change types rather than "
    "drifting silently; recompute is the documented escape hatch.",
)
def op72c_ivm_minmax(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_etl_ocr_inference_spark.streaming.ivm import (
        merge_minmax,
        minmax_delta,
    )

    ev = _t(spark, sf, "events")
    base_rows = ev.filter(F.col("event_id") % 10 != 7)
    batch = ev.filter(F.col("event_id") % 10 == 7).withColumn(
        "_change_type", F.lit("insert")
    )
    base = base_rows.groupBy("user_id").agg(
        F.min("value").alias("min_v"), F.max("value").alias("max_v")
    )
    delta = minmax_delta(
        batch,
        ["user_id"],
        min_cols={"min_v": "value"},
        max_cols={"max_v": "value"},
    )
    merged = merge_minmax(
        base, delta, ["user_id"], min_cols=["min_v"], max_cols=["max_v"]
    )
    return merged.select(
        "user_id",
        F.round("min_v", 4).alias("min_v"),
        F.round("max_v", 4).alias("max_v"),
    )


_DSIR_TARGET = ("src0", "src1", "src2", "src3", "src4")
_DSIR_V = 1024


def _dsir_cte() -> str:
    """The DSIR selection as a reusable CTE chain ending in
    ``sel(doc_id, source, log_ratio)`` — shared by the standalone
    entry and the corpus pipeline so composition stays value-checked
    stage-for-stage."""
    from pdf_etl_ocr_inference_spark.operators.sketch import md5_u48_sql

    tgt = ", ".join(f"'{s}'" for s in _DSIR_TARGET)
    b = f"({md5_u48_sql('tok')} % {_DSIR_V})"
    return f"""
    tok AS (
      SELECT doc_id, source,
             UNNEST(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')) AS tok
      FROM documents),
    tb AS (SELECT doc_id, source, {b} AS b FROM tok),
    t AS (SELECT b, COUNT(*) AS ct FROM tb
          WHERE source IN ({tgt}) GROUP BY b),
    nt AS (SELECT SUM(ct) AS n FROM t),
    r AS (SELECT b, COUNT(*) AS cr FROM tb
          WHERE source NOT IN ({tgt}) GROUP BY b),
    nr AS (SELECT SUM(cr) AS n FROM r),
    lam AS (
      SELECT tb.doc_id AS doc_id, tb.source AS source,
             ROUND(SUM(
               LN((COALESCE(t.ct, 0) + 1.0)
                  / ((SELECT n FROM nt) + {_DSIR_V}))
               - LN((r.cr + 1.0)
                  / ((SELECT n FROM nr) + {_DSIR_V}))), 4) AS log_ratio
      FROM tb LEFT JOIN t USING (b) JOIN r USING (b)
      WHERE tb.source NOT IN ({tgt})
      GROUP BY tb.doc_id, tb.source),
    sel AS (
      SELECT doc_id, source, log_ratio FROM (
        SELECT doc_id, source, log_ratio,
               ROUND(log_ratio - LN(-LN(
                 ((doc_id * 2654435761 + 12345) % 4294967296 + 1)
                 / 4294967296.0)), 6) AS score
        FROM lam)
      ORDER BY score DESC, doc_id LIMIT 100)
    """


@register(
    "train_dsir_sample",
    f"WITH {_dsir_cte()} SELECT doc_id, source, log_ratio FROM sel",
    doc="DSIR-style importance resampling (Data Selection via "
    "Importance Resampling, Xie et al. 2023): raw-pool documents are "
    "scored by the log-likelihood ratio of their hashed-unigram "
    "features under a TARGET-domain bucket LM vs the RAW-pool bucket "
    "LM (1024 md5-fold buckets, add-one smoothing), then sampled "
    "without replacement proportionally to exp(ratio) via "
    "Gumbel-top-k — the Gumbel noise is a pure function of doc_id "
    "(the engine's Knuth-hash uniform), so the draw is reproducible "
    "and fully oracle-replayable. The 100 TB shape: both bucket LMs "
    "are <=V rows REGARDLESS of corpus size (broadcast joins), the "
    "per-doc ratio is one combinable token-explode aggregation, and "
    "the top-k is TakeOrdered — no global sort. Selection keys are "
    "quantized (ratio 4dp, score 6dp, id tie-break) so libm/"
    "reduction-order ulps cannot diverge the engines' cut.",
)
def _dsir_selection(spark: SparkSession, sf: str) -> DataFrame:
    """The DSIR top-100 selection (doc_id, source, log_ratio) shared
    by the standalone entry and the corpus pipeline.

    The hashed-token table is STAGED once (span-clean-pipeline
    precedent): five downstream subtrees (target counts, raw counts,
    their totals, the per-doc ratio join) would otherwise each replay
    the explode + 12-step md5 fold over every token — the physical
    plan showed five document scans and zero ReusedExchange; staging
    cut the sf0.1 pipeline from 13.9 s to the cost of one pass.

    r12 perf pass (guide §2.3 — shuffle/stage fewer bytes): the
    stage holds per-(doc, bucket) COUNTS, not one row per token
    occurrence.  The count agg is fully map-side combinable and runs
    inside the same pass that feeds the write, so the staged parquet
    shrinks from corpus-token-sized to ≤ docs × min(doc_tokens, V)
    rows — at 100 TB that is the difference between re-writing the
    tokenized corpus and writing a bounded feature table — and every
    downstream agg/join reads counts instead of occurrences.  The
    bucket LMs fold the counts (SUM(cnt) ≡ COUNT(*) over occurrence
    rows); the per-doc ratio weights each bucket term by its count
    (Σ_occurrences term(b) ≡ Σ_buckets cnt·term(b))."""
    import os as _os

    from pdf_etl_ocr_inference_spark.operators.sampling import (
        _MOD,
        sample_hash,
    )
    from pdf_etl_ocr_inference_spark.operators.sketch import md5_u48
    from pdf_etl_ocr_inference_spark.scratch import scratch_root as _sr

    docs = _t(spark, sf, "documents").select("doc_id", "source", "text")
    tokb = (
        docs.select(
            "doc_id",
            "source",
            F.explode(tokens(F.lower(F.col("text")))).alias("tok"),
        )
        .select(
            "doc_id", "source",
            (md5_u48(F.col("tok")) % _DSIR_V).alias("b"),
        )
        .groupBy("doc_id", "source", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    _tag = _os.path.basename(_os.path.normpath(sf))
    _stage = _os.path.join(_sr(), f"dsir_tokb_{_tag}")
    tokb.write.mode("overwrite").parquet(_stage)
    tokb = spark.read.parquet(_stage)
    is_target = F.col("source").isin(list(_DSIR_TARGET))
    t = tokb.filter(is_target).groupBy("b").agg(F.sum("cnt").alias("ct"))
    nt = t.agg(F.sum("ct").alias("n_t"))
    r = tokb.filter(~is_target).groupBy("b").agg(F.sum("cnt").alias("cr"))
    nr = r.agg(F.sum("cr").alias("n_r"))
    term = F.log(
        (F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
        / (F.col("n_t") + _DSIR_V)
    ) - F.log((F.col("cr") + 1.0) / (F.col("n_r") + _DSIR_V))
    lam = (
        tokb.filter(~is_target)
        .join(F.broadcast(t), "b", "left")
        .join(F.broadcast(r), "b")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .groupBy("doc_id", "source")
        .agg(
            F.round(F.sum(term * F.col("cnt")), 4).alias("log_ratio")
        )
    )
    u = (sample_hash(F.col("doc_id")) + 1) / F.lit(float(_MOD))
    score = F.round(F.col("log_ratio") - F.log(-F.log(u)), 6)
    return (
        lam.withColumn("score", score)
        .orderBy(F.desc("score"), "doc_id")
        .limit(100)
        .select("doc_id", "source", "log_ratio")
    )


def train_dsir_sample(spark: SparkSession, sf: str) -> DataFrame:
    return _dsir_selection(spark, sf)


def _dsir_pipeline_oracle() -> str:
    return f"""
    WITH {_dsir_cte()},
    dsel AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN sel USING (doc_id)),
    surv AS (
      SELECT MIN(doc_id) AS doc_id FROM (
        SELECT doc_id, MD5({_NORM_SQL}) AS f FROM dsel) GROUP BY f),
    d AS (SELECT dsel.doc_id, dsel.text FROM dsel JOIN surv
          USING (doc_id)),
    toks AS (
      SELECT doc_id % {_PACK_SHARDS} AS shard, doc_id,
             LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS n_tokens
      FROM d),
    pos AS (
      SELECT shard, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_tok
      FROM toks)
    SELECT shard, CAST(FLOOR(start_tok / {_PACK_BUDGET}.0) AS BIGINT)
             AS seq_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
    FROM pos GROUP BY shard, seq_id
    """


@register(
    "pipeline_dsir_corpus",
    _dsir_pipeline_oracle(),
    doc="domain-TARGETED pretraining-corpus construction as ONE lazy "
    "plan: DSIR importance resampling against the target-domain "
    "bucket LM (train_dsir_sample's selection, reused CTE-for-CTE in "
    "the oracle) -> exact dedup of the selected pool (canonical-"
    "fingerprint survivor semi-join) -> GPT-style sequence packing. "
    "The quality-heuristic pipeline (pipeline_pretrain_corpus) "
    "filters on intrinsic document features; this one SELECTS toward "
    "a target distribution — the two compose the Gopher-rules + "
    "DSIR recipe production pretraining sets actually use. No stage "
    "materializes or touches the driver beyond the bounded top-k; "
    "the bucket LMs stay <=1024 rows at any corpus size.",
)
def pipeline_dsir_corpus(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_etl_ocr_inference_spark.functions.text import doc_fingerprint

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    sel = _dsir_selection(spark, sf).select("doc_id")
    dsel = docs.join(F.broadcast(sel), "doc_id")
    # Exact dedup of the SELECTED pool via a window over the
    # canonical fingerprint (r12 perf pass, guide §2.4): the r11
    # survivor SEMI-JOIN evaluated its right side by re-deriving
    # dsel — which re-ran the ENTIRE DSIR selection subtree (4 scans
    # of the staged feature table + the top-k) a second time, and
    # planned as a SortMergeJoin that exchanged the full documents
    # scan on doc_id.  The pool is ≤100 rows by construction (the
    # Gumbel-top-k LIMIT), so one tiny window exchange replaces the
    # duplicated subtree + corpus shuffle.  Survivor rule unchanged
    # (min doc_id per fingerprint) — same rows out.
    w = Window.partitionBy("_fp")
    d = (
        dsel.withColumn("_fp", doc_fingerprint("text"))
        .withColumn("_keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_keep"))
        .select("doc_id", "text")
    )
    toks = d.select(
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        "doc_id",
        token_count("text").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        toks.withColumn(
            "start_tok", F.sum("n_tokens").over(w) - F.col("n_tokens")
        )
        .withColumn(
            "seq_id", F.floor(F.col("start_tok") / F.lit(_PACK_BUDGET))
        )
        .groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
        )
    )


# ------------------------------------------------------------------
# Seeded corpus shuffle + shard export (r9): the last stage of a
# pretraining pipeline — a REPRODUCIBLE global permutation of the
# cleaned corpus, materialized as N balanced shards with a
# deterministic within-shard order, so any epoch/run/resume reads
# exactly the same stream.  Spark-first shape: the permutation key is
# a seeded hash (no RNG state, no driver), shard = key mod N (one
# shuffle, uniform by construction), within-shard position = a
# per-shard window — NO global sort, so the plan scales by adding
# shards (each shard sorts independently; at 100 TB use
# n_shards ≈ cluster width × a few).  Changing the seed ("ep2", ...)
# yields an independent permutation — epoch reshuffling without
# re-reading anything but the id column.  md5 keys here for DuckDB
# value-replay (the dedup-family pattern); production callers can
# swap xxhash64(seed, id) 1:1.
# ------------------------------------------------------------------

_SHUFFLE_SEED = "ep1"

# pipeline_curated_mix's temperature-mix parameters — ONE definition
# shared by the Spark entry, the oracle SQL, and the quota-margin
# guard (tests/test_quota_margins.py), which machine-checks that every
# per-group quota these produce sits ≥0.05 from the nearest integer
# rank at every SF (the float rk<=quota cross-engine-stability
# invariant the docstrings state).
_CURATED_MIX_BUDGET = 100
_CURATED_MIX_ALPHA = 0.5
_SHUFFLE_SHARDS = 8


@register(
    "train_shuffle_shards",
    "WITH k AS (SELECT doc_id, "
    "CAST(CAST('0x' || SUBSTR(MD5('" + _SHUFFLE_SEED + ":' || "
    "CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT) AS okey "
    "FROM documents) "
    f"SELECT CAST(okey % {_SHUFFLE_SHARDS} AS INT) AS shard, "
    "CAST(ROW_NUMBER() OVER (PARTITION BY okey % "
    f"{_SHUFFLE_SHARDS} ORDER BY okey, doc_id) AS BIGINT) AS pos, "
    "doc_id FROM k",
    doc="seeded reproducible corpus shuffle into balanced training "
    "shards: permutation key = md5(seed:doc_id), shard = key mod "
    f"{_SHUFFLE_SHARDS}, pos = per-shard rank by (key, id).  One "
    "shuffle, no global sort, no RNG state — rerunning (or resuming) "
    "an epoch reads the identical stream, and a new seed is a fresh "
    "independent permutation.  The standard exporter step between "
    "dedup/quality filtering and sequence packing.",
)
def train_shuffle_shards(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_etl_ocr_inference_spark.operators.dedup import md5_base32

    docs = _t(spark, sf, "documents").select("doc_id")
    okey = md5_base32(
        F.concat(
            F.lit(f"{_SHUFFLE_SEED}:"), F.col("doc_id").cast("string")
        )
    )
    w = Window.partitionBy("shard").orderBy("okey", "doc_id")
    return (
        docs.withColumn("okey", okey)
        .withColumn(
            "shard", F.pmod("okey", F.lit(_SHUFFLE_SHARDS)).cast("int")
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("shard", "pos", "doc_id")
    )


def _split_leakage_oracle() -> str:
    """Near-dup pairs that CROSS the op64 hash split: the MinHash pair
    replay joined to each endpoint's train/eval bucket.  Lazy so the
    import of dedup_plans' oracle generator happens at resolution
    time, not at module import."""
    from pdf_etl_ocr_inference_spark.functions.splits import hash_split_sql
    from pdf_etl_ocr_inference_spark.plans.dedup_plans import (
        _minhash_oracle_sql,
    )

    return f"""
    WITH mp AS (SELECT id_a, id_b, jaccard
                FROM ({_minhash_oracle_sql()}) _m),
    sp AS (SELECT doc_id, {hash_split_sql("doc_id")} AS split
           FROM documents)
    SELECT mp.id_a, mp.id_b, mp.jaccard,
           sa.split AS split_a, sb.split AS split_b
    FROM mp JOIN sp sa ON sa.doc_id = mp.id_a
            JOIN sp sb ON sb.doc_id = mp.id_b
    WHERE sa.split <> sb.split
    """


@register(
    "train_split_leakage",
    _split_leakage_oracle,
    doc="train/eval LEAKAGE AUDIT: near-duplicate pairs whose "
    "endpoints land on opposite sides of the op64 hash split — the "
    "eval-contamination mode id-hash splitting cannot prevent "
    "(near-identical docs get independent ids; Lee et al. 2022 §6.2 "
    "measured the val-set overlap this creates). Composes the "
    "oracled MinHash pair set with the oracled split rule: two "
    "id-keyed joins against a 2-column split projection, nothing "
    "corpus-quadratic. Non-empty at every SF (7/10/77 leaking "
    "pairs), so the audit is exercised, not vacuous. The remedy "
    "path is dedup-then-split (pipeline_pretrain_corpus) or moving "
    "eval members' whole clusters (dedup_clusters) across.",
)
def train_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_etl_ocr_inference_spark.functions.splits import hash_split
    from pdf_etl_ocr_inference_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    docs = _t(spark, sf, "documents")
    pairs = minhash_dedup_pairs(
        docs,
        "text",
        "doc_id",
        jaccard_threshold=0.5,
        hash_family="md5",
    )
    sp = docs.select("doc_id", hash_split("doc_id").alias("split"))
    sa = sp.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = sp.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "jaccard", "split_a", "split_b")
    )


def _curated_mix_oracle() -> str:
    """Full replay of the curated-mix pipeline, spliced from ITS
    COMPONENTS' shared fragments: dedup_plans._cc_quality_ranked_sql
    (MinHash pairs → recursive-CTE components → quality-argmax
    ranking) + mix_sql.temperature_mix_sql over the survivor set —
    so a change to either component rule propagates here by
    construction.  Thresholds sit ≥0.10 from every integer rank at
    all three SFs (verified), so the float rk<=quota compare is
    cross-engine stable."""
    from pdf_etl_ocr_inference_spark.plans.dedup_plans import (
        _cc_quality_ranked_sql,
    )
    from pdf_etl_ocr_inference_spark.plans.mix_sql import (
        temperature_mix_sql,
    )

    return f"""
    WITH RECURSIVE {_cc_quality_ranked_sql()}, drop_ AS (
      SELECT doc_id FROM ranked WHERE rk > 1
    ), surv AS (
      SELECT d.doc_id, d.lang FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_)
    ), {temperature_mix_sql(
        "surv", "lang", "doc_id", _CURATED_MIX_BUDGET, _CURATED_MIX_ALPHA
    )}
    """


@register(
    "pipeline_curated_mix",
    _curated_mix_oracle,
    doc="end-to-end CURATED-MIX pipeline composing this round's "
    "curation ops: MinHash near-dup clusters collapse to their "
    "argmax-quality survivor (dedup_cluster_best_quality's rule), "
    "then the temperature-scaled language mix (train_temperature_mix, "
    "p ∝ n^0.5) is drawn over SURVIVOR counts — dedup-then-mix, the "
    "order that stops duplicate-heavy languages from inflating "
    "their own quota. All stages replay in ONE oracle SQL (pair "
    "replay, recursive-CTE components, argmax rule, POWER quotas, "
    "md5 fill). Data-plane shape: the dedup pair graph (∝ "
    "duplication), one anti-join against the drop set, one "
    "combinable lang count, one per-lang rank window.",
)
def pipeline_curated_mix(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_etl_ocr_inference_spark.operators.sampling import (
        temperature_mix,
    )
    from pdf_etl_ocr_inference_spark.plans.dedup_plans import (
        quality_cluster_members,
        quality_collapse_drop,
    )

    # argmax(q), tie min id — the dedup_cluster_best_quality rule,
    # via the shared drop-set helper
    drop = quality_collapse_drop(quality_cluster_members(spark, sf))
    surv = (
        _t(spark, sf, "documents")
        .select("doc_id", "lang")
        .join(drop, "doc_id", "left_anti")
    )
    return temperature_mix(
        surv,
        "lang",
        "doc_id",
        budget=_CURATED_MIX_BUDGET,
        alpha=_CURATED_MIX_ALPHA,
    )


# token-window width of the chunk-attrition ledger — op24's chunker
# window, so the lineage entry speaks the same chunk vocabulary as
# the chunk family (document_plans); no min-chars filter: an
# attrition ledger must account for EVERY chunk, and a chunk dropped
# by a size filter is not "lost to curation".
_ATTR_CHUNK_W = 20


def _chunk_attrition_oracle() -> str:
    """Full replay of the chunk-attrition lineage, spliced from ITS
    COMPONENTS' shared fragments: dedup_plans._cc_quality_ranked_sql
    (the near-dedup drop set is its rk > 1 rows) + the span family's
    _SPAN_TOKS/_SPAN_OCC/_SPAN_DUP/_SPAN_ISLANDS chain (the
    dedup_span_intervals oracle verbatim) + the op24 token-window
    math — so a change to either component rule propagates here by
    construction."""
    from pdf_etl_ocr_inference_spark.plans.dedup_plans import (
        _SPAN_DUP,
        _SPAN_ISLANDS,
        _SPAN_OCC,
        _SPAN_TOKS,
        _cc_quality_ranked_sql,
        _span_hits_keepfirst_sql,
        _span_islands_tail_sql,
    )

    w = _ATTR_CHUNK_W
    return f"""
    WITH RECURSIVE {_cc_quality_ranked_sql()}, drop_ AS (
      SELECT doc_id FROM ranked WHERE rk > 1
    ), {_SPAN_TOKS}, {_SPAN_OCC}, {_SPAN_DUP}, {_SPAN_ISLANDS},
    {_span_hits_keepfirst_sql('_kf')}, {_span_islands_tail_sql('_kf')},
    chunks AS (
      -- empty/whitespace-only text splits to all-empty tokens:
      -- exclude such docs or an empty doc ledgers as one 'kept'
      -- chunk (r11, advice); ARRAY_TO_STRING(t,'') <> '' is the
      -- engine side's has-non-whitespace rlike through the token
      -- array
      SELECT doc_id, i AS chunk_idx, i * {w} AS cs,
             LEAST(i * {w} + {w}, LEN(t)) AS ce
      FROM toks,
           UNNEST(RANGE(0, CAST(CEIL(LEN(t) / {w}.0) AS BIGINT))) AS r(i)
      WHERE ARRAY_TO_STRING(t, '') <> ''
    ), cov AS (
      SELECT c.doc_id, c.chunk_idx,
             SUM(GREATEST(LEAST(c.ce, v.span_end)
                          - GREATEST(c.cs, v.span_start), 0)) AS covered
      FROM chunks c JOIN iv v ON v.doc_id = c.doc_id
      GROUP BY c.doc_id, c.chunk_idx
    ), cov_kf AS (
      SELECT c.doc_id, c.chunk_idx,
             SUM(GREATEST(LEAST(c.ce, v.span_end)
                          - GREATEST(c.cs, v.span_start), 0)) AS covered
      FROM chunks c JOIN iv_kf v ON v.doc_id = c.doc_id
      GROUP BY c.doc_id, c.chunk_idx
    ), cls AS (
      SELECT ch.doc_id,
             CASE WHEN ch.doc_id IN (SELECT doc_id FROM drop_)
                    THEN 'dedup'
                  WHEN COALESCE(cv.covered, 0) >= ch.ce - ch.cs
                    THEN 'scrub'
                  ELSE 'kept' END AS fate,
             CASE WHEN ch.doc_id NOT IN (SELECT doc_id FROM drop_)
                   AND COALESCE(ck.covered, 0) >= ch.ce - ch.cs
                  THEN 1 ELSE 0 END AS kf
      FROM chunks ch
      LEFT JOIN cov cv
        ON cv.doc_id = ch.doc_id AND cv.chunk_idx = ch.chunk_idx
      LEFT JOIN cov_kf ck
        ON ck.doc_id = ch.doc_id AND ck.chunk_idx = ch.chunk_idx
    )
    SELECT d.source, d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN fate = 'dedup' THEN 1 ELSE 0 END)
             AS BIGINT) AS lost_dedup,
           CAST(SUM(CASE WHEN fate = 'scrub' THEN 1 ELSE 0 END)
             AS BIGINT) AS lost_scrub,
           CAST(SUM(kf) AS BIGINT) AS lost_scrub_keepfirst,
           CAST(SUM(CASE WHEN fate = 'kept' THEN 1 ELSE 0 END)
             AS BIGINT) AS kept
    FROM cls JOIN documents d USING (doc_id)
    GROUP BY d.source, d.lang
    """


@register(
    "pipeline_chunk_attrition_by_source",
    _chunk_attrition_oracle,
    doc="chunk→doc→source LINEAGE through two curation decisions "
    "(r9 verdict #4): every op24-style token-window chunk is "
    "attributed a fate — lost with its whole document to the "
    "quality-aware near-dedup collapse (the shared "
    "dedup_cluster_best_quality drop rule), lost individually to "
    "span-scrub (its token range fully inside duplicated-6-gram "
    "islands), or kept — and the ledger rolls up per (source, "
    "lang): the governance view that tells a curation run WHICH "
    "feeds lose the most training chunks and to which mechanism. "
    "Dedup loss takes precedence (a dropped doc's chunks are not "
    "double-counted as scrubbed). lost_scrub_keepfirst (r11) reports "
    "the same ledger under the keep-first scrub policy — canonical "
    "occurrences retained, so per group it is <= lost_scrub — "
    "letting a curation run price the two policies in one rollup. "
    "Data-plane shape: chunk ledger is a narrow explode (∝ chunks), "
    "interval coverage joins on doc_id (∝ spans found), the drop "
    "set is broadcast (∝ duplication), final rollup is one "
    "combinable agg on ~100 (source, lang) keys. Every stage "
    "replays in ONE oracle SQL via the shared ranking + span "
    "fragments.",
)
def pipeline_chunk_attrition_by_source(
    spark: SparkSession, sf: str
) -> DataFrame:
    from pdf_etl_ocr_inference_spark.operators.span_dedup import (
        dup_span_intervals_both,
    )
    from pdf_etl_ocr_inference_spark.plans.dedup_plans import (
        quality_cluster_members,
        quality_collapse_drop,
    )

    w = _ATTR_CHUNK_W
    docs = _t(spark, sf, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    drop = quality_collapse_drop(
        quality_cluster_members(spark, sf)
    ).withColumn("_dropped", F.lit(True))
    # ONE ngram pass + ONE gram shuffle feed both policies'
    # interval sets (review-r11: two dup_span_intervals calls ran
    # the corpus explode twice)
    import os as _os

    iv, iv_kf = dup_span_intervals_both(
        docs, "text", "doc_id", n=6,
        stage_tag=f"attr_{_os.path.basename(_os.path.normpath(sf))}",
    )
    # one row per token-window chunk: [cs, ce) token positions in the
    # SAME \s+ tokenization the span family uses, so interval math
    # and chunk math share one coordinate system
    chs = (
        # empty/whitespace-only text tokenizes to [''] (or ['',''])
        # in BOTH engines — \s+ split of a token-free string — so
        # _n > 0 alone would ledger an empty doc as one 'kept' chunk.
        # Filter on "has any non-whitespace char" (trim() strips only
        # spaces, not \n\t) — the oracle's ARRAY_TO_STRING(t,'') <> ''
        # is the same predicate through the token array (r11, advice).
        docs.filter(F.col("text").rlike(r"\S"))
        .select(
            "doc_id", "lang", "source",
            token_count("text").alias("_n"),
        )
        .filter(F.col("_n") > 0)
        .select(
            "doc_id", "lang", "source", "_n",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.col("_n") / F.lit(w)).cast("long") - 1,
                )
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id", "lang", "source", "chunk_idx",
            (F.col("chunk_idx") * w).alias("cs"),
            F.least(
                F.col("chunk_idx") * w + w, F.col("_n")
            ).alias("ce"),
        )
    )
    overlap = F.greatest(
        F.least(F.col("ce"), F.col("span_end"))
        - F.greatest(F.col("cs"), F.col("span_start")),
        F.lit(0),
    )
    cov = (
        chs.join(iv, chs["doc_id"] == iv["id"])
        .select("doc_id", "chunk_idx", overlap.alias("_ov"))
        .groupBy("doc_id", "chunk_idx")
        .agg(F.sum("_ov").alias("covered"))
    )
    cov_kf = (
        chs.join(iv_kf, chs["doc_id"] == iv_kf["id"])
        .select("doc_id", "chunk_idx", overlap.alias("_ov"))
        .groupBy("doc_id", "chunk_idx")
        .agg(F.sum("_ov").alias("covered_kf"))
    )
    fate = F.when(F.col("_dropped"), F.lit("dedup")).when(
        F.coalesce(F.col("covered"), F.lit(0))
        >= F.col("ce") - F.col("cs"),
        F.lit("scrub"),
    ).otherwise(F.lit("kept"))
    # the keep-first policy column (r11, verdict #6): what the SAME
    # chunk ledger loses when the scrub retains canonical occurrences
    # — dedup precedence unchanged (a dropped doc's chunks are not
    # keepfirst-scrubbed either)
    kf_lost = F.when(
        F.coalesce(F.col("_dropped"), F.lit(False)),
        F.lit(0),
    ).when(
        F.coalesce(F.col("covered_kf"), F.lit(0))
        >= F.col("ce") - F.col("cs"),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        chs.join(cov, ["doc_id", "chunk_idx"], "left")
        .join(cov_kf, ["doc_id", "chunk_idx"], "left")
        .join(F.broadcast(drop), "doc_id", "left")
        .withColumn("fate", fate)
        .withColumn("kf", kf_lost)
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(
                F.when(F.col("fate") == "dedup", 1).otherwise(0)
            ).alias("lost_dedup"),
            F.sum(
                F.when(F.col("fate") == "scrub", 1).otherwise(0)
            ).alias("lost_scrub"),
            F.sum("kf").alias("lost_scrub_keepfirst"),
            F.sum(
                F.when(F.col("fate") == "kept", 1).otherwise(0)
            ).alias("kept"),
        )
    )
