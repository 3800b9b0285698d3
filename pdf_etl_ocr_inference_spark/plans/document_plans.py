"""Document-pipeline query catalog (OP-20/24/25/30 and the flagship
ingest→chunk→embed→search pipeline).

The native chunker and the mapInPandas chunker implement identical
semantics, and BOTH are oracle-checked against the same DuckDB SQL —
proving the Python path agrees with the JVM path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.operators.documents import (
    chunk_map_in_pandas,
    chunk_native,
    derive_filenames,
)
from pdf_etl_ocr_inference_spark.plans.registry import register
from pdf_etl_ocr_inference_spark.scratch import SCRATCH_ROOT as _SR
from pdf_etl_ocr_inference_spark.sources.catalog import load_table as _t

# Per-process blob staging dirs (scratch.py): the oracle SQL below
# interpolates the SAME path at import time, so Spark query and
# DuckDB oracle always agree within a process while concurrent
# sessions stay isolated.
_BLOB_SRC = f"{_SR}/blobs_src"
_BLOB_DST = f"{_SR}/blobs_dst"

# Token-window chunking (window=20, stride=20, min_chars=50) in DuckDB:
# toks = non-empty split on single spaces; chunk i joins toks[20i+1 .. 20i+20].
_CHUNK_SQL = """
WITH tokd AS (
  SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS toks
  FROM documents
), exploded AS (
  SELECT doc_id,
         UNNEST(GENERATE_SERIES(0, CAST(CEIL(LEN(toks) / 20.0) AS INT) - 1))
           AS chunk_idx,
         toks
  FROM tokd WHERE LEN(toks) > 0
)
SELECT doc_id, chunk_idx,
       ARRAY_TO_STRING(toks[chunk_idx * 20 + 1 : chunk_idx * 20 + 20], ' ')
         AS chunk
FROM exploded
WHERE LENGTH(ARRAY_TO_STRING(toks[chunk_idx * 20 + 1 : chunk_idx * 20 + 20],
      ' ')) > 50
"""


@register(
    "op24b_chunk_sentences",
    """
    WITH s AS (
      SELECT doc_id, STRING_SPLIT(
        REGEXP_REPLACE(TRIM(text), '([.!?])\\s+', '\\1' || CHR(1), 'g'),
        CHR(1)) AS sents
      FROM documents),
    c AS (
      SELECT doc_id, i AS chunk_idx,
             ARRAY_TO_STRING(sents[2*i+1 : 2*i+3], ' ') AS chunk
      FROM s, UNNEST(RANGE(0,
        CASE WHEN LEN(sents) <= 3 THEN 1
             ELSE 1 + CAST(CEIL((LEN(sents) - 3) / 2.0) AS BIGINT) END))
        AS r(i))
    SELECT doc_id, chunk_idx, MD5(chunk) AS chunk_md5,
           LENGTH(chunk) AS n_chars
    FROM c
    """,
    doc="SENTENCE-window chunker with overlap (the RAG-prep "
    "alternative to op24's token windows): sentences split on "
    "punctuation boundaries (marker-insert + split — the spelling "
    "both engines' RE2/Java regexes agree on, no lookbehind), then "
    "3-sentence chunks at stride 2 so consecutive chunks share one "
    "sentence — retrieval context never cuts mid-thought and "
    "boundary-straddling answers stay findable. All native "
    "(regexp_replace/split/slice/posexplode); chunk content "
    "value-checked via md5.",
)
def op24b_chunk_sentences(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return _sentence_chunks(docs).select(
        "doc_id",
        "chunk_idx",
        F.md5("chunk").alias("chunk_md5"),
        F.length("chunk").alias("n_chars"),
    )


def _sentence_chunks(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_idx, chunk): 3-sentence windows at stride 2 —
    the shared chunker behind op24b and the sentence-RAG pipeline."""
    sents = F.split(
        F.regexp_replace(F.trim("text"), r"([.!?])\s+", "$1"),
        "",
    )
    n = F.size("sents")
    n_chunks = F.when(n <= 3, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - F.lit(3)) / F.lit(2.0))
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks.cast("long") - 1),
        lambda i: F.concat_ws(" ", F.slice("sents", i * 2 + 1, 3)),
    )
    return docs.withColumn("sents", sents).select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk")
    )


@register(
    "op24_chunk_native",
    _CHUNK_SQL,
    doc="token-window chunker, JVM-native (sequence/slice/concat_ws) + "
    "posexplode + >50-char filter (ref 02:230,292 semantics).",
)
def op24_chunk_native(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return chunk_native(docs, "text", window=20, min_chars=50)


@register(
    "op25_chunk_mapinpandas",
    _CHUNK_SQL,
    doc="same chunker through mapInPandas (Arrow) with LPT layout on "
    "n_chars — the OCR/Ray-replacement path (ref 02:178-260). Same "
    "oracle as op24 ⇒ Python path ≡ JVM path.",
)
def op25_chunk_mapinpandas(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents").select("doc_id", "text", "n_chars")
    return chunk_map_in_pandas(
        docs,
        text_col="text",
        id_cols=("doc_id",),
        min_chars=50,
        size_col="n_chars",
    )


@register(
    "op20_derive_filename",
    "SELECT doc_id, PRINTF('%s/%06d.txt', source, doc_id) AS filename "
    "FROM documents",
    doc="filename derivation lifted out of the scalar UDF at "
    "01:122-143 into native format_string.",
)
def op20_derive_filename(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents").select("doc_id", "source")
    return derive_filenames(docs).select("doc_id", "filename")


@register(
    "op06_fetch_pipeline",
    "SELECT doc_id, "
    f"'{_BLOB_DST}/' || PRINTF('%06d', doc_id) "
    "|| '.txt' AS filename, n_chars AS filesize, TRUE AS fetch_ok "
    "FROM documents",
    doc="EP-1 ingest pipeline (ref 01:174-183): derive filenames "
    "natively, fetch each blob via the idempotent mapInPandas fetcher "
    "(exists-check makes task retries safe, ref 01:100-101), stat "
    "sizes. file:// fetcher copies staged text files, so filesize = "
    "n_chars (ASCII) — fully oracle-checkable despite the side "
    "effects. Fixture staging is itself a distributed mapInPandas "
    "write, committed by a marker file written after it — the query contains "
    "no data collect().",
)
def op06_fetch_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    import os

    from pdf_etl_ocr_inference_spark.operators.ingest import fetch_blobs

    src_dir = _BLOB_SRC
    dst_dir = _BLOB_DST
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    # Stage source blobs with a DISTRIBUTED write (local-mode executors
    # share the FS). Marker keys on the SF DIR, not the row count —
    # sf0.001 and sf0.01 both have 500 docs with different text, so a
    # count-keyed marker would keep stale blobs across SF switches.
    sf_tag = os.path.basename(os.path.normpath(sf))
    marker = os.path.join(src_dir, f".staged_{sf_tag}")
    if not os.path.exists(marker):
        import shutil

        # different SF ⇒ same doc_ids, different text: clear BOTH dirs
        # so the fetcher's idempotence check can't keep stale blobs
        for d in (src_dir, dst_dir):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(src_dir, exist_ok=True)

        def _stage(batches):
            import os as _os

            import pandas as pd

            n = 0
            for pdf in batches:
                for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                    path = _os.path.join(src_dir, f"{int(doc_id):06d}.txt")
                    with open(path, "w") as f:
                        f.write(text)
                    n += 1
            yield pd.DataFrame({"n_staged": [n]})

        docs.mapInPandas(_stage, "n_staged long").agg(
            F.sum("n_staged")
        ).count()  # control-only action: triggers the distributed write
        open(marker, "w").close()

    work = docs.select(
        "doc_id",
        F.format_string(f"file://{src_dir}/%06d.txt", "doc_id").alias("url"),
        F.format_string(f"{dst_dir}/%06d.txt", "doc_id").alias("dest"),
    )
    return fetch_blobs(
        work, url_col="url", dest_col="dest", id_cols=("doc_id",)
    )


@register(
    "pipeline_chunk_dedup",
    "WITH chunks AS (" + _CHUNK_SQL + ") "
    "SELECT COUNT(*) AS n_chunks, "
    "COUNT(DISTINCT MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(chunk), "
    "'[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')))) AS n_unique, "
    "COUNT(*) - COUNT(DISTINCT MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE("
    "LOWER(chunk), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')))) AS n_dups "
    "FROM chunks",
    doc="end-to-end chunk-level dedup: documents → native chunker → "
    "canonical fingerprint → duplicate counts. The ingest-dedup "
    "composition a training-data pipeline runs before embedding "
    "(never embed a chunk twice).",
)
def pipeline_chunk_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_etl_ocr_inference_spark.functions.text import doc_fingerprint

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    chunks = chunk_native(docs, "text", window=20, min_chars=50)
    fps = chunks.select(doc_fingerprint("chunk").alias("fp"))
    return fps.agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("fp").alias("n_unique"),
        (F.count("*") - F.countDistinct("fp")).alias("n_dups"),
    )


@register(
    "pipeline_chunk_embed_topk",
    """
    WITH tokd AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')
        AS toks FROM documents
    ), exploded AS (
      SELECT doc_id,
             UNNEST(GENERATE_SERIES(0,
               CAST(CEIL(LEN(toks) / 20.0) AS INT) - 1)) AS chunk_idx,
             toks
      FROM tokd WHERE LEN(toks) > 0
    ), chunks AS (
      SELECT doc_id, chunk_idx,
             ARRAY_TO_STRING(
               toks[chunk_idx * 20 + 1 : chunk_idx * 20 + 20], ' ')
               AS chunk
      FROM exploded
      WHERE LENGTH(ARRAY_TO_STRING(
        toks[chunk_idx * 20 + 1 : chunk_idx * 20 + 20], ' ')) > 50
    ), toks2 AS (
      SELECT doc_id, chunk_idx,
             UNNEST(LIST_FILTER(STRING_SPLIT(chunk, ' '), t -> t <> ''))
               AS tok
      FROM chunks
    ), hashed AS (
      SELECT doc_id, chunk_idx,
             CAST(CAST('0x' || SUBSTR(MD5(tok), 1, 16) AS UBIGINT) % 64
                  AS INT) AS dim_idx,
             CASE WHEN (CAST('0x' || SUBSTR(MD5(tok), 1, 16) AS UBIGINT)
                        >> 8) % 2 = 0 THEN 1 ELSE -1 END AS sgn
      FROM toks2
    ), vec AS (
      SELECT doc_id, chunk_idx, dim_idx, CAST(SUM(sgn) AS BIGINT) AS cnt
      FROM hashed GROUP BY 1, 2, 3
    ), norms AS (
      SELECT doc_id, chunk_idx, CAST(SUM(cnt * cnt) AS BIGINT) AS nsq
      FROM vec GROUP BY 1, 2
    ), qvec AS (
      SELECT dim_idx, cnt FROM vec WHERE doc_id = 0 AND chunk_idx = 0
    ), qn AS (
      SELECT nsq AS qnsq FROM norms WHERE doc_id = 0 AND chunk_idx = 0
    ), dots AS (
      SELECT v.doc_id, v.chunk_idx, CAST(SUM(v.cnt * q.cnt) AS BIGINT)
               AS dot
      FROM vec v JOIN qvec q USING (dim_idx)
      GROUP BY 1, 2
    )
    SELECT n.doc_id, n.chunk_idx,
           CAST(FLOOR(CAST(COALESCE(d.dot, 0) AS DOUBLE)
             / SQRT(CAST(n.nsq * q.qnsq AS DOUBLE))
             * 1073741824.0) AS BIGINT) AS score
    FROM norms n LEFT JOIN dots d USING (doc_id, chunk_idx)
         CROSS JOIN qn q
    WHERE NOT (n.doc_id = 0 AND n.chunk_idx = 0) AND n.nsq > 0
    ORDER BY score DESC, n.doc_id, n.chunk_idx LIMIT 10
    """,
    doc="flagship pipeline: documents → chunk (mapInPandas, LPT) → "
    "length filter → stub-embed (iterator pandas UDF) → cosine top-10 "
    "vs the first chunk of doc 0. SURVEY §7 minimum slice. Hash-gated "
    "end-to-end (verdict-r5 #1): the stub embedder emits UNNORMALIZED "
    "signed token counts (exact in float32, DuckDB-replayable via "
    "MD5), the dot product and norms are exact BIGINT arithmetic, and "
    "the emitted score is the 2^30-quantized cosine — a double "
    "computed from identical integers by one fixed correctly-rounded "
    "expression (cast/÷/sqrt/×/floor), hence bit-identical across "
    "engines; no float SUM whose reduction order could move a ulp. "
    "Cosine over raw counts ≡ cosine over L2-normalized vectors, so "
    "ranking semantics are unchanged from the rows-only r1–r5 form.",
)
def pipeline_chunk_embed_topk(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_etl_ocr_inference_spark.operators.inference import (
        hash_embed_counts,
        with_embeddings,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text", "n_chars")
    chunks = chunk_map_in_pandas(
        docs, text_col="text", id_cols=("doc_id",), min_chars=50,
        size_col="n_chars",
    )
    embedded = with_embeddings(
        chunks, "chunk", out_col="emb", dim=64, embed_fn=hash_embed_counts
    )
    query = embedded.filter(
        (F.col("doc_id") == 0) & (F.col("chunk_idx") == 0)
    ).select(F.col("emb").alias("q_emb"))

    as_long = lambda c: c.cast("long")  # noqa: E731 — counts are exact
    dot = F.aggregate(
        F.zip_with("emb", "q_emb", lambda x, y: as_long(x) * as_long(y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    nsq = F.aggregate(
        F.transform("emb", lambda x: as_long(x) * as_long(x)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    qnsq = F.aggregate(
        F.transform("q_emb", lambda x: as_long(x) * as_long(x)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    score = F.floor(
        dot.cast("double")
        / F.sqrt((nsq * qnsq).cast("double"))
        * F.lit(1073741824.0)
    ).cast("long")
    return (
        embedded.filter(~((F.col("doc_id") == 0) & (F.col("chunk_idx") == 0)))
        .crossJoin(F.broadcast(query))
        .withColumn("_nsq", nsq)
        .filter(F.col("_nsq") > 0)
        .select("doc_id", "chunk_idx", score.alias("score"))
        .orderBy(F.desc("score"), "doc_id", "chunk_idx")
        .limit(10)
    )


@register(
    "pipeline_rag_context",
    """
    WITH tokd AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')
        AS toks FROM documents
    ), exploded AS (
      SELECT doc_id,
             UNNEST(GENERATE_SERIES(0,
               CAST(CEIL(LEN(toks) / 20.0) AS INT) - 1)) AS chunk_idx,
             toks
      FROM tokd WHERE LEN(toks) > 0
    ), chunks AS (
      SELECT doc_id * 100000 + chunk_idx AS cid,
             ARRAY_TO_STRING(
               toks[chunk_idx * 20 + 1 : chunk_idx * 20 + 20], ' ')
               AS chunk
      FROM exploded
      WHERE LENGTH(ARRAY_TO_STRING(
        toks[chunk_idx * 20 + 1 : chunk_idx * 20 + 20], ' ')) > 50
    ), t2 AS (
      SELECT cid, chunk, STRING_SPLIT_REGEX(TRIM(chunk), '\\s+') AS t
      FROM chunks
    ), dl AS (SELECT cid, LEN(t) AS dl FROM t2),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (SELECT cid, term, COUNT(*) AS tf FROM
      (SELECT cid, UNNEST(t) AS term FROM t2)
      WHERE term IN ('spark', 'vector', 'join') GROUP BY cid, term),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (SELECT tf.cid AS cid,
      SUM(LN(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
      * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
      ) AS sc FROM tf JOIN dfq USING (term)
      JOIN dl USING (cid) CROSS JOIN stats s GROUP BY tf.cid),
    topc AS (SELECT cid, sc FROM scored
      ORDER BY ROUND(sc, 4) DESC, cid LIMIT 5),
    ordered AS (SELECT c.chunk, ROW_NUMBER() OVER
      (ORDER BY ROUND(t.sc, 4) DESC, t.cid) AS rnk
      FROM topc t JOIN chunks c USING (cid))
    SELECT STRING_AGG(chunk, CHR(10) || CHR(10) ORDER BY rnk)
             AS context,
           COUNT(*) AS n_chunks, CAST(SUM(LENGTH(chunk)) AS BIGINT) AS total_chars
    FROM ordered
    """,
    doc="RAG context assembly end-to-end as ONE lazy plan: token-"
    "window chunking (op24's semantics) -> BM25 retrieval over the "
    "CHUNK corpus for the query -> top-5 chunks -> rank-ordered "
    "context string (double-newline separated) + stats. The "
    "retrieval granularity is the chunk, the unit the reference's "
    "similarity index serves (ocr:145-170); every stage replays in "
    "the oracle, so the assembled context is value-checked "
    "byte-for-byte.",
)
def pipeline_rag_context(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_etl_ocr_inference_spark.operators.search import (
        _ranked_topk,
        bm25_scores,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    chunks = chunk_native(docs, "text", window=20, min_chars=50).select(
        (F.col("doc_id") * 100000 + F.col("chunk_idx")).alias("cid"),
        "chunk",
    )
    scored = bm25_scores(chunks, "chunk", "cid", ["spark", "vector", "join"])
    # quant=4: selection must survive last-ulp score differences
    # between the JVM and the oracle engine (driver hash gate r3)
    top = _ranked_topk(scored, "_score", 5, quant=4).withColumnRenamed(
        "id", "cid"
    )
    ordered = top.join(chunks, "cid").select("rank", "chunk")
    return ordered.agg(
        F.concat_ws(
            "\n\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "chunk"))),
                lambda s: s["chunk"],
            ),
        ).alias("context"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.length("chunk")).alias("total_chars"),
    )


@register(
    "pipeline_rag_sentence",
    """
    WITH s AS (
      SELECT doc_id, STRING_SPLIT(
        REGEXP_REPLACE(TRIM(text), '([.!?])\\s+', '\\1' || CHR(1), 'g'),
        CHR(1)) AS sents
      FROM documents),
    c AS (
      SELECT doc_id, i AS chunk_idx,
             ARRAY_TO_STRING(sents[2*i+1 : 2*i+3], ' ') AS chunk
      FROM s, UNNEST(RANGE(0,
        CASE WHEN LEN(sents) <= 3 THEN 1
             ELSE 1 + CAST(CEIL((LEN(sents) - 3) / 2.0) AS BIGINT) END))
        AS r(i)),
    chunks AS (
      SELECT doc_id * 100000 + chunk_idx AS cid, chunk
      FROM c WHERE LENGTH(chunk) > 20
    ), t2 AS (
      SELECT cid, chunk, STRING_SPLIT_REGEX(TRIM(chunk), '\\s+') AS t
      FROM chunks
    ), dl AS (SELECT cid, LEN(t) AS dl FROM t2),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (SELECT cid, term, COUNT(*) AS tf FROM
      (SELECT cid, UNNEST(t) AS term FROM t2)
      WHERE term IN ('spark', 'vector', 'join') GROUP BY cid, term),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (SELECT tf.cid AS cid,
      SUM(LN(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
      * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
      ) AS sc FROM tf JOIN dfq USING (term)
      JOIN dl USING (cid) CROSS JOIN stats s GROUP BY tf.cid),
    topc AS (SELECT cid, sc FROM scored
      ORDER BY ROUND(sc, 4) DESC, cid LIMIT 5),
    ordered AS (SELECT c.chunk, ROW_NUMBER() OVER
      (ORDER BY ROUND(t.sc, 4) DESC, t.cid) AS rnk
      FROM topc t JOIN chunks c USING (cid))
    SELECT STRING_AGG(chunk, CHR(10) || CHR(10) ORDER BY rnk)
             AS context,
           COUNT(*) AS n_chunks, CAST(SUM(LENGTH(chunk)) AS BIGINT) AS total_chars
    FROM ordered
    """,
    doc="sentence-granularity RAG assembly end-to-end (the op24b -> "
    "BM25 -> assemble composition, ONE lazy plan): overlapping "
    "3-sentence chunks (stride 2, so boundary-straddling answers "
    "stay findable) -> BM25 retrieval over the chunk corpus -> top-5 "
    "-> rank-ordered double-newline context + stats. Same retrieval "
    "shape as pipeline_rag_context but with retrieval units that "
    "never cut mid-sentence; every stage replays in the oracle, so "
    "the assembled context is value-checked byte-for-byte.",
)
def pipeline_rag_sentence(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_etl_ocr_inference_spark.operators.search import (
        _ranked_topk,
        bm25_scores,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    chunks = (
        _sentence_chunks(docs)
        .filter(F.length("chunk") > 20)
        .select(
            (F.col("doc_id") * 100000 + F.col("chunk_idx")).alias("cid"),
            "chunk",
        )
    )
    scored = bm25_scores(chunks, "chunk", "cid", ["spark", "vector", "join"])
    top = _ranked_topk(scored, "_score", 5, quant=4).withColumnRenamed(
        "id", "cid"
    )
    ordered = top.join(chunks, "cid").select("rank", "chunk")
    return ordered.agg(
        F.concat_ws(
            "\n\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "chunk"))),
                lambda s: s["chunk"],
            ),
        ).alias("context"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.length("chunk")).alias("total_chars"),
    )


@register(
    "pipeline_rag_hybrid",
    "WITH toks AS (SELECT doc_id, "
    "STRING_SPLIT_REGEX(TRIM(text), '\\s+') AS t FROM documents), "
    "dl AS (SELECT doc_id, LEN(t) AS dl FROM toks), "
    "stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl), "
    "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM "
    "(SELECT doc_id, UNNEST(t) AS term FROM toks) "
    "WHERE term IN ('spark', 'vector', 'join') GROUP BY doc_id, term), "
    "dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), "
    "scored AS (SELECT tf.doc_id AS id, "
    "SUM(LN(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) "
    "* tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))"
    ") AS sc FROM tf JOIN dfq USING (term) "
    "JOIN dl USING (doc_id) CROSS JOIN stats s GROUP BY tf.doc_id), "
    "lexk AS (SELECT id, ROW_NUMBER() OVER "
    "(ORDER BY ROUND(sc, 6) DESC, id) AS lex_rank FROM "
    "(SELECT id, sc FROM scored ORDER BY ROUND(sc, 6) DESC, id "
    "LIMIT 20)), "
    "vs AS (SELECT e.vec_id AS id, LIST_COSINE_SIMILARITY("
    "e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS v "
    "FROM embeddings e, (SELECT embedding FROM embeddings "
    "WHERE vec_id = 0) q WHERE e.vec_id > 0), "
    "veck AS (SELECT id, ROW_NUMBER() OVER "
    "(ORDER BY ROUND(v, 6) DESC, id) AS vec_rank FROM "
    "(SELECT id, v FROM vs ORDER BY ROUND(v, 6) DESC, id LIMIT 20)), "
    "fused AS (SELECT COALESCE(l.id, v.id) AS id, "
    "COALESCE(1.0::DOUBLE / (60 + l.lex_rank), 0.0) + "
    "COALESCE(1.0::DOUBLE / (60 + v.vec_rank), 0.0) AS rrf "
    "FROM lexk l FULL OUTER JOIN veck v ON l.id = v.id), "
    "top AS (SELECT id, ROW_NUMBER() OVER "
    "(ORDER BY ROUND(rrf, 6) DESC, id) AS rnk FROM "
    "(SELECT id, rrf FROM fused ORDER BY ROUND(rrf, 6) DESC, id "
    "LIMIT 5)), "
    "ordered AS (SELECT d.text AS text, t.rnk FROM top t "
    "JOIN documents d ON d.doc_id = t.id) "
    "SELECT STRING_AGG(text, CHR(10) || CHR(10) ORDER BY rnk) "
    "AS context, COUNT(*) AS n_docs, CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars "
    "FROM ordered",
    doc="HYBRID-retrieval RAG assembly, fully oracled end-to-end: "
    "reciprocal-rank fusion of the BM25 lexical leg and the cosine "
    "vector leg (text_hybrid_rrf's fusion, c=60) -> top-5 docs -> "
    "rank-ordered context. The third member of the RAG family: "
    "token-window (pipeline_rag_context), sentence-window "
    "(pipeline_rag_sentence), and now two-leg retrieval — the shape "
    "production RAG actually ships, since lexical-only misses "
    "paraphrase and vector-only misses exact identifiers. Both legs "
    "cut top-k via TakeOrdered; fusion joins 20-row sets.",
)
def pipeline_rag_hybrid(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from pdf_etl_ocr_inference_spark.functions.vector import (
        cosine_similarity,
    )
    from pdf_etl_ocr_inference_spark.operators.search import (
        bm25_scores,
        hybrid_rrf,
    )

    docs = _t(spark, sf, "documents")
    emb = _t(spark, sf, "embeddings")
    lex = bm25_scores(docs, "text", "doc_id", ["spark", "vector", "join"])
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    vec = (
        emb.filter(F.col("vec_id") > 0)
        .crossJoin(F.broadcast(query))
        .select(
            F.col("vec_id").alias("id"),
            cosine_similarity("embedding", "q_emb").alias("_score"),
        )
    )
    fused = hybrid_rrf(lex, vec, k_each=20, k_out=5)
    w = Window.orderBy(F.round("rrf", 6).desc(), "id")
    top = fused.select("id", F.row_number().over(w).alias("rnk"))
    ordered = top.join(
        docs.select(F.col("doc_id").alias("id"), "text"), "id"
    ).select("rnk", "text")
    return ordered.agg(
        F.concat_ws(
            "\n\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rnk", "text"))),
                lambda s: s["text"],
            ),
        ).alias("context"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )
