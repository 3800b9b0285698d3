"""Engine optimizer: rewrite brute-force similarity top-k onto an ANN
index (SURVEY §4.8's one sanctioned custom rule).

The reference's vector search is a managed service: writing to an
index table and calling ``similarity_search`` routes the query through
the service's ANN structures (``ocr-tesseract-unstructured.py:
136-172``).  This module gives the engine the same *optimizer story*
on open Spark: the user states the DECLARATIVE query — score every
row with ``cosine_similarity``, ``ORDER BY score DESC LIMIT k`` — and
the engine substitutes the physically-better access path when one
exists.

How the rule works (mirrors how Catalyst itself propagates join hints
— an annotation riding on the plan, matched structurally):

1. ``topk_exact(..., table_key=...)`` embeds a similarity hint in the
   score column's METADATA (metric, query vector, id/embedding cols,
   table key).  Metadata survives analysis and projection.
2. ``rewrite_similarity_topk`` pattern-matches the ANALYZED Catalyst
   plan — ``GlobalLimit > LocalLimit > Sort(score DESC) > ...`` with a
   hinted score column — via the JVM plan nodes, and extracts ``k``
   from the plan's own limit expression (NOT from the API call: the
   rule sees only the plan, like any Catalyst rule).
3. If the :class:`IndexCatalog` has an LSH index for the hint's table
   key, the rule emits the probe plan: scan the signature-PARTITIONED
   index table with ``_sig IN (multi-probe signatures)`` — partition
   pruning skips every non-probed bucket directory (visible as
   ``PartitionFilters`` in the physical plan; plan-tested) — then
   exact re-rank within candidates.  No match / no index → the plan
   is returned unchanged (the rule is a no-op, never an error).

At 100 TB: the brute-force plan scans the full corpus per query; the
rewritten plan reads ``O(probes × bucket)`` — with 8 planes and
Hamming radius 2, 37/256 of the corpus, and deeper signatures cut it
geometrically.  The index is derived data: ``build_lsh_index`` is the
one-scan (re)build, and :func:`refresh_lsh_index` folds change-feed
commits in APPEND-ONLY (live rows + tombstones; liveness resolved per
bucket at probe time) so maintenance cost is ∝ changes, never a
corpus rescan — the open equivalent of the reference's triggered
delta-sync index (``ocr:149``).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.operators.dedup import (
    bucket_pairs,
    latest_live,
)

HINT_KEY = "spark_graft.similarity_hint"
BM25_HINT_KEY = "spark_graft.bm25_hint"

# Per-process root (see scratch.py): concurrent gate/test sessions
# on one machine get private index trees instead of racing on a
# fixed path.  Indexes persist across SparkSessions WITHIN a process.
from pdf_etl_ocr_inference_spark.scratch import SCRATCH_ROOT as _SR
from pdf_etl_ocr_inference_spark.scratch import atomic_write_json

_DEFAULT_INDEX_ROOT = os.path.join(_SR, "ann_indexes")


# ------------------------------------------------------------------
# Index catalog: table_key -> on-disk LSH index + its parameters
# ------------------------------------------------------------------


def _index_dir(root: str, table_key: str) -> str:
    import hashlib

    h = hashlib.sha256(table_key.encode()).hexdigest()[:16]
    return os.path.join(root, h)


class IndexCatalog:
    """Registry of ANN indexes, persisted beside the index data (a
    ``meta.json`` per index) so it survives sessions — the engine's
    tiny analogue of a metastore's index catalog."""

    def __init__(self, root: str = _DEFAULT_INDEX_ROOT):
        self.root = root

    def lookup(self, table_key: str) -> dict | None:
        meta_path = os.path.join(
            _index_dir(self.root, table_key), "meta.json"
        )
        if not os.path.exists(meta_path):
            return None
        with open(meta_path) as f:
            return json.load(f)

    def data_path(self, table_key: str) -> str:
        """A new data directory for a (re)build of ``table_key``'s
        index.  The meta is the pointer: the old data keeps answering
        under the old meta until :meth:`register` publishes the new
        one, so a rebuild that fails at any step changes nothing."""
        return os.path.join(
            _index_dir(self.root, table_key), f"data-{uuid.uuid4().hex[:8]}"
        )

    def register(self, table_key: str, meta: dict) -> None:
        """Publish ``meta``, then remove the data directories it no
        longer points at (a rebuild's old data, a failed build's)."""
        d = _index_dir(self.root, table_key)
        os.makedirs(d, exist_ok=True)
        atomic_write_json(os.path.join(d, "meta.json"), meta)
        keep = os.path.basename(meta.get("data_path", ""))
        for e in os.scandir(d):
            if e.is_dir() and e.name != keep:
                shutil.rmtree(e.path, ignore_errors=True)

    def drop(self, table_key: str) -> None:
        shutil.rmtree(_index_dir(self.root, table_key), ignore_errors=True)


INDEX_FORMAT_VERSION = 6  # v6: fixed-point exact LSH signatures
# (v5: meta carries n_rows statistics)

# Bucket-directory fanout cap: signatures are stored as DATA (sorted,
# so parquet row-group min/max stats prune within files) while the
# PARTITION column is sig mod this — directory count stays
# n_tables × 256 no matter how deep the signature, avoiding the
# small-file/metadata explosion a per-signature directory layout hits
# (measured: a 12-plane per-sig layout took minutes to write and its
# probe drowned in per-file scheduling).
PARTITION_BUCKETS = 256


def build_lsh_index(
    spark: SparkSession,
    corpus: DataFrame,
    table_key: str,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    n_tables: int = 3,
    catalog: IndexCatalog | None = None,
) -> str:
    """Materialize the LSH index: (id, embedding, signature, version,
    tombstone) rows PARTITIONED BY (table, signature mod 256) and
    SORTED by signature within partitions — a probe prunes bucket
    directories coarsely and parquet row groups finely.  ``n_tables``
    independent plane families (seed + 1000·t) OR-amplify recall — a
    probe reads the Hamming ball in EVERY table and dedups candidate
    ids before re-ranking.

    The index is DERIVED DATA maintained append-only: the base build
    writes version 0; :func:`refresh_lsh_index` appends live rows and
    tombstones for change-feed commits, and probes resolve liveness
    per bucket (latest version wins).  One corpus scan (each row emits
    ``n_tables`` index rows); signature bits are native column code,
    no Python.  Returns the index data path.
    """
    cat = catalog or IndexCatalog()
    dim = len(
        corpus.select(embedding_col).first()[embedding_col]
    )
    data_path = cat.data_path(table_key)
    rows = _index_rows(
        corpus, id_col, embedding_col, dim, n_planes, seed, n_tables,
        version=0, deleted=False,
    )
    # Observe the row count DURING the write (no extra scan) — the
    # probe planner needs corpus cardinality for its occupancy model.
    from pyspark.sql import Observation

    obs = Observation()
    rows = rows.observe(obs, F.count(F.lit(1)).alias("n"))
    # Cluster rows by their target partition BEFORE the dynamic
    # partitioned write (one writer per directory, not one per scan
    # task per directory), and sort by _sig within partitions so each
    # row group covers a narrow signature range → min/max stats prune.
    (
        rows.repartition("_table", "_pb")
        .sortWithinPartitions("_table", "_pb", "_sig")
        .write.partitionBy("_table", "_pb")
        .parquet(data_path)
    )
    cat.register(
        table_key,
        {
            "kind": "lsh",
            "format_version": INDEX_FORMAT_VERSION,
            "data_path": data_path,
            "id_col": id_col,
            "n_planes": n_planes,
            "seed": seed,
            "n_tables": n_tables,
            "dim": dim,
            "last_version": 0,
            "n_rows": int(obs.get["n"]) // n_tables,
        },
    )
    return data_path


def _index_rows(
    df: DataFrame,
    id_col: str,
    embedding_col: str,
    dim: int,
    n_planes: int,
    seed: int,
    n_tables: int,
    version: int,
    deleted: bool,
) -> DataFrame:
    """(id, embedding, _commit_version, _deleted, _table, _sig, _pb)
    rows — one per (input row × table), signatures computed natively;
    ``_pb`` is the bounded partition bucket (sig mod 256)."""
    from pdf_etl_ocr_inference_spark.operators.similarity import (
        lsh_signature,
    )

    sigs = F.array(
        *[
            lsh_signature(embedding_col, dim, n_planes, seed + 1000 * t)
            for t in range(n_tables)
        ]
    )
    return df.select(
        F.col(id_col),
        F.col(embedding_col).alias("embedding"),
        F.lit(version).cast("long").alias("_commit_version"),
        F.lit(deleted).alias("_deleted"),
        F.posexplode(sigs).alias("_table", "_sig"),
    ).withColumn("_pb", F.pmod(F.col("_sig"), F.lit(PARTITION_BUCKETS)))


def refresh_lsh_index(
    spark: SparkSession,
    table_key: str,
    changes: DataFrame,
    version: int,
    embedding_col: str = "embedding",
    catalog: IndexCatalog | None = None,
) -> None:
    """Incrementally fold ONE change-feed commit into the index —
    append-only, cost ∝ |changes|, never a corpus rescan (the managed
    analogue is the reference's TRIGGERED delta-sync index, ocr:149).

    ``changes`` carries (id, embedding, _change_type) rows, the
    contract of ``streaming.changefeed.read_changes``/
    ``diff_snapshots``:

    - insert / update_postimage → LIVE rows in the NEW embedding's
      buckets;
    - delete / update_preimage → TOMBSTONES in the OLD embedding's
      buckets (the preimage embedding tells us which buckets the stale
      entry sits in — no index lookup needed).

    Probes resolve per (id, table, bucket): latest version wins, live
    beats tombstone at equal version (an in-place update whose bucket
    didn't change lands both rows in one bucket).  Periodic
    ``build_lsh_index`` is the compaction that folds tombstones away.

    ``n_rows`` maintenance contract: the probe planner's cardinality
    is delta-maintained as (+1 insert/postimage, −1 delete/preimage).
    That bookkeeping is exact ONLY if updates arrive as
    ``update_preimage``/``update_postimage`` PAIRS — a bare re-insert
    of a live id (upsert via plain ``insert``) replaces the row at
    probe time but counts +1 with no offsetting −1, so repeated bare
    upserts inflate ``n_rows`` and bias ``plan_hamming_radius``
    toward narrower probes (a recall, not correctness, effect).
    ``streaming.changefeed`` emits proper pairs; feeds that cannot
    are healed at the next compaction: ``build_lsh_index`` re-observes
    the true cardinality during its full rebuild.
    """
    cat = catalog or IndexCatalog()
    idx = cat.lookup(table_key)
    if idx is None or idx.get("format_version") != INDEX_FORMAT_VERSION:
        raise ValueError(f"no current-format LSH index for {table_key!r}")
    if version <= idx["last_version"]:
        return  # already folded (idempotent on driver-retry)
    common = dict(
        id_col=idx["id_col"], embedding_col=embedding_col,
        dim=idx["dim"], n_planes=idx["n_planes"], seed=idx["seed"],
        n_tables=idx["n_tables"], version=version,
    )
    live = _index_rows(
        changes.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ),
        deleted=False,
        **common,
    )
    dead = _index_rows(
        changes.filter(
            F.col("_change_type").isin("delete", "update_preimage")
        ),
        deleted=True,
        **common,
    )
    from pyspark.sql import Observation

    obs = Observation()
    combined = live.unionByName(dead).observe(
        obs,
        F.sum(
            F.when(F.col("_deleted"), F.lit(-1)).otherwise(F.lit(1))
        ).alias("delta"),
    )
    (
        combined.repartition("_table", "_pb")
        .sortWithinPartitions("_table", "_pb", "_sig")
        .write.mode("append")
        .partitionBy("_table", "_pb")
        .parquet(idx["data_path"])
    )
    idx["last_version"] = version
    if "n_rows" in idx:
        # live-row cardinality for the probe planner: inserts add,
        # deletes subtract, updates (pre+post pair) cancel
        delta = obs.get["delta"] or 0
        idx["n_rows"] = max(0, idx["n_rows"] + int(delta) // idx["n_tables"])
    cat.register(table_key, idx)


def sync_index_from_feed(
    spark: SparkSession,
    feed_path: str,
    table_key: str,
    change_schema,
    checkpoint_dir: str,
    catalog: IndexCatalog | None = None,
    timeout_s: int = 120,
    refresh_fn=None,
) -> None:
    """TRIGGERED index sync (the reference's delta-sync vector index,
    ``ocr:149``, on open Spark): an ``availableNow`` stream over the
    change feed's commit directories folds every unseen commit into
    the LSH index via :func:`refresh_lsh_index` — or any compatible
    ``refresh_fn(spark, table_key, changes, version=, catalog=)``,
    e.g. the MinHash text-dedup index's — then stops.

    The streaming CHECKPOINT tracks which commit files were already
    ingested (restart-safe, no re-reads), and ``refresh_lsh_index``'s
    version guard makes re-delivery a no-op — the two layers give
    at-least-once ingestion with idempotent folds.  Run it from a
    scheduler after each batch of ``commit_changes`` calls; cost per
    run ∝ new commits only.

    ``change_schema`` is the change-row schema WITHOUT the ``v``
    partition column (added here from the directory name).
    """
    from pyspark.sql import types as T

    cat = catalog or IndexCatalog()
    fold_one = refresh_fn or refresh_lsh_index
    full = T.StructType(
        list(change_schema.fields) + [T.StructField("v", T.IntegerType())]
    )
    stream = (
        spark.readStream.schema(full)
        .option("basePath", feed_path)
        .parquet(f"{feed_path}/v=*")
    )

    def _fold(batch_df, _batch_id):
        versions = sorted(
            r["v"] for r in batch_df.select("v").distinct().collect()
        )
        for v in versions:  # ascending: later commits fold later
            fold_one(
                spark,
                table_key,
                batch_df.filter(F.col("v") == v),
                version=v,
                catalog=cat,
            )

    q = (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
    finally:
        if q.isActive:
            q.stop()


def probe_lsh_index(
    spark: SparkSession,
    idx: dict,
    query_vec: list[float],
    hamming_radius: int = 2,
    exclude_ids: list | None = None,
) -> DataFrame:
    """Partition-pruned candidate set for a query: the Hamming ball in
    every table, liveness resolved per bucket (latest version wins,
    live beats tombstone on ties), deduped by id."""
    from pdf_etl_ocr_inference_spark.operators.similarity import (
        query_signature_probes,
    )

    index_df = spark.read.parquet(idx["data_path"])
    member = None
    for t in range(idx["n_tables"]):
        probes = query_signature_probes(
            query_vec, idx["n_planes"], idx["seed"] + 1000 * t,
            hamming_radius,
        )
        # _pb prunes directories (partition column), _sig then filters
        # rows — and row GROUPS, since files are sig-sorted
        buckets = sorted({p % PARTITION_BUCKETS for p in probes})
        m = (
            (F.col("_table") == t)
            & F.col("_pb").isin(buckets)
            & F.col("_sig").isin(probes)
        )
        member = m if member is None else (member | m)
    cand = index_df.filter(member)
    if exclude_ids:
        cand = cand.filter(~F.col(idx["id_col"]).isin(list(exclude_ids)))
    # A never-refreshed index (last_version 0) holds only live v0 rows:
    # skip the per-bucket liveness window — one less shuffle on the
    # latency-critical probe path.
    if idx.get("last_version", 0) != 0:
        cand = latest_live(cand, [idx["id_col"], "_table", "_sig"])
    return cand.dropDuplicates([idx["id_col"]]).select(
        idx["id_col"], "embedding"
    )


# ------------------------------------------------------------------
# The rewrite rule
# ------------------------------------------------------------------


def _hinted_field(df: DataFrame):
    for f in df.schema.fields:
        if f.metadata and HINT_KEY in f.metadata:
            return f
    return None


def _plan_matches_topk(df: DataFrame, score_name: str) -> int | None:
    """Structural match on the ANALYZED plan: GlobalLimit(k) >
    LocalLimit > Sort whose FIRST key is ``score_name`` descending.
    Returns k, or None if the plan isn't the top-k shape."""
    try:
        node = df._jdf.queryExecution().analyzed()
        if node.nodeName() != "GlobalLimit":
            return None
        k = int(node.limitExpr().toString())
        node = node.children().head()
        if node.nodeName() != "LocalLimit":
            return None
        node = node.children().head()
        if node.nodeName() != "Sort":
            return None
        first = node.order().head()
        if first.direction().toString() != "Descending":
            return None
        child = first.child()
        # the sort key must BE the hinted score attribute
        if not hasattr(child, "name") or child.name() != score_name:
            return None
        return k
    except Exception:
        return None  # unexpected plan shapes never break the query


def rewrite_similarity_topk(
    df: DataFrame,
    catalog: IndexCatalog | None = None,
    hamming_radius: int | str = 2,
) -> DataFrame:
    """THE rule: brute-force cosine top-k over an indexed table →
    LSH bucket probe + exact re-rank.  Returns ``df`` unchanged when
    the pattern or the index is absent.  ``hamming_radius="auto"``
    plans the probe width from the index's stored row statistics
    (:func:`plan_hamming_radius`)."""
    from pdf_etl_ocr_inference_spark.operators.similarity import (
        topk_exact,
    )

    field = _hinted_field(df)
    if field is None:
        return df
    hint = json.loads(field.metadata[HINT_KEY])
    if hint.get("metric") != "cosine" or not hint.get("table_key"):
        return df
    k = _plan_matches_topk(df, field.name)
    if k is None:
        return df
    cat = catalog or IndexCatalog()
    idx = cat.lookup(hint["table_key"])
    if (
        idx is None
        or idx.get("kind") != "lsh"
        or idx.get("format_version") != INDEX_FORMAT_VERSION
    ):
        return df
    qvec = hint["query_vec"]
    if len(qvec) != idx["dim"]:
        return df
    if isinstance(hamming_radius, str):
        if hamming_radius != "auto":
            raise ValueError(
                f"hamming_radius must be an int or 'auto', got "
                f"{hamming_radius!r}"
            )
        hamming_radius = plan_hamming_radius(idx, k)

    cand = probe_lsh_index(
        df.sparkSession,
        idx,
        qvec,
        hamming_radius=hamming_radius,
        exclude_ids=hint.get("exclude_ids") or [],
    )
    return topk_exact(
        cand, "embedding", qvec, k=k, id_col=idx["id_col"], metric="cosine"
    )


def _plan_contains_join(df: DataFrame) -> bool:
    """True iff the analyzed plan has a Join node anywhere — the
    minimum structural evidence of the all-pairs shape."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.nodeName() == "Join":
                return True
            it = node.children().iterator()
            while it.hasNext():
                stack.append(it.next())
        return False
    except Exception:
        return False


def rewrite_near_pairs(
    df: DataFrame, catalog: IndexCatalog | None = None
) -> DataFrame:
    """Rule #2: brute-force all-pairs cosine threshold (the
    ``near_pairs_exact`` shape, O(n²)) → same-signature pair
    generation over the stored LSH index (Σ bucket² per table,
    OR-amplified across tables) + exact verification.

    The index rows are liveness-resolved (``dedup.latest_live``) and
    paired per bucket by ``dedup.bucket_pairs`` — the same kernel as
    ``lsh_near_pairs``.  Every emitted pair is exact-verified, so the
    rewrite has zero false positives; recall follows the LSH
    collision probability (OR-amplified).  ``id_limit`` in the hint
    is honored so scoped baselines rewrite consistently."""
    from pdf_etl_ocr_inference_spark.functions.vector import (
        cosine_similarity,
    )

    field = _hinted_field(df)
    if field is None:
        return df
    hint = json.loads(field.metadata[HINT_KEY])
    if hint.get("kind") != "near_pairs" or not hint.get("table_key"):
        return df
    if not _plan_contains_join(df):
        return df
    cat = catalog or IndexCatalog()
    idx = cat.lookup(hint["table_key"])
    if (
        idx is None
        or idx.get("kind") != "lsh"
        or idx.get("format_version") != INDEX_FORMAT_VERSION
    ):
        return df

    spark = df.sparkSession
    live = latest_live(
        spark.read.parquet(idx["data_path"]), [idx["id_col"], "_table", "_sig"]
    )
    if hint.get("id_limit") is not None:
        live = live.filter(F.col(idx["id_col"]) < hint["id_limit"])
    threshold = float(hint["threshold"])
    # id-only bucket pairing (r8, the lsh_near_pairs shape): one
    # bucket shuffle of ids, embeddings fetched BY ID for the distinct
    # candidates only — the old self-join moved the embedding arrays
    # through both join sides and is the wrong byte volume at index
    # scale.  A pair may collide in several tables, hence distinct.
    pairs = bucket_pairs(live, ["_table", "_sig"], idx["id_col"]).distinct()
    emb = live.select(
        F.col(idx["id_col"]).alias("_id"), "embedding"
    ).dropDuplicates(["_id"])
    return (
        pairs.join(
            emb.select(
                F.col("_id").alias("id_a"),
                F.col("embedding").alias("e_a"),
            ),
            "id_a",
        )
        .join(
            emb.select(
                F.col("_id").alias("id_b"),
                F.col("embedding").alias("e_b"),
            ),
            "id_b",
        )
        .withColumn("_sim", cosine_similarity("e_a", "e_b"))
        .filter(F.col("_sim") >= threshold)
        .select("id_a", "id_b", F.round("_sim", 4).alias("sim"))
    )


_RULES = (rewrite_similarity_topk, rewrite_near_pairs)


def optimize(
    df: DataFrame,
    catalog: IndexCatalog | None = None,
    hamming_radius: int | str = 2,
    min_saved_bytes: int | None = None,
) -> DataFrame:
    """Engine optimizer entry point: apply each rewrite rule once, in
    order; the first rule that fires wins (rules are shape-disjoint),
    unchanged plans pass through.  ``hamming_radius`` tunes the top-k
    rewrite's probe width (recall ↔ buckets-read; ``"auto"`` plans it
    from the index's stored row statistics); ``min_saved_bytes``
    tunes (or, at 0, disables) the skipping rewrite's cost gate;
    rules that don't take them ignore them."""
    new = rewrite_similarity_topk(
        df, catalog=catalog, hamming_radius=hamming_radius
    )
    if new is not df:
        return new
    for rule in _RULES[1:]:
        if rule is rewrite_skipping_scan:
            new = rule(
                df, catalog=catalog, min_saved_bytes=min_saved_bytes
            )
        else:
            new = rule(df, catalog=catalog)
        if new is not df:
            return new
    return df


# ------------------------------------------------------------------
# Cost-based probe planning
# ------------------------------------------------------------------


def plan_hamming_radius(
    idx: dict,
    k: int,
    target_multiplier: float = 3.0,
    max_radius: int = 3,
) -> int:
    """Pick the multi-probe Hamming radius from index STATISTICS, not
    guesswork: the smallest radius whose expected candidate volume
    covers ``target_multiplier × k`` per query.

    Model: buckets are ~uniform (random hyperplanes over spread-out
    data), so a radius-r probe over ``n_tables`` OR-amplified tables
    reads ``n_tables · ball(r) · n_rows / 2^n_planes`` candidates,
    where ``ball(r) = Σ_{i≤r} C(n_planes, i)``.  ``n_rows`` is kept
    in the index meta by build (observed during the write — no extra
    scan) and by every incremental refresh (insert/delete deltas), so
    planning reads NO data at query time — the same contract as a
    metastore's table statistics.

    Dense corpora therefore probe narrowly and sparse corpora widen
    automatically instead of silently returning < k rows.  The result
    is floored at radius 1: candidate VOLUME is a lower bound on cost,
    not a collision-probability model — a true neighbor one sign bit
    away is missed at radius 0 no matter how full the home bucket is,
    so the planner only ever widens relative to the single-flip probe,
    never narrows below it.  The model also treats OR-amplified tables
    as disjoint (slight candidate overcount), another reason not to
    trust it below radius 1.  ``n_rows`` is approximate after many
    refreshes (change types are trusted, not reconciled) — a full
    rebuild re-observes it exactly, the same contract as ANALYZE
    statistics.
    """
    import math

    n_rows = idx.get("n_rows")
    if not n_rows:  # pre-statistics index (format < 5): match the
        return 1  # floor — the single-flip probe
    n_planes, n_tables = idx["n_planes"], idx["n_tables"]
    need = target_multiplier * k
    for r in range(1, max_radius + 1):
        ball = sum(math.comb(n_planes, i) for i in range(r + 1))
        expected = n_tables * ball * n_rows / float(2**n_planes)
        if expected >= need:
            return r
    return max_radius


# ------------------------------------------------------------------
# Distributed kNN join
# ------------------------------------------------------------------


def knn_join(
    queries: DataFrame,
    table_key: str,
    k: int = 5,
    query_id_col: str = "q_id",
    query_vec_col: str = "embedding",
    hamming_radius: int | str = "auto",
    catalog: IndexCatalog | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """kNN JOIN: for every row of ``queries``, the top-k nearest
    corpus rows from the stored LSH index — with the query side kept
    as a DataFrame end to end.

    ``topk_lsh``/``probe_lsh_index`` take one driver-side query
    vector; this is the two-table form a 100 TB pipeline needs
    (e.g. near-dup of a new batch against the corpus, retrieval for a
    whole eval set): query signatures + their Hamming-ball multi-probe
    set are computed IN-PLAN (native column code), candidates come
    from an equi-join on (table, signature) — shuffle ∝ probe
    fan-out, never |Q|×|corpus| — and the exact cosine re-rank runs
    per query id under a window.  Zero false positives by
    construction; recall follows the OR-amplified collision
    probability, same as the single-query probe.
    """
    import itertools

    from pyspark.sql import Window

    from pdf_etl_ocr_inference_spark.functions.vector import (
        cosine_similarity,
    )
    from pdf_etl_ocr_inference_spark.operators.similarity import (
        lsh_signature,
    )

    cat = catalog or IndexCatalog()
    idx = cat.lookup(table_key)
    if (
        idx is None
        or idx.get("kind") != "lsh"
        or idx.get("format_version") != INDEX_FORMAT_VERSION
    ):
        raise KeyError(f"no usable LSH index under {table_key!r}")
    qdim_row = queries.select(
        F.size(F.col(query_vec_col)).alias("d")
    ).first()
    if qdim_row is not None and qdim_row["d"] != idx["dim"]:
        raise ValueError(
            f"query vectors are {qdim_row['d']}-dim but index "
            f"{table_key!r} is {idx['dim']}-dim"
        )
    n_planes, n_tables = idx["n_planes"], idx["n_tables"]
    if isinstance(hamming_radius, str):
        if hamming_radius != "auto":
            raise ValueError(
                f"hamming_radius must be an int or 'auto', got "
                f"{hamming_radius!r}"
            )
        hamming_radius = plan_hamming_radius(idx, k)
    masks = [
        sum(1 << b for b in combo)
        for r in range(hamming_radius + 1)
        for combo in itertools.combinations(range(n_planes), r)
    ]

    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(query_vec_col).alias("_qvec"),
    )
    for t in range(n_tables):
        q = q.withColumn(
            f"_sig{t}",
            lsh_signature(
                "_qvec", idx["dim"], n_planes, idx["seed"] + 1000 * t
            ),
        )
    probes = F.array(
        *[
            F.struct(
                F.lit(t).cast("int").alias("_table"),
                F.col(f"_sig{t}").bitwiseXOR(F.lit(m)).alias("_sig"),
            )
            for t in range(n_tables)
            for m in masks
        ]
    )
    qp = (
        q.select(
            "_qid",
            "_qvec",
            F.explode(probes).alias("_p"),
        )
        .select(
            "_qid",
            "_qvec",
            F.col("_p._table").alias("_table"),
            F.col("_p._sig").alias("_sig"),
        )
        # derive the index's partition key on the probe side so the
        # join carries it: the index scan prunes to the probed
        # (_table, _pb) directories (dynamic partition pruning /
        # runtime filters) instead of reading the whole index —
        # keeps the index-side read ∝ probe fan-out, like the
        # single-query probe path.
        .withColumn("_pb", F.pmod(F.col("_sig"), F.lit(PARTITION_BUCKETS)))
    )

    spark = queries.sparkSession
    live = spark.read.parquet(idx["data_path"])
    if idx.get("last_version", 0) != 0:
        live = latest_live(live, [idx["id_col"], "_table", "_sig"])
    id_col = idx["id_col"]
    cand = (
        qp.join(
            live.select(id_col, "embedding", "_table", "_pb", "_sig"),
            on=["_table", "_pb", "_sig"],
        )
        .dropDuplicates(["_qid", id_col])  # a pair may collide in >1 table
    )
    if exclude_self:
        cand = cand.filter(F.col("_qid") != F.col(id_col))
    w = Window.partitionBy("_qid").orderBy(
        F.desc("_score"), F.asc(id_col)
    )
    return (
        cand.withColumn("_score", cosine_similarity("_qvec", "embedding"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            id_col,
            F.round("_score", 4).alias("score"),
            "rank",
        )
    )


# ------------------------------------------------------------------
# BM25 rewrite: corpus-scan lexical top-k -> postings-index probe
# ------------------------------------------------------------------


def rewrite_bm25_topk(
    df: DataFrame, catalog: IndexCatalog | None = None
) -> DataFrame:
    """Lexical twin of :func:`rewrite_similarity_topk`: a hinted BM25
    top-k plan (``bm25_topk(..., table_key=...)``) over a corpus whose
    POSTINGS index is registered under that key rewrites to
    ``bm25_topk_indexed`` — the probe scans only the query terms'
    partition dirs and scores from the index meta's corpus stats, no
    corpus pass.  Same guard rails: the plan must structurally match
    GlobalLimit > LocalLimit > Sort(score DESC, ...) on the hinted
    attribute, and the catalog must hold a ``postings``-kind index —
    otherwise ``df`` returns unchanged (object-identical)."""
    from pdf_etl_ocr_inference_spark.operators.search import (
        bm25_topk_indexed,
    )

    field = None
    for f in df.schema.fields:
        if f.metadata and BM25_HINT_KEY in f.metadata:
            field = f
            break
    if field is None:
        return df
    hint = json.loads(field.metadata[BM25_HINT_KEY])
    if not hint.get("table_key") or not hint.get("query_terms"):
        return df
    k = _plan_matches_topk(df, field.name)
    if k is None:
        return df
    cat = catalog or IndexCatalog()
    idx = cat.lookup(hint["table_key"])
    if idx is None or idx.get("kind") != "postings" or "path" not in idx:
        return df
    # the hinted plan ranks on the rounded-4 score attribute; the
    # served plan must rank identically for exact equivalence
    return bm25_topk_indexed(
        df.sparkSession,
        idx["path"],
        list(hint["query_terms"]),
        k=k,
        rank_decimals=4,
    )


# registered after definition; ``optimize`` reads the module global at
# call time, so the single entry point applies the lexical rule too
_RULES = (*_RULES, rewrite_bm25_topk)


def rewrite_matview(df: DataFrame, catalog=None) -> DataFrame:
    """Rule #4: answer a query from a registered materialized view
    when its semantic fingerprint matches (operators/matview.py).
    Unlike the hint-triggered similarity/lexical rules this one keys
    on the canonicalized plan itself; the fingerprint check is
    driver-side metadata work, and a miss returns ``df``
    object-identical (the shared guard-rail contract)."""
    from pdf_etl_ocr_inference_spark.operators.matview import (
        matview_rewrite,
    )

    return matview_rewrite(df)


_RULES = (*_RULES, rewrite_matview)


# ------------------------------------------------------------------
# Skipping-scan rewrite: route range scans onto a registered
# clustered layout + footer-stats sidecar
# ------------------------------------------------------------------


def _foldable_value(e):
    """(normalized float, ok) for a foldable literal-ish expression —
    Literal or Cast(Literal) — on the epoch-seconds/float axis the
    stats sidecar uses (layout._footer_stats normalization)."""
    try:
        if not e.foldable():
            return None
        t = e.dataType().typeName()
        v = e.eval(None)
        if v is None:
            return None
        if t in ("timestamp", "timestamp_ntz"):
            return float(v) / 1e6  # catalyst stores micros
        if t == "date":
            return float(v) * 86400.0  # days since epoch
        if t in ("integer", "long", "short", "byte", "double", "float"):
            return float(v)
        if t.startswith("decimal"):
            return float(str(v))
        return None
    except Exception:
        return None


def _conjuncts(e):
    if e.nodeName() == "And":
        yield from _conjuncts(e.left())
        yield from _conjuncts(e.right())
    else:
        yield e


# Casts that may be unwrapped on the attribute side of a pruning
# comparison: exact AND monotone on the normalized stats axis (the
# sidecar stores every numeric/temporal column as one double axis —
# epoch seconds for temporals), so ``CAST(col AS T) op lit`` bounds
# ``col`` by exactly the literal's normalized value.  Anything else —
# truncating casts like CAST(ts AS DATE) (midnight equality would
# wrongly prune same-day rows), narrowing casts like CAST(long AS
# INT) (wraparound), long->double (not exact past 2^53) — yields NO
# bound: the conjunct still re-applies row-wise, pruning just skips it.
_SAFE_PRUNE_CASTS = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("byte", "float"), ("byte", "double"),
    ("short", "integer"), ("short", "long"),
    ("short", "float"), ("short", "double"),
    ("integer", "long"), ("integer", "double"),
    ("float", "double"),
    # exact only under the engine's pinned UTC session timezone
    # (session.py sets spark.sql.session.timeZone=UTC; a non-UTC
    # session would shift these casts off the sidecar's naive
    # epoch-seconds axis by the zone offset)
    ("date", "timestamp"), ("date", "timestamp_ntz"),
    ("timestamp_ntz", "timestamp"), ("timestamp", "timestamp_ntz"),
}


def _attr_name(e):
    """Column name of an attribute-ish side: a bare
    AttributeReference, or one under a Cast that is exact and
    monotone on the normalized stats axis (``_SAFE_PRUNE_CASTS``).
    Any other Cast returns None — the conjunct contributes no bound,
    keeping pruning strictly over-keep (ADVICE r4: stripping a
    truncating cast like CAST(ts AS DATE) extracted a midnight point
    bound and silently dropped same-day rows)."""
    if e.nodeName() == "Cast":
        child = e.child()
        try:
            frm = child.dataType().typeName()
            to = e.dataType().typeName()
        except Exception:
            return None
        # identity casts (Catalyst bookkeeping, e.g. long->long under
        # isin) are trivially exact; otherwise consult the safe set
        if frm != to and (frm, to) not in _SAFE_PRUNE_CASTS:
            return None
        e = child
    if e.nodeName() == "AttributeReference":
        return e.name()
    return None


def _extract_ranges(cond, cols: list[str]) -> dict:
    """Conjunctive ``col op literal`` bounds over ``cols`` →
    ``{col: (lo, hi)}``; strict comparisons widen to closed intervals
    (pruning may only over-keep, never over-drop — the exact
    predicate re-applies row-wise).  Unparseable conjuncts are simply
    not used for pruning."""
    lo: dict[str, float] = {}
    hi: dict[str, float] = {}
    _GE = {"GreaterThanOrEqual", "GreaterThan"}
    _LE = {"LessThanOrEqual", "LessThan"}
    for c in _conjuncts(cond):
        nn = c.nodeName()
        if nn not in _GE | _LE | {"EqualTo"}:
            continue
        try:
            left, right = c.left(), c.right()
        except Exception:
            continue
        name, val, flipped = _attr_name(left), _foldable_value(right), False
        if name is None or val is None:
            name, val, flipped = (
                _attr_name(right), _foldable_value(left), True,
            )
        if name is None or val is None or name not in cols:
            continue
        # col >= v  |  v <= col   → lower bound; mirrored for upper
        is_lower = (nn in _GE) != flipped if nn != "EqualTo" else None
        if nn == "EqualTo":
            lo[name] = max(lo.get(name, float("-inf")), val)
            hi[name] = min(hi.get(name, float("inf")), val)
        elif is_lower:
            lo[name] = max(lo.get(name, float("-inf")), val)
        else:
            hi[name] = min(hi.get(name, float("inf")), val)
    out = {}
    for name in set(lo) | set(hi):
        out[name] = (
            lo.get(name, float("-inf")), hi.get(name, float("inf"))
        )
    return out


def _extract_in_lists(cond, cols: list[str]) -> dict:
    """Conjunctive ``col IN (literals)`` integer probe lists over
    ``cols`` → ``{col: [values]}`` — the shape the per-file Bloom
    sidecar serves.  Non-integer or non-foldable lists are ignored
    (they still re-apply row-wise)."""
    out: dict[str, list[int]] = {}
    _INT = {"integer", "long", "short", "byte"}
    for c in _conjuncts(cond):
        if c.nodeName() != "In":
            continue
        try:
            name = _attr_name(c.value())
            if name is None or name not in cols:
                continue
            vals = []
            it = c.list().iterator()
            while it.hasNext():
                e = it.next()
                if not e.foldable() or e.dataType().typeName() not in _INT:
                    vals = None
                    break
                v = e.eval(None)
                if v is None:
                    vals = None
                    break
                vals.append(int(v))
            if vals:
                out.setdefault(name, []).extend(vals)
        except Exception:
            continue
    return out


def _match_scan_filter(df: DataFrame):
    """Structural match for the single-table filtered-scan shape
    ``[pure-attribute Project]* / Filter+ / LogicalRelation``; returns
    ``(source_path, [condition exprs])`` or None.  Shared by the
    skipping rewrite and the workload layout advisor."""
    try:
        node = df._jdf.queryExecution().analyzed()
        conds = []
        while True:
            nn = node.nodeName()
            if nn == "Project":
                it = node.projectList().iterator()
                while it.hasNext():
                    if it.next().nodeName() != "AttributeReference":
                        return None
                node = node.children().head()
            elif nn == "Filter":
                conds.append(node.condition())
                node = node.children().head()
            elif nn == "LogicalRelation":
                break
            else:
                return None
        if not conds:
            return None
        paths = node.relation().location().rootPaths()
        if paths.size() != 1:
            return None
        src = paths.head().toString()
    except Exception:
        return None
    if src.startswith("file:"):
        src = src[len("file:"):]
    return src, conds


# Below this many bytes of estimated SAVED scan (pruned-away layout
# file sizes), the rewrite declines to fire: the fixed rewrite
# overhead (~120-180 ms of plan match + keep-list + reader setup,
# measured at 4 M rows on a 32-core host) beats the scan time it
# saves on small tables, where Spark's own row-group pruning already
# makes the brute scan cheap.  256 MiB ≈ the overhead at the local
# scan throughput measured there (~1 GB/s) with 2x margin;
# at 100 TB any selective predicate saves TBs, so the gate only ever
# suppresses the regime where the rewrite was a measured LOSS
# (r4: warm_speedup_vs_brute 0.8 at 4 M rows).  Pass
# ``min_saved_bytes=0`` to pin the policy off (demo entries and
# mechanics tests do).
MIN_SAVED_BYTES_DEFAULT = 256 << 20


def rewrite_skipping_scan(
    df: DataFrame,
    catalog: IndexCatalog | None = None,
    min_saved_bytes: int | None = None,
) -> DataFrame:
    """Optimizer rule #5: a range-predicate scan of a table with a
    REGISTERED clustered layout (``layout.register_clustered_layout``)
    is answered from the Z-ordered copy through its footer-stats
    sidecar — scan tasks are scheduled only for min/max-overlapping
    files, then the ORIGINAL predicate re-applies row-wise and the
    original projection is restored, so the rewrite is semantically
    invisible.

    No hint needed: like the matview rule, this one keys on the plan
    itself — ``[pure-attribute Project]* / Filter+ / LogicalRelation``
    whose root path has a layout registered.  Guard rails, in order:

    - any other plan shape, or a projection that computes/renames     → no-op
    - no registered layout / wrong format version                     → no-op
    - source inventory (sizes+mtimes) drifted since registration      → no-op
      (a lagging layout degrades to the brute scan — NEVER stale)
    - no extractable bound on any clustered column                    → no-op
      (nothing to prune; the brute scan is already the right plan)
    - estimated saved bytes below ``min_saved_bytes``                 → no-op
      (cost gate: the keep-list is computed first, driver-side and
      cheap, and the rewrite fires only when the pruned-away layout
      files outweigh the fixed rewrite overhead — on a small table
      the brute scan wins and the rule now KNOWS it)
    - the rewritten plan fails to re-analyze (a conjunct that does
      not round-trip through ``Column.sql()``)                        → no-op
      (analysis is forced INSIDE the guard before committing, so a
      query that worked unrewritten can never start raising)

    When both an IN-list and range bounds are present, the keep-lists
    are INTERSECTED (per-column Bloom ∩ min/max stats, each
    conservatively keeping its own uncovered files) — never "pick the
    probably-more-selective one".

    At 100 TB this is the optimize()-integrated form of op70b: the
    user keeps writing ``scan.filter(box)``; registering a layout
    turns it into a ~1%-of-files read with zero query changes.
    """
    from pdf_etl_ocr_inference_spark.operators.layout import (
        LAYOUT_FORMAT_VERSION,
        _partition_spec_list,
        bloom_keep_files,
        cached_live_stat_map,
        layout_fresh,
        layout_key,
        partition_keep_files_multi,
        stats_keep_files,
    )

    matched = _match_scan_filter(df)
    if matched is None:
        return df
    src, conds = matched
    cat = catalog or IndexCatalog()
    meta = cat.lookup(layout_key(src))
    if (
        meta is None
        or meta.get("kind") != "layout"
        or meta.get("format_version") != LAYOUT_FORMAT_VERSION
    ):
        return df
    # O(1) warm-path freshness (verdict-r6 #2): one dir stat + one
    # scandir count against the probe stored at register/refresh; the
    # full O(files) inventory sweep runs only on probe mismatch.
    if not layout_fresh(src, meta):
        return df  # layout lags its source: fall through, never stale
    ranges: dict = {}
    in_lists: dict = {}
    pspec = meta.get("partition_spec")
    # bounds are extracted for the stats (z-spec) columns AND the
    # partition column; the partition column's bounds feed ONLY the
    # hive-dir pruning unless it is also a stats column — the stats
    # keep must never see a column the sidecar does not cover (an
    # uncovered column would read as "no stats" and wrongly drop)
    bound_cols = list(meta["cols"])
    for sp in _partition_spec_list(pspec):
        if sp["col"] not in bound_cols:
            bound_cols.append(sp["col"])
    for cond in conds:
        for col, (lo, hi) in _extract_ranges(cond, bound_cols).items():
            plo, phi = ranges.get(col, (float("-inf"), float("inf")))
            ranges[col] = (max(plo, lo), min(phi, hi))
        for col, vals in _extract_in_lists(
            cond, meta.get("bloom_cols") or []
        ).items():
            in_lists.setdefault(col, []).extend(vals)
    stats_ranges = {c: b for c, b in ranges.items() if c in meta["cols"]}
    if not ranges and not in_lists:
        return df
    spark = df.sparkSession
    # Keep-list computation first (driver-side over pinned sidecars,
    # or a distributed bloom probe — cheap either way), INTERSECTING
    # every prune source: per source X a file is effectively kept if
    # X keeps it OR X does not cover it (conservative), and the scan
    # reads only files every source keeps.
    try:
        live = cached_live_stat_map(meta)
        current = set(live)
        files = current
        if pspec and ranges:
            # multi-level layout: hive-dir pruning first — a pure
            # path-string filter (EXACT, see partition_keep_files),
            # no sidecar row of a pruned dir is consulted; one pass
            # per nested level for a multi-axis spec
            files, _ = partition_keep_files_multi(files, pspec, ranges)
        if stats_ranges:
            keep, covered = stats_keep_files(spark, meta, stats_ranges)
            files = files & ((keep & covered) | (current - covered))
        for col, vals in sorted(in_lists.items()):
            keep, covered = bloom_keep_files(spark, meta, col, vals)
            files = files & ((keep & covered) | (current - covered))
    except Exception:
        return df
    # Cost gate: decline when the pruned-away bytes can't pay for the
    # fixed rewrite overhead (the r4 bench measured the rewrite LOSING
    # to brute at 4 M rows for exactly this reason).
    threshold = (
        MIN_SAVED_BYTES_DEFAULT if min_saved_bytes is None
        else min_saved_bytes
    )
    saved = sum(live[f][0] for f in current - files)
    if saved < threshold:
        return df
    # Commit only if the full rewritten plan re-analyzes: Column.sql()
    # round-trips most conditions, but e.g. an inline unregistered
    # Python UDF parses back only at analysis — force analysis INSIDE
    # the guard so failure means "no-op", never a raising query.
    try:
        cond_sqls = [c.sql() for c in conds]
        if files:
            pruned = spark.read.parquet(*sorted(files))
        else:
            pruned = spark.read.parquet(meta["layout_path"]).limit(0)
        out = pruned
        for sql in reversed(cond_sqls):  # innermost filter first
            out = out.filter(F.expr(sql))
        out = out.select(*df.columns)
        out.schema  # force analysis now, while the no-op escape works
    except Exception:
        return df
    return out


_RULES = (*_RULES, rewrite_skipping_scan)


def suggest_clustered_layout(
    workload: list[DataFrame], top: int = 2
) -> dict:
    """Workload-driven layout advisor: given representative queries
    (the DataFrames a dashboard/pipeline actually runs), vote for
    each scanned table's filter columns — range/equality bounds vote
    for Z-order dimensions, integer IN-lists vote for Bloom sidecars
    — and return, per source path, the ``specs`` / ``bloom_cols``
    arguments ready for ``layout.register_clustered_layout``.  The
    closed loop: advise from the workload, register, and the SAME
    workload's scans start routing through ``optimize()`` unchanged.

    Only the top ``top`` range columns per table become Z dimensions:
    Morton-key selectivity degrades as dimensions multiply (each of
    d dimensions gets ~bits/d effective prefix bits per file), so
    more voted columns should raise ``bits``, not d.  Queries that
    are not single-table filtered scans simply cast no votes —
    advising never fails.
    """
    from collections import Counter

    range_votes: dict[str, Counter] = {}
    in_votes: dict[str, Counter] = {}
    schemas: dict[str, dict] = {}
    for df in workload:
        matched = _match_scan_filter(df)
        if matched is None:
            continue
        src, conds = matched
        if src not in schemas:
            try:
                schemas[src] = {
                    f.name: f.dataType.typeName()
                    for f in df.sparkSession.read.parquet(src).schema.fields
                }
            except Exception:
                continue
        types = schemas[src]
        zable = [
            c for c, t in types.items()
            if t in ("integer", "long", "short", "byte", "date")
            or t.startswith("timestamp")
        ]
        intable = [
            c for c, t in types.items()
            if t in ("integer", "long", "short", "byte")
        ]
        for cond in conds:
            for col in _extract_ranges(cond, zable):
                range_votes.setdefault(src, Counter())[col] += 1
            for col in _extract_in_lists(cond, intable):
                in_votes.setdefault(src, Counter())[col] += 1
    out: dict[str, dict] = {}
    for src in sorted(set(range_votes) | set(in_votes)):
        ranked = sorted(
            range_votes.get(src, Counter()).items(),
            key=lambda kv: (-kv[1], kv[0]),
        )[:top]
        specs = []
        for col, _n in ranked:
            t = schemas[src][col]
            if t == "date" or t.startswith("timestamp"):
                specs.append(
                    {"col": col, "kind": "days", "origin": "1970-01-01"}
                )
            else:
                specs.append({"col": col, "kind": "int"})
        spec_cols = {s["col"] for s in specs}
        blooms = sorted(
            c for c in in_votes.get(src, Counter()) if c not in spec_cols
        )
        advice = {"specs": specs, "bloom_cols": blooms}
        # Multi-level advice: when a temporal axis is among the voted
        # Z dimensions, propose a coarse hive partition level on it
        # (90-day buckets — wide enough that a typical dashboard
        # range touches few dirs, narrow enough that the dir count
        # stays ~4/year).  When an INTEGER axis is voted alongside it
        # (a genuinely two-axis workload), propose a SECOND nested
        # level on that axis, width sized from the column's footer
        # min/max to ~8 buckets — dirs multiply across levels, so
        # each level must stay single-digit.  At 100 TB the dir
        # levels bound per-query control data (see
        # layout.partition_keep_files); registering this spec is what
        # turns the advice into the nested prune op70g demonstrates.
        levels: list[dict] = []
        for s in specs:
            if s["kind"] == "days":
                levels.append({**s, "width": 90})
                break
        if levels:
            for s in specs:
                if s["kind"] != "int":
                    continue
                width = _int_bucket_width(
                    workload[0].sparkSession, src, s["col"], buckets=8
                )
                if width is not None:
                    levels.append({**s, "width": width})
                break
        if len(levels) == 1:
            advice["partition_spec"] = levels[0]  # r5 single-dict form
        elif levels:
            advice["partition_spec"] = levels
        out[src] = advice
    return out


def _int_bucket_width(spark, src: str, col: str, buckets: int = 8):
    """Footer-only width estimate for an integer partition level:
    span/buckets from the parquet min/max — no data scan, the same
    control-data discipline as the stats sidecar.  None when footers
    are unreadable or the column is constant (a 1-dir level prunes
    nothing and just deepens paths)."""
    from pdf_etl_ocr_inference_spark.operators.layout import (
        _footer_stats,
        _source_files,
    )

    try:
        rows = _footer_stats(spark, _source_files(src), [col]).collect()
        mins = [r["vmin"] for r in rows if r["vmin"] is not None]
        maxs = [r["vmax"] for r in rows if r["vmax"] is not None]
        if not mins or not maxs:
            return None
        span = max(maxs) - min(mins)
        if span <= 0:
            return None
        return max(1, int(span // buckets) + 1)
    except Exception:
        return None
