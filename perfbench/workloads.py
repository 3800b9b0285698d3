"""The benchmark's two workloads.

Each workload repeats a cycle of three separately timed operations,
``OPS[0..2]``, which the end-to-end metrics ``op1_p50_ms`` ..
``op3_p50_ms`` report (see ``metrics.py``):

- ``etl_dedup``, the batch path: an ETL pass (read documents, chunk
  them with ``chunk_map_in_pandas`` in longest-first range layout on
  ``filesize``, embed the chunks with ``with_embeddings``, overwrite a
  managed table with every column); ``exact_dedup`` of a corpus with
  planted duplicate families, writing the exact survivors;
  ``minhash_dedup_pairs`` over them, writing the near-duplicate pairs,
  then the write of the survivors (exact survivors that are not the
  larger id of a pair).
- ``search_serve``, the online path: a closed loop with one client.
  ``CYCLE`` hybrid requests, each ``serve_topk`` on a pinned IVF index
  and then ``serve_bm25`` on a pinned postings index, drawn from Zipf
  query pools; then a commit of new documents through
  ``commit_changes``, folded into both indexes; then a read-your-writes
  request for one of the new documents.

Every workload implements ``prepare`` (input generation, which the
set-up repeats), ``warm_up`` (index builds and one cycle, once per
run), ``measure`` (the
timed loop: cycles until ``--seconds`` of timed work and at least
``MIN_CYCLES``, checking outputs outside the timed region), ``staged``
(extra passes for traced runs) and ``layer_metrics``.

The run lengths (cycle sizes, ``MIN_CYCLES``, warm-ups) are as small as
keeps each operation's median steady: every run pays about 30 s of JVM
start, input generation, index builds and warm-up, and the workloads'
repeated runs must fit a fixed time budget.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen
from spans import LayerWork, Tracer, median, select

from pdf_etl_ocr_inference_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
)
from pdf_etl_ocr_inference_spark.operators.documents import (
    chunk_map_in_pandas,
    chunk_native,
)
from pdf_etl_ocr_inference_spark.operators.inference import (
    hash_embed_texts,
    with_embeddings,
)
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
from pdf_etl_ocr_inference_spark.sources.writers import overwrite_table
from pdf_etl_ocr_inference_spark.streaming.changefeed import (
    commit_changes,
    read_changes,
)

now = time.perf_counter
STAGED_REPS = 2  # passes of each ETL prefix in a traced run


@dataclass
class Measured:
    """One timed phase: latencies per operation kind, and outcomes."""

    ops: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    timed_s: float = 0.0
    extra: dict = field(default_factory=dict)

    def record(self, op: str, seconds: float, ok: bool = True) -> None:
        self.ops.setdefault(op, []).append(seconds)
        self.attempted += 1
        self.failed += not ok
        self.timed_s += seconds

    def p50(self, op: str) -> float:
        return median(self.ops.get(op, ()))


def noop(df: DataFrame) -> None:
    """Materialize every column of ``df`` without keeping it."""
    df.write.format("noop").mode("overwrite").save()


def digest(df: DataFrame) -> tuple[int, int]:
    """Row count and order-insensitive hash of ``(doc_id, chunk_idx,
    chunk)`` rows."""
    h = F.xxhash64(
        F.col("doc_id").cast("long"), F.col("chunk_idx").cast("int"), F.col("chunk")
    ).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    xs = sorted(values)
    return {"value": xs[n - 11], "percentile": 100.0 * (n - 10) / n, "samples": n}


class Workload:
    name = ""
    OPS: tuple[str, str, str] = ("", "", "")
    MIN_CYCLES = 2

    def __init__(self, spark: SparkSession, seed: int):
        self.spark = spark
        self.seed = seed
        self.warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        self.reference_ok = True

    def reference(self) -> None:
        """Untimed reference answers the checks compare against."""

    def staged(self, tracer: Tracer) -> dict[str, float]:
        return {}

    def table_files(self, table: str) -> int:
        return sum(
            f.endswith(".parquet") for f in os.listdir(os.path.join(self.warehouse, table))
        )

    def cycles(self, m: Measured) -> int:
        return max(len(m.ops.get(self.OPS[2], ())), 1)

    def more(self, m: Measured, seconds: float) -> bool:
        """Whether the timed loop runs another cycle."""
        return m.timed_s < seconds or len(m.ops.get(self.OPS[2], ())) < self.MIN_CYCLES


# ---------------------------------------------------------------- #
# etl_dedup                                                        #
# ---------------------------------------------------------------- #


class EtlDedup(Workload):
    name = "etl_dedup"
    N_DOCS = 2000
    N_FAMILIES = 1600
    TABLE = "etl_chunks"
    SURVIVORS = "dedup_survivors"
    STAGES = ("sources", "documents", "inference")  # prefixes of the pass
    OPS = ("ingest", "dedup.exact", "dedup.near")
    # longest-first order only helps when there are more tasks than
    # cores: the largest documents start first and the small ones fill
    # the cores in behind them
    TASKS_PER_CORE = 2

    @property
    def partitions(self) -> int:
        return self.TASKS_PER_CORE * self.spark.sparkContext.defaultParallelism

    def prepare(self, rep_dir: str) -> None:
        docs = gen.documents(self.seed, os.path.join(rep_dir, "inputs"), self.N_DOCS)
        corpus = gen.dedup_corpus(self.seed, os.path.join(rep_dir, "inputs"), self.N_FAMILIES)
        self.inputs = gen.Inputs(
            paths={**docs.paths, **corpus.paths},
            truth={**docs.truth, **corpus.truth},
            properties={"documents": docs.properties, "dedup_corpus": corpus.properties},
            content_hash=gen.combined_hash(docs, corpus),
        )
        self.uniq_path = os.path.join(rep_dir, "exact")
        self.pairs_path = os.path.join(rep_dir, "pairs")

    def warm_up(self, tracer: Tracer) -> None:
        for op in self.OPS:
            self.step(op, tracer)

    # -- operations --------------------------------------------------

    def ingest(self, tracer: Tracer, upto: str = "writers") -> None:
        """One ETL pass, or its prefix up to layer ``upto`` written to
        the noop sink."""
        with tracer.span("sources"):
            df = self.spark.read.parquet(self.inputs.paths["documents"])
        if upto != "sources":
            with tracer.span("documents"):
                df = chunk_map_in_pandas(
                    df, text_col="text", id_cols=("doc_id", "filename"),
                    size_col="filesize", num_partitions=self.partitions,
                )
        if upto in ("inference", "writers"):
            with tracer.span("inference"):
                df = with_embeddings(df, "chunk")
        with tracer.span(upto):
            if upto == "writers":
                overwrite_table(df, self.TABLE)
            else:
                noop(df)

    def step(self, op: str, tracer: Tracer) -> None:
        """One operation of the cycle; each dedup step reads what the
        previous one wrote."""
        if op == "ingest":
            self.ingest(tracer)
        elif op == "dedup.exact":
            with tracer.span("dedup.exact"):
                docs = self.spark.read.parquet(self.inputs.paths["corpus"])
                exact_dedup(docs, "text", "doc_id").write.mode("overwrite").parquet(
                    self.uniq_path
                )
        else:
            uniq = self.spark.read.parquet(self.uniq_path)
            with tracer.span("dedup.minhash"):
                minhash_dedup_pairs(uniq, "text", "doc_id").write.mode("overwrite").parquet(
                    self.pairs_path
                )
                # the operator persists an intermediate frame it never
                # releases
                self.spark.catalog.clearCache()
            with tracer.span("dedup.survivors"):
                dropped = self.spark.read.parquet(self.pairs_path).select(
                    F.col("id_b").alias("doc_id")
                )
                overwrite_table(uniq.join(dropped, "doc_id", "left_anti"), self.SURVIVORS)

    # -- verification ------------------------------------------------

    def reference(self) -> None:
        docs = self.spark.read.parquet(self.inputs.paths["documents"])
        self.expected = digest(chunk_native(docs, text_col="text"))
        self.reference_ok = self.expected[0] == self.inputs.truth["chunks_kept"]

    def check(self, op: str) -> bool:
        truth = self.inputs.truth
        if op == "ingest":
            return self.reference_ok and digest(self.spark.table(self.TABLE)) == self.expected
        if op == "dedup.exact":
            n = self.spark.read.parquet(self.uniq_path).count()
            return n == truth["exact_survivors"]
        pairs = {
            (int(r[0]), int(r[1]))
            for r in self.spark.read.parquet(self.pairs_path).select("id_a", "id_b").collect()
        }
        fam = truth["family_of"]
        crossing = any(fam[a] != fam[b] for a, b in pairs)
        n = self.spark.table(self.SURVIVORS).agg(F.count(F.lit(1))).first()[0]
        return truth["planted_pairs"] <= pairs and not crossing and n == truth["unique"]

    def embeddings_ok(self) -> bool:
        """A seeded sample of the last pass's embeddings equals
        ``hash_embed_texts`` recomputed on the driver."""
        rng = np.random.default_rng([self.seed, 11])
        ids = [int(i) for i in rng.choice(self.N_DOCS, size=24, replace=False)]
        rows = (
            self.spark.table(self.TABLE)
            .filter(F.col("doc_id").isin(ids))
            .select("chunk", "inference")
            .collect()
        )
        want = hash_embed_texts([r["chunk"] for r in rows])
        return bool(rows) and all(
            np.allclose(np.asarray(r["inference"], dtype=np.float32),
                        np.asarray(w, dtype=np.float32), atol=1e-6)
            for r, w in zip(rows, want)
        )

    # -- the loop ----------------------------------------------------

    def measure(self, seconds: float, tracer: Tracer) -> Measured:
        m = Measured()
        while self.more(m, seconds):
            for op in self.OPS:
                t0 = now()
                self.step(op, tracer)
                dt = now() - t0
                m.record(op, dt, self.check(op))
        if not self.embeddings_ok() and m.failed < m.attempted:
            m.failed += 1
        return m

    def throughput(self, m: Measured) -> float:
        """Documents ingested and curated per second of one cycle: the
        three operations' medians summed."""
        docs = self.N_DOCS + self.inputs.properties["dedup_corpus"]["docs"]
        return docs / sum(m.p50(op) for op in self.OPS)

    def report(self, m: Measured) -> dict:
        curated = self.inputs.properties["dedup_corpus"]["docs"]
        dedup_s = m.p50("dedup.exact") + m.p50("dedup.near")
        return {
            "etl_docs_per_s": {"value": self.N_DOCS / m.p50("ingest"), "unit": "1/s"},
            "dedup_docs_per_s": {"value": curated / dedup_s, "unit": "1/s"},
            "pass_p50_ms": {"value": 1e3 * m.p50("ingest"), "unit": "ms"},
            "exact_p50_ms": {"value": 1e3 * m.p50("dedup.exact"), "unit": "ms"},
            "near_p50_ms": {"value": 1e3 * m.p50("dedup.near"), "unit": "ms"},
            "cycles": {"value": self.cycles(m), "unit": "count"},
        }

    # -- traced runs -------------------------------------------------

    def staged(self, tracer: Tracer) -> dict[str, float]:
        """Prefixes of the ETL pass, which fuses read, chunk and embed
        into the write's Spark job: each ends in the noop sink at a
        layer boundary.  Then the candidate pairs: every pair the LSH
        bands propose, i.e. the verified pairs at Jaccard threshold 0
        (an untimed count)."""
        prefix: dict[str, list[float]] = {s: [] for s in self.STAGES}
        for _ in range(STAGED_REPS):
            for s in self.STAGES:
                t0 = now()
                self.ingest(tracer, upto=s)
                prefix[s].append(now() - t0)
        with tracer.span("dedup.candidates"):
            uniq = self.spark.read.parquet(self.uniq_path)
            self.candidates = minhash_dedup_pairs(
                uniq, "text", "doc_id", jaccard_threshold=0.0
            ).count()
            self.verified = self.spark.read.parquet(self.pairs_path).count()
        self.spark.catalog.clearCache()
        return {s: median(v) for s, v in prefix.items()}

    def layer_metrics(self, staged: dict, work: dict[str, LayerWork], tracer: Tracer,
                      m: Measured) -> dict:
        """A pass layer's self time is its prefix's median time minus
        the previous prefix's (the last prefix is the timed pass); its
        Spark work is that of its prefix's jobs."""
        med = {**staged, "writers": m.p50("ingest")}
        self_s, prev = {}, 0.0
        for s in self.STAGES + ("writers",):
            self_s[s] = med[s] - prev
            prev = med[s]
        per_rep = 1.0 / STAGED_REPS
        per_cycle = 1.0 / self.cycles(m)
        docs = select(work, "S", "documents")
        chunk_stage = docs.stages_with("MapInPandas")
        durs = docs.stage_tasks.get(chunk_stage[-1], []) if chunk_stage else []
        inf = select(work, "S", "inference")
        py = ("data sent to Python workers", "data returned from Python workers")
        dd = select(work, "T", "dedup.exact", "dedup.minhash")
        return {
            "sources.read_s": self_s["sources"],
            "sources.bytes_read": select(work, "S", "sources").input_bytes * per_rep,
            "documents.chunk_s": self_s["documents"],
            "documents.chunks_out": docs.sql_metric("MapInPandas", "number of output rows")
            * per_rep,
            "documents.python_bytes": sum(docs.sql_metric("MapInPandas", n) for n in py)
            * per_rep,
            "documents.straggler_ratio": max(durs) / median(durs, 1.0) if durs else 0.0,
            "inference.embed_s": self_s["inference"],
            "inference.rows": inf.sql_metric("ArrowEvalPython", "number of output rows")
            * per_rep,
            "inference.python_bytes": sum(inf.sql_metric("ArrowEvalPython", n) for n in py)
            * per_rep,
            "writers.write_s": self_s["writers"],
            "writers.bytes_written": select(work, "T", "writers").output_bytes * per_cycle,
            "writers.files_written": self.table_files(self.TABLE),
            "dedup.exact_s": median(tracer.durations("dedup.exact", "T")),
            "dedup.minhash_s": median(tracer.durations("dedup.minhash", "T")),
            "dedup.candidate_pairs": self.candidates,
            "dedup.verified_pairs": self.verified,
            "dedup.verify_yield": self.verified / self.candidates if self.candidates else 0.0,
            "dedup.shuffle_bytes": dd.shuffle_write_bytes * per_cycle,
            "dedup.spill_bytes": dd.spill_bytes * per_cycle,
        }


# ---------------------------------------------------------------- #
# search_serve                                                     #
# ---------------------------------------------------------------- #


class SearchServe(Workload):
    name = "search_serve"
    SPEC = gen.SearchSpec(n_docs=10000)
    K = 10
    N_PROBE = 2
    CYCLE = 2  # requests between two refreshes
    OPS = ("serving.query", "search.query", "refresh")

    # -- set-up ------------------------------------------------------

    def prepare(self, rep_dir: str) -> None:
        self.inputs = gen.search_corpus(self.seed, os.path.join(rep_dir, "inputs"), self.SPEC)
        self.ivf = os.path.join(rep_dir, "ivf")
        self.postings = os.path.join(rep_dir, "postings")
        self.feed = os.path.join(rep_dir, "feed")

    def warm_up(self, tracer: Tracer) -> None:
        """Build both indexes, then one refresh and its read-your-writes
        request: Python workers, pinned cells and the refresh path's
        codegen are all warm when the loop starts."""
        truth = self.inputs.truth
        corpus = self.spark.read.parquet(self.inputs.paths["corpus"])
        build_ivf_serving_index(
            self.spark,
            corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
            self.ivf,
            truth["centroids"].tolist(),
        )
        build_postings_index(self.spark, corpus, self.postings, text_col="text", id_col="doc_id")
        # driver-side mirror of the index contents, for verification
        self.vectors = truth["emb"]
        self.version = 0
        self.next_request = 0
        scratch = Measured()
        self.refresh(tracer, scratch)
        self.read_your_writes(tracer, scratch)
        if scratch.failed:
            self.reference_ok = False

    # -- operations --------------------------------------------------

    def request(self, qv, terms, tracer: Tracer):
        """One hybrid request: the answers and the times of its two
        lookups, timed apart."""
        t0 = now()
        with tracer.span("serving.query"):
            vrows = serve_topk(
                self.spark, self.ivf, [(0, list(map(float, qv)))], k=self.K,
                kind="ivf", n_probe=self.N_PROBE,
            ).collect()
        t1 = now()
        with tracer.span("search.query"):
            trows = serve_bm25(self.spark, self.postings, [(0, list(terms))], k=self.K).collect()
        t2 = now()
        vec = [(int(r["vec_id"]), float(r["score"])) for r in vrows]
        txt = [(int(r["id"]), float(r["score"])) for r in trows]
        return vec, txt, t1 - t0, t2 - t1

    def refresh(self, tracer: Tracer, m: Measured) -> None:
        """Commit the next batch and fold it into both indexes; the
        time runs from the commit to both indexes serving it."""
        v = self.version + 1
        batch = self.inputs.truth["batches"][v - 1]
        rows = self.spark.read.parquet(batch["path"])
        t0 = now()
        ok = True
        try:
            with tracer.span("changefeed.commit"):
                commit_changes(rows.withColumn("_change_type", F.lit("insert")), self.feed, v)
            changes = read_changes(self.spark, self.feed, since_version=v - 1)
            with tracer.span("serving.refresh"):
                refresh_ivf_serving_index(
                    self.spark, self.ivf,
                    changes.select(F.col("doc_id").alias("vec_id"), "embedding", "_change_type"),
                    v,
                )
            with tracer.span("search.refresh"):
                refresh_postings_index(
                    self.spark, self.postings, changes.select("doc_id", "text"), v,
                    text_col="text", id_col="doc_id",
                )
        except Exception:  # noqa: BLE001 - a failed refresh is counted, not fatal
            import traceback

            traceback.print_exc()
            ok = False
        m.record("refresh", now() - t0, ok)
        self.version = v
        self.vectors = np.vstack([self.vectors, batch["emb"]])

    def read_your_writes(self, tracer: Tracer, m: Measured) -> None:
        """Look up the first document of the last committed batch by its
        own vector and by the token only it carries.  Its lookups are
        the first after a refresh, so they are recorded apart from the
        warm ones."""
        batch = self.inputs.truth["batches"][self.version - 1]
        vec, txt, dv, dt = self.request(batch["emb"][0], [batch["marks"][0]], tracer)
        want = int(batch["ids"][0])
        ok = bool(vec) and vec[0][0] == want and [i for i, _ in txt] == [want]
        ok = ok and self.vector_ok(batch["emb"][0], vec)
        m.record("after_refresh.serving.query", dv, ok)
        m.record("after_refresh.search.query", dt, ok)

    # -- verification ------------------------------------------------

    def _exact(self, qv, cells_only: bool):
        cents = self.inputs.truth["centroids"]
        q = np.asarray(qv, dtype=np.float64)
        q = q / np.linalg.norm(q)
        dots = cents @ q
        probed = sorted(range(len(cents)), key=lambda c: (-dots[c], c))[: self.N_PROBE]
        e = self.vectors
        cell = np.argmax(e @ cents.T, axis=1)
        scores = (e / np.linalg.norm(e, axis=1, keepdims=True)) @ q
        mask = np.isin(cell, probed) if cells_only else np.ones(len(e), bool)
        idx = np.flatnonzero(mask)
        order = idx[np.lexsort((idx, -scores[idx]))]
        return scores, mask, order[: self.K]

    def vector_ok(self, qv, got) -> bool:
        """A valid answer is K distinct ids from the probed cells whose
        exact scores all reach the K-th best exact score."""
        scores, mask, top = self._exact(qv, cells_only=True)
        ids = [i for i, _ in got]
        if len(ids) != min(self.K, int(mask.sum())) or len(set(ids)) != len(ids):
            return False
        if not all(0 <= i < len(mask) and mask[i] for i in ids):
            return False
        kth = scores[top[-1]]
        return all(
            scores[i] >= kth - 1e-9 and abs(scores[i] - s) <= 1e-4 + 1e-12
            for i, s in got
        )

    def recall(self, qv, got) -> float:
        _, _, top = self._exact(qv, cells_only=False)
        return len({i for i, _ in got} & {int(i) for i in top}) / self.K

    def text_ok(self, terms, got) -> bool:
        exp = [
            (int(r["id"]), float(r["score"]))
            for r in bm25_topk_indexed(self.spark, self.postings, list(terms), k=self.K).collect()
        ]
        if len(got) != len(exp) or len({i for i, _ in got}) != len(got):
            return False
        if any(abs(g[1] - e[1]) > 1e-4 for g, e in zip(got, exp)):
            return False
        # ids may differ only where the last score ties
        exp_ids = {i for i, _ in exp}
        return all(i in exp_ids or abs(s - exp[-1][1]) <= 1e-4 for i, s in got)

    # -- the loop ----------------------------------------------------

    def measure(self, seconds: float, tracer: Tracer) -> Measured:
        m = Measured()
        truth = self.inputs.truth
        n_batches = len(truth["batches"])
        recalls = []
        start = self.next_request
        while self.more(m, seconds) and self.version < n_batches:
            for i in range(self.CYCLE):
                r = self.next_request
                self.next_request += 1
                qv, terms = truth["vq"][truth["req_v"][r]], truth["tq"][truth["req_t"][r]]
                vec, txt, dv, dt = self.request(qv, terms, tracer)
                m.record("serving.query", dv, self.vector_ok(qv, vec))
                # one text answer per cycle is checked against the
                # unindexed scorer: the last, before the index changes
                m.record(
                    "search.query", dt, i < self.CYCLE - 1 or self.text_ok(terms, txt)
                )
                recalls.append(self.recall(qv, vec))
            self.refresh(tracer, m)
            self.read_your_writes(tracer, m)
        served = list(zip(truth["req_v"][start : self.next_request],
                          truth["req_t"][start : self.next_request]))
        m.extra["recall_at_k"] = float(np.mean(recalls)) if recalls else 0.0
        m.extra["repeat_share"] = gen.repeat_share(served)
        m.extra["vector_repeat_share"] = gen.repeat_share([v for v, _ in served])
        m.extra["text_repeat_share"] = gen.repeat_share([t for _, t in served])
        return m

    def requests(self, m: Measured) -> int:
        return len(m.ops.get("serving.query", ())) + len(
            m.ops.get("after_refresh.serving.query", ())
        )

    def throughput(self, m: Measured) -> float:
        """Hybrid requests per second of timed loop time, refreshes
        included."""
        return self.requests(m) / m.timed_s

    def report(self, m: Measured) -> dict:
        out = {"serve_qps": {"value": self.throughput(m), "unit": "1/s"}}
        for kind, op in (("vector", "serving.query"), ("text", "search.query"),
                         ("refresh", "refresh")):
            xs = [1e3 * x for x in m.ops.get(op, ())]
            out[f"{kind}_p50_ms"] = {"value": median(xs), "unit": "ms", "samples": len(xs)}
            if kind != "refresh":
                # the tail takes every lookup, the first after each
                # refresh included
                after = [1e3 * x for x in m.ops.get(f"after_refresh.{op}", ())]
                t = tail(xs + after)
                out[f"{kind}_tail_ms"] = (
                    {"value": t["value"], "unit": "ms", "percentile": t["percentile"],
                     "samples": t["samples"]}
                    if t else {"value": None, "unit": "ms", "samples": len(xs + after)}
                )
                out[f"{kind}_after_refresh_p50_ms"] = {
                    "value": median(after), "unit": "ms", "samples": len(after)
                }
        for k in ("repeat_share", "vector_repeat_share", "text_repeat_share", "recall_at_k"):
            out[k] = {"value": m.extra.get(k, 0.0), "unit": "ratio"}
        return out

    def layer_metrics(self, staged: dict, work: dict[str, LayerWork], tracer: Tracer,
                      m: Measured) -> dict:
        def per_call(layer: str, count) -> float:
            calls = len(tracer.durations(layer, "T"))
            return count(select(work, "T", layer)) / calls if calls else 0.0

        refresh_rows = select(work, "T", "serving.refresh").output_records
        changed = len(m.ops.get("refresh", ())) * self.SPEC.batch_rows
        return {
            "serving.query_s": median(tracer.durations("serving.query", "T")),
            "serving.cells_probed": per_call("serving.query", scan_tasks),
            "serving.cold_load_s": m.p50("after_refresh.serving.query"),
            "serving.recall_at_k": m.extra.get("recall_at_k", 0.0),
            "search.query_s": median(tracer.durations("search.query", "T")),
            "search.shards_per_query": per_call("search.query", scan_tasks),
            "search.jobs_per_query": per_call("search.query", lambda w: w.jobs),
            "changefeed.commit_s": median(tracer.durations("changefeed.commit", "T")),
            "serving.refresh_s": median(tracer.durations("serving.refresh", "T")),
            "serving.rows_rewritten_per_row_changed": refresh_rows / changed if changed else 0.0,
            "search.refresh_s": median(tracer.durations("search.refresh", "T")),
        }


def scan_tasks(w: LayerWork) -> int:
    """Tasks of the stages that ran a ``mapInPandas`` shard scan."""
    return sum(len(w.stage_tasks[s]) for s in w.stages_with("MapInPandas"))


WORKLOADS = {w.name: w for w in (EtlDedup, SearchServe)}
