#!/usr/bin/env python
"""Time the two refresh paths of the IVF and postings indexes on one
change-feed commit of search_serve-shaped rows (64-d vectors around 16
cells, 30-word texts), by commit size.

For each size, a commit of new documents is written to a feed and
folded into fresh copies of an index pair (``--docs`` documents)
twice: once in the driver (the pin budget raised so the fold always
runs) and once by Spark (the budget shrunk to 1 byte).  The two paths alternate and
their order flips every repetition.  Each pair of copies must end with
the same meta.  One line of JSON per refresh call is printed, then a
table of medians.

    python tools/refresh_crossover.py --mib 1 10 100 --reps 3
    python tools/refresh_crossover.py --docs 200000 --mib 1 10
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from perfbench import gen  # noqa: E402
from pdf_etl_ocr_inference_spark.operators.search import (  # noqa: E402
    build_postings_index,
    refresh_postings_index,
)
from pdf_etl_ocr_inference_spark.operators.serving import (  # noqa: E402
    build_ivf_serving_index,
    refresh_ivf_serving_index,
)
from pdf_etl_ocr_inference_spark.operators.shard_server import (  # noqa: E402
    WORKER_CACHE,
    read_meta,
)
from pdf_etl_ocr_inference_spark.session import get_spark  # noqa: E402
from pdf_etl_ocr_inference_spark.streaming.changefeed import (  # noqa: E402
    commit_changes,
    read_changes,
)

BUDGETS = {"fold": 1 << 50, "spark": 1}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _refresh(spark, ivf, post, changes, path_name):
    """Seconds of the IVF and the postings refresh of version 1."""
    saved = WORKER_CACHE.budget
    WORKER_CACHE.budget = BUDGETS[path_name]
    try:
        t0 = time.perf_counter()
        refresh_ivf_serving_index(
            spark, ivf,
            changes.select(F.col("doc_id").alias("vec_id"), "embedding", "_change_type"),
            1,
        )
        t1 = time.perf_counter()
        refresh_postings_index(
            spark, post, changes.select("doc_id", "text"), 1,
            text_col="text", id_col="doc_id",
        )
        t2 = time.perf_counter()
    finally:
        WORKER_CACHE.budget = saved
    return t1 - t0, t2 - t1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--mib", type=float, nargs="+", default=[1, 10, 100])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--docs", type=int, default=10000)
    ap.add_argument("--seed", type=int, default=901)
    ap.add_argument("--workdir", default=None)
    args = ap.parse_args()

    root = tempfile.mkdtemp(prefix="refresh_xover_", dir=args.workdir)
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spec = gen.SearchSpec(n_docs=args.docs, n_batches=0)
        inputs = gen.search_corpus(args.seed, os.path.join(root, "base_in"), spec)
        corpus = spark.read.parquet(inputs.paths["corpus"])
        base = {"ivf": os.path.join(root, "ivf"), "post": os.path.join(root, "post")}
        build_ivf_serving_index(
            spark, corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
            base["ivf"], inputs.truth["centroids"].tolist(),
        )
        build_postings_index(spark, corpus, base["post"], text_col="text", id_col="doc_id")
        row_bytes = _dir_bytes(inputs.paths["corpus"]) / spec.n_docs

        times = {}
        for mib in args.mib:
            n = max(1, int(mib * 2**20 / row_bytes))
            # same seed: the same vocabulary and cell centers as the base
            rows_in = gen.search_corpus(
                args.seed, os.path.join(root, f"rows_{mib}"),
                gen.SearchSpec(n_docs=n, n_batches=0),
            )
            feed = os.path.join(root, f"feed_{mib}")
            commit_changes(
                spark.read.parquet(rows_in.paths["corpus"])
                .withColumn("doc_id", F.col("doc_id") + 10**7)
                .withColumn("_change_type", F.lit("insert")),
                feed, 1,
            )
            commit_bytes = _dir_bytes(os.path.join(feed, "v=1"))
            changes = read_changes(spark, feed, since_version=0)
            for rep in range(args.reps):
                order = ["fold", "spark"] if rep % 2 == 0 else ["spark", "fold"]
                metas = []
                for path_name in order:
                    trial = os.path.join(root, f"t_{mib}_{rep}_{path_name}")
                    ivf, post = (
                        shutil.copytree(base[k], os.path.join(trial, k))
                        for k in ("ivf", "post")
                    )
                    s_ivf, s_post = _refresh(spark, ivf, post, changes, path_name)
                    metas.append((read_meta(post, "postings"), read_meta(ivf, "ivf")["last_version"]))
                    shutil.rmtree(trial)
                    rec = {"docs": args.docs, "mib": mib, "rows": n,
                           "commit_bytes": commit_bytes, "rep": rep, "path": path_name,
                           "ivf_s": round(s_ivf, 3), "postings_s": round(s_post, 3)}
                    print(json.dumps(rec), flush=True)
                    times.setdefault((mib, path_name), []).append((s_ivf, s_post))
                (pa, va), (pb, vb) = metas
                keys = ("n_docs", "sum_dl", "last_version")
                if va != vb or any(pa[k] != pb[k] for k in keys):
                    raise SystemExit(f"paths disagree at {mib} MiB: {metas}")
            shutil.rmtree(feed)
            shutil.rmtree(os.path.join(root, f"rows_{mib}"))

        print(f"{'MiB':>6} {'path':>6} {'ivf_s':>8} {'postings_s':>11}")
        for (mib, path_name), ts in times.items():
            print(
                f"{mib:>6g} {path_name:>6} "
                f"{statistics.median(t[0] for t in ts):>8.3f} "
                f"{statistics.median(t[1] for t in ts):>11.3f}"
            )
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
