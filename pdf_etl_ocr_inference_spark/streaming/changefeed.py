"""Engine-native change data feed (SURVEY OP-10/OP-45).

The reference enables Delta CDF with a table property
(``ocr-tesseract-unstructured.py:112``) so downstream consumers sync
row-level changes incrementally (``ocr:149`` TRIGGERED index).  Open-
source Spark has no CDF without Delta on the classpath; this module
provides the same *capability* on plain parquet:

- a **versioned table layout**: ``path/v=N/`` per commit, each row
  stamped with ``_change_type`` (insert / update_preimage /
  update_postimage / delete) and ``_commit_version``;
- ``commit_changes``  : append one commit (the writer computes the
  change rows — typically a key-join diff against the previous
  snapshot, see ``diff_snapshots``);
- ``read_changes``    : all change rows with ``_commit_version >
  since`` — it reads only the new ``v=`` directories, as explicit
  paths, with the schema from a commit's parquet footer, so planning
  the read runs no Spark job (a consumer at version N lists and reads
  only what it hasn't seen);
- ``snapshot``        : reconstruct the current state (latest
  post-image per key, deletes dropped) — one window per key.

Scale: commits are append-only directory writes (no rewrite of
history); ``read_changes(since)`` cost ∝ new data only; ``snapshot``
shuffles once on the key; ``compact`` folds ``v<=N`` into a base
snapshot so reconstruction cost stops growing with history.

Every commit and base lands whole, through ``scratch.replace_dir``: a
reader sees a ``v=N`` directory only once all its files are written.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.scratch import replace_dir, restore_dir
from pdf_etl_ocr_inference_spark.sources.readers import read_parquet

CHANGE_TYPES = (
    "insert",
    "update_preimage",
    "update_postimage",
    "delete",
)


def commit_changes(changes: DataFrame, path: str, version: int) -> None:
    """Append one commit of change rows as ``path/v=N/``.

    The version lives ONLY in the partition directory name — readers
    recover it as a partition column, and version predicates prune
    directories (a data column wouldn't).
    """
    if "v" in changes.columns:
        raise ValueError(
            "change-feed tables cannot have a data column named 'v': "
            "it collides with the v=N commit partition column"
        )
    replace_dir(f"{path}/v={version}", changes.write.parquet)


def diff_snapshots(
    before: DataFrame, after: DataFrame, key: str
) -> DataFrame:
    """Compute change rows between two snapshots (full outer join on
    the key): inserts, deletes, and pre/post images for updates.

    At 100 TB this is the one-shuffle-per-side reconciliation join;
    writers that KNOW their changes (upsert batches) skip it and call
    ``commit_changes`` directly.
    """
    b = before.select(
        F.col(key).alias("_k"), F.struct(*before.columns).alias("_b")
    )
    a = after.select(
        F.col(key).alias("_k2"), F.struct(*after.columns).alias("_a")
    )
    joined = b.join(a, b["_k"] == a["_k2"], "full_outer")
    inserts = joined.filter(F.col("_k").isNull()).select(
        F.col("_a.*"), F.lit("insert").alias("_change_type")
    )
    deletes = joined.filter(F.col("_k2").isNull()).select(
        F.col("_b.*"), F.lit("delete").alias("_change_type")
    )
    updated = joined.filter(
        F.col("_k").isNotNull()
        & F.col("_k2").isNotNull()
        & (F.col("_b") != F.col("_a"))
    )
    pre = updated.select(
        F.col("_b.*"), F.lit("update_preimage").alias("_change_type")
    )
    post = updated.select(
        F.col("_a.*"), F.lit("update_postimage").alias("_change_type")
    )
    return inserts.unionByName(deletes).unionByName(pre).unionByName(post)


def read_changes(
    spark: SparkSession, path: str, since_version: int = -1
) -> DataFrame:
    """Change rows with ``_commit_version > since_version``, from the
    newest compaction base on.

    Only the commit directories it returns are read, as explicit
    ``v=N`` paths under ``basePath`` (``sources.readers.read_parquet``,
    schema from a footer): planning the read lists those directories
    and runs no job, so an incremental consumer pays for the commits
    it hasn't seen, not for the feed's history.  ``v=N`` is a
    partition column, and the version filter stays on the frame.
    With no commit to return, the newest commit is read under the
    same filter: an empty frame with the feed's schema.  A commit
    older than the newest base is folded into it; one that a crashed
    ``compact`` left behind is not read.
    """
    versions = list_versions(path)
    bases = [
        v for v in versions
        if os.path.exists(_base_marker(os.path.join(path, f"v={v}")))
    ]
    start = max([since_version + 1, *bases])
    dirs = [os.path.join(path, f"v={v}") for v in versions if v >= start]
    if not dirs:
        dirs = [os.path.join(path, f"v={v}") for v in versions[-1:]] or [path]
    df = read_parquet(spark, dirs, base_path=path)
    df = df.withColumnRenamed("v", "_commit_version") if "v" in df.columns else df
    return df.filter(F.col("_commit_version") >= start)


def snapshot(
    spark: SparkSession,
    path: str,
    key: str,
    as_of_version: int | None = None,
) -> DataFrame:
    """State reconstruction: latest insert/post-image per key, minus
    keys whose latest change is a delete.

    ``as_of_version`` gives time travel — reconstruct the table as it
    was after commit N by ignoring later commit directories (partition
    pruning keeps the read proportional to history up to N).
    """
    changes = read_changes(spark, path, since_version=-1).filter(
        F.col("_change_type") != "update_preimage"
    )
    if as_of_version is not None:
        changes = changes.filter(
            F.col("_commit_version") <= as_of_version
        )
    w = Window.partitionBy(key).orderBy(F.desc("_commit_version"))
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter(F.col("_change_type") != "delete")
    )
    return latest.drop("_rn", "_change_type", "_commit_version")


def list_versions(path: str) -> list[int]:
    """Commit versions present on disk (sorted ascending)."""
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        if name.startswith("v=") and os.path.isdir(os.path.join(path, name)):
            out.append(int(name[2:]))
    return sorted(out)


def compact(
    spark: SparkSession, path: str, key: str, through_version: int
) -> None:
    """Fold commits ``v <= through_version`` into one base-snapshot
    commit at ``v=through_version``, removing the older directories —
    so ``snapshot()`` cost stops growing with history length.

    The base is the reconstructed state as-of ``through_version``,
    rewritten as all-``insert`` rows.  Semantics afterwards:

    - ``snapshot()`` at any ``as_of >= through_version`` is IDENTICAL
      to pre-compaction (oracle-checked by ``op10b_cdf_compaction``);
    - ``read_changes(since >= through_version)`` is untouched — those
      directories are not rewritten;
    - ``read_changes(since < through_version)`` returns the base
      insert rows plus later commits: a consumer that fell behind the
      compaction horizon gets a full re-sync (standard CDF retention
      behavior);
    - time travel below the horizon is gone by construction.

    Cost ∝ current snapshot size + history ≤ N being folded, NOT the
    total feed history; later commits are untouched.

    Order: the base, marked as one, replaces ``v=N``
    (``scratch.replace_dir``); only then are the ``v<N`` directories
    removed.  From the moment the base lands, readers start at it
    (:func:`read_changes`), so a crash at any step loses no commit and
    revives no deleted key: before the swap the feed is as it was;
    after it, a leftover ``v<N`` is never read, and a re-run folds the
    same base and removes the leftovers.
    """
    live = os.path.join(path, f"v={through_version}")
    restore_dir(live)
    versions = list_versions(path)
    to_fold = [v for v in versions if v <= through_version]
    if not to_fold:
        return
    base = snapshot(spark, path, key, as_of_version=through_version)
    base = base.withColumn("_change_type", F.lit("insert"))

    def stage(tmp):
        base.write.parquet(tmp)
        open(_base_marker(tmp), "w").close()

    replace_dir(live, stage)
    for v in to_fold:
        if v != through_version:
            shutil.rmtree(os.path.join(path, f"v={v}"), ignore_errors=True)


def _base_marker(commit_dir: str) -> str:
    """The file that marks a commit directory as a compaction base
    (hidden from Spark's listing by its leading ``_``)."""
    return os.path.join(commit_dir, "_base")


def maybe_compact(
    spark: SparkSession,
    path: str,
    key: str,
    max_commits: int = 16,
    keep_recent: int = 4,
) -> bool:
    """Compaction POLICY: when the feed has accumulated more than
    ``max_commits`` commit directories, fold everything except the
    ``keep_recent`` newest into a base snapshot.  Returns whether a
    compaction ran.

    Writers call this after ``commit_changes`` — amortized cost is one
    snapshot materialization every ``max_commits - keep_recent``
    commits, and ``read_changes(since)`` consumers lagging fewer than
    ``keep_recent`` commits never see a re-sync.  The knobs trade
    history (time-travel depth, consumer lag tolerance) against
    ``snapshot()`` read amplification.
    """
    versions = list_versions(path)
    if len(versions) <= max_commits:
        return False
    horizon = versions[-(keep_recent + 1)] if keep_recent else versions[-1]
    compact(spark, path, key, through_version=horizon)
    return True
