"""Change-feed compaction semantics: snapshot preservation, retention
behavior for lagging consumers, untouched post-horizon commits, and
re-run safety."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.streaming.changefeed import (
    commit_changes,
    compact,
    diff_snapshots,
    list_versions,
    read_changes,
    snapshot,
)

from .test_shard_server import _jobs


@pytest.fixture()
def feed(spark, tmp_path):
    """Three-commit feed over a tiny keyed table:
    v0 insert k=1..6; v1 update k=2, delete k=3; v2 insert k=7,
    delete k=4.  Final state: {1, 2(updated), 5, 6, 7}."""
    path = str(tmp_path / "feed")
    s0 = spark.createDataFrame(
        [(k, f"val{k}") for k in range(1, 7)], "k long, val string"
    )
    commit_changes(s0.withColumn("_change_type", F.lit("insert")), path, 0)
    s1 = (
        s0.filter(F.col("k") != 3)
        .withColumn(
            "val",
            F.when(F.col("k") == 2, F.lit("val2-updated")).otherwise(
                F.col("val")
            ),
        )
    )
    commit_changes(diff_snapshots(s0, s1, "k"), path, 1)
    s2 = s1.filter(F.col("k") != 4).unionByName(
        spark.createDataFrame([(7, "val7")], "k long, val string")
    )
    commit_changes(diff_snapshots(s1, s2, "k"), path, 2)
    return path


def _state(df) -> dict:
    return {r["k"]: r["val"] for r in df.collect()}

FINAL = {1: "val1", 2: "val2-updated", 5: "val5", 6: "val6", 7: "val7"}


def test_snapshot_identical_after_compaction(spark, feed):
    before = _state(snapshot(spark, feed, "k"))
    assert before == FINAL
    compact(spark, feed, key="k", through_version=1)
    assert _state(snapshot(spark, feed, "k")) == before
    # only the base (v=1) and the post-horizon commit (v=2) remain
    assert list_versions(feed) == [1, 2]


def test_post_horizon_commits_untouched(spark, feed):
    v2_before = {
        (r["k"], r["_change_type"])
        for r in read_changes(spark, feed, since_version=1).collect()
    }
    compact(spark, feed, key="k", through_version=1)
    v2_after = {
        (r["k"], r["_change_type"])
        for r in read_changes(spark, feed, since_version=1).collect()
    }
    assert v2_after == v2_before and len(v2_after) > 0


def test_lagging_consumer_gets_full_resync(spark, feed):
    compact(spark, feed, key="k", through_version=1)
    # a consumer at since=-1 (behind the horizon) now sees the base as
    # plain inserts + the later commit — i.e. a valid full re-sync
    rows = read_changes(spark, feed, since_version=-1)
    base = rows.filter(F.col("_commit_version") == 1)
    assert {
        r["_change_type"] for r in base.collect()
    } == {"insert"}
    # replaying everything still reconstructs the final state
    assert _state(snapshot(spark, feed, "k")) == FINAL


def test_compaction_rerun_and_noop_safety(spark, feed):
    compact(spark, feed, key="k", through_version=1)
    state = _state(snapshot(spark, feed, "k"))
    compact(spark, feed, key="k", through_version=1)  # re-run: no-op+safe
    assert _state(snapshot(spark, feed, "k")) == state
    compact(spark, feed, key="k", through_version=0)  # below horizon: noop
    assert list_versions(feed) == [1, 2]
    assert _state(snapshot(spark, feed, "k")) == state


def test_full_compaction_through_latest(spark, feed):
    compact(spark, feed, key="k", through_version=2)
    assert list_versions(feed) == [2]
    assert _state(snapshot(spark, feed, "k")) == FINAL
    # no staged or parked copy left behind
    assert not [d for d in os.listdir(feed) if d.startswith("_")]


def test_maybe_compact_policy(spark, tmp_path):
    """Below the threshold: no-op. Above: folds all but keep_recent
    newest commits, preserving the snapshot."""
    from pdf_etl_ocr_inference_spark.streaming.changefeed import (
        maybe_compact,
    )

    path = str(tmp_path / "feed2")
    snap = spark.createDataFrame([(k, f"v{k}") for k in range(4)],
                                 "k long, val string")
    commit_changes(snap.withColumn("_change_type", F.lit("insert")), path, 0)
    prev = snap
    for v in range(1, 7):  # 6 update commits -> 7 total
        cur = prev.withColumn(
            "val",
            F.when(F.col("k") == v % 4, F.concat(F.col("val"), F.lit("+")))
            .otherwise(F.col("val")),
        )
        commit_changes(diff_snapshots(prev, cur, "k"), path, v)
        prev = cur
    assert not maybe_compact(spark, path, "k", max_commits=16)
    assert list_versions(path) == list(range(7))
    before = _state(snapshot(spark, path, "k"))
    assert maybe_compact(spark, path, "k", max_commits=4, keep_recent=2)
    # horizon = 3rd-newest commit (v4): base at 4 plus v5, v6 kept
    assert list_versions(path) == [4, 5, 6]
    assert _state(snapshot(spark, path, "k")) == before
    assert not maybe_compact(spark, path, "k", max_commits=4, keep_recent=2)


def _whole_feed_read(spark, path, since):
    """``read_changes`` as a read of the whole feed, pruned by the
    version filter: the frame the explicit-path read must equal."""
    bases = [
        v for v in list_versions(path)
        if os.path.exists(os.path.join(path, f"v={v}", "_base"))
    ]
    start = max([since + 1, *bases])
    df = spark.read.option("basePath", path).parquet(path)
    df = df.withColumnRenamed("v", "_commit_version")
    return df.filter(F.col("_commit_version") >= start)


def _reads_only_new_commits(spark, path, since):
    """``read_changes`` plans with no job and returns the rows and the
    schema of the whole-feed read."""
    with _jobs(spark) as n:
        got = read_changes(spark, path, since_version=since)
        got.schema
    assert n == [0]
    want = _whole_feed_read(spark, path, since)
    assert got.schema == want.schema
    key = repr
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, want.collect()), key=key
    )
    return got


def test_read_past_the_last_commit_is_empty_with_the_feed_schema(spark, feed):
    for since in (2, 5):
        got = _reads_only_new_commits(spark, feed, since)
    assert got.count() == 0
    assert got.columns == ["k", "val", "_change_type", "_commit_version"]


def test_read_after_compact_skips_a_leftover_commit(spark, feed, tmp_path):
    """A ``v<N`` directory left beside the base (a crashed ``compact``
    leaves one) is neither listed nor read."""
    keep = str(tmp_path / "v0")
    shutil.copytree(os.path.join(feed, "v=0"), keep)
    compact(spark, feed, key="k", through_version=1)
    shutil.copytree(keep, os.path.join(feed, "v=0"))
    for since in (-1, 0, 1):
        _reads_only_new_commits(spark, feed, since)
    assert _state(snapshot(spark, feed, "k")) == FINAL


def test_read_of_a_feed_longer_than_the_listing_threshold(spark, tmp_path):
    """40 commits: more paths than Spark lists without a job."""
    path = str(tmp_path / "feed")
    rows = spark.range(40).select(
        "id", F.lit("insert").alias("_change_type")
    )
    for v in range(40):
        commit_changes(rows.filter(F.col("id") == v), path, v)
    for since in (-1, 10, 38):
        got = _reads_only_new_commits(spark, path, since)
    assert [r["id"] for r in got.collect()] == [39]
