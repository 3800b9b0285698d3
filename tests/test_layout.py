"""Layout helpers: minimum-parallelism guard and adaptive lineage
truncation (reliable checkpoint when a checkpoint dir is configured,
localCheckpoint otherwise)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.operators.layout import (
    ensure_min_parallelism,
    truncate_lineage,
)


def test_ensure_min_parallelism_widens_narrow_input(spark):
    narrow = spark.range(0, 1000, 1, 1)
    assert narrow.rdd.getNumPartitions() == 1
    wide = ensure_min_parallelism(narrow)
    assert wide.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    already = ensure_min_parallelism(wide)
    assert already is wide  # no extra shuffle when wide enough


def test_truncate_lineage_local_and_reliable(spark, tmp_path):
    df = spark.range(10).withColumn("x", F.col("id") * 2)
    sc = spark.sparkContext
    assert not sc._jsc.sc().getCheckpointDir().isDefined()
    local = truncate_lineage(df)
    assert local.count() == 10
    # configure a checkpoint dir → the reliable branch engages and
    # actually materializes files there
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        reliable = truncate_lineage(df)
        assert reliable.count() == 10
        assert any(os.scandir(ckpt))  # something was written
    finally:
        # reset for other tests in the shared session ($eq setter is
        # not valid Python syntax — go through getattr)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )


def test_worker_sidecar_cache_evicts_by_bytes():
    """The worker chunk cache is BYTE-budgeted (r9, advice): a Bloom
    chunk holds up to 256 bit arrays that are MBs each at scale, so
    an entry-count bound could pin tens of GB.  Coldest entries
    evict once accumulated payload bytes exceed the budget; the
    entry just inserted always survives (a single over-budget chunk
    is used once, not thrash-evicted)."""
    from pdf_etl_ocr_inference_spark.operators.shard_server import (
        WORKER_CACHE as C,
    )

    saved_entries = dict(C.entries)
    saved_budget = C.budget
    try:
        C.clear()
        C.budget = 100
        C.put("a", None, "va", 40)
        C.put("b", None, "vb", 40)
        C.put("c", None, "vc", 40)  # 120 > 100: evict "a"
        assert set(C.entries) == {"b", "c"}
        # an entry larger than the whole budget still lands (used
        # once) and evicts everything colder
        C.put("big", None, "vbig", 500)
        assert "big" in C.entries
        assert set(C.entries) == {"big"}
        # LRU touch on hit: reinsertion order decides eviction
        C.clear()
        C.put("x", None, "vx", 40)
        C.put("y", None, "vy", 40)
        assert C.get("x") == "vx"
        C.put("z", None, "vz", 40)  # evicts "y", not "x"
        assert set(C.entries) == {"x", "z"}
    finally:
        C.clear()
        C.budget = saved_budget
        for key, (token, value, nbytes) in saved_entries.items():
            C.put(key, token, value, nbytes)
