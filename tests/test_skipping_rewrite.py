"""The skipping-scan optimizer rule: a plain ``scan.filter(box)``
over a table with a REGISTERED clustered layout is rewritten onto the
Z-ordered copy + footer-stats sidecar — results identical, fewer
files scheduled — and every guard rail leaves foreign plans
object-identical.

Staleness is the load-bearing property: the rule keys on the source
file inventory (sizes + mtimes), so a layout that lags its source
degrades to the brute scan instead of answering stale; an
append-only refresh re-syncs at cost ∝ new files.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF0001


def _rw(df):
    """rewrite_skipping_scan with the cost gate pinned OFF — these
    tests exercise rewrite MECHANICS on tiny fixtures, where the
    default policy (correctly) declines because the saved bytes
    cannot pay the fixed rewrite overhead.  The gate itself is
    tested separately in test_cost_gate_*."""
    from pdf_etl_ocr_inference_spark.optimizer import (
        rewrite_skipping_scan,
    )

    return rewrite_skipping_scan(df, min_saved_bytes=0)


@pytest.fixture(scope="module")
def src_dir(spark, tmp_path_factory):
    """A multi-file copy of orders to act as the registered source
    (hermetic: staleness tests mutate it)."""
    d = str(tmp_path_factory.mktemp("skiprw") / "orders")
    (
        spark.read.parquet(f"{SF0001}/orders.parquet")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


SPECS = [
    {"col": "o_custkey", "kind": "int"},
    {"col": "o_orderdate", "kind": "days", "origin": "1995-01-01"},
]


def _pins(kind):
    """``{(sidecar dir, chunk): token}`` of the driver's pinned
    ``kind`` (``"stats"`` or ``"bloom"``) sidecar chunks."""
    from pdf_etl_ocr_inference_spark.operators.shard_server import (
        WORKER_CACHE,
    )

    return {
        k[:2]: v[0]
        for k, v in list(WORKER_CACHE.entries.items())
        if isinstance(k, tuple) and k[2:] == (kind,)
    }


def _box():
    return (
        F.col("o_custkey").between(100, 299)
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )


def _keys(df):
    return sorted(r["o_orderkey"] for r in df.select("o_orderkey").collect())


def _scan_file_count(df) -> int:
    """Number of files the (rewritten) plan's relation schedules."""
    node = df._jdf.queryExecution().analyzed()
    while node.nodeName() != "LogicalRelation":
        node = node.children().head()
    return node.relation().location().rootPaths().size()


@pytest.fixture(scope="module")
def registered(spark, src_dir):
    from pdf_etl_ocr_inference_spark.operators.layout import (
        register_clustered_layout,
    )

    return register_clustered_layout(spark, src_dir, SPECS, n_files=16)


def test_rewrite_fires_and_matches_brute(spark, src_dir, registered):
    from pdf_etl_ocr_inference_spark.optimizer import optimize

    df = spark.read.parquet(src_dir).filter(_box())
    opt = optimize(df, min_saved_bytes=0)
    assert opt is not df
    assert _keys(opt) == _keys(df)
    assert set(opt.columns) == set(df.columns)


def test_rewrite_prunes_files(spark, src_dir, registered):
    from pdf_etl_ocr_inference_spark.optimizer import rewrite_skipping_scan

    df = spark.read.parquet(src_dir).filter(_box())
    opt = _rw(df)
    assert opt is not df
    # the rewritten relation schedules strictly fewer files than the
    # clustered copy holds — the skip actually engages
    assert _scan_file_count(opt) < 16


def test_projection_preserved(spark, src_dir, registered):
    from pdf_etl_ocr_inference_spark.optimizer import rewrite_skipping_scan

    df = (
        spark.read.parquet(src_dir)
        .select("o_orderkey", "o_custkey")
        .filter(F.col("o_custkey").between(100, 299))
    )
    opt = _rw(df)
    assert opt is not df
    assert opt.columns == ["o_orderkey", "o_custkey"]
    assert _keys(opt) == _keys(df)


def test_strict_and_equality_bounds(spark, src_dir, registered):
    from pdf_etl_ocr_inference_spark.optimizer import rewrite_skipping_scan

    df = spark.read.parquet(src_dir).filter(
        (F.col("o_custkey") > 100) & (F.col("o_custkey") < 299)
    )
    opt = _rw(df)
    assert opt is not df and _keys(opt) == _keys(df)
    df_eq = spark.read.parquet(src_dir).filter(F.col("o_custkey") == 150)
    opt_eq = _rw(df_eq)
    assert opt_eq is not df_eq and _keys(opt_eq) == _keys(df_eq)


def test_guard_rails_leave_plan_identical(spark, src_dir, registered):
    from pdf_etl_ocr_inference_spark.optimizer import rewrite_skipping_scan

    # computed projection
    df = (
        spark.read.parquet(src_dir)
        .withColumn("x", F.col("o_custkey") + 1)
        .filter(F.col("x") > 5)
    )
    assert _rw(df) is df
    # unregistered table
    df2 = spark.read.parquet(f"{SF0001}/lineitem.parquet").filter(
        F.col("l_quantity") > 10
    )
    assert _rw(df2) is df2
    # no bound on any clustered column
    df3 = spark.read.parquet(src_dir).filter(F.col("o_totalprice") > 1000)
    assert _rw(df3) is df3
    # no filter at all
    df4 = spark.read.parquet(src_dir)
    assert _rw(df4) is df4
    # join on top — not the scan shape
    df5 = df4.join(df4.select("o_orderkey"), "o_orderkey")
    assert _rw(df5) is df5


def test_residual_predicates_reapply(spark, src_dir, registered):
    """A conjunct the pruner can't use (string prefix) must still
    filter rows — the WHOLE original condition re-applies."""
    from pdf_etl_ocr_inference_spark.optimizer import rewrite_skipping_scan

    df = spark.read.parquet(src_dir).filter(
        F.col("o_custkey").between(100, 299)
        & F.col("o_orderpriority").startswith("1")
    )
    opt = _rw(df)
    assert opt is not df
    assert _keys(opt) == _keys(df)


def test_stale_layout_falls_through_then_refresh_resyncs(
    spark, src_dir, registered
):
    from pdf_etl_ocr_inference_spark.operators.layout import (
        refresh_clustered_layout,
    )
    from pdf_etl_ocr_inference_spark.optimizer import rewrite_skipping_scan

    # noop refresh while in sync
    assert refresh_clustered_layout(spark, src_dir)["mode"] == "noop"

    # APPEND new rows as a new source file -> inventory drift -> no-op
    extra = (
        spark.read.parquet(f"{SF0001}/orders.parquet")
        .limit(50)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
    )
    extra.coalesce(1).write.mode("append").parquet(src_dir)
    df = spark.read.parquet(src_dir).filter(F.col("o_custkey") >= 0)
    assert _rw(df) is df  # never stale

    r = refresh_clustered_layout(spark, src_dir)
    assert r["mode"] == "incremental" and r["new_files"] >= 1

    df2 = spark.read.parquet(src_dir).filter(_box())
    opt2 = _rw(df2)
    assert opt2 is not df2
    assert _keys(opt2) == _keys(df2)  # appended rows visible

    # REWRITE a covered file -> refresh must full-rebuild
    import os

    os.utime(sorted(
        f"{src_dir}/{f}" for f in os.listdir(src_dir)
        if f.endswith(".parquet")
    )[0])
    assert refresh_clustered_layout(spark, src_dir)["mode"] == "rebuild"
    df3 = spark.read.parquet(src_dir).filter(_box())
    opt3 = _rw(df3)
    assert opt3 is not df3 and _keys(opt3) == _keys(df3)


def test_bloom_in_list_path(spark, src_dir):
    """An integer IN-list on a bloom_cols column routes through the
    Bloom point-lookup scan; string IN-lists and un-bloomed columns
    never do."""
    from pdf_etl_ocr_inference_spark.operators.layout import (
        register_clustered_layout,
    )
    from pdf_etl_ocr_inference_spark.optimizer import rewrite_skipping_scan

    register_clustered_layout(
        spark, src_dir, SPECS, n_files=16, bloom_cols=["o_orderkey"]
    )
    probe = [
        r["o_orderkey"]
        for r in spark.read.parquet(src_dir)
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(5)
        .collect()
    ]
    df = spark.read.parquet(src_dir).filter(
        F.col("o_orderkey").isin(probe)
    )
    opt = _rw(df)
    assert opt is not df
    assert _keys(opt) == _keys(df) == sorted(probe)
    assert _scan_file_count(opt) < 16  # the bloom actually prunes

    # combined IN + residual predicate still re-applies everything
    df2 = spark.read.parquet(src_dir).filter(
        F.col("o_orderkey").isin(probe) & (F.col("o_totalprice") > 0)
    )
    opt2 = _rw(df2)
    assert opt2 is not df2 and _keys(opt2) == _keys(df2)

    # string IN-list: no bloom for that column -> no-op
    df3 = spark.read.parquet(src_dir).filter(
        F.col("o_orderpriority").isin(["1-URGENT"])
    )
    assert _rw(df3) is df3


def test_layout_advisor_closes_the_loop(spark, src_dir):
    """suggest -> register -> the same workload's scans reroute."""
    from pdf_etl_ocr_inference_spark.operators.layout import (
        register_clustered_layout,
    )
    from pdf_etl_ocr_inference_spark.optimizer import (
        rewrite_skipping_scan,
        suggest_clustered_layout,
    )

    probe = [
        r["o_orderkey"]
        for r in spark.read.parquet(src_dir)
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(3)
        .collect()
    ]
    workload = [
        spark.read.parquet(src_dir).filter(_box()),
        spark.read.parquet(src_dir).filter(
            F.col("o_custkey").between(5, 10)
        ),
        spark.read.parquet(src_dir).filter(
            F.col("o_orderkey").isin(probe)
        ),
        # non-matching shapes cast no votes, never fail
        spark.read.parquet(src_dir),
        spark.read.parquet(src_dir).filter(
            F.col("o_orderpriority") == "1-URGENT"
        ),
    ]
    advice = suggest_clustered_layout(workload)
    assert list(advice) == [src_dir]
    got = advice[src_dir]
    assert [s["col"] for s in got["specs"]] == ["o_custkey", "o_orderdate"]
    assert got["bloom_cols"] == ["o_orderkey"]
    # verdict-r5 #6: this workload bounds BOTH a temporal and an
    # integer axis, so the advisor proposes a TWO-LEVEL nested
    # partition spec — 90-day date buckets over footer-sized
    # o_custkey buckets (~8 across the column's span)
    pspec = got["partition_spec"]
    assert isinstance(pspec, list) and len(pspec) == 2
    assert pspec[0]["col"] == "o_orderdate" and pspec[0]["width"] == 90
    assert pspec[1]["col"] == "o_custkey" and pspec[1]["width"] >= 1

    register_clustered_layout(
        spark, src_dir, got["specs"], bloom_cols=got["bloom_cols"],
        partition_spec=got["partition_spec"],
    )
    for df in workload[:3]:
        opt = _rw(df)
        assert opt is not df
        assert _keys(opt) == _keys(df)

    # measured dir-prune fraction: EACH level independently drops
    # directories for the two-axis box, and the composition keeps
    # only the cross-section
    import datetime as dt

    from pdf_etl_ocr_inference_spark.operators import layout as L
    from pdf_etl_ocr_inference_spark.optimizer import IndexCatalog

    meta = IndexCatalog().lookup(L.layout_key(src_dir))
    live = set(L._live_stat_map(meta["layout_path"]))
    epoch = dt.datetime(1970, 1, 1)
    ranges = {
        "o_custkey": (100.0, 299.0),
        "o_orderdate": (
            (dt.datetime(1996, 1, 1) - epoch).total_seconds(),
            (dt.datetime(1997, 1, 1) - epoch).total_seconds(),
        ),
    }
    by_date = L.partition_keep_files(live, pspec[0], ranges)
    by_cust = L.partition_keep_files(
        live, pspec[1], ranges, part_col=L._partition_col_name(1)
    )
    both, applied = L.partition_keep_files_multi(live, pspec, ranges)
    assert applied == 2
    assert len(by_date) < len(live)      # level 0 prunes dirs
    assert len(by_cust) < len(live)      # level 1 prunes dirs
    assert both == by_date & by_cust     # composition = cross-section
    assert len(both) < min(len(by_date), len(by_cust)) + 1


def test_served_sidecar_pinning(spark, src_dir):
    """Repeated rewritten queries serve the keep-list from the
    sidecar chunks pinned in the driver (no sidecar re-read), and a
    refresh invalidates the pins via the inventory fingerprint."""
    from pdf_etl_ocr_inference_spark.operators import layout as L
    from pdf_etl_ocr_inference_spark.operators.layout import (
        refresh_clustered_layout,
        register_clustered_layout,
    )
    from pdf_etl_ocr_inference_spark.operators.shard_server import (
        WORKER_CACHE,
    )

    register_clustered_layout(
        spark, src_dir, SPECS, n_files=16, bloom_cols=["o_orderkey"]
    )
    WORKER_CACHE.clear()

    df = spark.read.parquet(src_dir).filter(_box())
    first = _rw(df)
    pins = _pins("stats")
    assert first is not df and pins
    assert len(set(pins.values())) == 1  # one layout version
    fp0 = next(iter(pins.values()))

    # second query: cache object unchanged (same fingerprint), and
    # a poisoned loader proves the sidecar is NOT re-read
    orig = L.load_or_refresh_file_stats
    L.load_or_refresh_file_stats = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("sidecar re-read on warm path")
    )
    try:
        second = _rw(spark.read.parquet(src_dir).filter(_box()))
        assert second is not None
        assert _keys(second) == _keys(first)
    finally:
        L.load_or_refresh_file_stats = orig
    assert _pins("stats") == pins  # pinned once per layout version

    # bloom path pins too
    probe = [
        r["o_orderkey"]
        for r in spark.read.parquet(src_dir)
        .select("o_orderkey").orderBy("o_orderkey").limit(3).collect()
    ]
    dfb = spark.read.parquet(src_dir).filter(F.col("o_orderkey").isin(probe))
    ob = _rw(dfb)
    assert ob is not dfb and _pins("bloom")
    assert _keys(ob) == sorted(probe)

    # append + refresh -> new inventory -> pin invalidated, results fresh
    extra = (
        spark.read.parquet(f"{SF0001}/orders.parquet")
        .limit(20)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(20_000_000))
    )
    extra.coalesce(1).write.mode("append").parquet(src_dir)
    refresh_clustered_layout(spark, src_dir)
    df3 = spark.read.parquet(src_dir).filter(_box())
    o3 = _rw(df3)
    assert o3 is not df3
    assert _keys(o3) == _keys(df3)
    # re-pinned: the refreshed sidecar's chunks, under a new token
    new = {k: t for k, t in _pins("stats").items() if k not in pins}
    assert new and fp0 not in new.values()


def test_cost_gate_declines_small_tables_by_default(
    spark, src_dir, registered
):
    """DEFAULT policy: on a tiny table the estimated saved bytes
    cannot pay the fixed rewrite overhead, so the rule declines and
    the brute scan (already cheap — Spark's own row-group pruning)
    runs unchanged.  r4 bench measured warm_speedup_vs_brute 0.8 at
    4 M rows — the gate encodes that lesson.  An explicit
    min_saved_bytes=0 (demo entries) or a just-below-savings
    threshold fires as before."""
    from pdf_etl_ocr_inference_spark.optimizer import (
        optimize,
        rewrite_skipping_scan,
    )

    df = spark.read.parquet(src_dir).filter(_box())
    assert rewrite_skipping_scan(df) is df        # default: declines
    assert optimize(df) is df
    routed = rewrite_skipping_scan(df, min_saved_bytes=0)
    assert routed is not df
    # Measure the ACTUAL saved bytes the same way the gate does:
    # layout files minus the files the routed plan actually reads.
    from urllib.parse import urlparse

    from pdf_etl_ocr_inference_spark.operators.layout import (
        _live_stat_map,
        layout_key,
    )
    from pdf_etl_ocr_inference_spark.optimizer import IndexCatalog

    meta = IndexCatalog().lookup(layout_key(src_dir))
    live = _live_stat_map(meta["layout_path"])
    kept = {urlparse(f).path for f in routed.inputFiles()}
    saved = sum(sz for f, (sz, _) in live.items() if f not in kept)
    assert saved > 0, "box predicate should prune at least one file"
    # boundary: a threshold AT the measured savings fires (gate is
    # ``saved < threshold`` → decline), one byte above declines
    assert rewrite_skipping_scan(df, min_saved_bytes=saved) is not df
    assert rewrite_skipping_scan(df, min_saved_bytes=saved + 1) is df


def test_truncating_cast_yields_no_bound(spark, src_dir, registered):
    """ADVICE r4 (high): ``CAST(ts AS DATE) = DATE'...'`` must NOT
    extract a midnight point bound on the timestamp axis — that
    prunes files whose rows satisfy the predicate later in the day.
    A truncating cast contributes no bound; with no other bound the
    rule declines, and with another bound present the cast conjunct
    still re-applies row-wise with full fidelity."""
    from pdf_etl_ocr_inference_spark.optimizer import _attr_name

    # pick a date that exists in the fixture
    some_day = (
        spark.read.parquet(src_dir)
        .selectExpr("to_date(o_orderdate) AS d")
        .groupBy("d").count().orderBy(F.col("count").desc())
        .limit(1).collect()[0]["d"]
    )
    df = spark.read.parquet(src_dir).filter(
        F.to_date("o_orderdate") == F.lit(str(some_day))
    )
    # truncating cast alone -> no extractable bound -> rule declines
    assert _rw(df) is df

    # cast conjunct + a real range bound: fires, and the day's rows
    # all survive (the old cast-stripping would have dropped
    # everything after midnight)
    df2 = spark.read.parquet(src_dir).filter(
        (F.to_date("o_orderdate") == F.lit(str(some_day)))
        & (F.col("o_custkey") >= 0)
    )
    opt2 = _rw(df2)
    assert opt2 is not df2
    assert _keys(opt2) == _keys(df2)
    assert len(_keys(opt2)) > 0  # non-vacuous: the day has rows

    # unit check on an EXPLICIT Cast node (to_date analyzes to a
    # RuntimeReplaceable, which _attr_name already rejects by shape):
    # a truncating timestamp->date cast must yield no attribute
    df3 = spark.read.parquet(src_dir).filter(
        F.col("o_orderdate").cast("date") == F.lit(str(some_day))
    )
    cond = df3._jdf.queryExecution().analyzed().condition()
    left = cond.left()
    assert left.nodeName() == "Cast"
    assert _attr_name(left) is None
    assert _rw(df3) is df3  # and alone it declines, same as to_date


def test_bloom_and_range_keep_lists_intersect(spark, src_dir):
    """ADVICE r4 (low): IN-list + range conjuncts must intersect
    their file keep-lists, not pick one.  Probe an orderkey whose
    bloom keeps ~1 file while the range box keeps a disjoint-ish
    set; the scheduled file count must be <= each individual list's
    count, and results must equal brute."""
    from pdf_etl_ocr_inference_spark.operators.layout import (
        bloom_keep_files,
        layout_key,
        register_clustered_layout,
        stats_keep_files,
    )
    from pdf_etl_ocr_inference_spark.optimizer import IndexCatalog

    register_clustered_layout(
        spark, src_dir, SPECS, n_files=16, bloom_cols=["o_orderkey"]
    )
    cat = IndexCatalog()
    meta = cat.lookup(layout_key(src_dir))
    probe = [
        r["o_orderkey"]
        for r in spark.read.parquet(src_dir)
        .select("o_orderkey").orderBy("o_orderkey").limit(3).collect()
    ]
    df = spark.read.parquet(src_dir).filter(
        F.col("o_orderkey").isin(probe)
        & F.col("o_custkey").between(0, 10**9)
    )
    opt = _rw(df)
    assert opt is not df
    assert _keys(opt) == _keys(df)
    n_sched = _scan_file_count(opt)
    bkeep, bcov = bloom_keep_files(spark, meta, "o_orderkey", probe)
    skeep, scov = stats_keep_files(
        spark, meta, {"o_custkey": (0.0, 1e9)}
    )
    assert n_sched <= max(len(bkeep), 1)
    assert n_sched <= max(len(skeep), 1)


def test_bloom_pin_budget_bounded(spark, src_dir, monkeypatch):
    """Bloom chunks pin in the driver under the one pin budget: under
    a tiny budget the driver pins no chunk (the probe is dispatched
    to the Python workers' pins instead) and results are identical."""
    from pdf_etl_ocr_inference_spark.operators import layout as L
    from pdf_etl_ocr_inference_spark.operators.layout import (
        layout_key,
        register_clustered_layout,
    )
    from pdf_etl_ocr_inference_spark.operators.shard_server import (
        WORKER_CACHE,
    )
    from pdf_etl_ocr_inference_spark.optimizer import IndexCatalog

    register_clustered_layout(
        spark, src_dir, SPECS, n_files=16, bloom_cols=["o_orderkey"]
    )
    meta = IndexCatalog().lookup(layout_key(src_dir))
    probe = [
        r["o_orderkey"]
        for r in spark.read.parquet(src_dir)
        .select("o_orderkey").orderBy("o_orderkey").limit(3).collect()
    ]
    WORKER_CACHE.clear()
    keep_full, cov_full = L.bloom_keep_files(
        spark, meta, "o_orderkey", probe
    )
    assert _pins("bloom")  # normally pins

    monkeypatch.setattr(WORKER_CACHE, "budget", 1)
    WORKER_CACHE.clear()
    keep_dist, cov_dist = L.bloom_keep_files(
        spark, meta, "o_orderkey", probe
    )
    assert not _pins("bloom")  # nothing pinned over budget
    assert (keep_dist, cov_dist) == (keep_full, cov_full)

    # end to end: the point lookup still answers correctly unpinned
    df, n_read, n_total = L.served_point_lookup(
        spark, meta, "o_orderkey", probe
    )
    got = sorted(r["o_orderkey"] for r in df.collect())
    assert got == sorted(probe)
    assert n_read <= n_total


def test_stats_pin_budget_bounded(spark, src_dir, registered, monkeypatch):
    """The min/max chunks pin in the driver under the one byte
    budget (rows ∝ files × cols is driver heap again at ~10⁶ files):
    under a tiny budget nothing pins in the driver, the range
    keep-list is dispatched to the Python workers' pins, and (keep,
    covered) are identical to the driver's."""
    from pdf_etl_ocr_inference_spark.operators import layout as L
    from pdf_etl_ocr_inference_spark.operators.layout import layout_key
    from pdf_etl_ocr_inference_spark.operators.shard_server import (
        WORKER_CACHE,
    )
    from pdf_etl_ocr_inference_spark.optimizer import IndexCatalog

    meta = IndexCatalog().lookup(layout_key(src_dir))
    ranges = {
        "o_custkey": (100.0, 299.0),
        "o_orderdate": (
            (1996 - 1970) * 365.2425 * 86400,  # loose epoch-sec box:
            (1998 - 1970) * 365.2425 * 86400,  # prune SOME, keep SOME
        ),
    }
    WORKER_CACHE.clear()
    keep_full, cov_full = L.stats_keep_files(spark, meta, ranges)
    assert _pins("stats")  # normally pins
    assert keep_full and keep_full < cov_full  # box really prunes

    monkeypatch.setattr(WORKER_CACHE, "budget", 1)
    WORKER_CACHE.clear()
    keep_dist, cov_dist = L.stats_keep_files(spark, meta, ranges)
    assert not _pins("stats")  # nothing pinned over budget
    assert (keep_dist, cov_dist) == (keep_full, cov_full)

    # end to end under the tiny budget: the served range scan still
    # answers exactly (uncovered-conservative reconciliation included)
    df, n_read, n_total = L.served_scan_with_skipping(
        spark, meta, ranges
    )
    brute = spark.read.parquet(src_dir).filter(_box())
    assert _keys(df.filter(_box())) == _keys(brute)
    assert n_read <= n_total


def test_oversized_live_map_served_oneshot_without_eviction(
    spark, tmp_path, monkeypatch
):
    """A layout's live-file map past the pin budget is served once and
    evicts nothing: the cache used to drop every entry and then skip
    the insert, so one big layout emptied the pins of all others."""
    from pdf_etl_ocr_inference_spark.operators import layout as L
    from pdf_etl_ocr_inference_spark.operators.layout import (
        register_clustered_layout,
    )

    metas = []
    for name, n_files in (("a", 4), ("b", 8)):
        src = str(tmp_path / name)
        (
            spark.read.parquet(f"{SF0001}/orders.parquet")
            .repartition(2)
            .write.mode("overwrite")
            .parquet(src)
        )
        metas.append(
            register_clustered_layout(spark, src, SPECS, n_files=n_files)
        )
    meta_a, meta_b = metas
    ranges = {"o_custkey": (100.0, 299.0)}
    L._LIVEMAP_CACHE.clear()
    L.served_scan_with_skipping(spark, meta_a, ranges)
    pinned = dict(L._LIVEMAP_CACHE.entries)
    assert list(pinned) == [meta_a["layout_path"]]

    live_b = L._live_stat_map(meta_b["layout_path"])
    monkeypatch.setattr(
        L._LIVEMAP_CACHE, "budget", sum(len(f) + 64 for f in live_b) - 1
    )
    df, n_read, n_total = L.served_scan_with_skipping(spark, meta_b, ranges)
    assert n_total == len(live_b) and 0 < n_read <= n_total
    assert L._LIVEMAP_CACHE.entries == pinned  # A survives, B not pinned


def test_inplace_rewrite_detected_by_public_helpers(spark, tmp_path):
    """ADVICE r4 (low): a data file rewritten IN PLACE (same name,
    new contents) must read as UNCOVERED by a caller-cached stats
    sidecar — conservative keep, refresh re-foots it — so
    scan_with_skipping can never prune on stale min/max."""
    import os
    import time

    from pdf_etl_ocr_inference_spark.operators.layout import (
        load_or_refresh_file_stats,
        scan_with_skipping,
    )

    d = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(i, i) for i in range(100)], "k long, v long"
    ).coalesce(1).write.mode("overwrite").parquet(d)
    stats = load_or_refresh_file_stats(spark, d, ["k"])
    cached = stats.collect()  # caller caches the sidecar rows
    cached_df = spark.createDataFrame(cached, stats.schema)

    # rewrite the single data file IN PLACE: same name, k now 1000+
    fname = next(
        f for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    tmp2 = str(tmp_path / "tbl2")
    spark.createDataFrame(
        [(1000 + i, i) for i in range(100)], "k long, v long"
    ).coalesce(1).write.mode("overwrite").parquet(tmp2)
    f2 = next(
        f for f in os.listdir(tmp2)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    time.sleep(0.01)  # ensure mtime_ns differs even on coarse clocks
    os.replace(f"{tmp2}/{f2}", f"{d}/{fname}")
    for f in os.listdir(d):  # drop Hadoop's now-stale .crc sidecars
        if f.endswith(".crc"):
            os.remove(f"{d}/{f}")

    # the cached sidecar says k in [0, 99]; the live file holds
    # [1000, 1099].  A filename-reconciled scan would prune the file
    # and DROP all rows; the fingerprint-reconciled scan keeps it.
    df, n_read, n_total = scan_with_skipping(
        spark, d, {"k": (1000.0, 2000.0)}, stats=cached_df
    )
    assert n_read == 1 and n_total == 1
    assert df.count() == 100

    # refresh heals: the mutated file is re-footed
    fresh = load_or_refresh_file_stats(spark, d, ["k"])
    row = [r for r in fresh.collect() if r["col"] == "k"][0]
    assert row["vmin"] >= 1000.0


def test_partitioned_layout_dir_pruning(spark, tmp_path):
    """Multi-level layout: coarse hive dirs on a 90-day bucket of the
    date axis + fine Z-order within.  The rewrite must (a) fire and
    match brute, (b) schedule ONLY files under the buckets the date
    bound allows (dir pruning is exact — every row in a dir has that
    bucket), (c) survive an append-only refresh."""
    from pdf_etl_ocr_inference_spark.operators.layout import (
        PARTITION_COL,
        _bucket_of,
        _file_partition_value,
        register_clustered_layout,
    )
    from pdf_etl_ocr_inference_spark.optimizer import rewrite_skipping_scan

    d = str(tmp_path / "orders_part")
    (
        spark.read.parquet(f"{SF0001}/orders.parquet")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(d)
    )
    pspec = {
        "col": "o_orderdate", "kind": "days",
        "origin": "1995-01-01", "width": 90,
    }
    register_clustered_layout(
        spark, d, SPECS, n_files=16, partition_spec=pspec
    )

    df = spark.read.parquet(d).filter(_box())
    opt = _rw(df)
    assert opt is not df
    assert _keys(opt) == _keys(df)
    assert len(_keys(opt)) > 0

    # every scheduled file's dir bucket lies inside the date bound's
    # bucket range (1996 with a 1995-01-01 origin: days 365..730,
    # buckets 4..8 at width 90)
    node = opt._jdf.queryExecution().analyzed()
    while node.nodeName() != "LogicalRelation":
        node = node.children().head()
    paths = node.relation().location().rootPaths()
    scheduled = [paths.apply(i).toString() for i in range(paths.size())]
    assert scheduled and all(PARTITION_COL + "=" in p for p in scheduled)
    import datetime

    lo = (datetime.datetime(1996, 1, 1)
          - datetime.datetime(1970, 1, 1)).total_seconds()
    hi = (datetime.datetime(1997, 1, 1)
          - datetime.datetime(1970, 1, 1)).total_seconds()
    blo, bhi = _bucket_of(pspec, lo), _bucket_of(pspec, hi)
    for p in scheduled:
        v = _file_partition_value(p)
        assert v is not None and blo <= v <= bhi, (p, blo, bhi)
    # append-only refresh keeps the partitioned shape working
    from pdf_etl_ocr_inference_spark.operators.layout import (
        refresh_clustered_layout,
    )

    extra = (
        spark.read.parquet(f"{SF0001}/orders.parquet")
        .limit(30)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(30_000_000))
    )
    extra.coalesce(1).write.mode("append").parquet(d)
    r = refresh_clustered_layout(spark, d)
    assert r["mode"] == "incremental"
    df2 = spark.read.parquet(d).filter(_box())
    opt2 = _rw(df2)
    assert opt2 is not df2
    assert _keys(opt2) == _keys(df2)


def test_partition_bucket_bounds_negative_and_int(spark):
    """Floor-division bucket replay is exact for negative values and
    int specs (SQL div truncates toward zero; both sides here floor)."""
    from pdf_etl_ocr_inference_spark.operators.layout import _bucket_of

    spec = {"col": "x", "kind": "int", "width": 100}
    assert _bucket_of(spec, -1.0) == -1
    assert _bucket_of(spec, -100.0) == -1
    assert _bucket_of(spec, -101.0) == -2
    assert _bucket_of(spec, 0.0) == 0
    assert _bucket_of(spec, 99.0) == 0
    assert _bucket_of(spec, float("-inf")) is None
    dspec = {"col": "d", "kind": "days", "origin": "1995-01-01",
             "width": 90}
    import datetime

    v1996 = (datetime.datetime(1996, 1, 1)
             - datetime.datetime(1970, 1, 1)).total_seconds()
    assert _bucket_of(dspec, v1996) == 365 // 90


def test_all_three_prune_sources_compose(spark, tmp_path):
    """Partition dirs ∩ min/max stats ∩ Bloom: a query with a range
    box AND an integer IN-list on a partitioned layout with a bloom
    column must intersect all three keep-lists and still match
    brute exactly."""
    from pdf_etl_ocr_inference_spark.operators.layout import (
        register_clustered_layout,
    )

    d = str(tmp_path / "orders_all3")
    (
        spark.read.parquet(f"{SF0001}/orders.parquet")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(d)
    )
    register_clustered_layout(
        spark, d, SPECS, n_files=16,
        bloom_cols=["o_orderkey"],
        partition_spec={
            "col": "o_orderdate", "kind": "days",
            "origin": "1995-01-01", "width": 90,
        },
    )
    probe = [
        r["o_orderkey"]
        for r in spark.read.parquet(d)
        .filter(_box())
        .select("o_orderkey").orderBy("o_orderkey").limit(4).collect()
    ]
    assert probe  # the box holds rows at sf0.001
    df = spark.read.parquet(d).filter(
        _box() & F.col("o_orderkey").isin(probe)
    )
    opt = _rw(df)
    assert opt is not df
    assert _keys(opt) == _keys(df) == sorted(probe)
    assert _scan_file_count(opt) <= 4  # three prunes compose tightly

    # IN-list only (no range): dir pruning stays out (conservative),
    # bloom still serves
    df2 = spark.read.parquet(d).filter(F.col("o_orderkey").isin(probe))
    opt2 = _rw(df2)
    assert opt2 is not df2
    assert _keys(opt2) == sorted(probe)


def test_warm_freshness_check_is_o1_not_per_file(
    spark, src_dir, registered, monkeypatch
):
    """Verdict-r6 #2: the per-query freshness check must NOT stat
    every source file.  Warm path (probe matches the registered
    one): O(1) os.stat calls — one for the source dir, none per
    file — and the full inventory sweep never runs.  Staleness
    detection survives: an appended file flips the probe and the
    rule falls through until an explicit refresh re-syncs."""
    import os

    from pdf_etl_ocr_inference_spark.operators import layout as L
    from pdf_etl_ocr_inference_spark.operators.layout import (
        layout_fresh,
        layout_key,
        refresh_clustered_layout,
    )
    from pdf_etl_ocr_inference_spark.optimizer import IndexCatalog

    # earlier staleness tests mutate src_dir; re-sync, then read the
    # CURRENT meta (the module-scoped `registered` value predates them)
    refresh_clustered_layout(spark, src_dir)
    meta = IndexCatalog().lookup(layout_key(src_dir))

    df = spark.read.parquet(src_dir).filter(_box())
    assert _rw(df) is not df  # sanity: the rewrite fires when fresh

    real_stat = os.stat
    stat_calls = {"n": 0}
    sweep_calls = {"n": 0}

    def counting_stat(path, *a, **kw):
        stat_calls["n"] += 1
        return real_stat(path, *a, **kw)

    real_sweep = L._source_inventory

    def counting_sweep(p):
        sweep_calls["n"] += 1
        return real_sweep(p)

    monkeypatch.setattr(L, "_source_inventory", counting_sweep)
    monkeypatch.setattr("os.stat", counting_stat)
    try:
        assert layout_fresh(src_dir, meta)
    finally:
        monkeypatch.setattr("os.stat", real_stat)
    # one stat of the directory itself (scandir dirents are not
    # os.stat calls) — the warm path never touches per-file stats
    assert stat_calls["n"] <= 2, stat_calls["n"]
    assert sweep_calls["n"] == 0  # full sweep never ran

    # staleness still caught: drift the source, rule falls through
    extra = (
        spark.read.parquet(f"{SF0001}/orders.parquet")
        .limit(10)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(20_000_000))
    )
    extra.coalesce(1).write.mode("append").parquet(src_dir)
    df2 = spark.read.parquet(src_dir).filter(_box())
    assert _rw(df2) is df2  # probe mismatch -> sweep -> digest differs
    assert sweep_calls["n"] >= 1  # the cold path did pay the sweep

    refresh_clustered_layout(spark, src_dir)  # explicit re-sync
    df3 = spark.read.parquet(src_dir).filter(_box())
    assert _rw(df3) is not df3


def test_pins_invalidate_on_rebuild_with_unchanged_source(
    spark, tmp_path
):
    """Re-registering a layout over an UNCHANGED source rewrites the
    layout's own files; every driver pin (live-file map, stats,
    bloom) must drop with it.  Guard for the r7 ``layout_build``
    nonce: before it, pins fingerprinted on the source inventory
    alone and could serve a previous build's file map."""
    from pdf_etl_ocr_inference_spark.operators.layout import (
        cached_live_stat_map,
        register_clustered_layout,
    )

    src = str(tmp_path / "orders")
    (
        spark.read.parquet(f"{SF0001}/orders.parquet")
        .repartition(2)
        .write.mode("overwrite")
        .parquet(src)
    )
    meta1 = register_clustered_layout(spark, src, SPECS, n_files=4)
    live1 = cached_live_stat_map(meta1)
    assert len(live1) >= 1

    # same source, different clustering -> different layout files
    meta2 = register_clustered_layout(spark, src, SPECS, n_files=8)
    assert meta2["layout_build"] != meta1["layout_build"]
    live2 = cached_live_stat_map(meta2)
    assert set(live2) != set(live1) or len(live2) != len(live1)
    # and the map agrees with what is actually on disk
    import os

    on_disk = set()
    for root, dirs, files in os.walk(meta2["layout_path"]):
        # sidecar/hidden dirs are not data (same rule as _live_stat_map)
        dirs[:] = [
            d for d in dirs if "=" in d or not d.startswith((".", "_"))
        ]
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                on_disk.add(f"{root}/{f}")
    assert set(live2) == on_disk
    # the rewrite still fires against the fresh build
    df = spark.read.parquet(src).filter(_box())
    assert _rw(df) is not df


def test_executor_pinned_keep_matches_driver_pinned(
    spark, src_dir, registered, monkeypatch
):
    """Over the pin budget a sidecar probe is dispatched, and each
    Python worker pins the chunks it answers.  Its keep/covered sets
    must equal the driver's on the same layout and predicates, warm
    or cold, and the driver must pin no sidecar chunk for it."""
    from pdf_etl_ocr_inference_spark.operators import layout as L
    from pdf_etl_ocr_inference_spark.operators.layout import (
        layout_key,
        register_clustered_layout,
    )
    from pdf_etl_ocr_inference_spark.operators.shard_server import (
        WORKER_CACHE,
    )
    from pdf_etl_ocr_inference_spark.optimizer import IndexCatalog

    register_clustered_layout(
        spark, src_dir, SPECS, n_files=16, bloom_cols=["o_orderkey"]
    )
    meta = IndexCatalog().lookup(layout_key(src_dir))
    ranges = {"o_custkey": (100.0, 299.0)}
    probe = [
        r["o_orderkey"]
        for r in spark.read.parquet(src_dir)
        .select("o_orderkey").orderBy("o_orderkey").limit(3).collect()
    ]
    WORKER_CACHE.clear()
    keep_drv, cov_drv = L.stats_keep_files(spark, meta, ranges)
    bkeep_drv, bcov_drv = L.bloom_keep_files(
        spark, meta, "o_orderkey", probe
    )
    neg_drv, _ = L.bloom_keep_files(spark, meta, "o_orderkey", [10**15])

    monkeypatch.setattr(WORKER_CACHE, "budget", 1)
    WORKER_CACHE.clear()
    # cold, then warm (worker chunk pins): identical both times
    for _ in range(2):
        assert L.stats_keep_files(spark, meta, ranges) == (keep_drv, cov_drv)
        assert L.bloom_keep_files(spark, meta, "o_orderkey", probe) == (
            bkeep_drv,
            bcov_drv,
        )
    # negative probe: a value outside the domain keeps (almost) no
    # file on both paths
    neg_exe, _ = L.bloom_keep_files(spark, meta, "o_orderkey", [10**15])
    assert neg_exe == neg_drv
    assert not _pins("stats") and not _pins("bloom")


def test_executor_pinned_invalidates_on_rebuild(
    spark, tmp_path, monkeypatch
):
    """A re-register bumps the layout fingerprint, so the worker
    chunk pins (keyed on it) cannot serve the previous build: the
    dispatched probe against the new meta reflects the NEW sidecar
    contents."""
    from pdf_etl_ocr_inference_spark.operators import layout as L
    from pdf_etl_ocr_inference_spark.operators.layout import (
        register_clustered_layout,
    )
    from pdf_etl_ocr_inference_spark.operators.shard_server import (
        WORKER_CACHE,
    )

    src = str(tmp_path / "orders")
    (
        spark.read.parquet(f"{SF0001}/orders.parquet")
        .repartition(2)
        .write.mode("overwrite")
        .parquet(src)
    )
    ranges = {"o_custkey": (100.0, 299.0)}
    budget = WORKER_CACHE.budget
    monkeypatch.setattr(WORKER_CACHE, "budget", 1)  # dispatch probes
    meta1 = register_clustered_layout(spark, src, SPECS, n_files=4)
    keep1, cov1 = L.stats_keep_files(spark, meta1, ranges)
    assert cov1  # sidecar covered the build-1 files

    meta2 = register_clustered_layout(spark, src, SPECS, n_files=8)
    keep2, cov2 = L.stats_keep_files(spark, meta2, ranges)
    # build 2 rewrote the layout files: the covered set must be the
    # NEW files (8-way split), not the pinned build-1 chunks
    assert cov2 != cov1 or len(cov2) != len(cov1)
    monkeypatch.setattr(WORKER_CACHE, "budget", budget)
    drv_keep2, drv_cov2 = L.stats_keep_files(spark, meta2, ranges)
    assert (keep2, cov2) == (drv_keep2, drv_cov2)


def test_warm_stats_probe_over_budget_runs_only_the_dispatch(
    spark, tmp_path, monkeypatch
):
    """Over the pin budget the driver pins no chunk, so every range
    probe refreshes the stats sidecar first.  A warm refresh returns
    the sidecar read through ``sources.readers.read_parquet``, which
    takes the schema from a footer instead of an inference job: the
    probe's one dispatched job is all that runs."""
    from pdf_etl_ocr_inference_spark.operators import layout as L
    from pdf_etl_ocr_inference_spark.operators.layout import (
        register_clustered_layout,
    )
    from pdf_etl_ocr_inference_spark.operators.shard_server import (
        WORKER_CACHE,
    )

    from .test_shard_server import _jobs

    src = str(tmp_path / "orders")
    (
        spark.read.parquet(f"{SF0001}/orders.parquet")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(src)
    )
    meta = register_clustered_layout(spark, src, SPECS, n_files=64)
    ranges = {"o_custkey": (100.0, 299.0)}
    monkeypatch.setattr(WORKER_CACHE, "budget", 1)
    cold = L.stats_keep_files(spark, meta, ranges)
    assert len(cold[1]) == 64
    for _ in range(2):
        with _jobs(spark) as n:
            assert L.stats_keep_files(spark, meta, ranges) == cold
        assert n == [1]
