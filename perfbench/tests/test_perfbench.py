"""Benchmark self-tests.

    python3 -m pytest perfbench/tests -q

The generator and contract tests need no Spark; the plan test starts a
``local`` session with the event log on and runs one ``etl_dedup`` ETL
pass on a small corpus.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402


@pytest.mark.parametrize(
    "make",
    [
        lambda seed, d: gen.documents(seed, d, n_docs=200),
        lambda seed, d: gen.dedup_corpus(seed, d, n_families=100),
        lambda seed, d: gen.search_corpus(
            seed, d, gen.SearchSpec(n_docs=300, n_batches=2, n_requests=50)
        ),
    ],
    ids=["documents", "dedup_corpus", "search_corpus"],
)
def test_seed_determines_inputs(make, tmp_path):
    a = make(7, str(tmp_path / "a"))
    b = make(7, str(tmp_path / "b"))
    c = make(8, str(tmp_path / "c"))
    assert a.content_hash == b.content_hash
    assert a.content_hash != c.content_hash
    assert a.properties == b.properties


def test_dedup_truth_is_consistent(tmp_path):
    inp = gen.dedup_corpus(3, str(tmp_path), n_families=200)
    t = inp.truth
    fam = t["family_of"]
    assert all(fam[a] == fam[b] and a < b for a, b in t["planted_pairs"])
    assert t["unique"] == len(set(fam.tolist()))
    assert inp.properties["docs"] == len(fam)


def test_tail_needs_ten_samples_beyond():
    import workloads

    assert workloads.tail(list(range(10))) is None
    t = workloads.tail(list(range(100)))
    assert t["value"] == 89 and t["samples"] == 100


def test_loop_runs_min_cycles_then_stops_on_time():
    import workloads

    wl = object.__new__(workloads.EtlDedup)
    m = workloads.Measured()
    for _ in range(wl.MIN_CYCLES - 1):
        for op in wl.OPS:
            m.record(op, 10.0)
    assert wl.more(m, seconds=5)  # too few cycles
    for op in wl.OPS:
        m.record(op, 10.0)
    assert not wl.more(m, seconds=5)
    assert wl.more(m, seconds=1000)  # too little timed work


def test_benchmark_json_matches_metric_lists():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == metrics.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(metrics.WORKLOADS)


def test_fails_without_the_package(tmp_path):
    """In a tree holding only the benchmark, a run exits non-zero
    without printing a result."""
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_dedup",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_timed_etl_action_runs_both_python_operators(tmp_path):
    """Catalyst must not prune the embedding UDF out of the timed
    action: its executed plan holds MapInPandas (chunking) and
    ArrowEvalPython (embedding)."""
    import run

    run_dir = str(tmp_path / "run")
    run.pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    from pdf_etl_ocr_inference_spark.session import get_spark

    import spans
    from workloads import EtlDedup

    spark = get_spark(extra_conf=run.spark_conf(run_dir, trace=True))
    try:
        wl = EtlDedup(spark, seed=5)
        wl.N_DOCS, wl.N_FAMILIES = 200, 50
        tracer = spans.Tracer(spark.sparkContext, enabled=False)
        wl.prepare(os.path.join(run_dir, "rep0"))
        tracer.enabled, tracer.phase = True, "T"
        wl.ingest(tracer)
    finally:
        run.stop_engine(spark)
    log = spans.find_event_log(os.path.join(run_dir, "eventlog"))
    timed = [plan for desc, plan in spans.executed_plans(log) if desc == "T:writers"]
    assert timed
    assert any("MapInPandas" in p and "ArrowEvalPython" in p for p in timed)
    work = spans.read_event_log(log)
    w = spans.select(work, "T", "writers")
    assert w.sql_metric("ArrowEvalPython", "number of output rows") > 0
