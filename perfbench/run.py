"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_dedup --seed 1 --seconds 6 --trace 0

Run from the repository root.  The run pins its environment (CPU count,
driver memory, ``PYTHONPATH``, fresh Spark local, warehouse and temp
directories under ``.perfbench/``), starts ``local[nproc]``, repeats
the workload's input generation ``SETUP_REPS`` times, builds its
indexes and warms it up once, measures whole cycles until it has ``--seconds`` of
timed work and the workload's ``MIN_CYCLES``, checks every output,
stops Spark and its JVM, and prints two JSON lines: a report
(environment, realized input properties, raw operation times, every
end-to-end figure under its descriptive name) and, last, the result
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 1``
the metrics are the per-layer metrics, and the spans are written to
``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pdf_etl_ocr_inference_spark"
SETUP_REPS = 2
OUT_DIR = os.path.join(ROOT, ".perfbench", "out")
DRIVER_MEMORY_MB = 2048


def pin_environment(run_dir: str) -> dict:
    """Environment variables every engine process inherits."""
    nproc = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEMORY": f"{min(DRIVER_MEMORY_MB, phys_mb // 4)}m",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return {"nproc": nproc, "physical_mb": phys_mb, **env}


def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file outside the run directory;
        # the parallel collector runs no concurrent GC threads beside
        # the task threads, which steadies the JVM-bound steps
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData -XX:+UseParallelGC"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def stop_engine(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, run_dir: str) -> tuple[dict, dict]:
    from pdf_etl_ocr_inference_spark.session import get_spark

    import spans
    from procfs import PeakRss
    from workloads import WORKLOADS, noop

    rss = PeakRss(os.getpid()).start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(extra_conf=spark_conf(run_dir, args.trace))
        spark.sparkContext.setLogLevel("ERROR")
        noop(spark.range(1))
        session_start_s = time.perf_counter() - t0

        tracer = spans.Tracer(spark.sparkContext, enabled=False)
        wl = WORKLOADS[args.workload](spark, args.seed)
        staged = {}
        setups = []
        for r in range(SETUP_REPS):
            rep_dir = os.path.join(run_dir, f"rep{r}")
            t = time.perf_counter()
            wl.prepare(rep_dir)
            setups.append(time.perf_counter() - t)
            if r:
                shutil.rmtree(os.path.join(run_dir, f"rep{r - 1}"), ignore_errors=True)
        t = time.perf_counter()
        wl.warm_up(tracer)
        warmup_s = time.perf_counter() - t
        wl.reference()

        # a traced run first repeats the timed loop untraced, in the
        # same process, to measure the tracing overhead
        m = wl.measure(args.seconds, tracer)
        attempted, failed = m.attempted, m.failed
        if args.trace:
            tracer.enabled = True
            tracer.phase = "T"
            traced = wl.measure(args.seconds, tracer)
            tracer.phase = "S"
            staged = wl.staged(tracer)
            attempted += traced.attempted
            failed += traced.failed
        correct = wl.reference_ok and failed == 0
    finally:
        stop_engine(spark)
        rss.stop()

    setup_s = session_start_s + statistics.median(setups) + warmup_s
    report = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "session_start_s": {"value": session_start_s, "unit": "s"},
        "input_gen_s": {"value": statistics.median(setups), "unit": "s"},
        "warmup_s": {"value": warmup_s, "unit": "s"},
        "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
        "error_rate": {"value": failed / max(attempted, 1), "unit": "ratio"},
        **wl.report(m),
    }
    if args.trace:
        work = spans.read_event_log(spans.find_event_log(os.path.join(run_dir, "eventlog")))
        t = spans.select(work, "T")
        cycles = wl.cycles(traced)
        layer = {name: 0.0 for name, _unit in metrics.PER_LAYER}
        layer.update(
            {
                "session.start_s": session_start_s,
                "session.warmup_s": warmup_s,
                "spark.jobs": t.jobs / cycles,
                "spark.tasks": t.tasks / cycles,
                "spark.task_busy_s": t.busy_ms / 1e3 / cycles,
                "spark.gc_s": t.gc_ms / 1e3 / cycles,
                "spark.shuffle_write_bytes": t.shuffle_write_bytes / cycles,
                "trace.overhead_ratio": _cycle_s(wl, traced) / _cycle_s(wl, m) - 1.0,
            }
        )
        layer.update(wl.layer_metrics(staged, work, tracer, traced))
        units = dict(metrics.PER_LAYER)
        result_metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layer.items()}
        tracer.dump(os.path.join(OUT_DIR, f"spans-{args.workload}-s{args.seed}.json"))
        report["trace"] = {"spans": len(tracer.spans), "traced": wl.report(traced)}
    else:
        values = {
            "throughput_per_s": wl.throughput(m),
            "op1_p50_ms": 1e3 * m.p50(wl.OPS[0]),
            "op2_p50_ms": 1e3 * m.p50(wl.OPS[1]),
            "op3_p50_ms": 1e3 * m.p50(wl.OPS[2]),
            "setup_s": setup_s,
        }
        result_metrics = {
            name: {"value": values[name], "unit": unit} for name, unit in metrics.END_TO_END
        }
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs": {**wl.inputs.properties, **_loop_properties(m)},
        "input_hash": wl.inputs.content_hash,
        "input_gen_s": setups,
        "report": report,
        "samples_ms": {op: [round(1e3 * x, 1) for x in xs] for op, xs in m.ops.items()},
    }
    result = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": result_metrics,
    }
    return details, result


def _cycle_s(wl, m) -> float:
    """Median time of each of the three timed operations, summed."""
    return sum(m.p50(op) for op in wl.OPS)


def _loop_properties(m) -> dict:
    return {
        k: m.extra[k]
        for k in ("repeat_share", "vector_repeat_share", "text_repeat_share")
        if k in m.extra
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"run.py: the {PACKAGE} package is not under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(
        ROOT, ".perfbench", "runs", f"{args.workload}-s{args.seed}-{os.getpid()}"
    )
    env = pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    load_start = os.getloadavg()
    try:
        details, result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    import pyspark

    details["env"] = {
        "nproc": env["nproc"],
        "physical_mb": env["physical_mb"],
        "driver_memory": env["SPARK_DRIVER_MEMORY"],
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }
    print(json.dumps(details, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
