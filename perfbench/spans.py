"""Spans around calls into the engine's layers, and Spark event-log
attribution of task work to those layers.

A :class:`Tracer` records one span (id, name, start, end, parent) per
call the benchmark makes into a layer and keeps the spans in memory
until the run ends.  While a span is open its name, prefixed by the
trace phase, is the Spark job description, so every job, stage and
task the call triggers carries it into the event log.
:func:`read_event_log` groups the log's task metrics and SQL metrics by
that description.  A disabled tracer records nothing and sets no
description, so untraced runs take the same code path.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_DESC = "spark.job.description"


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.phase = "-"
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "phase": self.phase,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = self.sc.getLocalProperty(_DESC)
        self.sc.setJobDescription(f"{self.phase}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self.sc.setJobDescription(prev)

    def durations(self, name: str, phase: str | None = None) -> list[float]:
        """Self time of every closed span called ``name``: its duration
        minus the time its child spans cover."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return [
            s["end"] - s["start"] - child_time[s["id"]]
            for s in self.spans
            if s["name"] == name and (phase is None or s["phase"] == phase)
        ]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def median(xs, default: float = 0.0) -> float:
    return float(statistics.median(xs)) if xs else default


@dataclass
class LayerWork:
    """Spark work attributed to one job description."""

    jobs: int = 0
    tasks: int = 0
    busy_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    # stage id -> task durations (ms), in stage order
    stage_tasks: dict[int, list[int]] = field(default_factory=dict)
    # SQL metric accumulator id -> ((plan node, metric name), value);
    # a stage reports an accumulator's running total, so keep the max
    accs: dict[int, tuple[tuple[str, str], int]] = field(default_factory=dict)
    # stage id -> plan nodes whose SQL metrics the stage updated
    stage_nodes: dict[int, set] = field(default_factory=lambda: defaultdict(set))

    def sql_metric(self, node: str, metric: str) -> int:
        return sum(v for key, v in self.accs.values() if key == (node, metric))

    def stages_with(self, node: str) -> list[int]:
        return sorted(s for s, nodes in self.stage_nodes.items() if node in nodes)


def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"])
    for c in info.get("children", ()):
        _plan_metrics(c, out)


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def find_event_log(log_dir: str) -> str:
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def read_event_log(path: str) -> dict[str, LayerWork]:
    """Group a Spark event log's work by job description."""
    by_desc: dict[str, LayerWork] = defaultdict(LayerWork)
    stage_desc: dict[int, str] = {}
    acc_node: dict[int, tuple[str, str]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get(_DESC) or ""
                by_desc[desc].jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_desc[sid] = desc
            elif kind == "SparkListenerTaskEnd":
                desc = stage_desc.get(ev["Stage ID"], "")
                w = by_desc[desc]
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                w.tasks += 1
                w.busy_ms += _num(m.get("Executor Run Time"))
                w.gc_ms += _num(m.get("JVM GC Time"))
                w.spill_bytes += _num(m.get("Memory Bytes Spilled")) + _num(
                    m.get("Disk Bytes Spilled")
                )
                sw = m.get("Shuffle Write Metrics") or {}
                w.shuffle_write_bytes += _num(sw.get("Shuffle Bytes Written"))
                w.input_bytes += _num((m.get("Input Metrics") or {}).get("Bytes Read"))
                om = m.get("Output Metrics") or {}
                w.output_bytes += _num(om.get("Bytes Written"))
                w.output_records += _num(om.get("Records Written"))
                w.stage_tasks.setdefault(ev["Stage ID"], []).append(
                    _num(info.get("Finish Time")) - _num(info.get("Launch Time"))
                )
            elif kind == "SparkListenerStageCompleted":
                st = ev["Stage Info"]
                w = by_desc[stage_desc.get(st["Stage ID"], "")]
                for acc in st.get("Accumulables", ()):
                    key = acc_node.get(acc.get("ID"))
                    if key is not None:
                        old = w.accs.get(acc["ID"], (key, 0))[1]
                        w.accs[acc["ID"]] = (key, max(old, _num(acc.get("Value"))))
                        w.stage_nodes[st["Stage ID"]].add(key[0])
            elif kind.endswith(
                ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")
            ):
                _plan_metrics(ev.get("sparkPlanInfo") or {}, acc_node)
    return dict(by_desc)


def executed_plans(path: str) -> list[tuple[str, str]]:
    """``(description, physical plan)`` of every SQL execution in the
    log, with the final adaptive plan where AQE re-planned."""
    plans: dict[int, list] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SparkListenerSQLExecutionStart"):
                plans[ev["executionId"]] = [
                    ev.get("description", ""),
                    ev.get("physicalPlanDescription", ""),
                ]
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                if ev["executionId"] in plans:
                    plans[ev["executionId"]][1] = ev.get("physicalPlanDescription", "")
    return [tuple(p) for p in plans.values()]


def merge(works: list[LayerWork]) -> LayerWork:
    out = LayerWork()
    for w in works:
        for name in (
            "jobs", "tasks", "busy_ms", "gc_ms", "shuffle_write_bytes",
            "spill_bytes", "input_bytes", "output_bytes", "output_records",
        ):
            setattr(out, name, getattr(out, name) + getattr(w, name))
        out.stage_tasks.update(w.stage_tasks)
        out.accs.update(w.accs)
        for k, v in w.stage_nodes.items():
            out.stage_nodes[k] |= v
    return out


def select(work: dict[str, LayerWork], phase: str, *layers: str) -> LayerWork:
    """Work of the given layers in one phase; no layers means all."""
    return merge(
        [
            w
            for desc, w in work.items()
            if desc.startswith(f"{phase}:")
            and (not layers or desc.split(":", 1)[1] in layers)
        ]
    )
