"""Fold an uncompressed Spark event log into per-layer metrics.

Standard library only. A job belongs to the layer named by its job
group (``SparkContext.setJobGroup``); a job without a layer group, such
as one a streaming query submits from its own thread, belongs to the
innermost benchmark span open when it was submitted. Stages and tasks
follow their job; the Python-worker time a task reports belongs to its
stage's layer.

Per layer the fold returns ``jobs``, ``tasks``, ``cpu_s``, ``gc_s``,
``shuffle_write_bytes``, ``spill_bytes``, ``task_skew`` (max over median
task duration), ``bytes_written`` (task output metrics) and
``python_s`` (the "time to run Python workers" SQL metric of the
``ArrowEvalPython``/``MapInPandas``-family plan nodes).
"""

from __future__ import annotations

import json
from statistics import median

#: SQL metric summed into ``python_s``
PYTHON_TIME_METRIC = "time to run Python workers"
_UNIT_S = {"nsTiming": 1e-9, "timing": 1e-3}


def read_events(path: str) -> list[dict]:
    """Parse a JSON-lines event log; a torn last line (an in-progress
    log) is skipped, any other bad line raises."""
    events = []
    with open(path) as f:
        lines = f.read().split("\n")
    for i, line in enumerate(lines):
        if not line.strip():
            continue
        try:
            events.append(json.loads(line))
        except json.JSONDecodeError:
            if i < len(lines) - 2:
                raise
    return events


def _python_accumulators(plan: dict, out: dict[int, float]) -> None:
    """Collect the accumulator ids of Python-worker time metrics in a
    ``sparkPlanInfo`` tree, with their unit scale."""
    for m in plan.get("metrics", []):
        if m.get("name") == PYTHON_TIME_METRIC:
            out[m["accumulatorId"]] = _UNIT_S.get(m.get("metricType"), 1e-3)
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def _span_layer(spans: list[dict], t_ms: float, layers: set[str]) -> str | None:
    """The layer of the innermost (latest-starting) span open at ``t_ms``."""
    best = None
    for s in spans:
        if s["layer"] in layers and s["start"] * 1e3 <= t_ms <= s["end"] * 1e3:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best["layer"] if best else None


def fold(events: list[dict], layers: list[str], spans: list[dict] | None = None) -> dict[str, dict]:
    """Per-layer metrics from ``events``. ``spans`` are dicts with
    ``layer``, ``start`` and ``end`` (epoch seconds)."""
    layer_set = set(layers)
    spans = spans or []
    stage_layer: dict[int, str] = {}
    # plan events can declare a cached plan's metrics after the tasks
    # that updated them ran, so collect the Python-time ids first
    py_acc: dict[int, float] = {}
    for ev in events:
        if ev.get("Event", "").endswith(("SparkListenerSQLExecutionStart",
                                         "SparkListenerSQLAdaptiveExecutionUpdate")):
            _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
    out = {l: {"jobs": 0, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "bytes_written": 0, "python_s": 0.0, "_durations": []}
           for l in layers}

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            layer = props.get("spark.jobGroup.id")
            if layer not in layer_set:
                layer = _span_layer(spans, ev.get("Submission Time", 0), layer_set)
            if layer is None:
                continue
            out[layer]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_layer[sid] = layer
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get(ev.get("Stage ID"))
            if layer is None:
                continue
            o = out[layer]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            o["tasks"] += 1
            o["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            o["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            o["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            if info.get("Finish Time") and info.get("Launch Time"):
                o["_durations"].append(info["Finish Time"] - info["Launch Time"])
            for acc in info.get("Accumulables", []):
                scale = py_acc.get(acc.get("ID"))
                if scale is not None:
                    o["python_s"] += int(acc.get("Update", 0)) * scale

    for o in out.values():
        d = o.pop("_durations")
        med = median(d) if d else 0
        o["task_skew"] = max(d) / med if med > 0 else (1.0 if d else 0.0)
    return out


def self_times(spans: list[dict]) -> dict[str, tuple[float, float]]:
    """Per layer ``(wall_s, self_s)``. A span's self time is its
    duration minus the union of its child spans; a layer's wall time
    counts only spans whose parent is in another layer, so nested spans
    of one layer are not counted twice."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, list[float]] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        covered, cur_end = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
            cur_end = max(cur_end, hi)
        acc = out.setdefault(s["layer"], [0.0, 0.0])
        parent = by_id.get(s.get("parent"))
        if parent is None or parent["layer"] != s["layer"]:
            acc[0] += dur
        acc[1] += dur - covered
    return {k: (v[0], v[1]) for k, v in out.items()}
