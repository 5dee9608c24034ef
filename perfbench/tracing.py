"""Spans recorded from the benchmark's side, folded with Spark's event log.

A span is (name, start, end, parent, trace id). Each op execution gets
one trace id. While a span is open, its Spark jobs carry its id as their
job group, so after the run the ``SparkListenerTaskEnd`` events of the
event log can be summed per span. Spans stay in memory until the run
ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# task-metric counters summed per span: name -> (path in "Task Metrics", scale)
TASK_COUNTERS = {
    "task_deser_s": (("Executor Deserialize Time",), 1e-3),
    "task_run_s": (("Executor Run Time",), 1e-3),
    "task_cpu_s": (("Executor CPU Time",), 1e-9),
    "task_gc_s": (("JVM GC Time",), 1e-3),
    "scan_mb": (("Input Metrics", "Bytes Read"), 1e-6),
    "shuffle_write_mb": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1e-6),
    "shuffle_read_mb": (
        (("Shuffle Read Metrics", "Remote Bytes Read"), ("Shuffle Read Metrics", "Local Bytes Read")),
        1e-6,
    ),
    "spill_mb": (("Disk Bytes Spilled",), 1e-6),
    "output_mb": (("Output Metrics", "Bytes Written"), 1e-6),
    "result_mb": (("Result Size",), 1e-6),
}


def _lookup(metrics: dict, path) -> float:
    if isinstance(path[0], tuple):
        return sum(_lookup(metrics, p) for p in path)
    value = metrics
    for key in path:
        value = value.get(key, 0) if isinstance(value, dict) else 0
    return float(value or 0)


class Tracer:
    """Records spans; a disabled tracer only runs the wrapped code."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        rec = {
            "id": f"s{self._next}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace_id or (parent["trace"] if parent else f"t{self._next}"),
            "cpu0": time.process_time(),
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["driver_cpu_s"] = time.process_time() - rec.pop("cpu0")
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def fold_event_logs(log_dir: str, spans: list[dict]) -> None:
    """Add jobs, stages, tasks and the task counters to each span, from
    the uncompressed event logs under ``log_dir``. Self time is the span
    minus the time its children cover."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s.update(jobs=0, tasks=0, stages=set(), **{k: 0.0 for k in TASK_COUNTERS})
    stage_span: dict[tuple[str, int], str] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path) as fh:
            for line in fh:
                if line.startswith('{"Event":"SparkListenerJobStart"'):
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in by_id:
                        by_id[group]["jobs"] += 1
                        for sid in ev["Stage IDs"]:
                            stage_span[(app, sid)] = group
                elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    ev = json.loads(line)
                    group = stage_span.get((app, ev["Stage ID"]))
                    if group is None:
                        continue
                    span = by_id[group]
                    span["tasks"] += 1
                    span["stages"].add((app, ev["Stage ID"], ev["Stage Attempt ID"]))
                    metrics = ev.get("Task Metrics") or {}
                    for key, (path_, scale) in TASK_COUNTERS.items():
                        span[key] += _lookup(metrics, path_) * scale
    children = defaultdict(float)
    for s in spans:
        s["stages"] = len(s["stages"])
        s["wall_s"] = s["end"] - s["start"]
        if s["parent"]:
            children[s["parent"]] += s["wall_s"]
    for s in spans:
        s["self_s"] = s["wall_s"] - children[s["id"]]


def spark_log_conf(log_dir: str) -> list[str]:
    """spark-submit arguments that turn on a plain-JSON event log."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


def layer_metrics(spans: list[dict], traced_pass_s: float):
    """Per-layer metrics for one pass: for each op, the median over its
    timed executions, summed over the op list."""
    cores = len(os.sched_getaffinity(0))
    by_id = {s["id"]: s for s in spans}
    per_exec: dict[str, dict[str, dict[str, float]]] = {}
    for s in spans:
        top = s
        while top["parent"]:
            top = by_id[top["parent"]]
        acc = per_exec.setdefault(top["name"], {}).setdefault(
            s["trace"], dict.fromkeys(LAYER_UNITS, 0.0)
        )
        layer = layer_of(s["name"])
        acc["jobs"] += s["jobs"]
        acc["stages"] += s["stages"]
        acc["tasks"] += s["tasks"]
        for k in TASK_COUNTERS:
            acc[k] += s[k]
        if layer == "build":
            acc["build_s"] += s["self_s"]
            acc["build_jobs"] += s["jobs"]
            acc["driver_cpu_s"] += s["driver_cpu_s"]
        elif layer == "exec":
            acc["exec_s"] += s["wall_s"]
            acc["fixed_s"] += s["wall_s"] - s["task_cpu_s"] / cores
        if s["name"].startswith(("dag.", "sink.")):
            acc[s["name"] + "_s"] = acc.get(s["name"] + "_s", 0.0) + s["self_s"]
    totals: dict[str, float] = {}
    per_op_lines = []
    for op, execs in per_exec.items():
        keys = sorted({k for e in execs.values() for k in e})
        med = {k: statistics.median(e.get(k, 0.0) for e in execs.values()) for k in keys}
        for k, v in med.items():
            totals[k] = totals.get(k, 0.0) + v
        per_op_lines.append(
            f"op.{op}: build_s={med['build_s']:.3f} exec_s={med['exec_s']:.3f} "
            f"jobs={med['jobs']:g} tasks={med['tasks']:g} over {len(execs)} executions"
        )
    for k in sorted(totals):
        if k.startswith(("dag.", "sink.")):
            per_op_lines.append(f"{k}: {totals[k]:.3f} s per pass")
    metrics = {k: (totals.get(k, 0.0), unit) for k, unit in LAYER_UNITS.items()}
    metrics["traced_pass_s"] = (traced_pass_s, "s")
    return metrics, per_op_lines


LAYER_UNITS = {
    "build_s": "s",
    "build_jobs": "count",
    "driver_cpu_s": "s",
    "exec_s": "s",
    "fixed_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_deser_s": "s",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "task_gc_s": "s",
    "scan_mb": "MB",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
    "output_mb": "MB",
    "result_mb": "MB",
}


def layer_of(span_name: str) -> str | None:
    """The layer a span measures. Registry ops: ``build`` is the registry
    call, ``exec`` the noop sink. ETL ops: ``build`` is the DAG tasks'
    own time (reads, validation and count jobs), ``exec`` the sink."""
    if span_name == "build" or span_name.startswith("dag."):
        return "build"
    if span_name == "exec" or span_name.startswith("sink."):
        return "exec"
    return None


class RssSampler:
    """Peak resident memory of a process tree, sampled from /proc."""

    INTERVAL_S = 0.25

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss_kb(self) -> int:
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        parent, rss = {}, {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
                with open(f"/proc/{entry}/statm") as fh:
                    pages = int(fh.read().split()[1])
            except (OSError, ValueError, IndexError):
                continue
            pid = int(entry)
            parent[pid] = int(stat.rsplit(")", 1)[1].split()[1])
            rss[pid] = pages * page_kb
        total = 0
        for pid, kb in rss.items():
            p = pid
            while p and p != self.root_pid:
                p = parent.get(p)
            if p == self.root_pid:
                total += kb
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
