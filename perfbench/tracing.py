"""Tracing from outside the program: spans around the public calls, a
Spark job group per span, and the event-log reader that turns both into
per-layer numbers.

``Tracer.install`` wraps the library entry points listed in ``LAYERS`` in
place (every module binding of a wrapped function, and the GeoTable
methods). Each wrapped call records a span (name, start, end, parent,
iteration) in memory and sets the Spark job group to the span's id, so the
event log ties every job, stage and task to its innermost span. Spans are
written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import statistics
import sys
import time

_GP = "geoparquet_io_spark.sources.geoparquet"
_IC = "geoparquet_io_spark.operators.inspect_check"
_GT = "geoparquet_io_spark.geotable:GeoTable"

#: layer name -> "module:attribute" of the entry point wrapped for it
LAYERS = {
    "sources.geoparquet.read": f"{_GP}:read",
    "sources.geoparquet.read_partition": f"{_GP}:read_partition",
    "sources.geoparquet.read_footer_geo": f"{_GP}:read_footer_geo",
    "operators.extract": f"{_GT}.extract",
    "operators.add_columns.add_bbox": f"{_GT}.add_bbox",
    "operators.sorts.sort_hilbert": f"{_GT}.sort_hilbert",
    "operators.partition.partition_by_quadkey": f"{_GT}.partition_by_quadkey",
    "operators.stats.analyze_partition_strategy":
        "geoparquet_io_spark.operators.stats:analyze_partition_strategy",
    "geotable.write": f"{_GT}.write",
    **{f"operators.inspect_check.{fn}": f"{_IC}:{fn}" for fn in (
        "inspect_summary", "check_structure", "check_bbox",
        "bounds_from_metadata", "validate")},
}

GROUP_PREFIX = "perfbench-"


def _file_count(path) -> int:
    if isinstance(path, list):
        return len(path)
    if os.path.isfile(path):
        return 1
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


#: work counts recorded on the spans of these layers
COUNTS = {"sources.geoparquet.read_footer_geo": ("files",),
          "geotable.write": ("files", "bytes")}


def _counts(layer: str, args, result) -> dict:
    """Work counts recorded on a span, from the call's own inputs/outputs."""
    if layer == "sources.geoparquet.read_footer_geo":
        return {"files": _file_count(args[0])}
    if layer == "geotable.write":
        return {"files": len(result),
                "bytes": sum(os.path.getsize(f) for f in result)}
    return {}


class NullTracer:
    """Untraced runs: no spans, no job groups, no wrapped functions."""

    iteration = None

    def span(self, name: str):
        return contextlib.nullcontext({})


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.iteration = None

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(GROUP_PREFIX + str(span["id"]), span["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "iter": self.iteration,
               "parent": self._stack[-1]["id"] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kw):
            with self.span(layer) as rec:
                out = fn(*args, **kw)
                rec.update(_counts(layer, args, out))
            return out
        return traced

    def install(self) -> None:
        for layer, target in LAYERS.items():
            mod_name, attr = target.split(":")
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self._wrap(layer, getattr(cls, meth)))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(layer, orig)
            # rebind every `from module import fn` copy inside the package
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("geoparquet_io_spark"):
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            setattr(m, k, wrapped)


# -- reading the event log (benchmark process) --------------------------------

#: Spark's SQL metrics of the Arrow/pandas UDF operators (times in ms)
_PY_METRICS = {"time to start Python workers": "py_init_ms",
               "time to initialize Python workers": "py_init_ms",
               "time to run Python workers": "py_run_ms",
               "data sent to Python workers": "py_bytes_sent"}


#: what read_event_log sums per job group
SUMS = ("jobs", "stages", "tasks", "run_ms", "cpu_ns", "records_read",
        "shuffle_write_bytes", "spill_bytes", "py_init_ms", "py_run_ms",
        "py_bytes_sent")


def read_event_log(path: str) -> dict:
    """Per job group: jobs, stages, tasks and their summed metrics."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, dict] = {}

    def g(group):
        return groups.setdefault(group, dict.fromkeys(SUMS, 0))

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                g(group)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                g(stage_group.get(info["Stage ID"]))["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                acc = g(stage_group.get(ev["Stage ID"]))
                m = ev.get("Task Metrics") or {}
                acc["tasks"] += 1
                acc["run_ms"] += m.get("Executor Run Time", 0)
                acc["cpu_ns"] += m.get("Executor CPU Time", 0)
                acc["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + \
                    m.get("Disk Bytes Spilled", 0)
                # per-task deltas: a stage's own accumulable values are
                # running totals over the whole query, shared across stages
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = _PY_METRICS.get(a.get("Name"))
                    if key:
                        acc[key] += int(a.get("Update") or 0)
    return groups


def _self_seconds(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part its direct children cover (children
    run one after another on the calling thread)."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}


def layer_metrics(spans: list[dict], groups: dict, iter_walls: list[float],
                  prefix_s: dict, truth: dict, nproc: int, sink: str | None) -> dict:
    """Per-layer numbers for the timed iterations, each per iteration."""
    timed = [s for s in spans if isinstance(s["iter"], int)]
    n = len(iter_walls)
    own = _self_seconds(timed)
    per_iter: dict[str, dict[int, float]] = {}
    jobs: dict[str, float] = {}
    counts = {f"{layer}.{k}": 0 for layer, ks in COUNTS.items() for k in ks}
    tot = dict.fromkeys(SUMS, 0)
    for s in timed:
        name = s["name"]
        per_iter.setdefault(name, {}).setdefault(s["iter"], 0.0)
        per_iter[name][s["iter"]] += own[s["id"]]
        acc = groups.get(GROUP_PREFIX + str(s["id"]), {})
        jobs[name] = jobs.get(name, 0) + acc.get("jobs", 0)
        for k in tot:
            tot[k] += acc.get(k, 0)
        for k in COUNTS.get(name, ()):
            counts[f"{name}.{k}"] += s.get(k, 0)
    out = {}
    for layer in LAYERS:
        vals = [per_iter.get(layer, {}).get(i, 0.0) for i in range(n)]
        out[f"{layer}.s"] = statistics.median(vals)
        out[f"{layer}.jobs"] = jobs.get(layer, 0) / n
    for k, v in counts.items():
        out[k] = v / n
    # lazy chain steps: self time is the prefix difference through noop
    prev = 0.0
    for layer, t in prefix_s.items():
        out[f"{layer}.s"] = t - prev
        prev = t
    if sink is not None and prefix_s:
        out[f"{sink}.s"] = statistics.median(iter_walls) - prev
    wall = sum(iter_walls)
    out.update({
        "spark.jobs": tot["jobs"] / n,
        "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.scan_passes": tot["records_read"] / n / truth["input_rows"],
        "spark.executor_run_s": tot["run_ms"] / 1e3 / n,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9 / n,
        "spark.core_busy_frac": tot["run_ms"] / 1e3 / (wall * nproc),
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "spark.spill_bytes": tot["spill_bytes"] / n,
        "pyworker.init_s": tot["py_init_ms"] / 1e3 / n,
        "pyworker.run_s": tot["py_run_ms"] / 1e3 / n,
        "pyworker.bytes_sent": tot["py_bytes_sent"] / n,
    })
    return out
