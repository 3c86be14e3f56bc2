"""Outside-in tracing for the benchmark's traced run.

Spans are kept in memory and written out when the run ends. Each span
has a name, a layer, start, end and parent. Two kinds exist:

- spans the runner opens around every call it makes (one ``op`` span
  per operation; ``catalog.build`` / ``catalog.execute`` per entry);
- spans opened by wrappers that the runner installs over the public
  functions of each layer module. Every reference to a wrapped function
  inside the package is rebound too, so calls made through a name
  imported at module load, or imported lazily inside a builder, are
  seen as well.

Each span that enters a new layer gets its own Spark job group, so
Spark's uncompressed event log maps jobs, stages and tasks back to the
span (and, inclusively, to all its ancestors).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "amazonredshift_blueprints_spark"

# module (relative to the package) -> layer name used in metric names
LAYER_MODULES = {
    "session": "session",
    "sqlrun": "sqlrun",
    "ingest": "ingest",
    "export": "export",
    "dml": "dml",
    "transactions": "transactions",
    "functions.copy_unload": "copy_unload",
    "functions.dml_statements": "dml_statements",
    "functions.redshift_compat": "redshift_compat",
    "operators.graph": "graph",
    "operators.dedup": "dedup",
    "operators.similarity": "similarity",
    "operators.text": "text",
    "operators.multimodal": "multimodal",
}


class Span:
    __slots__ = ("id", "name", "layer", "parent", "start", "end", "group", "tag")

    def __init__(self, id_, name, layer, parent, group, tag):
        self.id, self.name, self.layer, self.parent = id_, name, layer, parent
        self.group, self.tag = group, tag
        self.start = time.perf_counter()
        self.end = None


class Tracer:
    """Span recorder. Disabled tracers cost one attribute test per call."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self.tag = None  # label copied into new spans (the pass number)
        self._stack: list[Span] = []
        self._jsc = None

    def attach(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc

    def _set_group(self, span: Span | None) -> None:
        if self._jsc is None:
            return
        if span is None:
            self._jsc.clearJobGroup()
        else:
            self._jsc.setJobGroup(span.group, f"{span.layer}.{span.name}", False)

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        new_group = parent is None or parent.layer != layer
        group = f"pb-{sid}" if new_group else parent.group
        s = Span(sid, name, layer, parent.id if parent else None, group, self.tag)
        self.spans.append(s)
        self._stack.append(s)
        if new_group:
            self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if new_group:
                self._set_group(self._stack[-1] if self._stack else None)

    def install(self) -> None:
        """Wrap every public function of each layer module."""
        originals: dict[int, _Traced] = {}
        for rel, layer in LAYER_MODULES.items():
            mod = importlib.import_module(f"{PKG}.{rel}")
            for name, obj in list(vars(mod).items()):
                if (name.startswith("_") or not inspect.isfunction(obj)
                        or obj.__module__ != mod.__name__):
                    continue
                originals[id(obj)] = _Traced(self, obj, layer)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                wrapper = originals.get(id(obj))
                if wrapper is not None and wrapper.__wrapped__ is obj:
                    setattr(mod, name, wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([
                {"id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
                 "start": s.start, "end": s.end, "group": s.group, "tag": s.tag}
                for s in self.spans
            ], fh)


class _Traced:
    """Callable stand-in for one public function.

    Pickles as a reference to the original, so a wrapped function that
    ends up inside a UDF closure reaches the Python workers unwrapped.
    """

    def __init__(self, tracer: Tracer, fn, layer: str):
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._layer = tracer, fn, layer

    def __call__(self, *args, **kwargs):
        if not self._tracer.enabled:
            return self._fn(*args, **kwargs)
        with self._tracer.span(self._fn.__name__, self._layer):
            return self._fn(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


# --------------------------------------------------------------- event log

def read_event_log(path: str) -> dict:
    """Per job group: job, stage and task counts plus summed task metrics."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    groups[g]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
                    groups[g]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                agg = groups[g]
                agg["tasks"] += 1
                agg["executor_run_s"] += m["Executor Run Time"] / 1e3
                agg["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                rd = m.get("Shuffle Read Metrics", {})
                wr = m.get("Shuffle Write Metrics", {})
                agg["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                agg["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                agg["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return groups


SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def attribute(spans: list[dict], groups: dict) -> tuple[dict, dict]:
    """Inclusive Spark totals per span id (a group's figures go to the span
    that opened it and to all its ancestors), and the spans by id."""
    by_id = {s["id"]: s for s in spans}
    owner = {}  # group -> span that opened it
    for s in spans:
        owner.setdefault(s["group"], s["id"])
    totals: dict[int, dict] = defaultdict(lambda: dict.fromkeys(SPARK_KEYS, 0.0))
    for g, agg in groups.items():
        sid = owner.get(g)
        while sid is not None:
            for k in SPARK_KEYS:
                totals[sid][k] += agg.get(k, 0.0)
            sid = by_id[sid]["parent"]
    return totals, by_id


def layer_entries(spans: list[dict], by_id: dict) -> list[dict]:
    """Spans whose parent is in another layer (or that have no parent):
    one per call into a layer from outside it."""
    out = []
    for s in spans:
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if p is None or p["layer"] != s["layer"]:
            out.append(s)
    return out
