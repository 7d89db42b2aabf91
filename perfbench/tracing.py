"""Per-layer tracing for the traced benchmark run.

Spans are recorded from outside the package: the public functions of each
layer module are wrapped at run time (no package file is edited). Every span
runs its Spark jobs under its own job group, so the Spark event log can be
folded back onto the span that submitted each job. Python-worker time is also
credited to the layer that created the pandas UDF, found by UDF name in the
SQL plan nodes of the event log.
"""

from __future__ import annotations

import collections
import dataclasses
import functools
import importlib
import inspect
import json
import os
import re
import sys
import time

# layer -> (module, [attribute paths]); an empty list wraps every public
# function defined in the module.
LAYERS = {
    "dp_engine": [
        ("pipelinedp_spark.dp_engine",
         ["DPEngine.aggregate", "DPResult.dataframe"]),
        ("pipelinedp_spark.dataframes", ["Query.run_query"])],
    "contribution_bounders": [("pipelinedp_spark.contribution_bounders", [])],
    "noise": [("pipelinedp_spark.noise",
               ["SecureNoiseSource.laplace", "SecureNoiseSource.gaussian",
                "SecureNoiseSource.geometric_keep"])],
    "budget_accounting": [("pipelinedp_spark.budget_accounting",
                           ["NaiveBudgetAccountant.request_budget",
                            "NaiveBudgetAccountant.compute_budgets"])],
    "analysis.histograms": [("pipelinedp_spark.analysis.histograms", [])],
    "analysis.utility_analysis": [
        ("pipelinedp_spark.analysis.utility_analysis",
         ["UtilityAnalysisEngine.analyze"])],
    "analysis.parameter_tuning": [
        ("pipelinedp_spark.analysis.parameter_tuning", ["tune"])],
    "streaming": [("pipelinedp_spark.streaming.dp_streaming",
                   ["ingest_ann_batch_idempotent"])],
    "store": [("pipelinedp_spark.store", [])],
    "operators.similarity": [("pipelinedp_spark.operators.similarity", [])],
}
_PY_INIT = "time to initialize Python workers"
_PY_RUN = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers",
             "data returned from Python workers")
_PY_NAMES = (_PY_INIT, _PY_RUN) + _PY_BYTES
_MB = 1024.0 * 1024.0


@dataclasses.dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    result: object = None
    phases: dict = dataclasses.field(default_factory=dict)


def _public_functions(mod) -> list[str]:
    return [n for n, f in vars(mod).items()
            if inspect.isfunction(f) and f.__module__ == mod.__name__
            and not n.startswith("_")]


class Tracer:
    """Keeps spans in memory; ``enabled`` only while an op is measured."""

    def __init__(self, sc):
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.enabled = False
        self.udf_layer: dict[str, str] = {}

    # -- spans ---------------------------------------------------------
    def group(self, span: Span) -> str:
        return f"pb{span.id}"

    def _set_group(self, span: Span | None) -> None:
        self._sc.setLocalProperty(
            "spark.jobGroup.id", None if span is None else self.group(span))

    def begin(self, layer: str, name: str) -> Span:
        span = Span(len(self.spans), layer, name,
                    self._stack[-1].id if self._stack else None,
                    time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    def run_as(self, span: Span, fn):
        """Run ``fn`` with its jobs credited to an already closed span."""
        self._set_group(span)
        try:
            return fn()
        finally:
            self._set_group(self._stack[-1] if self._stack else None)

    def current_layer(self) -> str | None:
        return self._stack[-1].layer if self._stack else None

    # -- wrapping ------------------------------------------------------
    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span = tracer.begin(layer, name)
            try:
                span.result = fn(*args, **kwargs)
                return span.result
            finally:
                tracer.end(span)
        return traced

    def install(self) -> None:
        """Wrap every layer function, and ``pandas_udf`` so each UDF name
        is mapped to the layer that created it."""
        for layer, targets in LAYERS.items():
            for mod_name, attrs in targets:
                mod = importlib.import_module(mod_name)
                for path in attrs or _public_functions(mod):
                    owner_name, _, attr = path.rpartition(".")
                    owner = getattr(mod, owner_name) if owner_name else mod
                    orig = inspect.getattr_static(owner, attr)
                    if owner is mod:
                        self._replace_everywhere(
                            orig, self._wrap(layer, path, orig))
                    else:
                        setattr(owner, attr, self._wrap(layer, path, orig))
        from pyspark.sql import functions as F
        wrapped = self._wrap_pandas_udf(F.pandas_udf)
        for mod in list(sys.modules.values()):
            if getattr(mod, "pandas_udf", None) is F.pandas_udf:
                mod.pandas_udf = wrapped

    @staticmethod
    def _replace_everywhere(orig, new) -> None:
        # A function imported by name elsewhere in the package is the same
        # object there; replace every binding so all callers are traced.
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("pipelinedp_spark") and mod is not None:
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, new)

    def _wrap_pandas_udf(self, orig):
        tracer = self

        def record(fn):
            layer = tracer.current_layer()
            if layer is not None and callable(fn):
                tracer.udf_layer[getattr(fn, "__name__", "")] = layer

        @functools.wraps(orig)
        def pandas_udf(f=None, returnType=None, functionType=None):
            if inspect.isfunction(f):
                record(f)
                return orig(f, returnType, functionType)
            made = orig(f, returnType, functionType)

            def deco(fn):
                record(fn)
                return made(fn)
            return deco
        return pandas_udf


# ----------------------------------------------------------------------
# Spark event log
# ----------------------------------------------------------------------
@dataclasses.dataclass
class _Group:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    output_mb: float = 0.0


_GROUP_FIELDS = [f.name for f in dataclasses.fields(_Group)]


def _walk_plan(info, out):
    out.append(info)
    for child in info.get("children", []):
        _walk_plan(child, out)


def _metric_value(name: str, update) -> float:
    # Python-worker times are "timing" SQL metrics, in milliseconds.
    return float(update) / (_MB if name in _PY_BYTES else 1e3)


def fold_event_log(evdir: str, udf_layer: dict[str, str]):
    """Fold the event log into per-job-group Spark totals.

    Returns ``(groups, python)``: ``groups`` maps a job group to a
    ``_Group``; ``python`` is a list of ``(group, udf_layer, metric, value)``
    entries, one per Python-worker metric update of a task."""
    lines = []
    for root, _dirs, files in os.walk(evdir):
        for name in sorted(files):
            if not name.startswith("."):
                with open(os.path.join(root, name)) as f:
                    lines.extend(f)
    stage_group: dict[int, str | None] = {}
    acc_layer: dict[int, str | None] = {}  # Python metric -> UDF's layer
    groups: dict[str, _Group] = collections.defaultdict(_Group)
    python: list[tuple] = []
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            groups[grp].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = grp
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            groups[stage_group.get(sid)].stages += 1
        elif kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            nodes: list = []
            _walk_plan(ev.get("sparkPlanInfo", {}), nodes)
            for node in nodes:
                text = node.get("simpleString", "")
                udfs = [u for u in re.findall(r"(\w+)\(", text)
                        if u in udf_layer]
                layer = udf_layer[udfs[0]] if udfs else None
                for m in node.get("metrics", []):
                    if m.get("name") in _PY_NAMES:
                        acc_layer[m["accumulatorId"]] = layer
        elif kind == "SparkListenerTaskEnd":
            grp = stage_group.get(ev.get("Stage ID"))
            g = groups[grp]
            tm = ev.get("Task Metrics") or {}
            g.tasks += 1
            g.executor_run_s += tm.get("Executor Run Time", 0) / 1e3
            g.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            g.jvm_gc_s += tm.get("JVM GC Time", 0) / 1e3
            g.shuffle_write_mb += (tm.get("Shuffle Write Metrics") or {}) \
                .get("Shuffle Bytes Written", 0) / _MB
            g.spill_mb += (tm.get("Memory Bytes Spilled", 0)
                           + tm.get("Disk Bytes Spilled", 0)) / _MB
            g.output_mb += (tm.get("Output Metrics") or {}) \
                .get("Bytes Written", 0) / _MB
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name not in _PY_NAMES or "Update" not in acc:
                    continue
                python.append((grp, acc_layer.get(acc.get("ID")), name,
                               _metric_value(name, acc["Update"])))
    return groups, python


# ----------------------------------------------------------------------
# Per-layer metrics
# ----------------------------------------------------------------------
def layer_metrics(spans: list[Span], groups: dict, python: list,
                  group_of) -> dict[str, dict[str, float]]:
    """Totals per layer over ``spans`` (the spans of the timed phase).

    ``wall_s`` and the Spark fields are inclusive: they count a layer's
    outermost spans and everything those spans caused. ``self_s`` excludes
    the time of child spans. Python-worker fields also count UDF nodes that
    the layer created, wherever the plan ran."""
    by_id = {s.id: s for s in spans}
    children: dict[int, list[Span]] = collections.defaultdict(list)
    for s in spans:
        if s.parent in by_id:
            children[s.parent].append(s)

    def subtree(s: Span):
        yield s
        for c in children[s.id]:
            yield from subtree(c)

    def has_layer_ancestor(s: Span) -> bool:
        p = by_id.get(s.parent)
        while p is not None:
            if p.layer == s.layer:
                return True
            p = by_id.get(p.parent)
        return False

    out: dict[str, dict[str, float]] = {}
    layer_groups: dict[str, set[str]] = collections.defaultdict(set)
    for s in spans:
        m = out.setdefault(s.layer, collections.defaultdict(float))
        m["calls"] += 1
        m["self_s"] += (s.end - s.start) - sum(
            c.end - c.start for c in children[s.id])
        if has_layer_ancestor(s):
            continue
        m["wall_s"] += s.end - s.start
        grps = {group_of(x) for x in subtree(s)}
        layer_groups[s.layer] |= grps
        for g in grps & groups.keys():
            for f in _GROUP_FIELDS:
                m[f] += getattr(groups[g], f)
    for layer, m in out.items():
        grps = layer_groups[layer]
        for grp, udf_layer, name, value in python:
            if grp in grps or udf_layer == layer:
                key = {_PY_INIT: "python_init_s",
                       _PY_RUN: "python_run_s"}.get(name, "arrow_bytes_mb")
                m[key] += value
    return out
