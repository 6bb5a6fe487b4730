"""Per-layer tracing from outside the engine.

A traced job calls the engine exactly as an untraced one, but the public
layer functions are swapped for wrappers while it runs. Each wrapped call
opens a span, builds the layer's DataFrame (`build`), then persists and
counts it (`exec`), so the next layer starts from materialized input and
every layer's work is timed on its own. Persisting breaks operator fusion
across layers; that cost shows in `trace.overhead_ratio`.

Every Spark SQL execution a span starts carries the span id as its job
description, so counters from Spark's SQL status store (readable with the
UI off) are attached to exactly the span whose action ran them.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import statistics
import time
from contextlib import contextmanager

LAYERS = ("scan", "lld", "windows", "sessionize", "functionals_kernel",
          "functionals_sql", "asof_join", "backfill", "refresh", "sink")
# layers whose work crosses the JVM <-> Python worker boundary
PY_LAYERS = ("functionals_kernel", "backfill")
LAYER_FIELDS = ("build_ms", "exec_s", "self_s", "rows_out", "shuffle_mb",
                "spill_mb")
PY_FIELDS = ("py_start_s", "py_init_s", "py_run_s", "arrow_in_mb",
             "arrow_out_mb", "task_skew")
EXTRA_METRICS = ("refresh.stale_convs", "refresh.useful_ratio",
                 "trace.overhead_ratio", "peak_rss_mb")

# (module, public function, layer) wrapped during a traced job. Patching the
# module attribute also traces calls the engine makes internally, e.g.
# incremental_backfill -> backfill_functionals.
WRAPPED = (
    ("opensmile_spark.lld", "compute_lld", "lld"),
    ("opensmile_spark.operators.windows", "sma", "windows"),
    ("opensmile_spark.operators.windows", "delta_regression", "windows"),
    ("opensmile_spark.operators.sessionize", "sessionize", "sessionize"),
    ("opensmile_spark.functionals.bank", "functionals_kernel",
     "functionals_kernel"),
    ("opensmile_spark.functionals.bank", "functionals_sql", "functionals_sql"),
    ("opensmile_spark.operators.asof", "asof_join", "asof_join"),
    ("opensmile_spark.operators.asof", "backfill_functionals", "backfill"),
    ("opensmile_spark.operators.asof", "incremental_backfill", "refresh"),
)

_DESC_PREFIX = "perfbench-span:"
_PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "arrow_in_mb",
    "data returned from Python workers": "arrow_out_mb",
}
_MIB = 1024.0 * 1024.0
_SIZE = {"B": 1.0, "KiB": 1024.0, "MiB": _MIB, "GiB": _MIB * 1024,
         "TiB": _MIB * 1024 * 1024}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_AMOUNT = re.compile(r"(-?[\d,]*\.?\d+)\s*(TiB|GiB|MiB|KiB|B|ns|ms|s|m|h)\b")


def metric_names() -> list[str]:
    """Every per-layer metric a traced run reports, in a fixed order."""
    names = [f"{layer}.{f}" for layer in LAYERS for f in LAYER_FIELDS]
    names += [f"{layer}.{f}" for layer in PY_LAYERS for f in PY_FIELDS]
    return names + list(EXTRA_METRICS)


def metric_unit(name: str) -> str:
    field = name.rsplit(".", 1)[-1]
    if field.endswith("_ms"):
        return "ms"
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb"):
        return "MiB"
    if field in ("rows_out", "stale_convs"):
        return "count"
    return "ratio"


def parse_metric(text: str) -> tuple[float, ...]:
    """Spark's formatted SQL metric -> amounts in bytes or seconds.

    One amount for a single-task or sum metric ('57.3 KiB', '6,000'); four
    (total, min, med, max) for a per-task timing or size metric
    ('total (min, med, max (stageId: taskId))\\n4.9 s (350 ms, 2.1 s, ...)').
    """
    last = text.strip().splitlines()[-1]
    found = _AMOUNT.findall(last)
    if found:
        return tuple(float(v.replace(",", "")) * (_SIZE.get(u) or _TIME[u])
                     for v, u in found[:4])
    return (float(last.split()[0].replace(",", "")),)


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory; `dump`
    writes them as JSON."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.run_id = 0
        self.results: dict = {}   # layer -> its last materialized output
        self._stack: list[dict] = []
        self._seen: set[int] = set()
        self._persisted: list = []

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        sp = {"id": len(self.spans), "name": name, "run": self.run_id,
              "parent": self._stack[-1]["id"] if self._stack else None,
              "start": time.time(), "end": None, "counters": {}}
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobDescription(f"{_DESC_PREFIX}{sp['id']}")
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            sc.setJobDescription(
                f"{_DESC_PREFIX}{self._stack[-1]['id']}" if self._stack
                else None)

    def call(self, layer: str, fn, *args, **kwargs):
        """Run one layer call as a span: build its output, then materialize
        it (persist + count) so its execution is timed apart from the next
        layer's."""
        from pyspark.sql import DataFrame

        with self.span(layer) as sp:
            out = fn(*args, **kwargs)
            sp["build_end"] = time.time()
            frames = out if isinstance(out, tuple) else (out,)
            counts = []
            for df in frames:
                if isinstance(df, DataFrame):
                    df.persist()
                    self._persisted.append(df)
                    counts.append(df.count())
            sp["exec_s"] = time.time() - sp["build_end"]
            sp["rows_out"] = counts[0] if counts else 0
        self.results[layer] = frames[0]
        return out

    def sink(self, write):
        """The final write as a `sink` span: all of it is execution."""
        with self.span("sink") as sp:
            sp["build_end"] = sp["start"]
            rows = write()
            sp["exec_s"] = time.time() - sp["start"]
            sp["rows_out"] = rows
        return rows

    @contextmanager
    def installed(self):
        """Swap the engine's public layer functions for traced wrappers."""
        saved = []
        for mod_name, attr, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, functools.partial(self.call, layer, fn))
        try:
            yield self
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    # -- per-job bookkeeping --------------------------------------------
    @contextmanager
    def job(self):
        """One traced job: a root span; afterwards the layer outputs are
        released and status-store counters attached to their spans."""
        self.results = {}
        try:
            with self.span("job") as root:
                yield root
        finally:
            for df in self._persisted:
                df.unpersist()
            self._persisted = []
            self.run_id += 1

    def collect_counters(self):
        """Attach SQL status-store counters of every finished execution to
        the span that ran it."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = self.spark._jsparkSession.sharedState().statusStore()
        it = store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            desc = ex.description() or ""
            if eid in self._seen or not desc.startswith(_DESC_PREFIX):
                continue
            self._seen.add(eid)
            sp = self.spans[int(desc[len(_DESC_PREFIX):])]
            for k, v in execution_counters(store, eid).items():
                if k == "task_skew":
                    sp["counters"][k] = max(sp["counters"].get(k, 0.0), v)
                else:
                    sp["counters"][k] = sp["counters"].get(k, 0.0) + v

    def layer_metrics(self, run_id: int) -> dict:
        """Per-layer metrics of one traced job, summed over its spans."""
        spans = [s for s in self.spans if s["run"] == run_id]
        children: dict = {}
        for s in spans:
            children.setdefault(s["parent"], []).append(s)
        out = {m: 0.0 for m in metric_names() if m not in EXTRA_METRICS}
        for s in spans:
            if s["name"] not in LAYERS:
                continue
            kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
            build_kids = [(a, min(b, s["build_end"])) for a, b in kids
                          if a < s["build_end"]]
            p = s["name"] + "."
            out[p + "build_ms"] += 1e3 * (s["build_end"] - s["start"]
                                          - covered(build_kids))
            out[p + "exec_s"] += s["exec_s"]
            out[p + "self_s"] += s["end"] - s["start"] - covered(kids)
            out[p + "rows_out"] += s["rows_out"]
            c = s["counters"]
            out[p + "shuffle_mb"] += c.get("shuffle_mb", 0.0)
            out[p + "spill_mb"] += c.get("spill_mb", 0.0)
            if s["name"] in PY_LAYERS:
                for f in PY_FIELDS:
                    if f == "task_skew":
                        out[p + f] = max(out[p + f], c.get(f, 0.0))
                    else:
                        out[p + f] += c.get(f, 0.0)
        return out

    def dump(self, path, extra: dict):
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


def execution_counters(store, execution_id: int) -> dict:
    """Shuffle, spill and Python-boundary counters of one SQL execution,
    read from its final plan graph (cached-plan subtrees included)."""
    values = store.executionMetrics(execution_id)
    out: dict = {}

    def add(key, amount):
        out[key] = out.get(key, 0.0) + amount

    nodes = store.planGraph(execution_id).allNodes().iterator()
    while nodes.hasNext():
        node = nodes.next()
        metrics = node.metrics().iterator()
        while metrics.hasNext():
            m = metrics.next()
            name = m.name()
            if name not in _PY_METRICS and name not in (
                    "shuffle bytes written", "spill size"):
                continue
            v = values.get(m.accumulatorId())
            if not v.isDefined():
                continue
            amounts = parse_metric(v.get())
            if name == "shuffle bytes written":
                add("shuffle_mb", amounts[0] / _MIB)
            elif name == "spill size":
                add("spill_mb", amounts[0] / _MIB)
            else:
                key = _PY_METRICS[name]
                add(key, amounts[0] / (_MIB if key.endswith("_mb") else 1.0))
                if key == "py_run_s" and len(amounts) == 4 and amounts[2] > 0:
                    out["task_skew"] = max(out.get("task_skew", 0.0),
                                           amounts[3] / amounts[2])
                elif key == "py_run_s" and "task_skew" not in out:
                    out["task_skew"] = 1.0
    return out


def median_metrics(per_job: list[dict]) -> dict:
    keys = per_job[0].keys() if per_job else []
    return {k: statistics.median(d[k] for d in per_job) for k in keys}
