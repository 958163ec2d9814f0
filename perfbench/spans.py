"""In-memory span tracer for the benchmark's traced runs.

``instrument`` wraps the package's public layer functions from the
outside (module and class attributes are swapped for the duration of a
``with`` block), so no package code changes. Each call opens a span
with a name, start, end and parent, and runs under a Spark job group of
its own, so every job can be attributed to exactly one span. After the
run, ``layer_metrics`` turns the spans into per-layer figures: self time
(span duration minus its child spans) and self jobs (jobs in the span's
own group), summed by span name.

Spans are kept in memory during the run and written out at the end
(``write_spans``). Bookkeeping time spent inside the wrappers is measured
separately; it is the tracing overhead the traced run reports.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time
from dataclasses import asdict, dataclass, field

PKG = "ironman_medallion_lakehouse_spark"

# (module, attribute or Class.method, span name). Pipeline code calls all
# of these through module or class attributes at call time, so swapping
# the attribute is enough to see every call.
LAYER_FUNCTIONS = [
    (f"{PKG}.pipeline", "run", "pipeline"),
    (f"{PKG}.plans.bronze", "build_bronze", "bronze.build"),
    (f"{PKG}.plans.bronze", "duplicate_key_count", "bronze.dupcheck"),
    (f"{PKG}.plans.silver", "build_silver", "silver.build"),
    (f"{PKG}.plans.gold_dims", "build_dim_athletes", "dims.build"),
    (f"{PKG}.plans.gold_dims", "build_dim_countries", "dims.build"),
    (f"{PKG}.plans.gold_dims", "build_dim_divisions", "dims.build"),
    (f"{PKG}.plans.gold_fact", "build_fact", "fact.build"),
    (f"{PKG}.plans.gold_fact", "fk_audit", "fact.audit"),
    (f"{PKG}.operators.quality", "check", "quality.check"),
    (f"{PKG}.plans.views", "create_views", "views.create"),
] + [
    (f"{PKG}.sources.tablestore", f"TableStore.{m}", f"tablestore.{m}")
    for m in ("save_overwrite", "merge_insert_only", "merge_scd1", "optimize", "analyze", "read")
]


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, parent, 0.0, group=f"span-{sid}")
        self.spans.append(s)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self.spans[self._stack[-1]].group, self.spans[self._stack[-1]].name)
            else:
                sc.setJobGroup("", "")
            self.overhead_s += time.perf_counter() - s.end

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def instrument(self, functions=LAYER_FUNCTIONS):
        """Swap every listed function for a traced wrapper; restore on exit."""
        saved = []
        for mod_name, attr, span_name in functions:
            owner = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, attr = attr.split(".")
                owner = getattr(owner, cls_name)
            original = owner.__dict__[attr]
            saved.append((owner, attr, original))
            setattr(owner, attr, self.wrap(original, span_name))
        try:
            yield self
        finally:
            for owner, attr, original in reversed(saved):
                setattr(owner, attr, original)


def write_spans(spans: list[Span], jobs: dict[str, dict], path: str) -> None:
    """Write one JSON line per span, with its self time and job counts."""
    selfs = self_times(spans)
    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps({**asdict(s), "self_s": selfs[s.id], **jobs.get(s.group, {})}) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the durations of its direct children."""
    out = {s.id: s.end - s.start for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.end - s.start
    return out


def job_stats(spark, groups: list[str]) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor run time (ms),
    shuffle read+write bytes and input bytes, from the status store."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    empty = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    out = {}
    for g in groups:
        jobs = st.getJobIdsForGroup(g)
        stage_ids = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info:
                stage_ids.update(info.stageIds)
        rec = {"jobs": len(jobs), "stages": len(stage_ids), "tasks": 0,
               "task_ms": 0, "shuffle_bytes": 0, "input_bytes": 0}
        for sid in stage_ids:
            it = store.stageData(sid, False, empty, False, no_quantiles).iterator()
            while it.hasNext():
                sd = it.next()
                rec["tasks"] += sd.numTasks()
                rec["task_ms"] += sd.executorRunTime()
                rec["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                rec["input_bytes"] += sd.inputBytes()
        out[g] = rec
    return out


def layer_metrics(spans: list[Span], jobs: dict[str, dict]) -> dict[str, float]:
    """Sum self seconds (``<name>.s``), self jobs (``<name>.jobs``) and
    calls (``<name>.calls``) by span name, plus executor totals over all
    spans (``spark.*``)."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        rec = jobs.get(s.group, {})
        out[f"{s.name}.s"] = out.get(f"{s.name}.s", 0.0) + selfs[s.id]
        out[f"{s.name}.jobs"] = out.get(f"{s.name}.jobs", 0) + rec.get("jobs", 0)
        out[f"{s.name}.calls"] = out.get(f"{s.name}.calls", 0) + 1
    for k in ("jobs", "stages", "tasks", "task_ms", "shuffle_bytes", "input_bytes"):
        out[f"spark.{k}"] = sum(r[k] for r in jobs.values())
    return out


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of an executed frame."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in ("analysis", "optimization", "planning"):
            total += kv._2().durationMs()
    return float(total)
