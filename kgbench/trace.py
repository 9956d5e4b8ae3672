"""Per-layer spans around calls into kgforge's modules, recorded from the
benchmark's own code (nothing inside kgforge changes).

`Tracer.install()` wraps every public function of each layer's modules
and rebinds every reference to it held by a loaded kgforge module (so
`from x import f` call sites are traced too). A call into a layer from
outside it opens a span; calls within the same layer stay in the
caller's span. Each span:

* runs its Spark jobs under a job group of its own (`kgbench-<n>`), so
  `eager_jobs` counts exactly the jobs the call started, never the jobs
  of an earlier span or op;
* materializes a returned DataFrame inside the span (`persist()` +
  `count()`, under the group `kgbench-<n>-mat`), so a lazy layer's
  execution is charged to it rather than to whichever layer first
  consumes its output;
* keeps `self` time = wall - child spans - materialization - probes.

A few functions also feed a span counter: a probe (`PROBES`) counts the
rows of a result under a job group no span owns, and a timer (`TIMERS`)
sums a function's wall time even when its own layer calls it.

Stage metrics (executor run time, task CPU, shuffle write, spill, task
time quantiles) are read after each traced op or tail pass from the live
application's status REST API on localhost; the UI is enabled in the
traced run only.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import sys
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame

#: layer name -> the kgforge modules it is made of
LAYERS = {
    "orchestrate": ["kgforge.orchestrate"],
    "mapping": ["kgforge.mapping.compile_ini", "kgforge.mapping.compile_v1"],
    "triples.emit": ["kgforge.triples.emit"],
    "io.write": ["kgforge.io.write"],
    "io.fs": ["kgforge.io.fs"],
    "web.extract": ["kgforge.web.extract"],
    "web.mentions": ["kgforge.web.mentions"],
    "web.linking": ["kgforge.web.linking"],
    "web.canon": ["kgforge.web.canon"],
    "lineage": ["kgforge.lineage"],
    "sparql": ["kgforge.sparql"],
    "rdfs": ["kgforge.rdfs"],
    "textops.dedup": ["kgforge.textops.dedup"],
    "textops.similarity": ["kgforge.textops.similarity"],
}


@dataclass
class Span:
    layer: str
    fn: str
    gid: str
    wall: float = 0.0
    child_s: float = 0.0
    mat_s: float = 0.0
    probe_s: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    jobs: list[dict] = field(default_factory=list)  # own group
    mat_jobs: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)  # own + mat
    out: object = None  # the call's result

    @property
    def self_s(self) -> float:
        return self.wall - self.child_s - self.mat_s - self.probe_s


def _count_rows(span: Span, key: str, df: DataFrame) -> None:
    span.counters[key] = span.counters.get(key, 0) + df.count()


def _probe_candidates(span, fn, args, kwargs, out):
    _count_rows(span, "candidates", out)


def _probe_emitted(span, fn, args, kwargs, out):
    # rows before emit_triples' own dedup: the same call with dedup off
    _count_rows(span, "emitted", fn(*args, **{**kwargs, "dedup": False}))


#: (module, function) -> probe run after the call returns, under a job
#: group no span owns, with its time excluded from the span's self time
PROBES = {
    ("kgforge.web.linking", "candidate_pairs_minhash"): _probe_candidates,
    ("kgforge.textops.dedup", "minhash_lsh_candidates"): _probe_candidates,
    ("kgforge.triples.emit", "emit_triples"): _probe_emitted,
}

#: (module, function) -> span counter that sums the function's wall time,
#: also when it is called from inside its own layer
TIMERS = {("kgforge.sparql", "parse"): "parse_s"}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._cached: list[DataFrame] = []
        self._ids = itertools.count()

    # ---------------------------------------------------------- install
    def install(self) -> None:
        originals: dict[int, object] = {}
        for layer, modules in LAYERS.items():
            for mod_name in modules:
                mod = importlib.import_module(mod_name)
                for name, fn in vars(mod).items():
                    if (
                        not name.startswith("_")
                        and inspect.isfunction(fn)
                        and fn.__module__ == mod_name
                    ):
                        originals[id(fn)] = self._wrap(layer, mod_name, fn)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (
                mod_name.startswith("kgforge") or mod_name == "__spark_entry__"
            ):
                continue
            for name, val in list(vars(mod).items()):
                wrapper = originals.get(id(val))
                if wrapper is not None:
                    setattr(mod, name, wrapper)

    # ------------------------------------------------------------ spans
    def _group(self, gid: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", gid)
        self.sc.setLocalProperty("spark.job.description", gid)

    def _wrap(self, layer: str, mod_name: str, fn):
        probe = PROBES.get((mod_name, fn.__name__))
        timer = TIMERS.get((mod_name, fn.__name__))

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            if self._stack and self._stack[-1].layer == layer:
                span = self._stack[-1]
                t0 = time.perf_counter()
                out = fn(*args, **kwargs)
                if timer is not None:
                    span.counters[timer] = span.counters.get(timer, 0) + (
                        time.perf_counter() - t0
                    )
                if probe is not None:
                    self._probe(span, probe, fn, args, kwargs, out)
                return out
            span = self._span(layer, fn, probe, args, kwargs)
            if timer is not None:
                span.counters[timer] = span.counters.get(timer, 0) + span.wall
            return span.out

        return traced

    def _probe(self, span: Span, probe, fn, args, kwargs, out) -> None:
        t0 = time.perf_counter()
        self._group(f"kgbench-probe-{next(self._ids)}")
        try:
            probe(span, fn, args, kwargs, out)
        finally:
            self._group(self._stack[-1].gid if self._stack else None)
            span.probe_s += time.perf_counter() - t0

    def _span(self, layer, fn, probe, args, kwargs) -> Span:
        """Run the call in a new span; the call's result is `span.out`."""
        span = Span(layer, fn.__name__, f"kgbench-{next(self._ids)}")
        parent = self._stack[-1] if self._stack else None
        self._stack.append(span)
        self._group(span.gid)
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                t1 = time.perf_counter()
                self._group(span.gid + "-mat")
                out = out.persist()
                self._cached.append(out)
                span.counters["rows_out"] = span.counters.get("rows_out", 0) + out.count()
                self._group(span.gid)
                span.mat_s += time.perf_counter() - t1
            if probe is not None:
                self._probe(span, probe, fn, args, kwargs, out)
            span.out = out
            return span
        finally:
            span.wall = time.perf_counter() - t0
            self._stack.pop()
            self._group(parent.gid if parent else None)
            if parent is not None:
                parent.child_s += span.wall
            self.spans.append(span)

    def release(self) -> None:
        """Unpersist what the spans materialized (call once per op)."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # ----------------------------------------------------- stage metrics
    def _get(self, path: str):
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    def collect(self, spans: list[Span]) -> None:
        """Attach job and stage metrics to `spans` (after their op ended)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        by_group: dict[str, list[dict]] = {}
        for job in self._get("/jobs"):
            by_group.setdefault(job.get("jobGroup"), []).append(job)
        for span in spans:
            span.jobs = by_group.get(span.gid, [])
            span.mat_jobs = by_group.get(span.gid + "-mat", [])
            for sid in sorted({s for j in span.jobs + span.mat_jobs for s in j["stageIds"]}):
                for attempt in self._get(f"/stages/{sid}"):
                    if attempt["status"] != "COMPLETE":
                        continue
                    q = self._get(
                        f"/stages/{sid}/{attempt['attemptId']}/taskSummary"
                        "?quantiles=0.5,1.0"
                    )["executorRunTime"]
                    attempt["task_median_ms"], attempt["task_max_ms"] = q
                    span.stages.append(attempt)


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def job_seconds(jobs: list[dict]) -> float:
    return sum(
        _ts(j["completionTime"]) - _ts(j["submissionTime"])
        for j in jobs
        if j.get("completionTime") and j.get("submissionTime")
    )


def task_skew(stages: list[dict]) -> float:
    """max / median task run time of the heaviest stage (1.0 = even)."""
    if not stages:
        return 0.0
    st = max(stages, key=lambda s: s["executorRunTime"])
    return st["task_max_ms"] / st["task_median_ms"] if st["task_median_ms"] else 1.0


def layer_metrics(spans: list[Span]) -> dict[str, float]:
    """One op's spans -> {"<layer>.<metric>": value}. Layers the op never
    entered report 0."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        stages = [st for s in mine for st in s.stages]
        counters: dict[str, float] = {}
        for s in mine:
            for k, v in s.counters.items():
                counters[k] = counters.get(k, 0) + v
        m = {
            "build_s": sum(s.self_s for s in mine),
            "eager_jobs": sum(len(s.jobs) for s in mine),
            "exec_s": sum(job_seconds(s.jobs + s.mat_jobs) for s in mine),
            "task_cpu_s": sum(st["executorCpuTime"] for st in stages) / 1e9,
            "shuffle_write_mb": sum(st["shuffleWriteBytes"] for st in stages) / 1e6,
            "spill_mb": sum(st["diskBytesSpilled"] for st in stages) / 1e6,
            "task_skew": task_skew(stages),
            "rows_out": counters.get("rows_out", 0),
        }
        if layer == "mapping":
            m["compile_s"] = sum(s.wall for s in mine)
        if layer == "io.fs":
            m["collapse_s"] = sum(s.wall for s in mine if s.fn == "collapse_to_file")
        if layer == "sparql":
            m["parse_s"] = counters.get("parse_s", 0)
        if layer in ("web.linking", "textops.dedup"):
            m["candidates"] = counters.get("candidates", 0)
        if layer == "web.linking":
            links = sum(
                s.counters.get("rows_out", 0) for s in mine if s.fn == "link_surfaces"
            )
            m["accept_ratio"] = links / m["candidates"] if m["candidates"] else 0.0
        if layer == "triples.emit":
            emitted = counters.get("emitted", 0)
            m["dedup_ratio"] = m["rows_out"] / emitted if emitted else 0.0
        for k, v in m.items():
            out[f"{layer}.{k}"] = float(v)
    return out
