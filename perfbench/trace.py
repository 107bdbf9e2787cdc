"""Layer tracing from outside the program.

``Tracer.install()`` wraps the public functions of each layer module
of ``data_ingest_utils_spark``, and the plan layer's cache builders,
and rebinds every name in the package that refers to one of them (so
``plans.*`` modules that imported an operator by name call the wrapper
too).  Registry plans are wrapped where the benchmark calls them.  While ``Tracer.active`` is false a
wrapper only forwards the call.

Each span records name, layer, start, end, parent span and op id, and
sets a Spark job group of its own, so the jobs a span triggers can be
attributed to it from the status store after the op.  Spans stay in
memory; ``Tracer.dump`` writes them out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from dataclasses import asdict, dataclass, field

PKG = "data_ingest_utils_spark"

#: layer name -> modules whose public functions form the layer
LAYER_MODULES = {
    "session": ["session"],
    "sources": ["sources.readers", "sources.writers"],
    "pipeline": ["pipeline"],
    "operators.ingest": ["operators.ingest"],
    "operators.relational": ["operators.relational"],
    "operators.dedup": ["operators.dedup"],
    "operators.similarity": ["operators.similarity"],
    "operators.text": ["operators.text"],
    "streaming": ["streaming.runner", "streaming.transforms", "streaming.stateful"],
}

#: The plan layer's fingerprint-keyed cache builders that the workloads use.
CACHE_BUILDERS = ("_kmeans_centroids_cached",)


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = -1

    # -- install ----------------------------------------------------------
    def install(self) -> None:
        import data_ingest_utils_spark.plans  # noqa: F401  (load every module first)
        originals = {}
        for layer, mods in LAYER_MODULES.items():
            for mod_name in mods:
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                for name, fn in vars(mod).items():
                    if (inspect.isfunction(fn) and not name.startswith("_")
                            and fn.__module__ == mod.__name__):
                        originals[id(fn)] = self._wrap(fn, layer, f"{layer}.{name}")
        llm = importlib.import_module(f"{PKG}.plans.llm")
        for name in CACHE_BUILDERS:
            fn = getattr(llm, name)
            originals[id(fn)] = self._wrap(fn, "plans.cache", f"plans.cache.{name}")
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for name, value in list(vars(mod).items()):
                wrapper = originals.get(id(value))
                if wrapper is not None:
                    setattr(mod, name, wrapper)

    def _wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name, layer) as sp:
                out = fn(*args, **kwargs)
                if name == "streaming.run_available_now":
                    sp.extra["progress"] = _progress_summary(out)
                return out
        return wrapper

    # -- spans -------------------------------------------------------------
    def begin_op(self, op_id: int) -> None:
        self._op = op_id

    def span(self, name: str, layer: str):
        return _SpanScope(self, name, layer)

    def _push(self, name: str, layer: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, layer, self._op, parent, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self.spark.sparkContext.setJobGroup(f"span-{sp.sid}", name)
        return sp

    def _pop(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack.pop()
        if self._stack:
            top = self._stack[-1]
            self.spark.sparkContext.setJobGroup(f"span-{top.sid}", top.name)
        else:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def attribute(self, op_spans: list[Span], jobs) -> None:
        """Give each job to the span whose job group it carries; a job
        started from another thread (a streaming micro-batch) goes to
        the innermost span open when it was submitted."""
        by_sid = {sp.sid: sp for sp in op_spans}
        for job in jobs:
            sp = None
            if job.group and job.group.startswith("span-"):
                sp = by_sid.get(int(job.group[5:]))
            if sp is None:
                t = job.submitted_ms / 1e3
                covering = [s for s in op_spans if s.start <= t <= s.end]
                sp = max(covering, key=lambda s: s.start) if covering else op_spans[0]
            sp.jobs.append(job.job_id)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _SpanScope:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self) -> Span:
        self.sp = self.tracer._push(self.name, self.layer)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._pop(self.sp)


def _progress_summary(progress: list[dict]) -> dict:
    state = 0
    if progress:
        state = sum(op.get("numRowsTotal", 0) for op in progress[-1].get("stateOperators") or [])
    return {"batches": len(progress),
            "input_rows": sum(p.get("numInputRows", 0) for p in progress),
            "state_rows": state}


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its child spans cover
    (children of one span run one after another on one thread)."""
    child = {sp.sid: 0.0 for sp in spans}
    for sp in spans:
        if sp.parent in child:
            child[sp.parent] += sp.dur
    return {sp.sid: sp.dur - child[sp.sid] for sp in spans}
