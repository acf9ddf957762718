"""Spans recorded from the benchmark's side of the program's public calls.

``Tracer.install()`` wraps, for the duration of a traced pass:

- ``Catalog.get_or_compute`` and ``Catalog.invalidate`` (sources/catalog.py),
- ``validate_extraction`` as plans/pipeline.py binds it.

Workloads open further spans around their own calls.  Each span sets its
own Spark job group, so the event-log rollup can attribute task metrics
to it, and reads the CPU time of the whole process tree (driver, JVM and
Python workers) at both ends.  Work between spans runs under the pass's
``outside`` group.  No program file is modified.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import procstat

# catalog stage -> span name (<layer>.<span>)
STAGE_SPANS = {
    "mentions_prepared": "prepare.mentions",
    "entities_prepared": "prepare.entities",
    "mention_blocking_keys": "blocking.mention_keys",
    "entity_blocking_keys": "blocking.entity_keys",
    "blocking_key_stats": "blocking.key_stats",
    "candidates": "blocking.candidates",
    "scored": "scoring.scored",
    "edges": "topk.edges",
    "clusters": "cluster.clusters",
}
OUTSIDE = "outside"


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    start: float
    end: float = 0.0
    cpu0: float = 0.0               # process-tree CPU seconds at start
    cpu1: float = 0.0
    rows: int | None = None         # rows the program reports at the boundary

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def cpu_s(self) -> float:
        return self.cpu1 - self.cpu0


@dataclass
class Tracer:
    sc: object                      # SparkContext
    prefix: str = "pass"
    spans: list[Span] = field(default_factory=list)
    stack: list[int] = field(default_factory=list)
    stages_requested: int = 0
    stages_reused: int = 0
    hook_s: float = 0.0             # time spent in the tracer's own code

    # -- spans ------------------------------------------------------------
    def _group(self, idx: int | None) -> str:
        return f"{self.prefix}:{OUTSIDE}" if idx is None else self.spans[idx].group

    def begin(self, name: str) -> int:
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, f"{self.prefix}:{idx}:{name}", parent, 0.0))
        self.stack.append(idx)
        self.sc.setJobGroup(self.spans[idx].group, name)
        self.spans[idx].cpu0 = procstat.tree_cpu_s()
        self.spans[idx].start = time.perf_counter()
        self.hook_s += self.spans[idx].start - t0
        return idx

    def end(self, idx: int) -> None:
        t0 = time.perf_counter()
        if not self.stack or self.stack[-1] != idx:
            raise RuntimeError(f"span {self.spans[idx].name} closed out of order")
        self.spans[idx].end = t0
        self.spans[idx].cpu1 = procstat.tree_cpu_s()
        self.stack.pop()
        self.sc.setJobGroup(self._group(self.stack[-1] if self.stack else None), "")
        self.hook_s += time.perf_counter() - t0

    def end_open(self, name: str) -> None:
        """Close the innermost span if it is ``name``."""
        if self.stack and self.spans[self.stack[-1]].name == name:
            self.end(self.stack[-1])

    @contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    @contextmanager
    def traced_pass(self):
        """Mark the pass boundary: yields a dict that receives its wall."""
        self.sc.setJobGroup(self._group(None), OUTSIDE)
        out = {"start": time.perf_counter()}
        try:
            yield out
        finally:
            while self.stack:   # e.g. evaluate.metrics, or a failed pass
                self.end(self.stack[-1])
            out["end"] = time.perf_counter()
            self.sc.setJobGroup("perfbench:untraced", "")

    # -- wrappers -----------------------------------------------------------
    @contextmanager
    def install(self):
        from entity_linking_spark.plans import pipeline
        from entity_linking_spark.sources.catalog import Catalog

        tracer = self
        orig_goc = Catalog.get_or_compute
        orig_inv = Catalog.invalidate
        orig_val = pipeline.validate_extraction

        def get_or_compute(cat, name, compute, resume=True):
            tracer.stages_requested += 1
            tracer.stages_reused += bool(resume and cat.is_complete(name))
            with tracer.span(STAGE_SPANS.get(name, f"catalog.{name}")):
                out = orig_goc(cat, name, compute, resume)
                tracer.spans[tracer.stack[-1]].rows = cat.manifest_entry(name).get("rows")
            if name == "clusters":
                # evaluation tail: closed when link_entities returns
                tracer.begin("evaluate.metrics")
            return out

        def invalidate(cat, name):
            with tracer.span("catalog.invalidate"):
                return orig_inv(cat, name)

        def validate_extraction(pages):
            with tracer.span("extract.validate"):
                return orig_val(pages)

        Catalog.get_or_compute = get_or_compute
        Catalog.invalidate = invalidate
        pipeline.validate_extraction = validate_extraction
        try:
            yield self
        finally:
            Catalog.get_or_compute = orig_goc
            Catalog.invalidate = orig_inv
            pipeline.validate_extraction = orig_val
