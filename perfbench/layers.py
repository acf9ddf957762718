"""Per-layer metrics of a traced pass: spans joined with the event-log
rollup of their job groups.

A span's wall and CPU are its own interval's (CPU of the whole process
tree: driver, JVM and Python workers); its event-log metrics cover its
own jobs and those of the spans nested in it.  ``rows`` is the row count
the program reports at the span's boundary (catalog manifest) and
otherwise the records its jobs wrote, else read.  The wall of a pass
equals the walls of its top-level spans plus ``trace.outside.wall_s``.
"""

from __future__ import annotations

from eventlog import GroupRollup
from spans import Tracer

SPANS = (
    "extract.validate",
    "prepare.mentions", "prepare.entities",
    "blocking.mention_keys", "blocking.entity_keys", "blocking.key_stats",
    "blocking.candidates",
    "scoring.scored",
    "topk.edges",
    "cluster.clusters",
    "evaluate.metrics",
    "topk.retrieval_rates",
)
# (metric, unit, better) recorded for every span in SPANS
SPAN_METRICS = (
    ("wall_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("shuffle_bytes", "bytes", "lower"),
    ("task_skew", "ratio", "lower"),
    ("rows", "count", "higher"),
    ("jobs", "count", "lower"),
)
# spans that hold nested spans also record their self time
NESTED = ("blocking.candidates",)
OTHER = (
    ("catalog.invalidate.wall_s", "s", "lower"),
    ("evaluate.metrics.pairwise_f1", "ratio", "higher"),
    ("evaluate.metrics.blocking_recall", "ratio", "higher"),
    ("evaluate.metrics.retrieval_at_1", "ratio", "higher"),
    ("blocking.pair_yield", "ratio", "higher"),
    ("scoring.above_threshold_frac", "ratio", "higher"),
    ("catalog.bytes_written", "bytes", "lower"),
    ("catalog.stages_reused", "ratio", "higher"),
    ("resume.pass.wall_s", "s", "lower"),
    ("trace.pass.wall_s", "s", "lower"),
    ("trace.outside.wall_s", "s", "lower"),
    ("trace.hooks.wall_s", "s", "lower"),
)


def catalogue() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better)."""
    out = [(f"{s}.{m}", u, b) for s in SPANS for m, u, b in SPAN_METRICS]
    out += [(f"{s}.self_s", "s", "lower") for s in NESTED]
    return out + list(OTHER)


def pass_metrics(tracer: Tracer, last: int, bounds: dict,
                 groups: dict[str, GroupRollup]) -> dict[str, float]:
    """Per-layer metrics of the traced pass, whose spans are
    ``spans[:last]``."""
    idx = range(last)
    children: dict[int, list[int]] = {}
    for i in idx:
        if tracer.spans[i].parent is not None:
            children.setdefault(tracer.spans[i].parent, []).append(i)

    def subtree(i: int) -> list[int]:
        out = [i]
        for c in children.get(i, []):
            out += subtree(c)
        return out

    out = {name: 0.0 for name, _, _ in catalogue()}
    wall = bounds["end"] - bounds["start"]
    top = [i for i in idx if tracer.spans[i].parent is None]
    top_sorted = sorted(top, key=lambda i: tracer.spans[i].start)
    for a, b in zip(top_sorted, top_sorted[1:]):
        if tracer.spans[a].end > tracer.spans[b].start:
            raise RuntimeError("top-level spans overlap")
    for i in idx:
        s = tracer.spans[i]
        if s.name not in SPANS:
            raise RuntimeError(f"unexpected span {s.name}")
        roll = GroupRollup()
        for j in subtree(i):
            g = groups.get(tracer.spans[j].group)
            if g is not None:
                roll.merge(g)
        out[f"{s.name}.wall_s"] += s.wall_s
        out[f"{s.name}.cpu_s"] += s.cpu_s
        out[f"{s.name}.shuffle_bytes"] += roll.shuffle_write_bytes
        out[f"{s.name}.task_skew"] = max(out[f"{s.name}.task_skew"], roll.task_skew)
        out[f"{s.name}.rows"] += roll.rows if s.rows is None else s.rows
        out[f"{s.name}.jobs"] += roll.jobs
        if s.name in NESTED:
            out[f"{s.name}.self_s"] += s.wall_s - sum(
                tracer.spans[c].wall_s for c in children.get(i, []))
    out["trace.pass.wall_s"] = wall
    out["trace.outside.wall_s"] = wall - sum(tracer.spans[i].wall_s for i in top)
    return out
