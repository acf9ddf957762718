"""The benchmark workloads: inputs, the timed pass, and its output check.

``build`` writes a workload's inputs as parquet under a directory of its
own; ``warm`` reads them once through the session.  ``run_pass`` runs
one pass of a public entry point and returns what its check needs;
``check`` turns that into a list of failures (empty when correct).
"""

from __future__ import annotations

import os

import inputs as inp

EL_PAGES, EL_ENTITIES = 600, 60
F1_GATE = 0.99            # tests/test_pipeline.py: pairwise F1 and recall gates
RECALL_GATE = 0.99
REPORT_MENTIONS, REPORT_MAX_CANDS = 30_000, 40
REPORT_ENTITIES = 10_007  # prime: see inputs.scored_input


class Workload:
    records = 0               # input records one pass processes

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.input_dir = ""

    def build(self, rep: int, parts: int) -> None:
        """Generate the inputs and write them; each rep a fresh copy."""
        self.input_dir = os.path.join(self.work, f"inputs{rep}")
        self.tables = self.generate()
        for name, table in self.tables.items():
            inp.write_table(table, os.path.join(self.input_dir, name), parts)

    def read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.input_dir, name))

    def warm(self) -> list[str]:
        """Read every input once through Spark; failures if a row count
        differs from what was written."""
        bad = []
        for name, table in self.tables.items():
            n = self.read(name).count()
            if n != table.num_rows:
                bad.append(f"input {name}: read {n} rows of {table.num_rows}")
        return bad

    def after_pass(self) -> None:
        from entity_linking_spark.operators._cache import release_cached

        release_cached()
        self.spark.catalog.clearCache()

    def trace_extra(self, tracer) -> tuple[dict, list[str]]:
        """Extra traced work after the traced pass: (metrics, failures)."""
        return {}, []


class ElLink(Workload):
    """A fresh ``link_entities(resume=False)`` into an empty workdir, then
    the cluster count ``cli.py link`` prints."""

    def generate(self):
        tables = inp.el_inputs(self.seed, EL_PAGES, EL_ENTITIES)
        self.records = tables["mentions"].num_rows
        return tables

    def link(self, resume: bool, tracer=None) -> dict:
        from entity_linking_spark.plans.pipeline import PipelineConfig, link_entities

        res = link_entities(
            self.spark, self.read("pages"), self.read("mentions"),
            self.read("entities"), PipelineConfig(workdir=self.workdir),
            resume=resume,
        )
        if tracer is not None:
            tracer.end_open("evaluate.metrics")
        res["n_clusters"] = res["clusters"].count()
        return res

    def run_pass(self, i: int, tracer=None) -> dict:
        self.workdir = os.path.join(self.work, f"wd{i}")
        res = self.link(resume=False, tracer=tracer)
        self.last = res
        m = res["metrics"]
        return {
            "pairwise_f1": m["contingency"].f1,
            "blocking_recall": m["blocking_recall"],
            "retrieval_at_1": m["retrieval"]["retrieval_rate_k1"],
            "extract_mismatches": m["extract_mismatches"],
        }

    def check(self, q: dict) -> list[str]:
        bad = []
        if q["pairwise_f1"] < F1_GATE:
            bad.append(f"pairwise F1 {q['pairwise_f1']:.4f} < {F1_GATE}")
        if q["blocking_recall"] < RECALL_GATE:
            bad.append(f"blocking recall {q['blocking_recall']:.4f} < {RECALL_GATE}")
        if q["extract_mismatches"]:
            bad.append(f"{q['extract_mismatches']} extraction mismatches")
        return bad

    def trace_extra(self, tracer) -> tuple[dict, list[str]]:
        """Pair yield and above-threshold share from the pass's stage
        tables, then the resume contract: invalidate ``edges`` and
        ``clusters`` (a run killed after ``scored`` committed), resume,
        and require the same cluster assignment."""
        from pyspark.sql import functions as F

        from entity_linking_spark.operators.scoring import ScoringConfig
        from entity_linking_spark.sources.catalog import Catalog

        truth = self.read("mentions").select("mention_id", "entity_id")
        cands, scored = self.last["candidates"], self.last["scored"]
        n_cands, n_scored = cands.count(), scored.count()
        n_true = cands.join(truth, ["mention_id", "entity_id"]).count()
        n_above = scored.where(F.col("score") >= ScoringConfig().threshold).count()
        reference = _assignment(self.last)
        out = {
            "blocking.pair_yield": n_true / n_cands,
            "scoring.above_threshold_frac": n_above / n_scored,
            "catalog.bytes_written": float(_tree_bytes(self.workdir)),
        }
        self.after_pass()

        tracer.prefix = "resume"
        tracer.stages_requested = tracer.stages_reused = 0
        first = len(tracer.spans)
        with tracer.install(), tracer.traced_pass() as bounds:
            cat = Catalog(self.spark, self.workdir)
            cat.invalidate("edges")
            cat.invalidate("clusters")
            res = self.link(resume=True, tracer=tracer)
        out["resume.pass.wall_s"] = bounds["end"] - bounds["start"]
        out["catalog.stages_reused"] = tracer.stages_reused / tracer.stages_requested
        out["catalog.invalidate.wall_s"] = sum(
            s.wall_s for s in tracer.spans[first:] if s.name == "catalog.invalidate")
        failures = []
        if _assignment(res) != reference:
            failures.append("resumed cluster assignment differs from the fresh run's")
        self.after_pass()
        return out, failures


class ElReport(Workload):
    """What ``cli.py report`` runs: ``retrieval_rates`` over a scored
    candidate table, then the rendered markdown report."""

    def generate(self):
        table, self.expected = inp.scored_input(
            self.seed, REPORT_MENTIONS, REPORT_MAX_CANDS, REPORT_ENTITIES)
        self.records = table.num_rows
        return {"scored": table}

    def run_pass(self, i: int, tracer=None) -> dict:
        from entity_linking_spark.operators.topk import retrieval_rates
        from entity_linking_spark.report import rates_from_row, render_retrieval_report

        scored = self.read("scored")
        if tracer is None:
            row = retrieval_rates(scored, ks=inp.REPORT_KS).first()
        else:
            with tracer.span("topk.retrieval_rates"):
                row = retrieval_rates(scored, ks=inp.REPORT_KS).first()
        rates = rates_from_row(row)
        return {"rates": rates, "text": render_retrieval_report(rates)}

    def check(self, q: dict) -> list[str]:
        bad = []
        if set(q["rates"]) != set(self.expected):
            return [f"rates for k in {sorted(q['rates'])}, expected {sorted(self.expected)}"]
        for k, want in self.expected.items():
            if abs(q["rates"][k] - want) > 1e-12:
                bad.append(f"retrieval rate @{k}: {q['rates'][k]!r} != {want!r}")
            if f"| {k} | {want:.4f} |" not in q["text"]:
                bad.append(f"report has no row for k={k} reading {want:.4f}")
        return bad


def _assignment(res: dict) -> list[tuple]:
    return sorted(tuple(r) for r in res["assignment"].collect())


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


WORKLOADS = {"el_link": ElLink, "el_report": ElReport}
