"""Seeded inputs for the benchmark workloads, written as parquet.

The entity-linking inputs come from the repo's fixture generator, with
the seed passed through.  The retrieval-report input is a scored
candidate table built here with numpy, together with the retrieval
rates it must yield, computed independently of Spark.

Inputs are written with pyarrow, split into as many part files as the
session's default parallelism, as a Spark write of the same rows would
be.  No Spark job runs while they are built.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPORT_KS = (1, 4, 8, 16, 32, 64)      # cli.py report's default --ks


def write_table(table: pa.Table, path: str, parts: int) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def el_inputs(seed: int, pages: int, entities: int) -> dict[str, pa.Table]:
    from pyspark.sql.pandas.types import to_arrow_schema

    from entity_linking_spark.fixtures import generate_fixture
    from entity_linking_spark.schemas import (
        ENTITY_SCHEMA, PAGE_MENTION_SCHEMA, PAGES_SCHEMA,
    )

    fx = generate_fixture(num_pages=pages, num_entities=entities, seed=seed,
                          max_labeled_per_key=0)
    return {
        name: pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
        for name, rows, schema in (
            ("pages", fx.pages, PAGES_SCHEMA),
            ("mentions", fx.mentions, PAGE_MENTION_SCHEMA),
            ("entities", fx.entities, ENTITY_SCHEMA),
        )
    }


def scored_input(seed: int, mentions: int, max_cands: int,
                 entities: int) -> tuple[pa.Table, dict[int, float]]:
    """A scored candidate table (mention_id, entity_id, score,
    true_entity_id) and its retrieval rate at each of ``REPORT_KS``.

    Each mention gets 1..``max_cands`` distinct candidate entities; its
    true entity is among them for 90 % of mentions and tends to score
    high, so the rates rise with k."""
    rng = np.random.default_rng(seed)
    n = rng.integers(1, max_cands + 1, size=mentions)
    mid = np.repeat(np.arange(mentions, dtype=np.int64), n)
    # distinct candidates per mention: a random start plus a random stride
    # that is coprime to the (prime) entity count
    pos = np.arange(mid.size) - np.repeat(np.cumsum(n) - n, n)
    start = rng.integers(0, entities, size=mentions)
    stride = rng.integers(1, entities, size=mentions)
    eid = (start[mid] + pos * stride[mid]) % entities
    true = np.where(rng.random(mentions) < 0.9,
                    eid[np.cumsum(n) - n + rng.integers(0, n)],   # a candidate
                    entities + np.arange(mentions))               # never one
    score = rng.random(mid.size)
    is_true = eid == true[mid]
    score[is_true] = score[is_true] ** 0.25
    # cent-rounded scores tie often, so the entity_id tie-break matters
    score = np.round(score, 2)
    table = pa.table({
        "mention_id": mid, "entity_id": eid, "score": score,
        "true_entity_id": true[mid],
    })
    return table, _rates(mid, eid, score, true, mentions)


def _rates(mid, eid, score, true, mentions: int) -> dict[int, float]:
    """Retrieval rate at k: share of mentions whose true entity ranks
    within the top k by score descending, entity id ascending."""
    order = np.lexsort((eid, -score, mid))
    m_sorted = mid[order]
    first = np.searchsorted(m_sorted, m_sorted, side="left")
    rank = np.arange(m_sorted.size) - first + 1
    hit = eid[order] == true[m_sorted]
    true_rank = np.full(mentions, np.iinfo(np.int64).max)
    true_rank[m_sorted[hit]] = rank[hit]
    return {k: float(np.mean(true_rank <= k)) for k in REPORT_KS}
