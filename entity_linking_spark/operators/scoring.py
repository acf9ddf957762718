"""Pairwise scoring: embedding dot product + surface similarity.

Score semantics from the reference: similarity = dot product of the two
128-d embeddings in a shared space (reference src/bi_encoder.py:96,
src/eval_zeshel.py:44).  Our encoder L2-normalizes
(functions/encoder.py), so the dot product is the cosine.  The north rule
adds Jaro-Winkler + Levenshtein surface similarity, each taken as
max(sim(raw), sim(token-sorted)) so token-swapped aliases still match.

One kernel, one column builder, two ways to feed them:
- ``_score_batch`` — the Python side of every plan: one einsum over the
  two float32 embedding batches plus order-invariant Jaro-Winkler (no
  JVM builtin; strings are cheap to ship, the batch math is numpy).
- ``_add_scores`` — the JVM side: sorted-token columns, Levenshtein
  (Spark builtin, codegen) and the weighted blend.
- ``score_candidates`` picks how embeddings reach the kernel.  Feature
  tables up to ``BROADCAST_FEATURE_ROWS`` rows ride two matrix broadcasts
  addressed by row index, so the pair stream carries only ints and
  surfaces; larger ones are attached to the pairs by join as packed
  float32 bytes.  Never ship ``array<float>`` per pair: Arrow then builds
  a Python object per row, ~27× the math (BENCH/BASELINE.md).

Blend: score = w_cos·cosine + w_jw·jaro_winkler + w_lev·lev_sim.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StructField, StructType

from entity_linking_spark.functions.similarity import (
    jaro_winkler_batch,
    levenshtein_similarity,
)
from entity_linking_spark.functions.vector import _packed_to_matrix

# Largest feature table (rows per side) scored via matrix broadcasts:
# ~250 MB of 128-d float32 per side, collected once on the driver.
BROADCAST_FEATURE_ROWS = 500_000


@dataclass(frozen=True)
class ScoringConfig:
    w_cosine: float = 0.5
    w_jaro_winkler: float = 0.3
    w_levenshtein: float = 0.2
    threshold: float = 0.75


def sorted_tokens(col) -> "F.Column":
    """Token-order-canonical form: 'falcon crimson' → 'crimson falcon'.
    Taking max(sim(raw), sim(sorted)) makes surface similarity robust to
    token swaps/reorderings in aliases — a standard record-linkage trick
    the reference never needs (its scores are embedding-only)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat_ws(" ", F.array_sort(F.split(c, " ")))


_KERNEL_SCHEMA = StructType(
    [StructField("cos", DoubleType()), StructField("jw", DoubleType())]
)


def _score_batch(
    ma: np.ndarray, mb: np.ndarray,
    sa: pd.Series, sb: pd.Series, ssa: pd.Series, ssb: pd.Series,
) -> pd.DataFrame:
    """(cos, jw) for one Arrow batch: float64 dot product of the aligned
    embedding rows, and max(JW(raw), JW(token-sorted)) with the sorted
    pass computed only on rows where sorting changed a side (most
    surfaces are single-token or already sorted — ~2× less JW work)."""
    cos = np.einsum("ij,ij->i", ma, mb, dtype=np.float64)
    jw = jaro_winkler_batch(sa, sb)
    changed = (sa.to_numpy() != ssa.to_numpy()) | (sb.to_numpy() != ssb.to_numpy())
    if changed.any():
        idx = np.flatnonzero(changed)
        jw[idx] = np.maximum(jw[idx], jaro_winkler_batch(
            ssa.iloc[idx].reset_index(drop=True), ssb.iloc[idx].reset_index(drop=True)
        ))
    return pd.DataFrame({"cos": cos, "jw": jw})


def _add_scores(pairs: DataFrame, kernel, key_a: str, key_b: str,
                conf: ScoringConfig) -> DataFrame:
    """Run ``kernel(key_a, key_b, surf_a, surf_b, sorted_a, sorted_b)`` over
    pairs carrying surf_a/surf_b, and add cosine/jaro_winkler/lev_sim/score.
    The sorted-token Levenshtein — the O(len²) builtin — runs only when
    sorting changed a side (the branch stays in codegen)."""
    sa, sb, ssa, ssb = (F.col(c) for c in ("surf_a", "surf_b", "ssa", "ssb"))
    raw_lev = levenshtein_similarity(sa, sb)
    lev = F.when((sa == ssa) & (sb == ssb), raw_lev).otherwise(
        F.greatest(raw_lev, levenshtein_similarity(ssa, ssb))
    )
    return (
        pairs.withColumns({"ssa": sorted_tokens(sa), "ssb": sorted_tokens(sb)})
        .withColumn("__f", kernel(F.col(key_a), F.col(key_b), sa, sb, ssa, ssb))
        .withColumns({
            "cosine": F.col("__f.cos"),
            "jaro_winkler": F.col("__f.jw"),
            "lev_sim": lev,
        })
        .drop("__f", "ssa", "ssb")
        .withColumn(
            "score",
            F.lit(conf.w_cosine) * F.col("cosine")
            + F.lit(conf.w_jaro_winkler) * F.col("jaro_winkler")
            + F.lit(conf.w_levenshtein) * F.col("lev_sim"),
        )
    )


def build_feature_broadcast(df: DataFrame, id_col: str, emb_col: str = "embedding"):
    """(embedding-matrix broadcast, index DataFrame) for the indexed scorer.

    The broadcast payload is ONE contiguous float32 matrix — pickles and
    unpickles in milliseconds on every Python worker (an earlier design
    shipped an id→row dict of 40k string keys: its per-worker unpickle and
    per-row .map() cost more than the scoring math).  Row lookup instead
    rides a tiny (id, idx) DataFrame the caller broadcast-joins JVM-side.
    ~20 MB for 40k 128-d mentions."""
    spark = df.sparkSession
    pdf = df.select(id_col, emb_col).toPandas()
    n = len(pdf)
    emb = (
        np.frombuffer(b"".join(pdf[emb_col].to_numpy()), dtype="<f4").reshape(n, -1)
        if n else np.zeros((0, 1), dtype=np.float32)
    )
    bcast = spark.sparkContext.broadcast(np.ascontiguousarray(emb))
    idx_df = spark.createDataFrame(
        pd.DataFrame({id_col: pdf[id_col], "idx": np.arange(n, dtype=np.int64)})
    )
    return bcast, idx_df


def score_indexed_pairs(
    pairs: DataFrame,
    bcast_a,
    bcast_b,
    conf: ScoringConfig = ScoringConfig(),
) -> DataFrame:
    """Score pairs that already carry (idx_a, idx_b, surf_a, surf_b):
    embeddings are gathered by row index from the two matrix broadcasts,
    so the scored-pair stage streams only ints + surface strings through
    Arrow (the embedding-laden pair rows measured 10+ GB at bench scale —
    DRAM-bound and non-scaling)."""

    @pandas_udf(_KERNEL_SCHEMA)
    def indexed(idx_a: pd.Series, idx_b: pd.Series, sa: pd.Series,
                sb: pd.Series, ssa: pd.Series, ssb: pd.Series) -> pd.DataFrame:
        return _score_batch(bcast_a.value[idx_a.to_numpy()],
                            bcast_b.value[idx_b.to_numpy()], sa, sb, ssa, ssb)

    return _add_scores(pairs, indexed, "idx_a", "idx_b", conf)


@pandas_udf(_KERNEL_SCHEMA)
def _packed_kernel(emb_a: pd.Series, emb_b: pd.Series, sa: pd.Series,
                   sb: pd.Series, ssa: pd.Series, ssb: pd.Series) -> pd.DataFrame:
    return _score_batch(_packed_to_matrix(emb_a), _packed_to_matrix(emb_b),
                        sa, sb, ssa, ssb)


def score_candidates(
    cands: DataFrame,
    mentions: DataFrame,
    entities: DataFrame,
    conf: ScoringConfig,
    feature_rows: int,
) -> DataFrame:
    """Score candidate (mention_id, entity_id) pairs against the prepared
    feature tables — mentions (mention_id, norm_surface, embedding) and
    entities (entity_id, norm_title, embedding), embeddings packed
    float32.  Returns ``cands``' columns plus
    cosine/jaro_winkler/lev_sim/score.

    ``feature_rows`` is the larger feature table's row count, which the
    caller already knows (the catalog manifest records it), so choosing
    the plan costs no Spark job.  Up to ``BROADCAST_FEATURE_ROWS`` the
    embeddings ride matrix broadcasts (``score_indexed_pairs``); above it
    they are joined onto the pairs as packed bytes, the only plan for
    feature tables too big to collect on the driver."""
    m_cols = ["mention_id", F.col("norm_surface").alias("surf_a")]
    e_cols = ["entity_id", F.col("norm_title").alias("surf_b")]
    if feature_rows <= BROADCAST_FEATURE_ROWS:
        ba, m_idx = build_feature_broadcast(mentions, "mention_id")
        bb, e_idx = build_feature_broadcast(entities, "entity_id")
        m_side = mentions.select(*m_cols).join(
            m_idx.withColumnRenamed("idx", "idx_a"), "mention_id")
        e_side = entities.select(*e_cols).join(
            e_idx.withColumnRenamed("idx", "idx_b"), "entity_id")
        pairs = cands.join(F.broadcast(m_side), "mention_id").join(
            F.broadcast(e_side), "entity_id")
        return score_indexed_pairs(pairs, ba, bb, conf).drop(
            "surf_a", "surf_b", "idx_a", "idx_b")
    m_side = mentions.select(*m_cols, F.col("embedding").alias("emb_a"))
    e_side = entities.select(*e_cols, F.col("embedding").alias("emb_b"))
    pairs = cands.join(m_side, "mention_id").join(e_side, "entity_id")
    return _add_scores(pairs, _packed_kernel, "emb_a", "emb_b", conf).drop(
        "surf_a", "surf_b", "emb_a", "emb_b")
