"""score_candidates against a numpy reference, for both physical plans
(matrix-broadcast indexed, join-attached packed bytes).  The reference
is the scoring semantic written out directly: the dot product of the
decoded float32 embeddings (reference src/eval_zeshel.py:44) plus
max(raw, token-sorted) Jaro-Winkler and Levenshtein similarity (the
batch kernels are checked against pure-Python references in
tests/test_property.py)."""

import numpy as np
import pandas as pd
import pytest

from entity_linking_spark.functions.encoder import embed_text_binary
from entity_linking_spark.functions.similarity import (
    jaro_winkler_batch,
    levenshtein_batch,
)
from entity_linking_spark.operators import scoring
from entity_linking_spark.operators.scoring import ScoringConfig, score_candidates

SURFACES_A = [
    "crimson falcon society", "gilded harbor", "silent citadel",
    "falcon crimson society", "amber meridian inst", "", "solo",
]
SURFACES_B = [
    "crimson falcon society", "gilded harbour", "silent citadel x",
    "crimson falcon society", "amber meridian institute", "empty", "solo",
]


@pytest.fixture(scope="module")
def features(spark):
    n = len(SURFACES_A)
    m_feat = spark.createDataFrame(
        [(f"m{i}", s) for i, s in enumerate(SURFACES_A)],
        "mention_id string, norm_surface string",
    ).withColumn("embedding", embed_text_binary("norm_surface")).persist()
    e_feat = spark.createDataFrame(
        [(f"e{i}", s) for i, s in enumerate(SURFACES_B)],
        "entity_id string, norm_title string",
    ).withColumn("embedding", embed_text_binary("norm_title")).persist()
    cands = spark.createDataFrame(
        [(f"m{i}", f"e{i}") for i in range(n)], "mention_id string, entity_id string"
    )
    return cands, m_feat, e_feat


def _score(monkeypatch, features, plan: str) -> dict:
    """score_candidates rows by mention_id; ``plan="join"`` forces the
    join-attached plan by lowering the broadcast limit below the table."""
    monkeypatch.setattr(
        scoring, "BROADCAST_FEATURE_ROWS", 0 if plan == "join" else len(SURFACES_A)
    )
    cands, m_feat, e_feat = features
    out = score_candidates(cands, m_feat, e_feat, ScoringConfig(),
                           feature_rows=len(SURFACES_A))
    return {r["mention_id"]: r for r in out.collect()}


def _numpy_reference(m_feat, e_feat, conf: ScoringConfig) -> dict:
    def decode(df, id_col):
        rows = sorted(df.select(id_col, "embedding").collect())
        return np.stack([np.frombuffer(r["embedding"], dtype="<f4") for r in rows])

    ma, mb = decode(m_feat, "mention_id"), decode(e_feat, "entity_id")
    a, b = pd.Series(SURFACES_A), pd.Series(SURFACES_B)
    sa = a.map(lambda s: " ".join(sorted(s.split(" "))))
    sb = b.map(lambda s: " ".join(sorted(s.split(" "))))
    cos = np.einsum("ij,ij->i", ma.astype(np.float64), mb.astype(np.float64))
    jw = np.maximum(jaro_winkler_batch(a, b), jaro_winkler_batch(sa, sb))
    lev = np.maximum(levenshtein_batch(a, b), levenshtein_batch(sa, sb))
    score = conf.w_cosine * cos + conf.w_jaro_winkler * jw + conf.w_levenshtein * lev
    return {f"m{i}": (cos[i], jw[i], lev[i], score[i]) for i in range(len(a))}


@pytest.mark.parametrize("plan", ["broadcast", "join"])
def test_matches_numpy_reference(monkeypatch, features, plan):
    scored = _score(monkeypatch, features, plan)
    _, m_feat, e_feat = features
    ref = _numpy_reference(m_feat, e_feat, ScoringConfig())
    assert scored.keys() == ref.keys()
    for mid, r in scored.items():
        assert r["entity_id"] == "e" + mid[1:]
        got = (r["cosine"], r["jaro_winkler"], r["lev_sim"], r["score"])
        np.testing.assert_allclose(got, ref[mid], atol=1e-6, err_msg=mid)


def test_golden_values(monkeypatch, features):
    """Identical strings: cosine=1, jw=1, lev=1, score=1 (unit weights sum)."""
    scored = _score(monkeypatch, features, "broadcast")
    exact = scored["m0"]  # identical surfaces
    assert exact["cosine"] == pytest.approx(1.0, abs=1e-6)
    assert exact["jaro_winkler"] == pytest.approx(1.0)
    assert exact["lev_sim"] == pytest.approx(1.0)
    assert exact["score"] == pytest.approx(1.0, abs=1e-6)
    # token-swapped alias: order-invariant JW/lev must be 1.0
    swapped = scored["m3"]
    assert swapped["jaro_winkler"] == pytest.approx(1.0)
    assert swapped["lev_sim"] == pytest.approx(1.0)
