"""Scoring parity: both physical plans of ``score_pairs`` (broadcast-
indexed and join-attached) must produce the cosine/jaro_winkler/lev_sim/
score of a driver-side oracle — one semantic, two plans (SURVEY.md §2.9
U4, reference src/eval_zeshel.py:44 dot-product scoring + north-rule
JW/lev).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from entity_linking_spark.functions.encoder import embed_text_binary
from entity_linking_spark.functions.similarity import jaro_winkler_batch
from entity_linking_spark.operators.scoring import (
    BROADCAST_FEATURE_ROWS,
    ScoringConfig,
    score_pairs,
)

SURFACES_A = [
    "crimson falcon society", "gilded harbor", "silent citadel",
    "falcon crimson society", "amber meridian inst", "", "solo",
]
SURFACES_B = [
    "crimson falcon society", "gilded harbour", "silent citadel x",
    "crimson falcon society", "amber meridian institute", "empty", "solo",
]

# feature_rows that select each plan
PLANS = {"broadcast": 0, "join": BROADCAST_FEATURE_ROWS + 1}


@pytest.fixture(scope="module")
def pair_inputs(spark):
    rows = [(f"m{i}", a, f"e{i}", b) for i, (a, b) in enumerate(zip(SURFACES_A, SURFACES_B))]
    df = spark.createDataFrame(rows, "mention_id string, surf_a string, entity_id string, surf_b string")
    return df.persist()


@pytest.fixture(scope="module")
def features(pair_inputs):
    """(cands, mention features, entity features) in the prepared-stage
    schemas score_pairs reads."""
    m_feat = pair_inputs.select(
        "mention_id", F.col("surf_a").alias("norm_surface")
    ).withColumn("embedding", embed_text_binary("norm_surface")).persist()
    e_feat = pair_inputs.select(
        "entity_id", F.col("surf_b").alias("norm_title")
    ).withColumn("embedding", embed_text_binary("norm_title")).persist()
    return pair_inputs.select("mention_id", "entity_id"), m_feat, e_feat


def _collect_scores(df):
    out = {}
    for r in df.collect():
        out[(r["mention_id"], r["entity_id"])] = (
            r["cosine"], r["jaro_winkler"], r["lev_sim"], r["score"]
        )
    return out


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _lev_sim(a: str, b: str) -> float:
    longest = max(len(a), len(b))
    return 1.0 if longest == 0 else 1.0 - _levenshtein(a, b) / longest


def _sorted_tokens(s: str) -> str:
    return " ".join(sorted(s.split(" ")))


def _oracle(cands, m_feat, e_feat, conf):
    """Driver-side scores: numpy dot of the decoded float32 embeddings,
    max(JW) and max(lev_sim) over the raw and token-sorted surfaces."""
    m = {r["mention_id"]: r for r in m_feat.collect()}
    e = {r["entity_id"]: r for r in e_feat.collect()}
    keys = [(r["mention_id"], r["entity_id"]) for r in cands.collect()]
    vec = lambda b: np.frombuffer(b, dtype="<f4").astype(np.float64)  # noqa: E731
    sa = [m[k[0]]["norm_surface"] for k in keys]
    sb = [e[k[1]]["norm_title"] for k in keys]
    ssa, ssb = [_sorted_tokens(s) for s in sa], [_sorted_tokens(s) for s in sb]
    jw = np.maximum(
        jaro_winkler_batch(pd.Series(sa), pd.Series(sb)),
        jaro_winkler_batch(pd.Series(ssa), pd.Series(ssb)),
    )
    out = {}
    for i, k in enumerate(keys):
        cos = float(vec(m[k[0]]["embedding"]) @ vec(e[k[1]]["embedding"]))
        lev = max(_lev_sim(sa[i], sb[i]), _lev_sim(ssa[i], ssb[i]))
        score = conf.w_cosine * cos + conf.w_jaro_winkler * jw[i] + conf.w_levenshtein * lev
        out[k] = (cos, jw[i], lev, score)
    return out


@pytest.mark.parametrize("plan", list(PLANS))
def test_score_pairs_matches_driver_oracle(spark, features, plan):
    cands, m_feat, e_feat = features
    conf = ScoringConfig()
    scored = score_pairs(cands, m_feat, e_feat, conf, feature_rows=PLANS[plan])
    assert scored.columns == [
        "mention_id", "entity_id", "cosine", "jaro_winkler", "lev_sim", "score",
    ]
    got = _collect_scores(scored)
    want = _oracle(cands, m_feat, e_feat, conf)
    assert got.keys() == want.keys()
    for k in want:
        np.testing.assert_allclose(got[k], want[k], atol=1e-6, err_msg=str(k))


def test_broadcast_indexed_matches_fused(spark, features):
    """The two plans share one UDF body, so their scores are identical,
    not merely close."""
    cands, m_feat, e_feat = features
    s_bc, s_join = (
        _collect_scores(score_pairs(cands, m_feat, e_feat, feature_rows=rows))
        for rows in PLANS.values()
    )
    assert s_bc == s_join


def test_golden_values(spark, features):
    """Identical strings: cosine=1, jw=1, lev=1, score=1 (unit weights sum)."""
    cands, m_feat, e_feat = features
    scored = {
        r["mention_id"]: r
        for r in score_pairs(cands, m_feat, e_feat, feature_rows=0).collect()
    }
    exact = scored["m0"]  # identical surfaces
    assert exact["cosine"] == pytest.approx(1.0, abs=1e-6)
    assert exact["jaro_winkler"] == pytest.approx(1.0)
    assert exact["lev_sim"] == pytest.approx(1.0)
    assert exact["score"] == pytest.approx(1.0, abs=1e-6)
    # token-swapped alias: order-invariant JW/lev must be 1.0
    swapped = scored["m3"]
    assert swapped["jaro_winkler"] == pytest.approx(1.0)
    assert swapped["lev_sim"] == pytest.approx(1.0)
