"""Pairwise scoring: embedding dot product + surface similarity.

Score semantics from the reference: similarity = dot product of the two
128-d embeddings in a shared space (reference src/bi_encoder.py:96,
src/eval_zeshel.py:44).  Our encoder L2-normalizes (functions/encoder.py),
so the dot product is the cosine.  The north rule adds surface
similarity, made robust to token swaps by taking the max over the raw and
the token-sorted surfaces:

  score = w_cos·cosine + w_jw·jaro_winkler + w_lev·lev_sim

One Arrow crossing per pair computes cosine + Jaro-Winkler (batch numpy;
Jaro-Winkler has no JVM builtin).  Levenshtein stays JVM-side (builtin,
codegen).  Shipping array<float> columns through Arrow costs ~27× the
math (per-row list→object materialization), so embeddings reach the UDF
either as row indices into matrix broadcasts or as packed float32 bytes.

``score_pairs`` picks the physical plan from the feature-table size, the
way Catalyst picks broadcast vs shuffle joins:
- broadcast-indexed (``feature_rows <= BROADCAST_FEATURE_ROWS``): each
  feature table becomes one contiguous float32 matrix broadcast plus a
  tiny (id, idx) table; pairs stream ids and surfaces only;
- join-attached: the packed embeddings ride the pair rows through two
  joins (feature tables too large to broadcast).
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

# Largest feature table (rows) scored through matrix broadcasts: ~256 MB
# of 128-d float32 per side, which every Python worker unpickles.
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


_PAIR_SCHEMA = StructType(
    [StructField("cos", DoubleType()), StructField("jw", DoubleType())]
)


def _cos_jw(
    ma: np.ndarray, mb: np.ndarray,
    sa: pd.Series, sb: pd.Series, ssa: pd.Series, ssb: pd.Series,
) -> pd.DataFrame:
    """The Python side of pair scoring, shared by both plans: row-wise dot
    product of the two embedding matrices, and max(JW(raw), JW(sorted))
    with the sorted pass run only on rows where sorting changed a side
    (most surfaces are single-token or already sorted — ~2× less JW)."""
    if len(sa) == 0:
        return pd.DataFrame({"cos": [], "jw": []})
    cos = np.einsum("ij,ij->i", ma, mb, dtype=np.float64)
    jw = jaro_winkler_batch(sa, sb)
    changed = (sa.to_numpy() != ssa.to_numpy()) | (sb.to_numpy() != ssb.to_numpy())
    if changed.any():
        idx = np.flatnonzero(changed)
        jw_sorted = jaro_winkler_batch(
            ssa.iloc[idx].reset_index(drop=True), ssb.iloc[idx].reset_index(drop=True)
        )
        jw[idx] = np.maximum(jw[idx], jw_sorted)
    return pd.DataFrame({"cos": cos, "jw": jw})


@pandas_udf(_PAIR_SCHEMA)
def _score_packed(
    bin_a: pd.Series, bin_b: pd.Series,
    sa: pd.Series, sb: pd.Series, ssa: pd.Series, ssb: pd.Series,
) -> pd.DataFrame:
    """Join-attached plan: embeddings arrive as packed float32 bytes."""
    return _cos_jw(_packed_to_matrix(bin_a), _packed_to_matrix(bin_b), sa, sb, ssa, ssb)


def _score_indexed(bcast_a, bcast_b):
    """Broadcast plan: embeddings gathered by row index from the two
    matrix broadcasts, so the pair stream carries only ints + surfaces
    (embedding-laden pair rows measured 10+ GB at bench scale)."""

    @pandas_udf(_PAIR_SCHEMA)
    def scorer(
        idx_a: pd.Series, idx_b: pd.Series,
        sa: pd.Series, sb: pd.Series, ssa: pd.Series, ssb: pd.Series,
    ) -> pd.DataFrame:
        return _cos_jw(
            bcast_a.value[idx_a.to_numpy()], bcast_b.value[idx_b.to_numpy()],
            sa, sb, ssa, ssb,
        )

    return scorer


def _matrix_broadcast(features: DataFrame, id_col: str):
    """(float32 embedding-matrix broadcast, (id, idx) DataFrame).

    The payload is ONE contiguous matrix — it pickles and unpickles in
    milliseconds on every Python worker (an id→row dict of 40k string keys
    cost more to unpickle and .map() than the scoring math).  Row lookup
    rides the tiny (id, idx) table, broadcast-joined JVM-side."""
    spark = features.sparkSession
    pdf = features.select(id_col, "embedding").toPandas()
    n = len(pdf)
    emb = (
        np.frombuffer(b"".join(pdf["embedding"].to_numpy()), dtype="<f4").reshape(n, -1)
        if n else np.zeros((0, 1), dtype=np.float32)
    )
    bcast = spark.sparkContext.broadcast(np.ascontiguousarray(emb))
    idx_df = spark.createDataFrame(
        pd.DataFrame({id_col: pdf[id_col], "idx": np.arange(n, dtype=np.int64)})
    )
    return bcast, idx_df


def score_pairs(
    cands: DataFrame,
    mention_features: DataFrame,
    entity_features: DataFrame,
    conf: ScoringConfig = ScoringConfig(),
    *,
    feature_rows: int,
) -> DataFrame:
    """Score candidate pairs: ``cands`` (mention_id, entity_id, ...) gains
    cosine / jaro_winkler / lev_sim / score.  The feature tables are the
    prepared stages — (mention_id, norm_surface, embedding) and
    (entity_id, norm_title, embedding), embeddings packed float32.

    ``feature_rows`` is the larger feature table's row count (the catalog
    manifest has it, so no count job); it picks the plan."""
    m_cols = ["mention_id", F.col("norm_surface").alias("surf_a")]
    e_cols = ["entity_id", F.col("norm_title").alias("surf_b")]
    if feature_rows <= BROADCAST_FEATURE_ROWS:
        ba, m_idx = _matrix_broadcast(mention_features, "mention_id")
        bb, e_idx = _matrix_broadcast(entity_features, "entity_id")
        m_feat = F.broadcast(
            mention_features.select(*m_cols)
            .join(m_idx.withColumnRenamed("idx", "idx_a"), "mention_id")
        )
        e_feat = F.broadcast(
            entity_features.select(*e_cols)
            .join(e_idx.withColumnRenamed("idx", "idx_b"), "entity_id")
        )
        emb_a, emb_b, scorer = "idx_a", "idx_b", _score_indexed(ba, bb)
    else:
        m_feat = mention_features.select(*m_cols, F.col("embedding").alias("emb_a"))
        e_feat = entity_features.select(*e_cols, F.col("embedding").alias("emb_b"))
        emb_a, emb_b, scorer = "emb_a", "emb_b", _score_packed
    pairs = (
        cands.join(m_feat, "mention_id").join(e_feat, "entity_id")
        .withColumns({"ssa": sorted_tokens("surf_a"), "ssb": sorted_tokens("surf_b")})
    )
    sa, sb, ssa, ssb = (F.col(c) for c in ("surf_a", "surf_b", "ssa", "ssb"))
    # the sorted Levenshtein pass — the O(len²) builtin — runs only when
    # sorting changed a side (the branch stays in codegen)
    raw_lev = levenshtein_similarity(sa, sb)
    lev = F.when((sa == ssa) & (sb == ssb), raw_lev).otherwise(
        F.greatest(raw_lev, levenshtein_similarity(ssa, ssb))
    )
    scored = pairs.withColumn(
        "__f", scorer(F.col(emb_a), F.col(emb_b), sa, sb, ssa, ssb)
    ).withColumns(
        {"cosine": F.col("__f.cos"), "jaro_winkler": F.col("__f.jw"), "lev_sim": lev}
    )
    return scored.select(
        *cands.columns, "cosine", "jaro_winkler", "lev_sim",
        (
            F.lit(conf.w_cosine) * F.col("cosine")
            + F.lit(conf.w_jaro_winkler) * F.col("jaro_winkler")
            + F.lit(conf.w_levenshtein) * F.col("lev_sim")
        ).alias("score"),
    )
