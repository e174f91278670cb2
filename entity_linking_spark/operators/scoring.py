"""Pairwise scoring: embedding dot product + surface similarity.

Score semantics from the reference: similarity = dot product of the two
128-d embeddings in a shared space (reference src/bi_encoder.py:96,
src/eval_zeshel.py:44).  The north rule adds Jaro-Winkler + Levenshtein
surface similarity.

Physical strategy (measured on local[32], 2M pairs):
- The embedding similarity runs **JVM-side** as a zip_with/aggregate
  column expression — shipping array<float> columns through Arrow costs
  ~27× more than the math itself (per-row list→object materialization on
  the Python side), so the "vectorized pandas UDF" path is the WRONG
  physical plan for per-pair vector math; JVM `dot` does 2M pairs/sec/32
  cores vs 70k via Arrow.  The input_hint's "no per-row Python" holds:
  nothing here crosses into Python at all.
- Our encoder L2-normalizes (functions/encoder.py), so cosine ≡ dot;
  ``assume_normalized=False`` falls back to the full cosine expression.
- Jaro-Winkler has no JVM builtin → batch-vectorized Arrow pandas UDF
  (strings are cheap to transfer; the batch math is numpy).
- Levenshtein is Spark's builtin (codegen).

Blend: score = w_cos·cosine + w_jw·jaro_winkler + w_lev·lev_sim.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StructField, StructType

from entity_linking_spark.functions.similarity import (
    jaro_winkler_batch,
    jaro_winkler_udf,
    levenshtein_similarity,
)


def _jw_order_invariant(
    sa: pd.Series, sb: pd.Series, ssa: pd.Series, ssb: pd.Series
) -> np.ndarray:
    """max(JW(raw), JW(token-sorted)), computing the sorted pass only on
    rows where sorting actually changed either side (most surfaces are
    single-token or already sorted — measured ~2× less JW work)."""
    jw = jaro_winkler_batch(sa, sb)
    changed = (sa.to_numpy() != ssa.to_numpy()) | (sb.to_numpy() != ssb.to_numpy())
    if changed.any():
        idx = np.flatnonzero(changed)
        jw_sorted = jaro_winkler_batch(
            ssa.iloc[idx].reset_index(drop=True), ssb.iloc[idx].reset_index(drop=True)
        )
        jw[idx] = np.maximum(jw[idx], jw_sorted)
    return jw
from entity_linking_spark.functions.vector import cosine, dot


@dataclass(frozen=True)
class ScoringConfig:
    w_cosine: float = 0.5
    w_jaro_winkler: float = 0.3
    w_levenshtein: float = 0.2
    threshold: float = 0.75
    assume_normalized: bool = True  # encoder emits unit vectors → cosine ≡ dot


def sorted_tokens(col) -> "F.Column":
    """Token-order-canonical form: 'falcon crimson' → 'crimson falcon'.
    Taking max(sim(raw), sim(sorted)) makes surface similarity robust to
    token swaps/reorderings in aliases — a standard record-linkage trick
    the reference never needs (its scores are embedding-only)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat_ws(" ", F.array_sort(F.split(c, " ")))


def score_pairs(
    pairs: DataFrame,
    emb_a: str = "emb_a",
    emb_b: str = "emb_b",
    surf_a: str = "surf_a",
    surf_b: str = "surf_b",
    conf: ScoringConfig = ScoringConfig(),
    token_order_invariant: bool = True,
) -> DataFrame:
    # Binary packed embeddings → the fused single-UDF fast path, for
    # EITHER token_order setting (the JVM zip_with fallback below would
    # raise AnalysisException on a BinaryType column — ADVICE r01 #3).
    if dict(pairs.dtypes).get(emb_a) == "binary":
        return score_pairs_fused(
            pairs, emb_a, emb_b, surf_a, surf_b, conf,
            token_order_invariant=token_order_invariant,
        )
    jw = jaro_winkler_udf(F.col(surf_a), F.col(surf_b))
    lev = levenshtein_similarity(surf_a, surf_b)
    if token_order_invariant:
        sa, sb = sorted_tokens(surf_a), sorted_tokens(surf_b)
        jw = F.greatest(jw, jaro_winkler_udf(sa, sb))
        lev = F.greatest(lev, levenshtein_similarity(sa, sb))
    emb_sim = (
        dot(emb_a, emb_b) if conf.assume_normalized else cosine(emb_a, emb_b)
    )
    scored = pairs.withColumns(
        {
            "cosine": emb_sim,
            "jaro_winkler": jw,
            "lev_sim": lev,
        }
    )
    return scored.withColumn(
        "score",
        F.lit(conf.w_cosine) * F.col("cosine")
        + F.lit(conf.w_jaro_winkler) * F.col("jaro_winkler")
        + F.lit(conf.w_levenshtein) * F.col("lev_sim"),
    )


def _lev_order_invariant(surf_a, surf_b, sorted_a, sorted_b):
    """max(lev_sim(raw), lev_sim(token-sorted)) with the sorted pass —
    the O(len²) builtin — evaluated only when sorting changed a side
    (conditional branch stays in codegen; string equality is O(len))."""
    raw = levenshtein_similarity(surf_a, surf_b)
    return F.when(
        (surf_a == sorted_a) & (surf_b == sorted_b), raw
    ).otherwise(F.greatest(raw, levenshtein_similarity(sorted_a, sorted_b)))


_FUSED_SCHEMA = StructType(
    [StructField("cos", DoubleType()), StructField("jw", DoubleType())]
)


def _make_fused_udf(assume_normalized: bool):
    """One Arrow crossing for the whole Python side of pair scoring:
    embedding similarity from packed-float32 binary columns (batch
    np.frombuffer + einsum — no per-row objects beyond the bytes) plus
    Jaro-Winkler on raw and token-sorted surfaces (max of the two).

    Why fused: measured on local[32], three separate UDF nodes +
    JVM array math cost 3-6× the arithmetic in JVM↔Python traffic and
    boxed higher-order-function evaluation; this path scales like pure
    numpy multiprocessing (4.2× from 8→32 procs on this box)."""

    @pandas_udf(_FUSED_SCHEMA)
    def fused(
        bin_a: pd.Series, bin_b: pd.Series,
        sa: pd.Series, sb: pd.Series,
        ssa: pd.Series, ssb: pd.Series,
    ) -> pd.DataFrame:
        n = len(bin_a)
        if n == 0:
            return pd.DataFrame({"cos": [], "jw": []})
        ma = np.frombuffer(b"".join(bin_a.to_numpy()), dtype="<f4").reshape(n, -1).astype(np.float64)
        mb = np.frombuffer(b"".join(bin_b.to_numpy()), dtype="<f4").reshape(n, -1).astype(np.float64)
        cos = np.einsum("ij,ij->i", ma, mb)
        if not assume_normalized:
            den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
            cos = np.where(den == 0, 0.0, cos / np.where(den == 0, 1.0, den))
        jw = _jw_order_invariant(sa, sb, ssa, ssb)
        return pd.DataFrame({"cos": cos, "jw": jw})

    return fused


_fused_cache: dict[bool, object] = {}


def score_pairs_fused(
    pairs: DataFrame,
    emb_a: str = "emb_a",
    emb_b: str = "emb_b",
    surf_a: str = "surf_a",
    surf_b: str = "surf_b",
    conf: ScoringConfig = ScoringConfig(),
    token_order_invariant: bool = True,
) -> DataFrame:
    """Fused-UDF scoring over BINARY packed-float32 embedding columns
    (functions/encoder.py:embed_text_binary).  Same output columns as
    ``score_pairs``; Levenshtein stays JVM-side (builtin, codegen).
    With ``token_order_invariant=False`` the sorted-token pass is skipped
    entirely (the UDF's changed-mask sees identical raw/sorted inputs)."""
    if conf.assume_normalized not in _fused_cache:
        _fused_cache[conf.assume_normalized] = _make_fused_udf(conf.assume_normalized)
    fused = _fused_cache[conf.assume_normalized]
    if token_order_invariant:
        sa, sb = sorted_tokens(surf_a), sorted_tokens(surf_b)
        lev = _lev_order_invariant(F.col(surf_a), F.col(surf_b), sa, sb)
    else:
        sa, sb = F.col(surf_a), F.col(surf_b)
        lev = levenshtein_similarity(surf_a, surf_b)
    scored = pairs.withColumn(
        "__f", fused(F.col(emb_a), F.col(emb_b), F.col(surf_a), F.col(surf_b), sa, sb)
    ).withColumns(
        {
            "cosine": F.col("__f.cos"),
            "jaro_winkler": F.col("__f.jw"),
            "lev_sim": lev,
        }
    ).drop("__f")
    return scored.withColumn(
        "score",
        F.lit(conf.w_cosine) * F.col("cosine")
        + F.lit(conf.w_jaro_winkler) * F.col("jaro_winkler")
        + F.lit(conf.w_levenshtein) * F.col("lev_sim"),
    )


def build_feature_broadcast(df: DataFrame, id_col: str, emb_col: str = "embedding"):
    """(embedding-matrix broadcast, index DataFrame) for the indexed scorer.

    The broadcast payload is ONE contiguous float32 matrix — pickles and
    unpickles in milliseconds on every Python worker (an earlier design
    shipped an id→row dict of 40k string keys: its per-worker unpickle and
    per-row .map() cost more than the scoring math).  Row lookup instead
    rides a tiny (id, idx) DataFrame the caller broadcast-joins JVM-side.
    ~20 MB for 40k 128-d mentions; when the feature table stops being
    broadcastable (web scale) use `score_pairs_fused` (features attached
    by join) instead."""
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


def make_indexed_scorer(bcast_a, bcast_b, assume_normalized: bool = True):
    """pandas UDF (idx_a, idx_b, surf_a, surf_b, sorted_a, sorted_b) →
    struct(cos, jw): embeddings resolved by integer row index from the two
    matrix broadcasts, so the scored-pair stage streams only ints +
    surface strings through Arrow (the embedding-laden pair rows measured
    10+ GB at bench scale — DRAM-bound and non-scaling)."""

    @pandas_udf(_FUSED_SCHEMA)
    def scorer(
        idx_a: pd.Series, idx_b: pd.Series,
        sa: pd.Series, sb: pd.Series,
        ssa: pd.Series, ssb: pd.Series,
    ) -> pd.DataFrame:
        n = len(idx_a)
        if n == 0:
            return pd.DataFrame({"cos": [], "jw": []})
        ma = bcast_a.value[idx_a.to_numpy()]
        mb = bcast_b.value[idx_b.to_numpy()]
        cos = np.einsum("ij,ij->i", ma, mb, dtype=np.float64)
        if not assume_normalized:
            den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
            cos = np.where(den == 0, 0.0, cos / np.where(den == 0, 1.0, den))
        jw = _jw_order_invariant(sa, sb, ssa, ssb)
        return pd.DataFrame({"cos": cos, "jw": jw})

    return scorer


def score_indexed_pairs(
    pairs: DataFrame,
    bcast_a,
    bcast_b,
    conf: ScoringConfig = ScoringConfig(),
) -> DataFrame:
    """Score pairs that already carry (idx_a, idx_b, surf_a, surf_b):
    one pandas UDF for cos+JW (embeddings gathered by row index from the
    matrix broadcasts) + JVM builtin Levenshtein.  Adds columns
    cosine/jaro_winkler/lev_sim/score."""
    scorer = make_indexed_scorer(bcast_a, bcast_b, conf.assume_normalized)
    with_sorted = pairs.withColumns(
        {"ssa": sorted_tokens("surf_a"), "ssb": sorted_tokens("surf_b")}
    )
    lev = _lev_order_invariant(
        F.col("surf_a"), F.col("surf_b"), F.col("ssa"), F.col("ssb")
    )
    scored = with_sorted.withColumn(
        "__f",
        scorer(
            F.col("idx_a"), F.col("idx_b"),
            F.col("surf_a"), F.col("surf_b"), F.col("ssa"), F.col("ssb"),
        ),
    ).withColumns(
        {
            "cosine": F.col("__f.cos"),
            "jaro_winkler": F.col("__f.jw"),
            "lev_sim": lev,
        }
    ).drop("__f", "ssa", "ssb")
    return scored.withColumn(
        "score",
        F.lit(conf.w_cosine) * F.col("cosine")
        + F.lit(conf.w_jaro_winkler) * F.col("jaro_winkler")
        + F.lit(conf.w_levenshtein) * F.col("lev_sim"),
    )


def score_pairs_broadcast(
    cands: DataFrame,
    mention_features: DataFrame,
    entity_features: DataFrame,
    mention_id: str = "mention_id",
    entity_id: str = "entity_id",
    surf_col_a: str = "norm_surface",
    surf_col_b: str = "norm_title",
    emb_col: str = "embedding",
    conf: ScoringConfig = ScoringConfig(),
) -> DataFrame:
    """Scoring plan for broadcastable feature tables: candidate id pairs +
    thin broadcast joins attaching (row index, surface) →
    ``score_indexed_pairs``.  Output columns match ``score_pairs``."""
    ba, m_idx = build_feature_broadcast(mention_features, mention_id, emb_col)
    bb, e_idx = build_feature_broadcast(entity_features, entity_id, emb_col)

    m_side = F.broadcast(
        mention_features.select(mention_id, F.col(surf_col_a).alias("surf_a"))
        .join(m_idx.withColumnRenamed("idx", "idx_a"), mention_id)
    )
    e_side = F.broadcast(
        entity_features.select(entity_id, F.col(surf_col_b).alias("surf_b"))
        .join(e_idx.withColumnRenamed("idx", "idx_b"), entity_id)
    )
    with_surf = cands.join(m_side, mention_id).join(e_side, entity_id)
    return score_indexed_pairs(with_surf, ba, bb, conf).drop(
        "surf_a", "surf_b", "idx_a", "idx_b"
    )
