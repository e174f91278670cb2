"""Evaluation: pairwise precision/recall/F1 and retrieval rate.

Two F1 paths:
- ``pairwise_f1_from_labeled``: the BASELINE gate — evaluates predicted
  cluster co-membership against an explicit labeled-pairs table
  (FIXTURES.md §4), mirroring the reference's membership check unit
  (true id ∈ top-k set, src/eval_zeshel.py:50-52).
- ``pairwise_f1_from_contingency``: the scale path — P/R/F1 from the
  (cluster, entity) contingency counts, Σ C(n,2) arithmetic; never
  materializes pairs, so it works at 10^12 mentions.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class PairwiseMetrics:
    precision: float
    recall: float
    f1: float
    true_positives: int
    predicted_pairs: int
    true_pairs: int


def _f1(p: float, r: float) -> float:
    return 0.0 if p + r == 0 else 2 * p * r / (p + r)


def pairwise_f1_from_labeled(
    assignment: DataFrame,  # (mention_id, cluster_id)
    labeled_pairs: DataFrame,  # (mention_id_a, mention_id_b, is_match)
) -> PairwiseMetrics:
    a = assignment.withColumnsRenamed({"mention_id": "mention_id_a", "cluster_id": "cluster_a"})
    b = assignment.withColumnsRenamed({"mention_id": "mention_id_b", "cluster_id": "cluster_b"})
    joined = labeled_pairs.join(a, "mention_id_a", "left").join(b, "mention_id_b", "left")
    pred = (F.col("cluster_a").isNotNull()
            & F.col("cluster_b").isNotNull()
            & (F.col("cluster_a") == F.col("cluster_b")))
    row = joined.agg(
        F.sum((pred & F.col("is_match")).cast("long")).alias("tp"),
        F.sum(pred.cast("long")).alias("pp"),
        F.sum(F.col("is_match").cast("long")).alias("ap"),
    ).collect()[0]
    tp, pp, ap = int(row["tp"] or 0), int(row["pp"] or 0), int(row["ap"] or 0)
    p = tp / pp if pp else 0.0
    r = tp / ap if ap else 0.0
    return PairwiseMetrics(p, r, _f1(p, r), tp, pp, ap)


def pairwise_f1_from_contingency(
    assignment: DataFrame,  # (mention_id, cluster_id)
    truth: DataFrame,  # (mention_id, entity_id)
) -> PairwiseMetrics:
    """P/R/F1 over *all* same-entity mention pairs without materializing
    them: TP = Σ_{c,e} C(n_ce,2), pred = Σ_c C(n_c,2), true = Σ_e C(n_e,2)."""
    joined = assignment.join(truth, "mention_id")

    def pair_sum(df: DataFrame, cols: list[str]) -> int:
        agg = df.groupBy(*cols).agg(F.count("*").alias("n"))
        row = agg.agg(F.sum(F.expr("n * (n - 1) / 2")).alias("p")).collect()[0]
        return int(row["p"] or 0)

    tp = pair_sum(joined, ["cluster_id", "entity_id"])
    pp = pair_sum(joined, ["cluster_id"])
    ap = pair_sum(joined, ["entity_id"])
    p = tp / pp if pp else 1.0
    r = tp / ap if ap else 1.0
    return PairwiseMetrics(p, r, _f1(p, r), tp, pp, ap)
