"""Transitive clustering: hybrid large-star / small-star connected components.

The reference has no graph stage (mention→entity assignment is a per-row
argmax, src/eval_zeshel.py:48-50); transitive clustering over the
match-edge DataFrame is a north-rule addition.  Algorithm: alternating
large-star / small-star rounds (Kiveris et al., "Connected Components in
MapReduce and Beyond") — converges in O(log n) rounds on pathological
chains, each round two shuffles (groupBy node + join back) — with a
driver-local finish once the edge set is small (the working-set switch
of "Hybrid Evaluation for Distributed Iterative Matrix Computation",
SIGMOD 2021, PAPERS.md).

Engineering notes (SURVEY.md §4.3):
- The input is cut once (``localCheckpoint``) as its distinct canonical
  (larger, smaller) pairs, self-pairs kept so the cut holds every node:
  the edge set and the node set both read that cut, so the upstream
  plan (top-1 edges, the MinHash-LSH pair join) runs exactly once.
- Catalyst cannot express fixpoints → a driver loop with per-round
  ``localCheckpoint()`` to cut lineage (otherwise the plan doubles each
  round and the optimizer chokes by iteration ~10).
- Convergence test: deterministic edge-set checksum (count + xor of
  xxhash64), observed by each checkpoint's own job — no extra job, no
  expensive except/subtract.  Its count also picks the strategy: at or
  under ``_LOCAL_MAX_EDGES`` edges the set is collected with
  ``toArrow()`` and finished by a numpy union-find, so a small graph
  pays no distributed round at all, and a large one hands off as soon
  as a round shrinks it under the bound.
- Node ids keep their type: strings stay strings (collision-free at any
  scale; hashing to 64-bit ints would birthday-collide near 10^10
  nodes).  The driver finish maps ids to a dense index over the SORTED
  distinct ids, so the minimum index of a component is its minimum id in
  Spark's order (UTF-8 byte order for strings, numeric for integers).
- Exceeding ``max_iterations`` raises instead of returning a half-merged
  assignment.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Edge count at or under which the edge set is finished on the driver.
# 2M random 10-char string-id edges: 56 MB of Arrow, 4.7 s to sort and
# index the ids and 0.9 s of union-find, on one core.
_LOCAL_MAX_EDGES = 2_000_000


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u})."""
    nbrs = _symmetrize(edges)
    mins = nbrs.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        nbrs.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Point every edge from its larger endpoint; connect each smaller
    neighbor (and the node itself) to the minimum neighbor."""
    canon = _canonical(edges)
    mins = canon.groupBy("src").agg(F.min("dst").alias("m"))
    to_min = (
        canon.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edge = mins.select("src", F.col("m").alias("dst"))
    return to_min.union(self_edge).where(F.col("src") != F.col("dst")).distinct()


def _canonical(edges: DataFrame) -> DataFrame:
    """(larger, smaller) per edge, self-loops dropped.  NULL-free when
    ``edges`` pairs NULL only with NULL (``NULL != NULL`` is not true)."""
    return edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))


def _pairs(edges: DataFrame) -> DataFrame:
    """(larger, smaller) per input edge, self-loops kept, so every node of
    ``edges`` appears in the result.  An edge with a NULL endpoint links
    nothing (Spark's ``greatest``/``least`` skip NULL): it becomes the
    self-pairs (src, src) and (dst, dst), so NULL is paired only with
    NULL."""
    src, dst = F.col("src"), F.col("dst")
    return edges.select(
        F.inline(
            F.when(
                src.isNull() | dst.isNull(),
                F.array(
                    F.struct(src.alias("src"), src.alias("dst")),
                    F.struct(dst.alias("src"), dst.alias("dst")),
                ),
            ).otherwise(
                F.array(
                    F.struct(
                        F.greatest(src, dst).alias("src"),
                        F.least(src, dst).alias("dst"),
                    )
                )
            )
        )
    )


def _cut(edges: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """``localCheckpoint`` of the distinct ``edges``, and their checksum
    (count, xor of xxhash64) observed by the checkpoint job itself, so
    no extra job collects it.  bit_xor is order-insensitive and
    overflow-free (edges are distinct, so xor cancellation of duplicate
    rows cannot occur); ANSI-safe."""
    obs = Observation()
    cut = edges.observe(
        obs,
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).localCheckpoint()
    m = obs.get
    return cut, (int(m["n"]), int(m["h"]))


def _component_min_index(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """root[i] = smallest node index connected to i.  Union-find with
    min-hooking and full pointer jumping: every pass hooks each edge's
    larger root under its smaller one, then jumps pointers until every
    tree is a star.  parent[i] <= i throughout, so a root is the minimum
    of its tree."""
    parent = np.arange(n, dtype=np.int64)
    while True:
        ps, pd = parent[src], parent[dst]
        split = ps != pd
        if not split.any():
            return parent
        np.minimum.at(
            parent, np.maximum(ps, pd)[split], np.minimum(ps, pd)[split]
        )
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand


def _finish_on_driver(pairs: DataFrame) -> DataFrame:
    """(node, cluster_id) for every node of ``pairs`` (NULL paired only
    with NULL), computed on the driver; cluster_id is the component-min
    id."""
    table = pairs.toArrow()
    ids = pa.chunked_array(
        table["src"].chunks + table["dst"].chunks, type=table.schema.field("src").type
    )
    # Arrow sorts strings by bytes and integers numerically (Spark's
    # order), NULL last; NULL is a node of its own, linked to nothing.
    uniq = pc.unique(ids)
    uniq = uniq.take(pc.sort_indices(uniq))
    src, dst = (
        pc.index_in(table[c], value_set=uniq, skip_nulls=False).to_numpy()
        for c in ("src", "dst")
    )
    root = _component_min_index(src, dst, len(uniq))
    id_type = pairs.schema["src"].dataType
    schema = StructType(
        [StructField("node", id_type), StructField("cluster_id", id_type)]
    )
    return pairs.sparkSession.createDataFrame(
        pa.table({"node": uniq, "cluster_id": uniq.take(root)}), schema
    )


def connected_components(edges: DataFrame, max_iterations: int = 50) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``edges``; cluster_id
    is the minimum node id of the component (FIXTURES.md §5 convention:
    lexicographic for string ids).  A node seen only on self-loops is its
    own cluster; a NULL endpoint yields a (NULL, NULL) row and links
    nothing.  Raises ``RuntimeError`` if ``max_iterations`` distributed
    rounds end before a fixpoint."""
    # The one cut of the input: distinct canonical pairs, which carry
    # every node, so the upstream plan runs once.
    pairs, (n, h) = _cut(_pairs(edges.select("src", "dst")).distinct())
    if n <= _LOCAL_MAX_EDGES:
        return _finish_on_driver(pairs)

    cur = _canonical(pairs)
    rounds = 0
    while n > _LOCAL_MAX_EDGES:
        if rounds == max_iterations:
            raise RuntimeError(
                f"connected_components: no fixpoint after {max_iterations} "
                f"rounds ({n} edges left)"
            )
        prev = (n, h)
        cur, (n, h) = _cut(_small_star(_large_star(cur)))
        rounds += 1
        if (n, h) == prev:
            # At fixpoint every edge is (node, component-min); roots are
            # added below with the isolated nodes.
            assign = cur.select(
                F.col("src").alias("node"), F.col("dst").alias("cluster_id")
            )
            break
    else:
        assign = _finish_on_driver(cur)

    all_nodes = (
        pairs.select(F.col("src").alias("node"))
        .union(pairs.select(F.col("dst").alias("node")))
        .distinct()
    )
    rest = all_nodes.join(assign.select("node"), "node", "left_anti")
    return assign.union(rest.select("node", F.col("node").alias("cluster_id")))
