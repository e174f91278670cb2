"""Approximate nearest neighbor over an embedding column.

- ``brute_force_topk``: exact cosine top-k — the correctness baseline and
  the reference's own retrieval semantics (full M×N scoring,
  src/eval_zeshel.py:44-49).  Cross join: only for small corpora / audits.
- ``lsh_topk``: random-hyperplane (sign) LSH — the scale path.  Vectors
  land in 2^num_planes buckets per table; queries probe their bucket in
  every table; candidates scored exactly, then per-query top-k.  Bucket
  signatures are computed in one Arrow pandas UDF with a seeded
  deterministic hyperplane matrix (same on every executor — derived from
  the seed, no broadcast state needed).

Scale contract (the engine's "never shuffle embeddings per pair" rule,
SCALE.md / operators/scoring.py):

1. Embeddings are packed to float32 BinaryType ONCE per side
   (functions/vector.py:pack_f32_udf) — after that no array<float>
   column exists in the plan.
2. The bucket join shuffles (id, bkey) pairs ONLY — the exploded key
   stream never carries the embedding, so the shuffled bytes are
   O(num_tables × id) instead of O(num_tables × dim) per vector.  The
   bkey itself is an xxhash64-folded bigint (fixed 8 B, not a string).
3. Candidate pairs re-attach the packed embeddings by two id-key joins
   (each ships each embedding at most once; Catalyst broadcasts the
   corpus side when it fits under autoBroadcastJoinThreshold), then one
   Arrow batch computes the exact cosines (frombuffer + einsum).

An explain_audit.py check asserts property 2: every hashpartitioning
exchange on the bucket key carries no embedding column.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from entity_linking_spark.functions.vector import (
    _packed_to_matrix,
    cosine,
    cosine_packed_udf,
    pack_f32_udf,
)
from entity_linking_spark.operators.keyjoin import guarded_key_join
from entity_linking_spark.operators.topk import top_k_per_group


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: queries(id, embedding) × corpus(id, embedding)."""
    q = queries.select(F.col(query_id).alias("query_id"), F.col("embedding").alias("q_emb"))
    c = corpus.select(F.col(corpus_id).alias("corpus_id"), F.col("embedding").alias("c_emb"))
    pairs = q.crossJoin(c)
    if exclude_self:
        pairs = pairs.where(F.col("query_id") != F.col("corpus_id"))
    scored = pairs.withColumn("cosine", cosine("q_emb", "c_emb"))
    return top_k_per_group(
        scored.select("query_id", "corpus_id", "cosine"),
        ["query_id"],
        "cosine",
        k,
        tiebreak_cols=["corpus_id"],
    )


def make_bucket_udf(dim: int, num_planes: int, num_tables: int, seed: int = 42):
    """array<long> of per-table sign-LSH bucket ids for an embedding col.

    Accepts EITHER a packed-float32 BinaryType column (preferred: one
    frombuffer per batch) or an array<float> column (legacy: per-row
    list materialization — see functions/vector.py:6-9 for why packed
    wins)."""
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((num_tables, num_planes, dim)).astype(np.float64)
    powers = (1 << np.arange(num_planes)).astype(np.int64)

    @pandas_udf(ArrayType(LongType()))
    def bucket_udf(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        first = next((x for x in emb if x is not None), None)
        if isinstance(first, (bytes, bytearray)):
            mat = _packed_to_matrix(emb)
        else:
            mat = np.array([np.asarray(x, dtype=np.float64) for x in emb])
        signs = np.einsum("tpd,nd->ntp", planes, mat) > 0
        buckets = signs @ powers  # (n, tables)
        return pd.Series(list(buckets.tolist()))

    return bucket_udf


def _pack_side(df: DataFrame, id_col: str, out_id: str, out_emb: str) -> DataFrame:
    """(id, packed-binary embedding), persisted via the tracked-cache
    registry (operators/_cache.py — callers or ``cache_scope`` release it;
    the r02 version leaked the cache for the session lifetime): consumed
    by both the bucket-key projection and the candidate re-attach join.
    At production scale this is a checkpointed stage table
    (sources/catalog.py) rather than an executor cache.

    Rows with a NULL embedding are dropped here — they cannot be bucketed
    or scored, and letting them through crashes the packed-batch decode
    (functions/vector.py:_packed_to_matrix, ADVICE r02)."""
    from entity_linking_spark.operators._cache import track

    packed = df.where(F.col("embedding").isNotNull()).select(
        F.col(id_col).alias(out_id), pack_f32_udf(F.col("embedding")).alias(out_emb)
    )
    return track(packed)


def _lsh_candidates(
    cp: DataFrame,
    bucket_udf,
    qp: DataFrame | None = None,
    exclude_self: bool = True,
    max_bucket: int | None = 100_000,
    multi_probe: bool = False,
    num_planes: int | None = None,
) -> DataFrame:
    """Distinct (query_id, corpus_id) candidates from the bucket equi-join.

    ONLY ids flow through the bkey shuffle — the packed embeddings stay
    behind in qp/cp and are re-attached after candidate dedup.  The
    (table, bucket) pair is folded to ONE xxhash64 long, so the exchange
    ships two fixed-width longs per row instead of an 8-20 B string key
    (VERDICT r02 finding #5).  A rare hash
    collision merely merges two buckets — extra candidates are scored
    exactly downstream, so recall is unaffected.

    Bucket-size guard (VERDICT r04 #3/#4): a degenerate corpus (many
    near-identical embeddings collapsing into one bucket) would make the
    bucket join quadratic, so buckets where EITHER side exceeds
    ``max_bucket`` are dropped by ``guarded_key_join``'s inverted
    over-cap guard.  Identical embeddings that common are an exact-dedup
    problem, not an ANN one.  ``max_bucket=None`` disables the guard.

    ``qp=None`` (embedding_dedup_pairs) self-joins the corpus: it is
    bucketed, cached and size-aggregated ONCE, and only pairs with
    query_id < corpus_id are returned.

    ``multi_probe=True`` (requires ``qp`` and ``num_planes``): each QUERY
    also probes the ``num_planes`` Hamming-distance-1 buckets of every
    table (bucket id XOR each single bit) — (1+num_planes)× query-side
    keys for a recall boost comparable to adding num_planes tables,
    without re-bucketing the corpus (the standard multi-probe LSH
    trade)."""
    if multi_probe and (qp is None or num_planes is None):
        raise ValueError("multi_probe requires qp and num_planes")
    bkey = F.xxhash64(F.col("table"), F.col("bucket")).alias("bkey")
    ck = cp.select(
        F.col("corpus_id").alias("id"),
        F.posexplode(bucket_udf(F.col("c_pemb"))).alias("table", "bucket"),
    ).select("id", bkey)
    if qp is None:
        pairs = guarded_key_join(ck, max_bucket=max_bucket, key="bkey")
    else:
        q_exploded = qp.select(
            F.col("query_id").alias("id"),
            F.posexplode(bucket_udf(F.col("q_pemb"))).alias("table", "bucket"),
        )
        if multi_probe:
            probes = F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << b).cast("long"))
                    for b in range(num_planes)
                ],
            )
            q_exploded = q_exploded.select(
                "id", "table", F.explode(probes).alias("bucket")
            )
        qk = q_exploded.select("id", bkey)
        pairs = guarded_key_join(qk, ck, max_bucket=max_bucket, key="bkey")
    cand = pairs.select(
        F.col("id_a").alias("query_id"), F.col("id_b").alias("corpus_id")
    )
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("corpus_id"))
    return cand.dropDuplicates(["query_id", "corpus_id"])


def _score_candidates(cand: DataFrame, qp: DataFrame, cp: DataFrame) -> DataFrame:
    """Attach packed embeddings to id pairs and compute exact cosine in
    one Arrow batch per partition."""
    return (
        cand.join(qp, "query_id")
        .join(cp, "corpus_id")
        .withColumn("cosine", cosine_packed_udf(F.col("q_pemb"), F.col("c_pemb")))
        .select("query_id", "corpus_id", "cosine")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    exclude_self: bool = True,
    max_bucket: int | None = 100_000,
    multi_probe: bool = False,
) -> DataFrame:
    """Sign-LSH bucketed cosine top-k (approximate; recall grows with
    num_tables, bucket size shrinks with num_planes; ``multi_probe``
    additionally probes all Hamming-1 buckets per table — see
    ``_lsh_candidates`` — and ``choose_lsh_params`` picks these knobs
    for a target recall).

    Recall contract of the ``max_bucket`` guard: buckets over the cap
    are DROPPED, not probed — neighbors reachable only through an
    over-cap bucket are not returned.  Over-cap buckets mean more than
    ``max_bucket`` vectors share every sign bit in some table: a
    near-duplicate mass of that size is exact/MinHash-dedup material by
    design, and ``choose_lsh_params`` screens out configs whose MEAN
    bucket load on EITHER side (corpus, or queries × probes under
    multi-probe) brushes the cap so its recall prediction stays
    honest.  ``max_bucket=None`` restores probe-everything semantics
    (and the quadratic-blowup risk).

    Physical plan: pack → id-only bucket join → candidate dedup →
    re-attach packed embeddings → exact cosine → per-query top-k.  See
    the module docstring for the scale contract."""
    bucket_udf = make_bucket_udf(dim, num_planes, num_tables, seed)
    qp = _pack_side(queries, query_id, "query_id", "q_pemb")
    cp = _pack_side(corpus, corpus_id, "corpus_id", "c_pemb")
    cand = _lsh_candidates(
        cp, bucket_udf, qp, exclude_self,
        max_bucket=max_bucket, multi_probe=multi_probe, num_planes=num_planes,
    )
    scored = _score_candidates(cand, qp, cp)
    return top_k_per_group(
        scored,
        ["query_id"],
        "cosine",
        k,
        tiebreak_cols=["corpus_id"],
    )


def _kmeans_fit(vectors: np.ndarray, k: int, iterations: int = 5) -> np.ndarray:
    """Deterministic Lloyd's k-means on a driver-side sample (the IVF
    coarse quantizer is k×dim — centroid count is small by design, so
    fitting on a bounded sample is the standard FAISS-style recipe).
    Init = first k distinct sample rows (sample order is deterministic);
    empty clusters keep their previous centroid."""
    uniq = np.unique(vectors, axis=0)
    if len(uniq) < k:
        k = max(len(uniq), 1)
    centroids = uniq[:k].astype(np.float64)
    for _ in range(iterations):
        d2 = ((vectors[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = vectors[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def _sample_embedding_matrix(corpus: DataFrame, corpus_id: str, n: int) -> np.ndarray:
    """THE bounded, order-deterministic driver-side sample — shared by
    the IVF quantizer fit and both recall choosers so the simulations
    see exactly the geometry the operator will (one recipe, one place):
    non-null embeddings ordered by xxhash64(id) (id tie-break for hash
    collisions), then limit(n).  orderBy+limit compiles to a distributed
    partial top-k (TakeOrderedAndProject), so the SAME rows arrive in the
    SAME order at any parallelism — the r02 version's bare ``limit``
    took whichever partitions answered first, which is stable on a local
    scan but not under cluster scheduling (VERDICT r02 finding #3), while
    the engine's north rule promises run-identical output.  Ordering by
    the id hash (not the id) also makes the sample an unbiased
    pseudo-random draw rather than the id-smallest prefix."""
    rows = (
        corpus.where(F.col("embedding").isNotNull())
        .select(F.col(corpus_id).alias("__cid"), "embedding")
        .orderBy(F.xxhash64(F.col("__cid")), F.col("__cid"))
        .limit(n)
        .toPandas()["embedding"]
    )
    return np.array([np.asarray(x, dtype=np.float64) for x in rows])


def _sample_unit_sims(mat: np.ndarray) -> np.ndarray:
    """Pairwise cosine matrix of the sample with the self-diagonal
    masked — the true-neighbor prep both choosers simulate against."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    unit = mat / norms
    sims = unit @ unit.T
    np.fill_diagonal(sims, -np.inf)
    return sims


def _fit_quantizer(
    corpus: DataFrame,
    corpus_id: str,
    num_centroids: int,
    train_sample: int,
    kmeans_iterations: int,
) -> np.ndarray:
    """Fit the IVF coarse quantizer on the shared order-deterministic
    sample (``_sample_embedding_matrix``)."""
    vecs = _sample_embedding_matrix(corpus, corpus_id, train_sample)
    if len(vecs) == 0:
        raise ValueError("ivf_topk: empty corpus (cannot fit the coarse quantizer)")
    return _kmeans_fit(vecs, num_centroids, kmeans_iterations)


def _make_ivf_assign_udf(centroids: np.ndarray, nprobe: int):
    """array<int> of the nprobe nearest centroid ids for a packed-binary
    or array<float> embedding column (batch: one distance matrix)."""
    cent = centroids.astype(np.float64)

    @pandas_udf(ArrayType(LongType()))
    def assign_udf(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        first = next((x for x in emb if x is not None), None)
        if isinstance(first, (bytes, bytearray)):
            mat = _packed_to_matrix(emb)
        else:
            mat = np.array([np.asarray(x, dtype=np.float64) for x in emb])
        # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
        scores = mat @ cent.T - 0.5 * (cent**2).sum(axis=1)[None, :]
        top = np.argsort(-scores, axis=1)[:, :nprobe]
        return pd.Series(list(top.tolist()))

    return assign_udf


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 2,
    train_sample: int = 10_000,
    kmeans_iterations: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF (inverted-file) ANN — the k-means-bucketed alternative to
    ``lsh_topk``: corpus vectors land in their nearest-centroid list,
    queries probe their ``nprobe`` nearest lists, candidates are scored
    exactly.  Identical vectors always share the nearest centroid, so
    the planted-duplicate oracle construction transfers from LSH.

    Same scale contract as lsh_topk: the centroid-list join shuffles
    (id, centroid) pairs only; packed-binary embeddings re-attach to the
    candidate pairs by id.  The coarse quantizer is fit on a bounded,
    ORDER-DETERMINISTIC driver-side sample (see ``_fit_quantizer``) —
    k×dim floats broadcast to every task, no iterative Spark job."""
    centroids = _fit_quantizer(
        corpus, corpus_id, num_centroids, train_sample, kmeans_iterations
    )

    qp = _pack_side(queries, query_id, "query_id", "q_pemb")
    cp = _pack_side(corpus, corpus_id, "corpus_id", "c_pemb")
    probe_udf = _make_ivf_assign_udf(centroids, nprobe)
    home_udf = _make_ivf_assign_udf(centroids, 1)
    qk = qp.select(
        "query_id", F.explode(probe_udf(F.col("q_pemb"))).alias("centroid")
    )
    ck = cp.select(
        "corpus_id", F.explode(home_udf(F.col("c_pemb"))).alias("centroid")
    )
    cand = qk.join(ck, "centroid").select("query_id", "corpus_id")
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("corpus_id"))
    cand = cand.dropDuplicates(["query_id", "corpus_id"])
    scored = _score_candidates(cand, qp, cp)
    return top_k_per_group(
        scored, ["query_id"], "cosine", k, tiebreak_cols=["corpus_id"]
    )


def embedding_dedup_pairs(
    df: DataFrame,
    id_col: str,
    threshold: float = 0.95,
    dim: int = 64,
    num_planes: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets (id_a < id_b).

    Dedup semantics need a THRESHOLD, not a rank: every bucketed pair
    with cosine ≥ threshold is emitted, so a duplicate group of any size
    yields all its intra-bucket pairs (no silent top-k cap — a >50-member
    group previously lost pairs to the k=50 rank cut)."""
    bucket_udf = make_bucket_udf(dim, num_planes, num_tables, seed)
    qp = _pack_side(df, id_col, "query_id", "q_pemb")
    cp = qp.select(
        F.col("query_id").alias("corpus_id"), F.col("q_pemb").alias("c_pemb")
    )
    cand = _lsh_candidates(cp, bucket_udf, max_bucket=max_bucket)
    scored = _score_candidates(cand, qp, cp)
    return scored.where(F.col("cosine") >= threshold).select(
        F.col("query_id").alias("id_a"),
        F.col("corpus_id").alias("id_b"),
        "cosine",
    )


def _predicted_lsh_recall(
    angles: np.ndarray, num_planes: int, num_tables: int, multi_probe: bool
) -> float:
    """Closed-form sign-LSH recall prediction for true-neighbor pairs at
    the given angles (radians): per-hyperplane agreement p = 1 - θ/π,
    per-table collision p^b (plus the b Hamming-1 probe buckets,
    b·p^(b-1)·(1-p), when multi-probing), any-table hit
    1 - (1 - p_table)^T, averaged over the angle sample."""
    p = np.clip(1.0 - angles / np.pi, 0.0, 1.0)
    p_table = p**num_planes
    if multi_probe:
        p_table = p_table + num_planes * p ** (num_planes - 1) * (1.0 - p)
    return float(np.mean(1.0 - (1.0 - np.clip(p_table, 0.0, 1.0)) ** num_tables))


def choose_lsh_params(
    corpus: DataFrame,
    k: int = 10,
    target_recall: float = 0.9,
    corpus_id: str = "corpus_id",
    sample: int = 512,
    planes_grid: tuple = (4, 6, 8, 10, 12),
    max_tables: int = 64,
    allow_multi_probe: bool = True,
    max_bucket: int | None = 100_000,
    n_queries: int | None = None,
) -> dict:
    """Pick (num_planes, num_tables, multi_probe) for ``lsh_topk`` to hit
    a TARGET recall@k on THIS corpus (VERDICT r04 #2: the defaults gave a
    silent 0.36 recall on a near-uniform corpus with no knob pointed at
    recall — the reference's entire published result is a recall table,
    src/eval_zeshel.py:46-53 / src/generate_plots.py:8-10).

    Method: a bounded, order-deterministic driver-side sample (the
    ``_fit_quantizer`` recipe — orderBy(xxhash64(id)), limit) estimates
    the angle distribution of TRUE top-k neighbor pairs; the sign-LSH
    collision probability is then closed-form per (planes, tables,
    multi_probe), so the grid is searched analytically — no Spark jobs
    beyond the one sample scan.  Among configs whose predicted recall
    meets the target, the one with the least predicted candidate work
    (∝ tables · probes / 2^planes per corpus vector) wins; if none
    reaches the target (pathologically uniform corpora), the
    max-predicted-recall config is returned with ``met_target=False`` —
    the honest fallback is ``brute_force_topk`` or IVF with high nprobe.

    The prediction must respect ``lsh_topk``'s bucket-size guard
    (``max_bucket``, same default): the closed form assumes every
    colliding bucket is probed, but the guard anti-joins buckets where
    EITHER side exceeds the cap, so a config whose MEAN per-bucket load
    approaches it would silently shed exactly the buckets carrying the
    recall.  Both sides are screened (one extra count() job): corpus
    load = |embedded corpus| / 2^planes, and query load = |queries| ×
    probes / 2^planes — multi-probing multiplies the query-side keys by
    (1 + planes), which is what makes a corpus-scale query set (all-pairs
    top-k) overflow buckets the corpus alone would not.  ``n_queries``
    defaults to the corpus size (the self-retrieval shape); pass the real
    query count for asymmetric workloads.  Configs whose max side load >
    ``max_bucket``/4 are excluded from the grid; the remaining caveat —
    a single near-duplicate mass bigger than the cap collapses into one
    over-cap bucket at EVERY plane count — is an exact/MinHash-dedup
    problem by the guard's own contract, not a knob the chooser can fix,
    and is documented on ``lsh_topk``.

    Returns {"num_planes", "num_tables", "multi_probe",
    "predicted_recall", "met_target"} — splat the first three into
    ``lsh_topk(**params)``.  The closed-form prediction is a population
    estimate over random hyperplanes, so it is independent of
    ``lsh_topk``'s seed (and of dim — the sample carries it); neither is
    a parameter here."""
    corpus_rows = (
        corpus.where(F.col("embedding").isNotNull()).count()
        if max_bucket is not None
        else 0
    )
    q_rows = n_queries if n_queries is not None else corpus_rows
    mat = _sample_embedding_matrix(corpus, corpus_id, sample)
    if len(mat) < 2:
        raise ValueError("choose_lsh_params: need ≥2 non-null embeddings")
    sims = _sample_unit_sims(mat)
    kk = min(k, len(mat) - 1)
    # top-k cosine per sample row → the angle distribution the tables
    # must recover; sample-vs-sample top-k is a stand-in for
    # sample-vs-corpus (angles of true neighbors shift only mildly with
    # corpus size for the purpose of choosing integer knobs)
    top = np.sort(sims, axis=1)[:, -kk:]
    angles = np.arccos(np.clip(top, -1.0, 1.0)).ravel()

    best, best_cost = None, None
    fallback, fallback_recall = None, -1.0
    for planes in planes_grid:
        for mp in ((False, True) if allow_multi_probe else (False,)):
            probes = 1 + planes if mp else 1
            side_load = max(corpus_rows, q_rows * probes)
            if max_bucket is not None and side_load / 2.0**planes > max_bucket / 4:
                continue  # a side's mean bucket load would brush the guard cap
            for tables in range(1, max_tables + 1):
                r = _predicted_lsh_recall(angles, planes, tables, mp)
                if r > fallback_recall:
                    fallback_recall = r
                    fallback = (planes, tables, mp, r)
                if r >= target_recall:
                    cost = tables * probes / float(2**planes)
                    if best_cost is None or cost < best_cost:
                        best_cost = cost
                        best = (planes, tables, mp, r)
                    break  # more tables only cost more at same planes/mp
    if best is None and fallback is None:
        # every plane count failed the bucket-load screen (corpus far
        # bigger than max_bucket · 2^max(planes_grid)): return the
        # finest granularity available, honestly not met — the caller
        # needs a wider planes_grid (or IVF) at this scale
        planes = max(planes_grid)
        fallback = (
            planes, max_tables, allow_multi_probe,
            _predicted_lsh_recall(angles, planes, max_tables, allow_multi_probe),
        )
    met = best is not None
    planes, tables, mp, r = best if met else fallback
    return {
        "num_planes": planes,
        "num_tables": tables,
        "multi_probe": mp,
        "predicted_recall": round(r, 4),
        "met_target": met,
    }


def choose_ivf_params(
    corpus: DataFrame,
    k: int = 10,
    target_recall: float = 0.9,
    corpus_id: str = "corpus_id",
    sample: int = 512,
    centroid_grid: tuple = (8, 16, 32, 64),
    kmeans_iterations: int = 5,
    max_nprobe: int | None = None,
    margin: float = 0.05,
) -> dict:
    """Pick (num_centroids, nprobe) for ``ivf_topk`` to hit a TARGET
    recall@k on THIS corpus — the IVF twin of ``choose_lsh_params``
    (VERDICT r04 #3 asked for a recall POLICY, not one point; the bench
    default ivf config scored 0.56@10 on the uniform corpus with no knob
    aimed at recall).

    Method: the same bounded, order-deterministic driver-side sample
    recipe (orderBy(xxhash64(id)), limit); true top-k neighbor pairs are
    computed exactly on the sample, a quantizer is fit per grid entry
    with the operator's own ``_kmeans_fit``, and recall is SIMULATED
    empirically — a true neighbor is recovered iff its HOME (nearest)
    centroid ranks within the query's ``nprobe`` nearest centroids,
    which is exactly ``ivf_topk``'s candidate rule.  No closed form is
    needed (unlike sign-LSH) because the whole simulation is a couple of
    sample-sized matmuls on the driver.  Among configs meeting the
    target, least predicted candidate work (∝ nprobe / num_centroids of
    the corpus per query, uniform-list approximation) wins, larger
    centroid counts breaking ties (smaller lists shuffle less); if none
    meets it, the max-recall config is returned with
    ``met_target=False`` — the honest fallback is ``brute_force_topk``.

    ``margin`` guards the simulation-vs-operator gap: the chooser fits
    k-means on its ``sample`` rows while ``ivf_topk`` fits on up to
    ``train_sample`` (default 10k) corpus rows, so the simulated cell
    geometry is mildly optimistic (measured: −0.03 recall on the bench's
    near-uniform corpus).  A config counts as meeting the target only
    when its simulated recall reaches ``min(target + margin, 1.0)`` —
    the cap keeps probe-everything (recall exactly 1.0 by construction)
    classed as met for any target.

    Returns {"num_centroids", "nprobe", "predicted_recall",
    "met_target"} — splat the first two into ``ivf_topk(**params)``;
    ``predicted_recall`` is the raw simulated value (pre-margin)."""
    mat = _sample_embedding_matrix(corpus, corpus_id, sample)
    n = len(mat)
    if n < 2:
        raise ValueError("choose_ivf_params: need ≥2 non-null embeddings")
    sims = _sample_unit_sims(mat)
    kk = min(k, n - 1)
    nbr_idx = np.argsort(-sims, axis=1)[:, :kk]  # true top-k per sample row

    best, best_cost = None, None
    fallback, fb_recall = None, -1.0
    eff_target = min(target_recall + margin, 1.0)
    row_ix = np.arange(n)[:, None]
    for nc in centroid_grid:
        cents = _kmeans_fit(mat, nc, kmeans_iterations)
        nc_eff = len(cents)
        # the operator's own assignment score: x·c − ||c||²/2
        score = mat @ cents.T - 0.5 * (cents**2).sum(axis=1)[None, :]
        order = np.argsort(-score, axis=1)  # per-row centroid ranking
        rank_of = np.empty_like(order)
        rank_of[row_ix, order] = np.arange(nc_eff)[None, :]
        home = order[:, 0]
        nbr_rank = rank_of[row_ix, home[nbr_idx]]  # neighbor-home rank per pair
        # probing EVERY list is brute force with extra steps — recall at
        # nprobe=nc is 1.0 by construction, so without a work bound the
        # target is always "met"; max_nprobe caps the candidate budget a
        # caller is willing to pay and makes met_target=False reachable
        probe_cap = min(nc_eff, max_nprobe) if max_nprobe else nc_eff
        for nprobe in range(1, probe_cap + 1):
            r = float((nbr_rank < nprobe).mean())
            better_fb = (r, nc_eff) > (fb_recall, fallback[0] if fallback else 0)
            if better_fb:
                fb_recall, fallback = r, (nc_eff, nprobe, r)
            if r >= eff_target:
                cost = nprobe / float(nc_eff)
                if (
                    best_cost is None
                    or cost < best_cost
                    or (cost == best_cost and nc_eff > best[0])
                ):
                    best_cost, best = cost, (nc_eff, nprobe, r)
                break  # larger nprobe at this nc only costs more
    met = best is not None
    nc, nprobe, r = best if met else fallback
    return {
        "num_centroids": nc,
        "nprobe": nprobe,
        "predicted_recall": round(r, 4),
        "met_target": met,
    }
