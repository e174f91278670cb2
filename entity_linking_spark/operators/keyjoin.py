"""The guarded key join: one bucket equi-join behind one over-cap guard.

Every sub-quadratic candidate generator in the engine is a key-bucket
join — MinHash, SimHash, n-gram and line buckets for dedup, sign-LSH
buckets for ANN — and every one needs the same scale guard: a bucket
holding too many ids would make the join quadratic (a 10^6-id bucket
emits 10^12 pairs), so buckets over ``max_bucket`` on either side are
dropped.  This module is the one place that guard is written; callers
verify and aggregate the raw pairs themselves.

INVERTED guard (VERDICT r04 #1): the broadcast side is the OVER-cap key
set, which is tiny by construction — at most |keys| / max_bucket keys
can exceed the cap (pigeonhole), so at 10^12 exploded keys and a 10^4
cap that is ≤ 10^8 bigints, and in practice orders of magnitude fewer.
Each stream anti-joins against it and never stops streaming.  The
UNDER-cap complement is O(ids × keys per id) keys: broadcasting it is a
forced corpus-sized broadcast that ignores autoBroadcastJoinThreshold
and OOMs at the target scale.  Requiring a key on both sides needs no
broadcast at all: the final inner join intersects the streams for free.
``scripts/explain_audit.py`` asserts this shape at every caller.

Blocking (``operators/blocking.py:candidate_pairs``) keeps its own
guard: its stop-key rule reads the entity side only, and its hot keys
are salted rather than dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_linking_spark.operators._cache import track


def _over_cap(keys: DataFrame, key: str, max_bucket: int) -> DataFrame:
    sizes = keys.groupBy(key).agg(F.count("*").alias("n"))
    return sizes.where(F.col("n") > max_bucket).select(key)


def guarded_key_join(
    left: DataFrame,
    right: DataFrame | None = None,
    *,
    max_bucket: int | None,
    key: str = "key",
) -> DataFrame:
    """(key, id_a, id_b) rows of the equi-join of two (id, key) streams.

    ``right=None`` is a self-join of ``left`` that keeps only
    ``id_a < id_b``; otherwise ``id_a`` comes from ``left`` and ``id_b``
    from ``right``, whose ids may live in another namespace.  Rows are
    not deduplicated: a pair sharing several keys appears once per key,
    and a duplicated (id, key) row repeats its pairs.  NULL keys never
    join.

    With ``max_bucket`` set, each input is persisted through the
    tracked-cache registry and materialized once (it feeds the bucket
    aggregation and the join; racing branches would otherwise recompute
    an expensive key expression), and every key whose bucket holds more
    than ``max_bucket`` rows on either side is dropped.  ``None`` turns
    the guard off: nothing is persisted and no bucket is dropped."""
    if max_bucket is not None:
        left = track(left)
        left.count()
        over = _over_cap(left, key, max_bucket)
        if right is not None:
            right = track(right)
            right.count()
            over = over.unionByName(_over_cap(right, key, max_bucket)).distinct()
        over = F.broadcast(over)
        left = left.join(over, key, "left_anti")
        if right is not None:
            right = right.join(over, key, "left_anti")
    a = left.select(key, F.col("id").alias("id_a"))
    b = (left if right is None else right).select(key, F.col("id").alias("id_b"))
    pairs = a.join(b, key)
    if right is None:
        pairs = pairs.where(F.col("id_a") < F.col("id_b"))
    return pairs
