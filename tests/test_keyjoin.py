"""guarded_key_join against a pure-Python oracle over random (id, key)
streams: self-joins and bipartite joins, caps that drop buckets and caps
that drop none, no cap, duplicate rows, NULL keys and empty sides."""

import random
from collections import Counter

import pytest

from entity_linking_spark.operators._cache import _tracked, cache_scope
from entity_linking_spark.operators.keyjoin import guarded_key_join

_SCHEMA = "id long, key long"


def _stream(rng, n, n_ids, n_keys):
    """Random (id, key) rows with repeats and ~10% NULL keys."""
    return [
        (rng.randrange(n_ids), None if rng.random() < 0.1 else rng.randrange(n_keys))
        for _ in range(n)
    ]


def _over_cap(rows, cap):
    return {k for k, n in Counter(k for _, k in rows).items() if n > cap}


def _oracle(left, right, cap):
    """Multiset of (key, id_a, id_b): every pair of rows sharing a
    non-NULL key whose bucket is within the cap on both sides; a
    self-join keeps id_a < id_b."""
    over = set()
    if cap is not None:
        over = _over_cap(left, cap) | _over_cap(right or [], cap)
    other = left if right is None else right
    return Counter(
        (ka, ia, ib)
        for ia, ka in left
        if ka is not None and ka not in over
        for ib, kb in other
        if kb == ka and (right is not None or ia < ib)
    )


def _run(spark, left, right, cap):
    l_df = spark.createDataFrame(left, _SCHEMA)
    r_df = None if right is None else spark.createDataFrame(right, _SCHEMA)
    with cache_scope():
        rows = guarded_key_join(l_df, r_df, max_bucket=cap).collect()
    return Counter((r["key"], r["id_a"], r["id_b"]) for r in rows)


@pytest.mark.parametrize("seed", [1, 2])
@pytest.mark.parametrize("bipartite", [False, True])
def test_guarded_key_join_matches_oracle(spark, seed, bipartite):
    rng = random.Random(seed)
    left = _stream(rng, 60, 25, 8)
    right = _stream(rng, 40, 20, 8) if bipartite else None
    sides = [left, right] if bipartite else [left]
    assert len(set(left)) < len(left)  # duplicate (id, key) rows present
    for cap in (None, 8, 1000):
        over = set().union(*(_over_cap(s, cap) for s in sides)) if cap else set()
        if cap == 8:
            assert over - {None}, "the small cap must drop a bucket"
        if cap == 1000:
            assert not over
        assert _run(spark, left, right, cap) == _oracle(left, right, cap), cap


@pytest.mark.parametrize("cap", [None, 2])
def test_guarded_key_join_empty_side(spark, cap):
    rows = [(1, 7), (2, 7), (3, None)]
    assert _run(spark, [], None, cap) == Counter()
    assert _run(spark, rows, [], cap) == Counter()
    assert _run(spark, [], rows, cap) == Counter()


def test_guarded_key_join_persists_only_when_guarding(spark):
    df = spark.createDataFrame([(1, 7), (2, 7)], _SCHEMA)
    with cache_scope():
        n = len(_tracked())
        guarded_key_join(df, max_bucket=None)
        assert len(_tracked()) == n
        guarded_key_join(df, df, max_bucket=5)
        assert len(_tracked()) == n + 2
