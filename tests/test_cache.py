"""Tracked-cache lifecycle: operator-internal persists must not outlive
their query (VERDICT r02 finding #4 / ADVICE r02 — every
lsh_topk/dedup/blocking call used to leak MEMORY_AND_DISK frames for the
session lifetime)."""

from pyspark.sql import functions as F

from entity_linking_spark.operators._cache import cache_scope, release_cached, track


def _persisted_ids(spark) -> set[int]:
    """Ids of the session's persisted RDDs.  Tests compare id SETS, never
    counts: Spark's ContextCleaner may reclaim unreferenced persisted RDDs
    left by earlier tests (local checkpoints of connected-components
    rounds and clean_corpus stages) at any moment, which shifts a count
    baseline but never the ids a scope persisted itself."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _docs(spark):
    rows = [(i, f"tok{i}a tok{i}b tok{i}c tok{i}d") for i in range(20)]
    rows += [(i + 1000, rows[i][1]) for i in range(5)]  # planted dups
    return spark.createDataFrame(rows, "id long, text string")


def _emb(spark):
    rows = [(i, [float((i * 7 + j) % 13) + 1.0 for j in range(8)]) for i in range(30)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_back_to_back_operators_release_all_caches(spark):
    """Two operators run and collect inside one scope; after the scope
    exits, none of the RDDs persisted inside it is still persisted."""
    from entity_linking_spark.operators.ann import lsh_topk
    from entity_linking_spark.operators.dedup import minhash_lsh_pairs

    before = _persisted_ids(spark)
    emb = _emb(spark)
    q = emb.select((F.col("vec_id") + 100).alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    with cache_scope():
        assert len(lsh_topk(q, c, dim=8, k=2).collect()) > 0
        assert minhash_lsh_pairs(_docs(spark), "id", "text", shingle_k=2).count() == 5
        mine = _persisted_ids(spark) - before
        assert mine  # the caches actually engaged
    assert not mine & _persisted_ids(spark)


def test_nested_scopes_release_only_their_own(spark):
    before = _persisted_ids(spark)
    df = spark.range(10)
    with cache_scope():
        outer = track(df.select("id"))
        outer.count()
        outer_ids = _persisted_ids(spark) - before
        with cache_scope():
            inner = track(df.select((F.col("id") * 2).alias("id")))
            inner.count()
            inner_ids = _persisted_ids(spark) - before - outer_ids
            assert len(outer_ids) == 1 and len(inner_ids) == 1
        now = _persisted_ids(spark)
        assert outer_ids <= now and not inner_ids & now  # inner released
    assert not (outer_ids | inner_ids) & _persisted_ids(spark)


def test_release_cached_sweeps_everything(spark):
    # earlier test files may have tracked (and never released) operator
    # caches — sweep them first so the baseline is this test's own
    release_cached()
    before = _persisted_ids(spark)
    t1 = track(spark.range(5))
    t1.count()
    t2 = track(spark.range(7))
    t2.count()
    mine = _persisted_ids(spark) - before
    assert len(mine) == 2
    assert release_cached() >= 2
    assert not mine & _persisted_ids(spark)


def test_concurrent_scopes_are_thread_isolated(spark):
    """Registry is threading.local (ADVICE r03): concurrent cache_scope()
    blocks on different threads must not unpersist each other's frames —
    with the old module-global list, thread B's scope exit (position mark
    0) swept thread A's still-in-scope cache."""
    import threading

    release_cached()
    before = _persisted_ids(spark)
    owned = {}
    a_cached = threading.Event()
    b_done = threading.Event()
    errors = []

    def thread_a():
        try:
            with cache_scope():
                t = track(spark.range(50).select((F.col("id") % 5).alias("k")))
                t.count()
                owned["a"] = _persisted_ids(spark) - before
                a_cached.set()
                # B's whole scope opens and closes while A is mid-scope
                assert b_done.wait(30)
                # A's frame must still be persisted (not swept by B)
                assert t.storageLevel.useMemory or t.storageLevel.useDisk
                assert owned["a"] <= _persisted_ids(spark)
        except Exception as e:  # surfaced in the main thread below
            errors.append(e)
            a_cached.set()

    def thread_b():
        try:
            assert a_cached.wait(30)
            with cache_scope():
                t = track(spark.range(30).select((F.col("id") * 3).alias("v")))
                t.count()
                owned["b"] = _persisted_ids(spark) - before - owned["a"]
        except Exception as e:
            errors.append(e)
        finally:
            b_done.set()

    ta, tb = threading.Thread(target=thread_a), threading.Thread(target=thread_b)
    ta.start(); tb.start()
    ta.join(60); tb.join(60)
    assert not errors, errors
    assert owned["a"] and owned["b"]
    assert not (owned["a"] | owned["b"]) & _persisted_ids(spark)


def test_released_plan_still_computes(spark):
    """Unpersisting is never a correctness event — a plan whose cached
    parent was released recomputes."""
    with cache_scope():
        cached = track(spark.range(100).select((F.col("id") % 10).alias("k")))
        out = cached.groupBy("k").count()
    assert out.count() == 10  # evaluated AFTER the scope released `cached`
