"""Blocking recall vs the exhaustive cross-join oracle
(reference src/eval_zeshel.py:44 is the oracle's semantics)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from entity_linking_spark.fixtures import fixture_dataframes, generate_fixture
from entity_linking_spark.functions.text import normalize_text
from entity_linking_spark.operators.blocking import (
    BlockingConfig,
    blocking_keys,
    blocking_recall,
    candidate_pairs,
    exhaustive_pairs,
)


@pytest.fixture(scope="module")
def fixture_dfs(spark):
    fx = generate_fixture(num_pages=60, num_entities=30, seed=42)
    return fixture_dataframes(spark, fx)


def _keys(spark, fixture_dfs, conf):
    pages, mentions, entities, _ = fixture_dfs
    m = mentions.select("mention_id", normalize_text("surface").alias("s"))
    e = entities.select("entity_id", normalize_text("title").alias("s"))
    mk = blocking_keys(m, "mention_id", "s", conf)
    ek = blocking_keys(e, "entity_id", "s", conf)
    return mk, ek


def test_blocking_recall_is_total_on_fixture(spark, fixture_dfs):
    _, mentions, _, _ = fixture_dfs
    conf = BlockingConfig()
    mk, ek = _keys(spark, fixture_dfs, conf)
    pairs = candidate_pairs(mk, ek, conf)
    truth = mentions.select("mention_id", "entity_id")
    assert blocking_recall(pairs, truth) >= 0.99


def test_candidates_are_subset_of_exhaustive(spark, fixture_dfs):
    _, mentions, entities, _ = fixture_dfs
    conf = BlockingConfig()
    mk, ek = _keys(spark, fixture_dfs, conf)
    pairs = candidate_pairs(mk, ek, conf)
    exh = exhaustive_pairs(mentions, entities)
    assert pairs.join(exh, ["mention_id", "entity_id"], "left_anti").count() == 0
    # and is meaningfully sub-quadratic
    assert pairs.count() < exh.count() * 0.5


def test_null_surface_rows_still_generate_candidates(spark):
    """Records whose surface/title is NULL (dirty web data) must not be
    silently excluded from blocking: they share the NULL→"" sentinel
    gram, so a NULL-surface mention still pairs with a NULL-title
    entity.  Regression for the r5 zip_with rewrite, whose NULL gram
    arrays exploded to zero key rows."""
    m = spark.createDataFrame(
        [(1, None), (2, "acme corp")], "mention_id long, s string"
    )
    e = spark.createDataFrame(
        [(10, None), (20, "acme corp")], "entity_id long, s string"
    )
    conf = BlockingConfig()
    mk = blocking_keys(m, "mention_id", "s", conf)
    ek = blocking_keys(e, "entity_id", "s", conf)
    got = {
        (r["mention_id"], r["entity_id"])
        for r in candidate_pairs(mk, ek, conf).collect()
    }
    assert (1, 10) in got
    assert (2, 20) in got


def test_salting_does_not_change_pair_set(spark, fixture_dfs):
    """Explicit hot-key salting is a pure physical rewrite: with
    hot_threshold=0 every key goes down the salted path and the logical
    pair set must be identical."""
    base = BlockingConfig(hot_threshold=10**9)     # nothing salted
    salted = BlockingConfig(hot_threshold=0)       # everything salted
    mk, ek = _keys(spark, fixture_dfs, base)
    p1 = candidate_pairs(mk, ek, base).select("mention_id", "entity_id")
    p2 = candidate_pairs(mk, ek, salted).select("mention_id", "entity_id")
    assert p1.exceptAll(p2).count() == 0
    assert p2.exceptAll(p1).count() == 0


def test_entity_heavy_skew_triggers_salting(spark):
    """A key with FEW mentions but MANY entities must still take the
    salted path (ADVICE r01: the old trigger watched the mention side
    only) and the pair set must equal the plain join's."""
    m = spark.createDataFrame(
        [(f"m{i}", "zzzz qqqq") for i in range(3)], "mention_id string, s string"
    )
    e = spark.createDataFrame(
        [(f"e{i}", "zzzz qqqq") for i in range(40)], "entity_id string, s string"
    )
    # entity freq per key ≈ 40 > threshold 20; mention freq 3 < 20
    conf = BlockingConfig(hot_threshold=20, num_salts=4, max_key_freq=None)
    plain = BlockingConfig(hot_threshold=10**9, max_key_freq=None)
    mk = blocking_keys(m, "mention_id", "s", conf)
    ek = blocking_keys(e, "entity_id", "s", conf)
    p_salted = candidate_pairs(mk, ek, conf).select("mention_id", "entity_id")
    p_plain = candidate_pairs(mk, ek, plain).select("mention_id", "entity_id")
    assert p_salted.count() == 3 * 40
    assert p_salted.exceptAll(p_plain).count() == 0
    assert p_plain.exceptAll(p_salted).count() == 0


def test_mixed_skew_both_salted_branches(spark):
    """One mention-heavy key and one entity-heavy key in the same run:
    both salted branches fire and the union equals the plain pair set."""
    m = spark.createDataFrame(
        [(f"m{i}", "aaaa bbbb") for i in range(30)]
        + [(f"n{i}", "cccc dddd") for i in range(2)],
        "mention_id string, s string",
    )
    e = spark.createDataFrame(
        [(f"e{i}", "aaaa bbbb") for i in range(2)]
        + [(f"f{i}", "cccc dddd") for i in range(30)],
        "entity_id string, s string",
    )
    conf = BlockingConfig(hot_threshold=10, num_salts=4, max_key_freq=None)
    plain = BlockingConfig(hot_threshold=10**9, max_key_freq=None)
    mk = blocking_keys(m, "mention_id", "s", conf)
    ek = blocking_keys(e, "entity_id", "s", conf)
    p_salted = candidate_pairs(mk, ek, conf).select("mention_id", "entity_id")
    p_plain = candidate_pairs(mk, ek, plain).select("mention_id", "entity_id")
    assert p_salted.exceptAll(p_plain).count() == 0
    assert p_plain.exceptAll(p_salted).count() == 0
    assert p_salted.count() == 30 * 2 + 2 * 30


def test_stage_table_hot_key_mode_pair_parity(spark, tmp_path):
    """catalog-backed hot-key classification (VERDICT r03 #9): the pair
    set must equal the no-catalog one on a mixed-skew input (both
    salted branches live), the key_stats stage must be reused on rerun
    (snapshot unchanged), and neither plan may contain a LocalTableScan
    (the signature of driver-collected hot keys)."""
    from entity_linking_spark.sources.catalog import Catalog

    m = spark.createDataFrame(
        [(f"m{i}", "aaaa bbbb") for i in range(30)]
        + [(f"n{i}", "cccc dddd") for i in range(2)],
        "mention_id string, s string",
    )
    e = spark.createDataFrame(
        [(f"e{i}", "aaaa bbbb") for i in range(2)]
        + [(f"f{i}", "cccc dddd") for i in range(30)],
        "entity_id string, s string",
    )
    conf = BlockingConfig(hot_threshold=10, num_salts=4, max_key_freq=None)
    mk = blocking_keys(m, "mention_id", "s", conf)
    ek = blocking_keys(e, "entity_id", "s", conf)
    cat = Catalog(spark, str(tmp_path / "stages"))

    p_stage = candidate_pairs(mk, ek, conf, catalog=cat)
    p_inline = candidate_pairs(mk, ek, conf)
    a = p_stage.select("mention_id", "entity_id")
    b = p_inline.select("mention_id", "entity_id")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() == 30 * 2 + 2 * 30

    # no driver-collected hot keys in either plan: collected key lists
    # re-enter a plan as driver-local relations (LocalTableScan / Scan
    # ExistingRDD[key...]); the stage mode reads key_stats from the
    # parquet stage, the no-catalog mode aggregates it inline
    plan = _executed_plan(p_stage)
    assert "LocalTableScan" not in plan and "ExistingRDD[key" not in plan
    assert "blocking_key_stats" in plan or "Parquet" in plan
    inline_plan = _executed_plan(p_inline)
    assert "LocalTableScan" not in inline_plan and "ExistingRDD[key" not in inline_plan

    # rerun reuses the stage: snapshot unchanged
    snap = cat.snapshot_id("blocking_key_stats")
    p_again = candidate_pairs(mk, ek, conf, catalog=cat)
    assert p_again.select("mention_id", "entity_id").exceptAll(a).count() == 0
    assert cat.snapshot_id("blocking_key_stats") == snap


def test_stop_key_cap_drops_hot_keys(spark):
    m = spark.createDataFrame(
        [(f"m{i}", "aaaa bbbb") for i in range(5)], "mention_id string, s string"
    )
    e = spark.createDataFrame(
        [(f"e{i}", "aaaa bbbb") for i in range(50)], "entity_id string, s string"
    )
    conf = BlockingConfig(max_key_freq=10)
    from entity_linking_spark.operators.blocking import blocking_keys as bk

    pairs = candidate_pairs(
        bk(m, "mention_id", "s", conf), bk(e, "entity_id", "s", conf), conf
    )
    assert pairs.count() == 0  # every key exceeds the stop-key cap


def test_stop_key_rule_reads_entity_side_only(spark, tmp_path):
    """The stop-key cap is asymmetric: only the ENTITY-side frequency
    makes a stop key.  A key with more than ``max_key_freq`` mentions but
    few entities is still joined — and, being over ``hot_threshold``, it
    is classified hot, so its pairs come from the salted branch (the cold
    branch anti-joins every hot key away)."""
    from entity_linking_spark.sources.catalog import Catalog

    m = spark.createDataFrame(
        [(f"m{i}", "aaaa bbbb") for i in range(30)], "mention_id string, s string"
    )
    e = spark.createDataFrame(
        [(f"e{i}", "aaaa bbbb") for i in range(2)], "entity_id string, s string"
    )
    conf = BlockingConfig(hot_threshold=10, num_salts=4, max_key_freq=10)
    mk = blocking_keys(m, "mention_id", "s", conf)
    ek = blocking_keys(e, "entity_id", "s", conf)
    cat = Catalog(spark, str(tmp_path / "stages"))
    expect = {(f"m{i}", f"e{j}") for i in range(30) for j in range(2)}
    for c in (cat, None):
        got = candidate_pairs(mk, ek, conf, catalog=c).collect()
        assert {(r["mention_id"], r["entity_id"]) for r in got} == expect

    stats = cat.read("blocking_key_stats").collect()
    assert stats and all(
        r["m_freq"] == 30 > conf.max_key_freq >= r["e_freq"] == 2 for r in stats
    )
    assert all(r["m_freq"] > conf.hot_threshold for r in stats)  # all hot


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("compact", [False])  # string keys, the one key encoding
def test_blocking_keys_plan_computes_each_expensive_column_once(spark, compact):
    """norm, grams and sig are projected once per row: the executed plan
    holds one MinHash ``aggregate`` and one ``regexp_replace`` (the
    normalize chain).  Inlining them into every key expression ran the
    aggregate once per LSH band and the normalize chain once per use —
    HOF trees get no subexpression elimination (CLAUDE.md rule 6)."""
    df = spark.createDataFrame([(1, "acme corp")], "id long, s string")
    plan = _executed_plan(
        blocking_keys(df, "id", "s", BlockingConfig())
    )
    assert plan.count("aggregate(") == 1, plan
    assert plan.count("regexp_replace(") == 1, plan


# sha256 of the sorted "id<TAB>key" lines blocking_keys emitted for
# _PARITY_ROWS before the key columns were projected once per row — the
# rewrite must emit exactly the same (id, key) rows
_PARITY_DIGESTS = {
    False: (88, "4cc87e81d3b2e108d7e1af1c63a4f2a84961e453084e775b9525c7a4175a1d6f"),
}
_PARITY_ROWS = [
    (1, None),                                   # NULL surface
    (2, "ab"),                                   # shorter than ngram_n
    (3, "  Acme   Widget\tCorp "),               # whitespace to normalize
    (4, "J. R. R. Tolkien"),                     # multi-token alias
    (5, ""),
    (6, "acme widget corporation"),
    (7, "Zürich Versicherungs-Gesellschaft AG"),
]


@pytest.mark.parametrize("compact", [False])  # string keys, the one key encoding
def test_blocking_keys_match_golden_digest(spark, compact):
    df = spark.createDataFrame(_PARITY_ROWS, "id long, s string")
    rows = blocking_keys(df, "id", "s", BlockingConfig()).collect()
    lines = sorted(f"{r['id']}\t{r['key']}" for r in rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    assert (len(lines), digest) == _PARITY_DIGESTS[compact]


def test_catalog_mode_caches_nothing(spark, tmp_path):
    """Catalog-mode callers pass stage reads (parquet scans), so
    candidate_pairs must not persist them: the tracked-cache registry is
    unchanged and the plan has no InMemoryRelation.  Without a catalog
    it tracks (and caches) both in-memory streams."""
    from entity_linking_spark.operators._cache import _tracked, cache_scope
    from entity_linking_spark.sources.catalog import Catalog

    m = spark.createDataFrame(
        [(f"m{i}", "aaaa bbbb") for i in range(6)], "mention_id string, s string"
    )
    e = spark.createDataFrame(
        [(f"e{i}", "aaaa bbbc") for i in range(6)], "entity_id string, s string"
    )
    conf = BlockingConfig()
    cat = Catalog(spark, str(tmp_path / "stages"))
    mk = cat.get_or_compute(
        "mention_blocking_keys", lambda: blocking_keys(m, "mention_id", "s", conf)
    )
    ek = cat.get_or_compute(
        "entity_blocking_keys", lambda: blocking_keys(e, "entity_id", "s", conf)
    )

    n_tracked = len(_tracked())
    p_stage = candidate_pairs(mk, ek, conf, catalog=cat)
    assert len(_tracked()) == n_tracked
    assert "InMemoryRelation" not in _executed_plan(p_stage)

    with cache_scope():
        p_inline = candidate_pairs(mk, ek, conf)
        assert len(_tracked()) == n_tracked + 2
        assert "InMemoryRelation" in _executed_plan(p_inline)
        a = p_stage.select("mention_id", "entity_id")
        b = p_inline.select("mention_id", "entity_id")
        assert a.count() == 36
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
