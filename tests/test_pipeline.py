"""End-to-end gates: F1 ≥ 0.99, blocking recall, checkpoint/resume,
determinism (SURVEY.md §5 new-engine test plan items 2-4)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from entity_linking_spark.fixtures import fixture_dataframes, generate_fixture
from entity_linking_spark.plans.pipeline import (
    PipelineConfig,
    link_entities,
    validate_extraction,
)


@pytest.fixture(scope="module")
def fixture_dfs(spark):
    fx = generate_fixture(num_pages=120, num_entities=40, seed=42)
    return fixture_dataframes(spark, fx)


@pytest.fixture(scope="module")
def result(spark, fixture_dfs, tmp_path_factory):
    pages, mentions, entities, labeled = fixture_dfs
    wd = str(tmp_path_factory.mktemp("elwork"))
    return (
        link_entities(
            spark, pages, mentions, entities,
            PipelineConfig(workdir=wd), labeled_pairs=labeled,
        ),
        wd,
    )


def test_f1_gate(result):
    res, _ = result
    assert res["metrics"]["labeled"].f1 >= 0.99          # BASELINE gate
    assert res["metrics"]["contingency"].f1 >= 0.99      # global pairwise
    assert res["metrics"]["extract_mismatches"] == 0
    assert res["metrics"]["blocking_recall"] >= 0.99


def test_retrieval_rates_high(result):
    res, _ = result
    assert res["metrics"]["retrieval"]["retrieval_rate_k1"] >= 0.95
    assert res["metrics"]["retrieval"]["retrieval_rate_k64"] >= 0.99


def test_manifest_and_lineage_metrics(result):
    res, wd = result
    with open(os.path.join(wd, "_manifest.json")) as f:
        manifest = json.load(f)
    for stage in ["mentions_prepared", "entities_prepared", "candidates",
                  "scored", "edges", "clusters"]:
        assert manifest[stage]["complete"], stage
        metrics = res["catalog"].read_metrics(stage)
        assert metrics.agg(F.sum("rows")).collect()[0][0] == manifest[stage]["rows"]


def test_resume_skips_complete_stages_and_is_identical(spark, fixture_dfs, result):
    res, wd = result
    pages, mentions, entities, labeled = fixture_dfs
    cat = res["catalog"]
    snap_before = {s: cat.snapshot_id(s) for s in ["mentions_prepared", "candidates"]}
    # materialize run-1 output BEFORE the resume overwrites stage files
    a1 = {(r["mention_id"], r["cluster_id"]) for r in res["assignment"].collect()}

    # Simulate mid-pipeline failure: later stages lost, early stages intact.
    cat.invalidate("edges")
    cat.invalidate("clusters")

    res2 = link_entities(
        spark, pages, mentions, entities,
        PipelineConfig(workdir=wd), labeled_pairs=labeled,
    )
    # early stages were NOT recomputed (same snapshot ids)...
    for s, snap in snap_before.items():
        assert res2["catalog"].snapshot_id(s) == snap
    # ...and the final assignment is identical.
    a2 = {(r["mention_id"], r["cluster_id"]) for r in res2["assignment"].collect()}
    assert a1 == a2


def test_determinism_across_runs(spark, fixture_dfs, tmp_path_factory, result):
    """North-rule determinism: the SAME input under different input
    partitioning and a different shuffle-partition count yields an
    IDENTICAL cluster assignment (not merely an equally-good one) —
    the sandbox stand-in for run-identical output across cluster
    layouts."""
    res1, _ = result
    a1 = {(r["mention_id"], r["cluster_id"]) for r in res1["assignment"].collect()}
    s1 = {
        (r["mention_id"], r["entity_id"], round(r["score"], 9))
        for r in res1["scored"].collect()
    }
    pages, mentions, entities, labeled = fixture_dfs
    wd2 = str(tmp_path_factory.mktemp("elwork2"))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "17")
    try:
        res2 = link_entities(
            spark,
            pages.repartition(13),
            mentions.repartition(7),
            entities.repartition(3),
            PipelineConfig(workdir=wd2),
            labeled_pairs=labeled,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert res2["metrics"]["labeled"].f1 >= 0.99
    a2 = {(r["mention_id"], r["cluster_id"]) for r in res2["assignment"].collect()}
    assert a2 == a1
    s2 = {
        (r["mention_id"], r["entity_id"], round(r["score"], 9))
        for r in res2["scored"].collect()
    }
    assert s2 == s1


def test_validate_extraction_catches_corruption(spark, fixture_dfs):
    pages, _, _, _ = fixture_dfs
    corrupted = pages.withColumn(
        "text", F.concat(F.col("text"), F.lit(" CORRUPTED"))
    )
    assert validate_extraction(corrupted) == corrupted.count()


def test_blocking_stages_reused_across_kill_rerun(spark, fixture_dfs, result):
    """Catalog-backed blocking (VERDICT r04 stretch #8): after a kill that
    loses the candidates stage but not the blocking key/key_stats stages,
    the rerun must REUSE those stages (same snapshot ids — the corpus key
    expressions are not recomputed) and converge to the identical
    assignment."""
    res, wd = result
    pages, mentions, entities, labeled = fixture_dfs
    cat = res["catalog"]
    blocking_stages = [
        "mention_blocking_keys", "entity_blocking_keys", "blocking_key_stats",
    ]
    for s in blocking_stages:
        assert cat.is_complete(s), f"pipeline did not checkpoint {s}"
    snap_before = {s: cat.snapshot_id(s) for s in blocking_stages}
    a1 = {(r["mention_id"], r["cluster_id"]) for r in res["assignment"].collect()}

    # kill between blocking and candidate materialization: candidates and
    # everything after are lost, the blocking stages survive
    for s in ["candidates", "scored", "edges", "clusters"]:
        cat.invalidate(s)

    res2 = link_entities(
        spark, pages, mentions, entities,
        PipelineConfig(workdir=wd), labeled_pairs=labeled,
    )
    for s, snap in snap_before.items():
        assert res2["catalog"].snapshot_id(s) == snap, f"{s} was recomputed"
    a2 = {(r["mention_id"], r["cluster_id"]) for r in res2["assignment"].collect()}
    assert a1 == a2


BOILER = "accept our cookie banner to continue browsing today"
BENCH_TEXT = "benchmark answer alpha beta gamma delta epsilon zeta eta theta"
PLANTED_CFG = dict(line_min_docs=5, near_dup_threshold=0.8, min_tokens=5)


def _planted_corpus(spark):
    """(docs, benchmark) where every cleaning stage has one planted
    defect to remove."""

    def body(i):
        # per-doc disjoint vocabulary so only the PLANTED pair near-dups
        return " ".join(f"d{i}t{j} d{i}w{j} d{i}x{j}" for j in range(8))

    rows = [
        # 1+2: same canonical URL (tracking params differ) + same text
        (1, "http://ex.org/a?utm_source=x", body(1) + " unique one"),
        (2, "http://ex.org/a", body(1) + " unique one"),
        # 3: exact dup of 4's text at a different URL
        (3, "http://ex.org/c", body(3) + " unique three"),
        (4, "http://ex.org/d", body(3) + " unique three"),
        # 5/6: near-dups (one token differs)
        (5, "http://ex.org/e", body(5) + " near aa bb cc dd"),
        (6, "http://ex.org/f", body(5) + " near aa bb cc ee"),
        # 7-12: docs carrying the boilerplate line (>= min_docs of them)
        *[(i, f"http://ex.org/p{i}",
           BOILER + "\n" + body(i) + f" page {i} specific words here")
          for i in range(7, 13)],
        # 13: contaminated with the benchmark 8-gram
        (13, "http://ex.org/m", body(13) + " quote " + BENCH_TEXT),
        # 14: too short after everything
        (14, "http://ex.org/s", "tiny"),
    ]
    docs = spark.createDataFrame(rows, "id long, url string, text string")
    bench = spark.createDataFrame([(0, BENCH_TEXT)], "id long, text string")
    return docs, bench


def test_clean_corpus_end_to_end(spark):
    """Every cleaning stage fires on a planted defect and the attrition
    report accounts for each drop."""
    from entity_linking_spark.operators._cache import cache_scope
    from entity_linking_spark.plans.corpus_clean import CleanConfig, clean_corpus

    docs, bench = _planted_corpus(spark)
    with cache_scope():
        out, report = clean_corpus(docs, bench, CleanConfig(**PLANTED_CFG))
        got = {r["id"]: r["text"] for r in out.collect()}
    assert report["rows_in"] == 14
    assert report["url_dedup"] == 13          # 2 folded into 1
    assert report["exact_dedup"] == 12        # 4 folded into 3
    assert report["near_dedup"] == 11         # 6 folded into 5
    assert report["boilerplate_strip"] == 11  # lines stripped, docs kept
    assert report["decontaminate"] == 10      # 13 dropped
    assert report["rows_out"] == 9            # 14 too short
    assert set(got) == {1, 3, 5, 7, 8, 9, 10, 11, 12}
    for i in range(7, 13):
        assert BOILER not in got[i]
        assert f"page {i} specific" in got[i]


@pytest.mark.parametrize("mode", ["eager", "silent"])
def test_clean_corpus_result_plan_is_cut(spark, mode):
    """Every stage boundary is a lineage cut, so the returned frame plans
    as a checkpoint leaf, not the whole composition.  A persisted stage
    keeps its full logical plan; without the cuts this plan held
    thousands of nodes and every action on it paid seconds of analysis."""
    from entity_linking_spark.operators._cache import cache_scope
    from entity_linking_spark.plans.corpus_clean import CleanConfig, clean_corpus

    docs, bench = _planted_corpus(spark)
    with cache_scope():
        out, _ = clean_corpus(
            docs, bench, CleanConfig(report_mode=mode, **PLANTED_CFG))
        qe = out._jdf.queryExecution()
        for plan in (qe.analyzed(), qe.optimizedPlan()):
            tree = plan.treeString()
            assert len(tree.strip().splitlines()) <= 3, tree  # one per node
            leaves = plan.collectLeaves()
            assert {
                leaves.apply(i).nodeName() for i in range(leaves.size())
            } == {"LogicalRDD"}, tree
    # the cut result outlives the released scope
    assert {r["id"] for r in out.collect()} == {1, 3, 5, 7, 8, 9, 10, 11, 12}


def test_clean_corpus_null_text_docs_survive_dedup(spark):
    """NULL text is no duplicate of anything: two NULL-text docs are not
    folded into one by exact dedup nor lost in the boilerplate strip's
    line join — each survives every dedup stage and the token gate drops
    it at rows_out."""
    from entity_linking_spark.operators._cache import cache_scope
    from entity_linking_spark.plans.corpus_clean import CleanConfig, clean_corpus

    docs = spark.createDataFrame(
        [(1, "http://ex.org/n1", None),
         (2, "http://ex.org/n2", None),
         (3, "http://ex.org/t3", " ".join(f"c{j}" for j in range(8))),
         (4, "http://ex.org/t4", " ".join(f"c{j}" for j in range(8))),
         (5, "http://ex.org/t5", " ".join(f"e{j}" for j in range(8)))],
        "id long, url string, text string",
    )
    with cache_scope():
        out, report = clean_corpus(
            docs, None, CleanConfig(min_tokens=3, line_min_docs=5))
        ids = {r["id"] for r in out.collect()}
    assert report == {
        "rows_in": 5,
        "url_dedup": 5,
        "exact_dedup": 4,          # only 4 folded into 3; both NULLs kept
        "near_dedup": 4,
        "boilerplate_strip": 4,    # NULL-text docs pass the line join
        "rows_out": 2,             # the token gate drops both NULLs
    }
    assert ids == {3, 5}


def test_clean_corpus_silent_mode_same_rows(spark):
    """report_mode='silent' skips the per-stage counting actions but
    produces the identical surviving set."""
    import pytest as _pytest

    from entity_linking_spark.operators._cache import cache_scope
    from entity_linking_spark.plans.corpus_clean import CleanConfig, clean_corpus

    docs = spark.createDataFrame(
        [(i, f"http://ex.org/x{i % 4}",
          " ".join(f"d{i % 5}w{j}" for j in range(12)))
         for i in range(12)],
        "id long, url string, text string",
    )
    with cache_scope():
        eager_out, eager_rep = clean_corpus(
            docs, None, CleanConfig(min_tokens=3))
        eager_ids = {r["id"] for r in eager_out.collect()}
    with cache_scope():
        silent_out, silent_rep = clean_corpus(
            docs, None, CleanConfig(min_tokens=3, report_mode="silent"))
        silent_ids = {r["id"] for r in silent_out.collect()}
    assert silent_rep == {}
    assert len(eager_rep) >= 5
    assert silent_ids == eager_ids
    with _pytest.raises(ValueError, match="report_mode"):
        clean_corpus(docs, None, CleanConfig(report_mode="bogus"))


def test_cli_clean(spark, tmp_path, capsys):
    """cli.py clean runs the composition, writes survivors, and prints
    the attrition report."""
    import json as _json

    from entity_linking_spark.cli import main as cli_main

    src, out = str(tmp_path / "docs"), str(tmp_path / "clean")
    spark.createDataFrame(
        [(i, f"http://ex.org/x{i % 3}?utm_source=t",
          " ".join(f"c{i % 4}w{j}" for j in range(12)))
         for i in range(8)],
        "id long, url string, text string",
    ).write.parquet(src)
    rc = cli_main(["clean", "--docs", src, "--out", out,
                   "--min-tokens", "3"])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out)["report"]
    assert rep["rows_in"] == 8
    assert rep["url_dedup"] == 3           # 3 canonical urls
    assert rep["rows_out"] >= 1
    assert spark.read.parquet(out).count() == rep["rows_out"]


def test_clean_corpus_url_edge_cases(spark):
    """NULL and unparseable urls never collapse into one survivor, and a
    missing url column raises instead of silently skipping the stage."""
    import pytest as _pytest

    from entity_linking_spark.operators._cache import cache_scope
    from entity_linking_spark.plans.corpus_clean import CleanConfig, clean_corpus

    docs = spark.createDataFrame(
        [(1, None, " ".join(f"a{j}" for j in range(8))),
         (2, None, " ".join(f"b{j}" for j in range(8))),
         (3, "not a url", " ".join(f"c{j}" for j in range(8))),
         (4, "/relative/path", " ".join(f"d{j}" for j in range(8))),
         (5, "http://ex.org/p?utm_source=x", " ".join(f"e{j}" for j in range(8))),
         (6, "http://ex.org/p", " ".join(f"f{j}" for j in range(8)))],
        "id long, url string, text string",
    )
    with cache_scope():
        out, report = clean_corpus(
            docs, None, CleanConfig(min_tokens=3, near_dup_threshold=0.99))
        ids = {r["id"] for r in out.collect()}
    # only the genuine canonical-url pair (5, 6) deduped
    assert report["url_dedup"] == 5
    assert ids == {1, 2, 3, 4, 5}
    with _pytest.raises(ValueError, match="url_col"):
        clean_corpus(docs.drop("url"), None, CleanConfig(min_tokens=3))

