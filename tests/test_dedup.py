"""Dedup suite: exact / n-gram Jaccard / MinHash-LSH / SimHash."""

import pytest
from pyspark.sql import functions as F

from entity_linking_spark.operators.dedup import (
    dedup_assignment,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

DOCS = [
    ("d01", "the quick brown fox jumps over the lazy dog"),
    ("d02", "the quick brown fox jumps over the lazy dog"),        # exact dup of d01
    ("d03", "the quick brown fox jumps over the lazy cat"),        # near dup
    ("d04", "spark engines shuffle partitions across the cluster"),
    ("d05", "spark engines shuffle partitions across the cluster"),  # exact dup of d04
    ("d06", "entirely unrelated content about gardening and tulips"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "id string, text string")


def test_exact_dedup(docs):
    kept = exact_dedup(docs, "id", "text")
    rows = {r["id"]: r["dup_count"] for r in kept.collect()}
    assert rows == {"d01": 2, "d03": 1, "d04": 2, "d06": 1}


def python_jaccard(a: str, b: str) -> float:
    sa, sb = set(a.split()), set(b.split())
    return len(sa & sb) / len(sa | sb)


def test_ngram_jaccard_pairs_match_bruteforce(spark, docs):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "id", "text", n=3, threshold=0.5).collect()
    }
    # brute force on char 3-grams
    def grams(s):
        return {s[i : i + 3] for i in range(max(len(s) - 2, 1))}

    ids = dict(DOCS)
    expect = {}
    keys = sorted(ids)
    for i in range(len(keys)):
        for j in range(i + 1, len(keys)):
            a, b = ids[keys[i]], ids[keys[j]]
            ga, gb = grams(a), grams(b)
            jac = len(ga & gb) / len(ga | gb)
            if jac >= 0.5:
                expect[(keys[i], keys[j])] = jac
    assert set(got) == set(expect)
    for k in got:
        assert got[k] == pytest.approx(expect[k])
    # prefix filtering is a pure candidate-generation optimization: the
    # result set must be IDENTICAL with it off (any-shared-token mode)
    unfiltered = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "id", "text", n=3, threshold=0.5, prefix_filter=False
        ).collect()
    }
    assert unfiltered == got


def test_ngram_jaccard_prefix_filter_word_tokens(spark):
    """Prefix-filter recall check on word tokens with many near-threshold
    pairs (threshold boundary cases stress the ceil() prefix length)."""
    import itertools

    base = ["alpha bravo charlie delta echo foxtrot golf hotel",
            "alpha bravo charlie delta echo foxtrot golf india",
            "alpha bravo charlie delta echo foxtrot juliett kilo",
            "lima mike november oscar papa quebec romeo sierra",
            "lima mike november oscar papa quebec romeo tango",
            "uniform victor whiskey xray yankee zulu alpha bravo"]
    rows = [(f"w{i:02d}", t) for i, t in enumerate(base)]
    df = spark.createDataFrame(rows, "id string, text string")
    for thr in (0.5, 0.7, 0.9):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(
                df, "id", "text", threshold=thr, tokenizer="word"
            ).collect()
        }
        expect = {}
        for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
            sa, sb = set(ta.split()), set(tb.split())
            jac = len(sa & sb) / len(sa | sb)
            if jac >= thr:
                expect[(ia, ib)] = jac
        assert set(got) == set(expect), f"threshold {thr}"
        for k in got:
            assert got[k] == pytest.approx(expect[k])


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, "id", "text", shingle_k=2, num_hashes=64, bands=16, threshold=0.6
        ).collect()
    }
    assert ("d01", "d02") in pairs
    assert ("d04", "d05") in pairs
    assert ("d01", "d06") not in pairs


def test_simhash_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]) for r in simhash_pairs(docs, "id", "text", 3).collect()
    }
    assert ("d01", "d02") in pairs
    assert ("d04", "d05") in pairs
    assert ("d01", "d06") not in pairs


def test_dedup_assignment_representatives(docs):
    edges = docs.sparkSession.createDataFrame(
        [("d01", "d02"), ("d02", "d03"), ("d04", "d05")], "id_a string, id_b string"
    )
    got = {r["id"]: r["keep_id"] for r in dedup_assignment(docs, "id", edges).collect()}
    assert got == {
        "d01": "d01", "d02": "d01", "d03": "d01",
        "d04": "d04", "d05": "d04", "d06": "d06",
    }


def test_line_dedup_pairs_and_guard(spark):
    """Docs sharing ≥2 normalized lines pair up; a line present in more
    than max_doc_freq docs is excluded from pairing (boilerplate guard)
    but surfaced by boilerplate_lines."""
    from entity_linking_spark.operators.dedup import boilerplate_lines, line_dedup_pairs

    hot = "shared sitewide footer"
    rows = []
    # docs 0-3: two common template lines + a unique line each
    for i in range(4):
        rows.append((i, f"template line alpha\ntemplate line beta\nunique line {i:03d}\n{hot}"))
    # docs 4-9: only the hot line + a unique line
    for i in range(4, 10):
        rows.append((i, f"unique line {i:03d}\n{hot}"))
    df = spark.createDataFrame(rows, "id long, text string")

    pairs = line_dedup_pairs(
        df, "id", "text", min_shared_lines=2, min_line_chars=5, max_doc_freq=5
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["n_shared"] for r in pairs}
    # only 0-3 share ≥2 non-hot lines (the hot line is in 10 > 5 docs)
    assert got == {(a, b): 2 for a in range(4) for b in range(a + 1, 4)}
    jac = {(r["id_a"], r["id_b"]): r["line_jaccard"] for r in pairs}
    # each doc 0-3 has 4 distinct lines; shared=2 → 2/(4+4-2)
    for v in jac.values():
        assert abs(v - 2 / 6) < 1e-9

    boiler = {
        r["line"]: r["n_docs"]
        for r in boilerplate_lines(df, "id", "text", min_docs=5, min_line_chars=5).collect()
    }
    assert boiler == {hot: 10}


def test_line_dedup_normalizes_lines(spark):
    """Case/whitespace variants of a line must match."""
    from entity_linking_spark.operators.dedup import line_dedup_pairs

    df = spark.createDataFrame(
        [
            (1, "The  Quick  Brown Fox\nsecond common line\nonly in one"),
            (2, "the quick brown fox\nSECOND   COMMON LINE\nanother tail"),
        ],
        "id long, text string",
    )
    pairs = line_dedup_pairs(df, "id", "text", min_shared_lines=2, min_line_chars=5).collect()
    assert len(pairs) == 1 and pairs[0]["n_shared"] == 2


def test_parallelize_scan_guard(spark, tmp_path):
    """Same guard behavior as the r03 `.rdd` probe, without any RDD
    conversion in the operator path (VERDICT r03 #4): starved file scans
    (fewer estimated splits than parallelism) widen to defaultParallelism,
    inputs with enough splits pass through untouched, and driver-local
    frames (LocalRelation leaves → small by construction) always widen.
    ADVICE r04: a no-file frame that is NOT known local (JDBC, Range, a
    non-file micro-batch) can be arbitrarily large — it must pass
    through UNTOUCHED, not eat a full-input shuffle."""
    import inspect

    from entity_linking_spark.operators import dedup
    from entity_linking_spark.operators.dedup import _parallelize_scan

    assert ".rdd" not in inspect.getsource(dedup), "no RDD conversion in operators"

    p = spark.sparkContext.defaultParallelism
    # driver-local frame: widened
    one = spark.createDataFrame(DOCS, "id string, text string").coalesce(1)
    widened = _parallelize_scan(one)
    assert widened.rdd.getNumPartitions() == p
    # rows survive the repartition untouched
    assert sorted(r["id"] for r in widened.collect()) == sorted(d[0] for d in DOCS)

    # small single-file parquet scan: one estimated split < p → widened
    path = str(tmp_path / "small_corpus")
    one.write.parquet(path)
    small_scan = spark.read.parquet(path).coalesce(1)
    assert _parallelize_scan(small_scan).rdd.getNumPartitions() == p

    # file scan with ≥ p files: estimated splits ≥ p → pass-through as-is
    wide_path = str(tmp_path / "wide_corpus")
    spark.createDataFrame(DOCS * 20, "id string, text string").repartition(
        p + 4
    ).write.parquet(wide_path)
    wide_scan = spark.read.parquet(wide_path)
    assert _parallelize_scan(wide_scan) is wide_scan

    # no input files but NOT a LocalRelation (Range is the in-sandbox
    # stand-in for a non-file source of unknown size): pass-through —
    # the guard must never inject a shuffle on a frame it can't size
    rng = spark.range(100).selectExpr("cast(id as string) id", "'x' text")
    assert not rng.inputFiles()
    assert _parallelize_scan(rng) is rng


def test_parallelize_scan_checkpoint_leaves(spark, tmp_path):
    """A (local)checkpoint leaves a LogicalRDD with no input files.  One
    cut from a planned frame keeps its origin plan's size estimate and is
    widened only when that estimate is under p splits (like a cache); a
    LogicalRDD of unknown size (createDataFrame rows) is always widened."""
    from entity_linking_spark.operators.dedup import _parallelize_scan

    p = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "small_corpus")
    spark.createDataFrame(DOCS, "id string, text string").coalesce(1) \
        .write.parquet(path)
    cut = spark.read.parquet(path).coalesce(1).localCheckpoint()
    assert not cut.inputFiles()

    # small checkpoint of a parquet scan: estimate < p splits → widened
    widened = _parallelize_scan(cut)
    assert widened.rdd.getNumPartitions() == p
    assert sorted(widened.collect()) == sorted(cut.collect())

    # same checkpoint, but every byte is a split: estimate ≥ p → as-is
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        assert _parallelize_scan(cut) is cut
    finally:
        spark.conf.set(key, old)

    # createDataFrame rows (and a cut of them) have unknown size: widened
    local = spark.createDataFrame(DOCS, "id string, text string").coalesce(1)
    assert _parallelize_scan(local).rdd.getNumPartitions() == p
    local_cut = local.localCheckpoint()
    assert _parallelize_scan(local_cut).rdd.getNumPartitions() == p


def test_incremental_dedup_against_reference(spark, docs):
    from entity_linking_spark.operators.dedup import (
        incremental_dedup,
        minhash_lsh_pairs_against,
    )

    new = spark.createDataFrame(
        [
            ("n1", "the quick brown fox jumps over the lazy dog"),   # = d01/d02
            ("n2", "completely novel text about submarine acoustics"),
        ],
        "id string, text string",
    )
    pairs = {
        (r["new_id"], r["ref_id"])
        for r in minhash_lsh_pairs_against(
            new, docs, "id", "text", shingle_k=2, threshold=0.8
        ).collect()
    }
    assert ("n1", "d01") in pairs and ("n1", "d02") in pairs
    assert not any(nid == "n2" for nid, _ in pairs)
    # reference docs are never paired against themselves (bipartite join)
    assert all(nid.startswith("n") for nid, _ in pairs)

    assign = {
        r["id"]: (r["is_novel"], r["matched_ref_id"])
        for r in incremental_dedup(
            new, docs, "id", "text", shingle_k=2, threshold=0.8
        ).collect()
    }
    assert assign["n1"] == (False, "d01")   # min matching ref id
    assert assign["n2"] == (True, None)


def test_incremental_dedup_reuses_signature_stage(spark, tmp_path, docs):
    """The production incremental path (VERDICT r03 #1): reference
    signatures are checkpointed ONCE via signature_stage; the second
    increment reuses the stage (snapshot id unchanged, compute not
    called) and the pairs plan scans the signature stage, never the
    reference corpus text."""
    from entity_linking_spark.operators.dedup import (
        incremental_dedup,
        minhash_signatures,
        signature_stage,
    )
    from entity_linking_spark.sources.catalog import Catalog

    # reference corpus lives in parquet so plan-level scans are checkable
    ref_path = str(tmp_path / "kept_corpus")
    docs.write.parquet(ref_path)
    ref = spark.read.parquet(ref_path)

    cat = Catalog(spark, str(tmp_path / "stages"))
    computes = []

    def stage(resume=True):
        def compute():
            computes.append(1)
            return minhash_signatures(ref, "id", "text", shingle_k=2)

        return cat.get_or_compute("ref_sigs", compute, resume=resume)

    sigs1 = stage()
    snap1 = cat.snapshot_id("ref_sigs")
    assert computes == [1]
    assert sigs1.columns == ["id", "sig", "n_sh"]

    inc1 = spark.createDataFrame(
        [("n1", "the quick brown fox jumps over the lazy dog")],
        "id string, text string",
    )
    out1 = {
        r["id"]: (r["is_novel"], r["matched_ref_id"])
        for r in incremental_dedup(
            inc1, None, "id", "text", ref_sigs=sigs1, shingle_k=2, threshold=0.8
        ).collect()
    }
    assert out1 == {"n1": (False, "d01")}

    # second increment: stage reused — no ref-side recompute, same snapshot
    sigs2 = stage()
    assert computes == [1], "second increment recomputed the reference signatures"
    assert cat.snapshot_id("ref_sigs") == snap1

    inc2 = spark.createDataFrame(
        [
            ("n2", "spark engines shuffle partitions across the cluster"),
            ("n3", "totally fresh prose about alpine meadows"),
        ],
        "id string, text string",
    )
    pairs = incremental_dedup(
        inc2, None, "id", "text", ref_sigs=sigs2, shingle_k=2, threshold=0.8
    )
    got = {r["id"]: (r["is_novel"], r["matched_ref_id"]) for r in pairs.collect()}
    assert got == {"n2": (False, "d04"), "n3": (True, None)}

    # the ref-signature scan is absent from the plan: the only files the
    # pairs plan reads are the signature STAGE parquet — the kept-corpus
    # text parquet never appears (the increment side is driver-local here)
    scanned = pairs.inputFiles()
    assert scanned and all("/stages/ref_sigs/" in f for f in scanned)
    assert not any("kept_corpus" in f for f in scanned)

    # signature_stage helper is the same seam end-to-end
    cat2 = Catalog(spark, str(tmp_path / "stages2"))
    s = signature_stage(cat2, "sigs", ref, "id", "text", shingle_k=2)
    assert s.columns == ["id", "sig", "n_sh"]
    assert cat2.is_complete("sigs")


def test_incremental_growth_cycle_absorbs_novel_docs(spark, tmp_path):
    """Full production cycle (dedup increment → keep novels → extend the
    signature stage): increment C must match a doc that entered the
    corpus as a NOVEL doc of increment B, without any re-scan of corpus
    text (the only text ever signed is each increment's own)."""
    from entity_linking_spark.operators.dedup import (
        absorb_novel_into_stage,
        incremental_dedup,
        signature_stage,
    )
    from entity_linking_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "stages"))
    corpus_a = spark.createDataFrame(
        [("a1", "original corpus doc about rivers and bridges"),
         ("a2", "another seed doc about mountain railways")],
        "id string, text string",
    )
    sigs = signature_stage(cat, "sigs", corpus_a, "id", "text", shingle_k=2)
    assert cat._manifest()["sigs"]["rows"] == 2

    inc_b = spark.createDataFrame(
        [("b1", "original corpus doc about rivers and bridges"),  # dup of a1
         ("b2", "brand new article on tidal power turbines")],     # novel
        "id string, text string",
    )
    asg_b = incremental_dedup(
        inc_b, None, "id", "text", ref_sigs=sigs, shingle_k=2, threshold=0.8
    )
    got_b = {r["id"]: (r["is_novel"], r["matched_ref_id"]) for r in asg_b.collect()}
    assert got_b == {"b1": (False, "a1"), "b2": (True, None)}

    snap_before = cat.snapshot_id("sigs")
    absorb_novel_into_stage(cat, "sigs", inc_b, asg_b, "id", "text", shingle_k=2)
    assert cat.snapshot_id("sigs") != snap_before
    assert cat._manifest()["sigs"]["rows"] == 3  # only b2 absorbed
    sigs2 = cat.read("sigs")
    assert sorted(r["id"] for r in sigs2.select("id").collect()) == ["a1", "a2", "b2"]

    inc_c = spark.createDataFrame(
        [("c1", "brand new article on tidal power turbines"),  # dup of B's novel
         ("c2", "unrelated essay about glass manufacturing")],
        "id string, text string",
    )
    asg_c = incremental_dedup(
        inc_c, None, "id", "text", ref_sigs=sigs2, shingle_k=2, threshold=0.8
    )
    got_c = {r["id"]: (r["is_novel"], r["matched_ref_id"]) for r in asg_c.collect()}
    assert got_c == {"c1": (False, "b2"), "c2": (True, None)}


def test_empty_docs_never_pair(spark):
    """Empty-after-normalization docs (ADVICE r03): n_sh = 0 rows are
    excluded before banding, so empty docs neither self-pair (no all-empty
    clique) nor match empty reference docs (an empty new doc is novel)."""
    from entity_linking_spark.operators.dedup import (
        incremental_dedup,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    rows = [("e1", ""), ("e2", "   "), ("e3", "\n\t \n"),
            ("r1", "real content about distributed dataflow engines"),
            ("r2", "real content about distributed dataflow engines")]
    df = spark.createDataFrame(rows, "id string, text string")

    sigs = {r["id"]: r["n_sh"] for r in minhash_signatures(df, "id", "text").collect()}
    assert sigs["e1"] == 0 and sigs["e2"] == 0 and sigs["e3"] == 0
    assert sigs["r1"] > 0

    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, "id", "text", shingle_k=2, threshold=0.8).collect()
    }
    assert pairs == {("r1", "r2")}

    new = spark.createDataFrame([("n_empty", ""), ("n_dup", "real content about distributed dataflow engines")],
                                "id string, text string")
    got = {
        r["id"]: (r["is_novel"], r["matched_ref_id"])
        for r in incremental_dedup(
            new, df, "id", "text", shingle_k=2, threshold=0.8
        ).collect()
    }
    assert got["n_empty"] == (True, None)
    assert got["n_dup"] == (False, "r1")

    # passing both or neither reference form is an error
    import pytest as _pytest

    from entity_linking_spark.operators.dedup import minhash_lsh_pairs_against

    with _pytest.raises(ValueError):
        minhash_lsh_pairs_against(new, None, "id", "text")
    with _pytest.raises(ValueError):
        minhash_lsh_pairs_against(
            new, df, "id", "text", ref_sigs=minhash_signatures(df, "id", "text")
        )


def test_incremental_dedup_forwards_nondefault_seed(spark, tmp_path):
    """A signature stage built with a non-default seed must match
    identical new docs when the SAME seed is passed to the incremental
    operators (ADVICE r04: seed was accepted by signature_stage but
    silently dropped by minhash_lsh_pairs_against — new-side signatures
    always used seed=42, so every doc scored novel)."""
    from entity_linking_spark.operators.dedup import (
        incremental_dedup,
        signature_stage,
    )
    from entity_linking_spark.sources.catalog import Catalog

    text = "the quick brown fox jumps over the lazy dog again and again"
    ref = spark.createDataFrame([(1, text)], "id long, text string")
    new = spark.createDataFrame([(100, text), (101, "utterly different words "
                                 "nothing shared with anything")],
                                "id long, text string")
    cat = Catalog(spark, str(tmp_path / "stages"))
    stage = signature_stage(cat, "sigs7", ref, "id", "text",
                            shingle_k=2, seed=7)

    out = {r["id"]: r["is_novel"] for r in incremental_dedup(
        new, None, "id", "text", ref_sigs=stage, shingle_k=2, seed=7
    ).collect()}
    assert out == {100: False, 101: True}

    # mismatched seeds must NOT match — proving the parameter is live,
    # not cosmetically accepted
    out_mismatch = {r["id"]: r["is_novel"] for r in incremental_dedup(
        new, None, "id", "text", ref_sigs=stage, shingle_k=2  # default 42
    ).collect()}
    assert out_mismatch[100] is True


def test_parallelize_scan_widens_small_cached_frames_only(spark, tmp_path):
    """A persisted createDataFrame corpus (InMemoryRelation leaf —
    normal caller behavior before a dedup pass) must get the starved-scan
    widen back, but ONLY when the optimizer's size estimate says it
    would have been fewer than p file splits: a big cache is never
    force-shuffled (code-review r5: the leaf allow-list silently dropped
    cached frames from the widen entirely)."""
    from entity_linking_spark.operators.dedup import _parallelize_scan

    p = spark.sparkContext.defaultParallelism
    cached = (
        spark.createDataFrame(DOCS, "id string, text string")
        .coalesce(1)
        .persist()
    )
    try:
        cached.count()
        widened = _parallelize_scan(cached)
        assert widened.rdd.getNumPartitions() == p
        assert sorted(r["id"] for r in widened.collect()) == sorted(
            d[0] for d in DOCS
        )

        # same cached frame, but with maxPartitionBytes dialed to 1 byte
        # its size estimate is ≥ p splits → pass-through untouched
        old = spark.conf.get("spark.sql.files.maxPartitionBytes")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
        try:
            assert _parallelize_scan(cached) is cached
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    finally:
        cached.unpersist()


def test_decontaminate_planted(spark):
    """A doc quoting 8 consecutive benchmark words is flagged; clean and
    empty docs are not, and empty docs never match each other via the
    shingle sentinel."""
    from entity_linking_spark.operators.dedup import decontaminate

    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, "intro words then " + bench_text + " and a tail"),  # quotes 8-gram
            (2, "completely unrelated training text with its own words"),
            (3, ""),
            (4, None),
        ],
        "id long, text string",
    )
    bench = spark.createDataFrame([(0, bench_text), (9, "")],
                                  "id long, text string")
    out = {r["id"]: r for r in
           decontaminate(docs, bench, k=8, min_hits=1).collect()}
    assert len(out) == 4
    assert out[1]["contaminated"] and out[1]["n_hits"] >= 1
    assert not out[2]["contaminated"] and out[2]["n_hits"] == 0
    assert not out[3]["contaminated"] and out[3]["n_hits"] == 0
    assert not out[4]["contaminated"] and out[4]["n_hits"] == 0


def test_decontaminate_min_hits_threshold(spark):
    """min_hits raises the bar: one shared shingle is below a min_hits=2
    threshold, two distinct shared shingles meet it."""
    from entity_linking_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma zzz"), (2, "alpha beta gamma delta qqq")],
        "id long, text string",
    )
    bench = spark.createDataFrame([(0, "alpha beta gamma delta")],
                                  "id long, text string")
    out = {r["id"]: r for r in
           decontaminate(docs, bench, k=3, min_hits=2).collect()}
    # doc 1 shares only "alpha beta gamma"; doc 2 also "beta gamma delta"
    assert out[1]["n_hits"] == 1 and not out[1]["contaminated"]
    assert out[2]["n_hits"] == 2 and out[2]["contaminated"]


def test_repeated_spans_cross_line_and_hash_parity(spark):
    """A passage reflowed across different line boundaries is still
    caught (the case line-level dedup misses); docs shorter than k
    contribute no windows; hash mode agrees with text mode."""
    from entity_linking_spark.operators.dedup import repeated_spans

    passage = " ".join(f"w{i}" for i in range(6))  # 6 shared tokens
    docs = spark.createDataFrame(
        [
            (1, "intro " + passage + " tail one"),
            (2, "other lead-in\n" + passage.replace("w2 w3", "w2\nw3")
             + " different end"),
            (3, "too short"),
        ],
        "id long, text string",
    )
    out = repeated_spans(docs, k=6, min_count=2, keep_text=True).collect()
    spans = {r["span"]: r["n_occurrences"] for r in out}
    assert spans == {passage: 2}
    hashed = repeated_spans(docs, k=6, min_count=2).collect()
    assert len(hashed) == 1 and hashed[0]["n_occurrences"] == 2
    # min_count above the multiplicity -> empty
    assert repeated_spans(docs, k=6, min_count=3).count() == 0


def test_remove_repeated_spans_first_occurrence_kept(spark):
    """The (id, pos)-first occurrence of a repeated span survives; later
    occurrences lose exactly the covered tokens; untouched and empty
    docs pass through with zero removals."""
    from entity_linking_spark.operators.dedup import remove_repeated_spans

    docs = spark.createDataFrame(
        [
            (1, "p q r s t u unique one tail"),
            (2, "lead in p q r s t u different end"),
            (3, "totally fresh words only here"),
            (4, ""),
        ],
        "id long, text string",
    )
    out = {r["id"]: r for r in remove_repeated_spans(docs, k=6).collect()}
    assert out[1]["clean_text"] == "p q r s t u unique one tail"
    assert out[1]["n_tokens_removed"] == 0
    assert out[2]["clean_text"] == "lead in different end"
    assert out[2]["n_tokens_removed"] == 6
    assert out[3]["n_tokens_removed"] == 0
    assert out[4]["clean_text"] == "" and out[4]["n_tokens_removed"] == 0


def test_remove_repeated_spans_within_doc(spark):
    """A span repeated INSIDE one document keeps only its first copy;
    overlapping flagged windows union their masks (no double count)."""
    from entity_linking_spark.operators.dedup import remove_repeated_spans

    span = "a b c d"
    docs = spark.createDataFrame(
        [(1, span + " mid " + span + " " + span + " end")],
        "id long, text string",
    )
    out = remove_repeated_spans(docs, k=4).collect()[0]
    assert out["clean_text"].startswith(span + " mid")
    assert out["n_tokens_removed"] == 8
    assert out["clean_text"] == span + " mid end"


def test_remove_repeated_spans_idempotent(spark):
    """Running removal on its own output changes nothing: the surviving
    corpus has no repeated k-span left by construction (the fixpoint
    property a pipeline that re-runs cleaning relies on)."""
    from entity_linking_spark.operators.dedup import remove_repeated_spans

    span = " ".join(f"s{i}" for i in range(5))
    docs = spark.createDataFrame(
        [(1, span + " one tail"), (2, "lead " + span + " two"),
         (3, span + " " + span + " three")],
        "id long, text string",
    )
    once = remove_repeated_spans(docs, k=5).select(
        "id", F.col("clean_text").alias("text"))
    twice = {r["id"]: r for r in remove_repeated_spans(once, k=5).collect()}
    for r in once.collect():
        assert twice[r["id"]]["clean_text"] == r["text"]
        assert twice[r["id"]]["n_tokens_removed"] == 0
