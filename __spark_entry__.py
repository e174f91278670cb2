"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
through the engine's own code (entity_linking_spark.*), over the driver's
parquet tables; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL.
Float-producing queries round to 4 decimals on both sides so the
value-hash compare is stable across engines.

EVERY query has an oracle except ``corpus_clean`` (the multi-stage
composition whose MinHash stage is not SQL-expressible — it takes the
driver's rows-only check; each constituent operator keeps its own exact
oracle).  The xxhash64/seeded paths (MinHash, SimHash,
sign-LSH) that DuckDB cannot replay are oracled via planted-duplicate
constructions: identical inputs agree on every band/bucket regardless of
the hash family, so a corpus where ONLY planted duplicates can pass the
threshold has an exact, SQL-expressible answer set (see
_planted_token_corpus / q_embedding_neardup / q_ann_lsh_topk).  Their
recall on natural data is gated by brute-force pytest oracles (tests/),
and their throughput on the real corpus is measured in bench.py.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # module-level so pandas_udf type hints resolve

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Relational operator parity (SURVEY.md §2.2-2.6)
# ---------------------------------------------------------------------------

def q_denormalize_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2: mention⋈document-style double equi-join with broadcast dims
    (reference src/transform_zeshel.py:13-14)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select("o_orderkey", "c_name", "n_name", "o_totalprice")
    )


def q_dedup_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: dict-overwrite dedup (reference src/transform_zeshel.py:16) —
    keep the max-l_linenumber row per order."""
    from entity_linking_spark.operators.transform import dedup_last_wins

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    # pack order+line into one sortable key so last-write-wins is total
    keyed = li.withColumn("seq", F.col("l_linenumber").cast("long"))
    return dedup_last_wins(keyed, ["l_orderkey"], "seq").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )


def q_distinct_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: distinct-by-key (reference src/transform_zeshel.py:27-36)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("lang", "source").dropDuplicates(["lang", "source"])


def q_union_corpora(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: corpora union + dedup (reference src/transform_zeshel.py:76-79)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).dropDuplicates(["nationkey"])


def q_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-split counts (reference src/transform_zeshel.py:54,66-67)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
    )


def q_entity_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: set-intersection audit (reference src/transform_zeshel.py:69-74)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k")).distinct()
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k")).distinct()
    return c.intersect(s).agg(F.count("*").alias("overlap"))


def q_tiny_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: deterministic first-100 dev split (reference
    src/transform_zeshel.py:57-63, made order-stable)."""
    from entity_linking_spark.operators.transform import tiny_split

    return tiny_split(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        n=100,
        order_col="o_orderkey",
    )


def q_context_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: mention context window — replicates the reference's
    keep_left/keep_right arithmetic (reference src/zeshel_dataset.py:62-76)
    over documents with deterministic synthetic word offsets."""
    from entity_linking_spark.functions.text import context_window, word_count

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # synthetic mention span: words [n/4, n/4+2] of each document
    spanned = docs.withColumn("n_words", word_count("text")).where(
        F.col("n_words") >= 8
    ).withColumn("start_index", (F.col("n_words") / 4).cast("int")).withColumn(
        "end_index", F.col("start_index") + 2
    )
    return spanned.select(
        "doc_id",
        context_window("text", "start_index", "end_index", 16).alias("context"),
    )


def q_pad_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: fixed-length sequences — word-length token ids truncated/padded
    to 12 (reference src/zeshel_dataset.py:76-81 pad arithmetic; the
    hashing encoder replaces real token ids, SURVEY §7.0).  Output joined
    as a string so the cross-engine value hash is representation-stable."""
    from entity_linking_spark.functions.text import pad_or_truncate, words

    docs = _t(spark, sf_dir, "documents")
    ids = F.transform(words(F.col("text")), lambda w: F.length(w))
    padded = pad_or_truncate(ids, 12, 0)
    return docs.select(
        "doc_id",
        F.concat_ws(" ", F.transform(padded, lambda x: x.cast("string"))).alias("padded"),
    )


def q_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: self-inequality theta join (reference src/zeshel_dataset.py:56-60)
    — each region paired with every *other* region."""
    r1 = _t(spark, sf_dir, "region").select(F.col("r_regionkey").alias("a"))
    r2 = _t(spark, sf_dir, "region").select(F.col("r_regionkey").alias("b"))
    return r1.join(r2, r1.a != r2.b).select("a", "b")


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: per-group top-k with deterministic tie-break (reference
    src/eval_zeshel.py:48-50)."""
    from entity_linking_spark.operators.topk import top_k_per_group

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 500)
    return top_k_per_group(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        ["l_orderkey"],
        "l_extendedprice",
        3,
        tiebreak_cols=["l_linenumber"],
    ).select("l_orderkey", "l_linenumber", "l_extendedprice", "rank")


def q_semi_join_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: membership semi-join (reference src/eval_zeshel.py:50-52)."""
    orders = _t(spark, sf_dir, "orders")
    returned = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return orders.join(
        returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_totalprice")


def q_anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resume-style left-anti join (SURVEY.md §2.6): customers without orders."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Retrieval / ANN (reference src/eval_zeshel.py semantics)
# ---------------------------------------------------------------------------

def q_retrieval_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5+W1+J3: brute-force cosine top-k retrieval rate over the
    embeddings table — label plays 'true entity' (reference
    src/eval_zeshel.py:38-53, all k in one pass)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    c = emb.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
    )
    from entity_linking_spark.functions.vector import cosine
    from entity_linking_spark.operators.topk import top_k_per_group

    pairs = q.crossJoin(c).where(F.col("query_id") != F.col("corpus_id"))
    scored = pairs.withColumn("cosine", cosine("q_emb", "c_emb"))
    top = top_k_per_group(
        scored.select("query_id", "q_label", "corpus_id", "c_label", "cosine"),
        ["query_id"],
        "cosine",
        16,
        tiebreak_cols=["corpus_id"],
    )
    per_query = top.groupBy("query_id", "q_label").agg(
        F.min(F.when(F.col("c_label") == F.col("q_label"), F.col("rank"))).alias(
            "true_rank"
        )
    )
    aggs = [
        F.round(
            F.avg(
                F.when(
                    F.col("true_rank").isNotNull() & (F.col("true_rank") <= k), 1.0
                ).otherwise(0.0)
            ),
            4,
        ).alias(f"rate_k{k}")
        for k in (1, 4, 8, 16)
    ]
    return per_query.agg(*aggs)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 per query vector (exact ANN baseline)."""
    from entity_linking_spark.operators.ann import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    out = brute_force_topk(q, c, k=5)
    return out.select(
        "query_id", "corpus_id", "rank", F.round("cosine", 4).alias("cosine")
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN (approximate scale path), oracled via planted
    duplicates: queries are exact copies of corpus vectors (vec_id+100000),
    so each query's rank-1 hit is its copy at cosine 1.0 — identical
    vectors share every bucket in every table, making the rank-1 row
    deterministic and SQL-expressible despite the seeded hyperplanes.
    (The natural corpus has no near-dups: max pair cosine ≈ 0.51, so no
    other candidate can reach 1.0.)  Ranks 2+ depend on seed-specific
    bucket cohabitation and are covered by tests/test_ann.py recall gates
    instead."""
    from entity_linking_spark.operators.ann import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 100000).alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    dim = len(emb.select("embedding").first()[0])
    out = lsh_topk(q, c, dim=dim, k=5, num_planes=6, num_tables=8)
    return out.where(F.col("rank") == 1).select(
        "query_id", "corpus_id", "rank", F.round("cosine", 4).alias("cosine")
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means-bucketed) ANN, oracled via the same planted-duplicate
    construction as q_ann_lsh_topk: queries are exact copies of corpus
    vectors, so the rank-1 hit is deterministic (identical vectors share
    the nearest centroid) at cosine 1.0."""
    from entity_linking_spark.operators.ann import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 100000).alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    dim = len(emb.select("embedding").first()[0])
    out = ivf_topk(q, c, dim=dim, k=5, num_centroids=16, nprobe=2)
    return out.where(F.col("rank") == 1).select(
        "query_id", "corpus_id", "rank", F.round("cosine", 4).alias("cosine")
    )


# ---------------------------------------------------------------------------
# Dedup suite over documents
# ---------------------------------------------------------------------------

def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-(lang, source) sample of documents — deterministic
    md5-order stratified sampling (operators/transform.py:
    stratified_sample), the corpus-balancing op of a training-data
    pipeline."""
    from entity_linking_spark.operators.transform import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_sample(docs, ["lang", "source"], 5, "doc_id")


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entity_linking_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text").select("doc_id", "dup_count")


def q_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-token Jaccard ≥ 0.9 near-dup pairs via the guarded operator
    (operators/dedup.py:ngram_jaccard_pairs — hot-token buckets above
    max_bucket are dropped; a no-op at oracle scale, the scale guard at
    10^12 docs)."""
    from entity_linking_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.9, tokenizer="word"
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py:decontaminate): every
    corpus doc sharing ≥ 1 distinct 3-word shingle with the benchmark
    slice (doc_id % 10 == 0) is flagged; the oracle replicates the
    normalize/split/shingle pipeline in SQL over the same parquet."""
    from entity_linking_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    bench = docs.where(F.col("id") % 10 == 0)
    out = decontaminate(docs, bench, k=3, min_hits=1)
    return out.select("id", "n_hits", "contaminated")


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (functions/quality.py:redact_pii — C4/RefinedWeb
    hygiene): emails / IPv4s / phone numbers planted deterministically
    from doc_id are counted on the original text and replaced with typed
    placeholders, all in one JVM regexp projection; the oracle replays
    the identical construction and (Java∩RE2-safe) patterns in DuckDB."""
    from entity_linking_spark.functions.quality import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" reach u"), F.col("doc_id").cast("string"),
                     F.lit("@ex.org or +1 555 000 1234")),
        ).when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit(" server 10.0."),
                     (F.col("doc_id") % 256).cast("string"), F.lit(".7 up")),
        ).otherwise(F.lit("")),
    )
    return docs.select(
        F.col("doc_id").alias("id"), planted.alias("t")
    ).select(
        "id", *pii_counts("t"), redact_pii("t").alias("redacted")
    )


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/url.py:canonical_url — the first
    dedup key of web-crawl pipelines): six planted URL shapes per doc_id
    cover case-folding, default-port stripping, fragment/tracking-param
    removal, param sorting, trailing-slash and non-default-port
    retention; the oracle replays the same expression tree in DuckDB."""
    from entity_linking_spark.functions.url import canonical_url, url_host

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ds = d.cast("string")
    url = (
        F.when(d % 6 == 0, F.concat(
            F.lit("HTTP://Example.COM:80/a"), ds,
            F.lit("/?utm_source=x&q=1#frag")))
        .when(d % 6 == 1, F.concat(
            F.lit("https://Sub.Ex.org:443/p"), ds, F.lit("/")))
        .when(d % 6 == 2, F.concat(
            F.lit("https://ex.org/p?b=2&a="), ds, F.lit("&fbclid=zzz")))
        .when(d % 6 == 3, F.concat(F.lit("http://ex.org/q"), ds))
        .when(d % 6 == 4, F.lit("https://ex.org/"))
        .otherwise(F.concat(F.lit("http://ex.org:8080/z?ref=abc&x="), ds))
    )
    canon = canonical_url(url)
    return docs.select(
        d.alias("id"), canon.alias("canon"), url_host(canon).alias("host")
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split (operators/transform.py:hash_split):
    80/10/10 by md5 hex-prefix bucket — the oracle applies the identical
    thresholds ('cccc' = 0.8·16^4, 'e666' = 0.9·16^4) to the same md5."""
    from entity_linking_spark.operators.transform import hash_split

    docs = _t(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id").select(
        F.col("doc_id").alias("id"), "split"
    )


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-span detection (operators/dedup.py:repeated_spans,
    Lee-et-al.-style substring dedup): every 20-token window occurring
    ≥ 2 times corpus-wide.  keep_text mode so the oracle can replay the
    identical window construction on the span strings."""
    from entity_linking_spark.operators.dedup import repeated_spans

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    return repeated_spans(docs, k=20, min_count=2, keep_text=True)


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained unigram LM quality scores
    (operators/tfidf.py:unigram_logprob_scores — the CCNet/KenLM
    perplexity-filter stand-in); the oracle replays frequencies, the
    corpus total, and ln(c/t) averaging in SQL."""
    from entity_linking_spark.operators.tfidf import unigram_logprob_scores

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob_scores(docs, "doc_id", "text")


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full corpus-cleaning composition (plans/corpus_clean.py:
    clean_corpus — URL dedup → exact → MinHash near-dup → boilerplate
    strip → decontaminate → quality/PII): returns the per-stage
    attrition report as rows.  MinHash banding makes the composition
    non-SQL-expressible, so this is a rows-only driver check; each
    constituent operator has its own exact oracle elsewhere."""
    from entity_linking_spark.operators._cache import cache_scope
    from entity_linking_spark.plans.corpus_clean import (
        CleanConfig, clean_corpus,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.concat(F.lit("http://ex.org/p"),
                 (F.col("doc_id") % 400).cast("string"),
                 F.lit("?utm_source=x")).alias("url"),
        "text",
    )
    bench = docs.select("id", "text").where(F.col("id") % 50 == 0)
    with cache_scope():
        _, report = clean_corpus(
            docs, bench,
            CleanConfig(min_tokens=5, line_min_docs=5),
        )
    rows = [(i, stage, int(n)) for i, (stage, n) in enumerate(report.items())]
    return spark.createDataFrame(rows, "stage_idx int, stage string, rows long")


def q_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al. span REMOVAL (operators/dedup.py:remove_repeated_spans):
    keep each repeated 20-token span's first (id, pos) occurrence and
    strip the tokens of later ones; the oracle replays the window-rank +
    index-mask pipeline with DuckDB list lambdas (span-string partitions
    stand in for the xxhash64 fold — identical sans 2^-64 collisions)."""
    from entity_linking_spark.operators.dedup import remove_repeated_spans

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    return remove_repeated_spans(docs, k=20)


def q_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest (sources/warc.py — the Common Crawl container format,
    stdlib-parsed): each doc_id < 50 becomes a one-response-record WARC
    archive whose payload is the doc's own text (odd ids use the
    standard per-record-gzip layout, even ids plain), parsed back
    through the Arrow expansion; every output field is SQL-expressible
    from the documents table (payload integrity via md5)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from entity_linking_spark.sources.warc import (
        encode_warc, warc_records_from_binary,
    )

    @pandas_udf(BinaryType())
    def make_warc(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        outs = []
        for d, t in zip(doc_id, text):
            d = int(d)
            rec = {
                "record_type": "response",
                "url": f"http://ex.org/doc/{d}",
                "warc_date": f"2024-01-{1 + d % 28:02d}T00:00:00Z",
                "http_headers": "HTTP/1.1 200 OK\r\nContent-Type: text/plain",
                "payload": str(t).encode("utf-8"),
            }
            outs.append(encode_warc([rec], per_record_gzip=bool(d % 2)))
        return pd.Series(outs)

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    archives = docs.select(
        F.col("doc_id").cast("string").alias("archive"),
        make_warc("doc_id", "text").alias("content"),
    )
    recs = warc_records_from_binary(archives)
    return recs.select(
        F.col("archive").cast("long").alias("id"),
        "record_type", "url", "warc_date", "http_headers", "n_bytes",
        F.md5("payload").alias("payload_md5"),
    )


def _planted_token_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, text) corpus with an exactly known near-dup pair set: every
    base doc gets 8 tokens namespaced by its doc_id (disjoint token sets →
    zero natural similarity), and docs with doc_id < 50 are planted again
    verbatim at id+100000.  Identical texts agree on every MinHash /
    SimHash band, so the only pairs any banding scheme can emit are the
    planted ones — making the xxhash64-based operators oracle-checkable
    in portable SQL (same construction as q_embedding_neardup).

    Throughput of these operators on the REAL document corpus is
    measured separately in bench.py (natural near-dup pairs there depend
    on xxhash64, which DuckDB cannot replay)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    mk_text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda j: F.format_string("w%08d_%d", F.col("doc_id"), j),
        ),
    )
    base = docs.select(F.col("doc_id").alias("id"), mk_text.alias("text"))
    dups = docs.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("id"), mk_text.alias("text")
    )
    return base.unionByName(dups)


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over the planted-duplicate corpus —
    the exact pair set is (i, i+100000, est=1.0) for i < 50 (see
    _planted_token_corpus).  Recall on natural text is gated in
    tests/test_dedup.py vs brute force; real-corpus throughput in
    bench.py."""
    from entity_linking_spark.operators.dedup import minhash_lsh_pairs

    corpus = _planted_token_corpus(spark, sf_dir)
    out = minhash_lsh_pairs(corpus, "id", "text", shingle_k=2, threshold=0.8)
    return out.select("id_a", "id_b", F.round("jaccard_est", 4).alias("jaccard_est"))


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (new crawl increment vs kept corpus,
    operators/dedup.py:incremental_dedup) over a planted construction:
    the reference is the namespaced-token corpus; the increment carries
    doc_id < 50 copied verbatim (→ matched, matched_ref_id = doc_id)
    and 50 ≤ doc_id < 100 with a DISJOINT token namespace (→ novel).
    Identical texts agree on every MinHash band and disjoint token sets
    can never collide, so the exact assignment is SQL-expressible.

    Exercises the PRODUCTION path: the reference corpus enters as a
    precomputed (id, sig, n_sh) signature table (``minhash_signatures``,
    the unit ``signature_stage`` checkpoints), so no reference text is
    re-scanned inside the dedup — each increment costs O(increment)
    (VERDICT r03 #1).  The catalog-backed reuse (snapshot id unchanged
    on the second increment) is pytest-gated in tests/test_dedup.py."""
    from entity_linking_spark.operators.dedup import (
        incremental_dedup,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    ref_text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda j: F.format_string("w%08d_%d", F.col("doc_id"), j),
        ),
    )
    novel_text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda j: F.format_string("v%08d_%d", F.col("doc_id"), j),
        ),
    )
    ref = docs.select(F.col("doc_id").alias("id"), ref_text.alias("text"))
    new = (
        docs.where(F.col("doc_id") < 100)
        .select(
            (F.col("doc_id") + 100000).alias("id"),
            F.when(F.col("doc_id") < 50, ref_text).otherwise(novel_text).alias("text"),
        )
    )
    ref_sigs = minhash_signatures(ref, "id", "text", shingle_k=2)
    out = incremental_dedup(
        new, None, "id", "text", ref_sigs=ref_sigs, shingle_k=2, threshold=0.8
    )
    return out.select("id", "is_novel", "matched_ref_id")


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over the planted-duplicate corpus — exact
    pair set (i, i+100000, hamming=0) for i < 50."""
    from entity_linking_spark.operators.dedup import simhash_pairs

    corpus = _planted_token_corpus(spark, sf_dir)
    return simhash_pairs(corpus, "id", "text", max_hamming=3)


_BOILER = "x navigation menu x. y copyright footer y. z subscribe banner z. "


def _multiline_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with deterministic planted boilerplate: every doc whose
    doc_id % 97 == 0 gets the same three sentence-lines prepended.  The
    line-matching semantics are exact string equality, so the DuckDB
    oracle replicates the WHOLE construction + operator in portable SQL
    (no hardcoded answers)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("id"),
        F.concat(
            F.when(F.col("doc_id") % 97 == 0, F.lit(_BOILER)).otherwise(F.lit("")),
            F.col("text"),
        ).alias("text"),
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: docs sharing ≥3 identical normalized
    sentence-lines (operators/dedup.py:line_dedup_pairs — the line-hash
    training-data dedup level)."""
    from entity_linking_spark.operators.dedup import line_dedup_pairs

    corpus = _multiline_corpus(spark, sf_dir)
    out = line_dedup_pairs(
        corpus, "id", "text", line_sep_re=r"\. ", min_shared_lines=3
    )
    return out.select(
        "id_a", "id_b", "n_shared", F.round("line_jaccard", 4).alias("line_jaccard")
    )


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate surfacing: normalized lines appearing in ≥3 docs."""
    from entity_linking_spark.operators.dedup import boilerplate_lines

    corpus = _multiline_corpus(spark, sf_dir)
    return boilerplate_lines(corpus, "id", "text", line_sep_re=r"\. ", min_docs=3)


# ---------------------------------------------------------------------------
# Text analysis over documents
# ---------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entity_linking_spark.functions.quality import (
        mean_word_length,
        punct_ratio,
        stopword_ratio,
        whitespace_token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        whitespace_token_count("text").alias("n_tokens"),
        F.round(punct_ratio("text"), 4).alias("punct_ratio"),
        F.round(stopword_ratio("text"), 4).alias("stopword_ratio"),
        F.round(mean_word_length("text"), 4).alias("mean_word_len"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial fingerprint — portable arithmetic, exact oracle."""
    from entity_linking_spark.functions.hashing import rolling_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_fingerprint("text").alias("fingerprint"))


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language ID (CASE cascade twin in oracle_sql)."""
    from entity_linking_spark.functions.quality import language_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id("text").alias("lang_guess"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite text-quality score (len/word-len/punct blend; exact
    arithmetic twin in oracle_sql)."""
    from entity_linking_spark.functions.quality import quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.round(quality_score("text"), 4).alias("quality"))


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction (operators/tfidf.py): top-3 terms per
    document, smooth-idf, deterministic tie-break."""
    from entity_linking_spark.operators.tfidf import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, "doc_id", "text", k=3)
    return out.select(
        F.col("id").alias("doc_id"),
        "term",
        "tf",
        "df",
        F.round("tfidf", 4).alias("tfidf"),
        "rank",
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via sign-LSH buckets.  Identical
    vectors always share every bucket, so the planted-duplicate pair set
    is exact and oracle-checkable despite the seeded hyperplanes."""
    from entity_linking_spark.operators.ann import embedding_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    base = emb.where(F.col("vec_id") < 500).select("vec_id", "embedding")
    # the driver corpus has no near-dups (max pair cosine ≈ 0.51), so plant
    # 50 exact duplicates at vec_id+100000 — the expected pair set is known
    dups = base.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    out = embedding_dedup_pairs(
        base.unionByName(dups), "vec_id", threshold=0.95, dim=dim
    )
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (functions/quality.py —
    Gopher-style quality rules for web-scale training data): duplicate
    word/2-gram/3-gram occurrence fractions + top-word frequency, with an
    exact DuckDB list-function twin.  Row-length-adaptive (VERDICT r04
    #5): document-sized rows stay pure scan-stage expressions; rows over
    the length threshold route top_word_frac through the explode+groupBy
    twin (repetition_stats_table) so book-length rows cannot stall a
    task on the O(distinct·words) HOF form."""
    from entity_linking_spark.functions.quality import repetition_stats_table

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats_table(docs.select("doc_id", "text"), "doc_id", "text")


# ---------------------------------------------------------------------------
# Multimodal binary-column plumbing (documents' bytes as opaque media)
# ---------------------------------------------------------------------------

def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit(None).cast("string").alias("url"),
        F.when(F.col("doc_id") % 3 == 0, "video").otherwise("image").alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit("application/octet-stream").alias("content_type"),
        F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction over opaque binary content
    (mapInPandas; decode stubbed deterministically — operators/multimodal.py).
    sha256 + sizes are oracle-checkable; the stub feature vector is not."""
    from entity_linking_spark.operators.multimodal import extract_media_features

    media = _media_table(spark, sf_dir)
    feats = extract_media_features(media, strict=False)
    return feats.select("media_id", "kind", "n_bytes", "sha256")


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan rows (media_id, frame_index)."""
    from entity_linking_spark.operators.multimodal import frame_sample_plan

    media = _media_table(spark, sf_dir)
    return frame_sample_plan(media, every_n=30)


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode (operators/multimodal.py:audio_features — stdlib
    wave + numpy PCM, VERDICT r03 #6) over deterministically constructed
    WAV clips: doc_id < 200 each becomes a mono 16-bit 8 kHz WAV with
    n_frames = 800 + (doc_id%40)*80 constant-amplitude samples of value
    A = 1000 + doc_id%100.  Every output is then SQL-expressible from
    doc_id alone: n_bytes = 44 + 2·n_frames (standard PCM header),
    duration = n_frames/8000, and rms = A/32768 EXACTLY (A/2^15, its
    square, and all partial sums are exactly representable doubles, so
    the float pipeline is bit-deterministic — no rounding needed)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from entity_linking_spark.operators.multimodal import audio_features

    @pandas_udf(BinaryType())
    def make_wav(doc_id: pd.Series) -> pd.Series:
        import io as _io
        import wave as _wave

        import numpy as _np

        outs = []
        for d in doc_id:
            d = int(d)
            n_frames = 800 + (d % 40) * 80
            amp = 1000 + d % 100
            buf = _io.BytesIO()
            with _wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(8000)
                w.writeframes(_np.full(n_frames, amp, dtype="<i2").tobytes())
            outs.append(buf.getvalue())
        return pd.Series(outs)

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        make_wav("doc_id").alias("content"),
    )
    out = audio_features(media)
    return out.select(
        "media_id", "n_bytes", "sample_rate", "n_channels",
        "sample_width", "n_frames", "duration_sec", "rms",
    )


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (operators/multimodal.py:decode_png — stdlib
    zlib inflate + scanline unfilter, the image twin of audio_features)
    over deterministically constructed PNGs: doc_id < 200 each becomes an
    RGB PNG of width 4 + doc_id%8, height 3 + doc_id%5 with constant
    channels r = doc_id%256, g = (2·doc_id)%256, b = (3·doc_id)%256,
    encoded with filter type doc_id%5 — so every one of the five PNG
    unfilter paths (None/Sub/Up/Average/Paeth) is exercised under the
    DuckDB gate, and every output field is SQL-expressible from doc_id
    alone (constant channels ⇒ the per-channel means are exactly the
    channel values, integer-valued doubles)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from entity_linking_spark.operators.multimodal import (
        encode_png, image_features,
    )

    @pandas_udf(BinaryType())
    def make_png(doc_id: pd.Series) -> pd.Series:
        import numpy as _np

        outs = []
        for d in doc_id:
            d = int(d)
            w, h = 4 + d % 8, 3 + d % 5
            arr = _np.zeros((h, w, 3), dtype=_np.uint8)
            arr[:, :, 0] = d % 256
            arr[:, :, 1] = (2 * d) % 256
            arr[:, :, 2] = (3 * d) % 256
            outs.append(encode_png(arr, filter_type=d % 5))
        return pd.Series(outs)

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        make_png("doc_id").alias("content"),
    )
    return image_features(media).select(
        "media_id", "width", "height", "channels", "bit_depth",
        "mean_r", "mean_g", "mean_b",
    )


def _make_y4m_udf():
    """Deterministic Y4M clip from doc_id: w = 4 + 2·(d%3), h = 2 + 2·(d%4)
    (all single-digit, so the header is exactly 39 bytes), n_frames =
    1 + d%5 at 30:1 fps, constant planes y = d%256, u = (2d)%256,
    v = (3d)%256 — every decoded field is SQL-expressible from doc_id
    alone (constant planes ⇒ plane means are the byte values exactly;
    n_bytes = 39 + nf·(6 + 3wh/2) from the 4:2:0 layout)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from entity_linking_spark.operators.multimodal import encode_y4m

    @pandas_udf(BinaryType())
    def make_y4m(doc_id: pd.Series) -> pd.Series:
        import numpy as _np

        outs = []
        for d in doc_id:
            d = int(d)
            w, h, nf = 4 + 2 * (d % 3), 2 + 2 * (d % 4), 1 + d % 5
            y = _np.full((nf, h, w), d % 256, dtype=_np.uint8)
            u = _np.full((nf, h // 2, w // 2), (2 * d) % 256, dtype=_np.uint8)
            v = _np.full((nf, h // 2, w // 2), (3 * d) % 256, dtype=_np.uint8)
            outs.append(encode_y4m(y, u, v, fps=(30, 1), cspace="420jpeg"))
        return pd.Series(outs)

    return make_y4m


def q_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode (operators/multimodal.py:decode_y4m — YUV4MPEG2
    header parse + planar numpy frames, the video twin of audio/image
    features) over deterministically constructed Y4M clips (see
    ``_make_y4m_udf``)."""
    from entity_linking_spark.operators.multimodal import video_features

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        _make_y4m_udf()("doc_id").alias("content"),
    )
    return video_features(media).select(
        "media_id", "n_bytes", "width", "height", "n_frames", "fps",
        "duration_sec", "mean_y", "mean_u", "mean_v",
    )


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling (operators/multimodal.py:sample_video_frames):
    decodes the same deterministic Y4M clips and emits every 2nd frame's
    luma mean — the decoded realization of frame_sample's arithmetic."""
    from entity_linking_spark.operators.multimodal import sample_video_frames

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        _make_y4m_udf()("doc_id").alias("content"),
    )
    return sample_video_frames(media, every_n=2)


# ---------------------------------------------------------------------------
# Clustering / events
# ---------------------------------------------------------------------------

def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid connected components over a deterministic chain graph: edges link
    consecutive vec_ids of the same label → one component per label, so the
    oracle is min(vec_id) over label (portable SQL)."""
    from pyspark.sql import Window

    from entity_linking_spark.operators.cluster import connected_components

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    w = Window.partitionBy("label").orderBy("vec_id")
    edges = (
        emb.withColumn("nxt", F.lead("vec_id").over(w))
        .where(F.col("nxt").isNotNull())
        .select(
            F.format_string("v%08d", "vec_id").alias("src"),
            F.format_string("v%08d", "nxt").alias("dst"),
        )
    )
    return connected_components(edges).select("node", "cluster_id")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization, batch form (streaming/events.py:
    sessionize_batch — the SQL-expressible twin of the stateful
    applyInPandasWithState sessionizer, which tests/test_streaming.py
    checks against this operator's semantics)."""
    from entity_linking_spark.streaming.events import sessionize_batch

    ev = _t(spark, sf_dir, "events")
    out = sessionize_batch(ev, key_col="user_id", gap_minutes=30)
    return out.select(
        "session_key",
        F.unix_timestamp("session_start").alias("start_epoch"),
        F.unix_timestamp("session_end").alias("end_epoch"),
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each click event matched to the
    latest view event of the same user at-or-before it — single-shuffle
    union+window plan; DuckDB's native ASOF LEFT JOIN is the oracle.
    Views are deduped to one row per (user, ts) first (ties inside one
    timestamp have no defined as-of winner)."""
    from pyspark.sql import Window

    from entity_linking_spark.operators.asof import as_of_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    views = (
        ev.where(F.col("event_type") == "view")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "ts", "value")
    )
    out = as_of_join(clicks, views, on=["user_id"], right_value_cols=["value"])
    return out.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("click_epoch"),
        F.unix_timestamp("ts_r").alias("view_epoch"),
        F.round("value", 4).alias("view_value"),
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured projection: parse the events.props JSON column with
    an explicit schema (from_json — JVM Jackson parse in the scan-stage
    projection, no Python) and aggregate on the extracted field.  The
    web-corpus analogue of pulling typed fields out of crawl metadata."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json("props", "k int").getField("k").alias("k"),
        "value",
    )
    return (
        parsed.groupBy("event_type", (F.col("k") % 10).alias("k_bucket"))
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


def q_tar_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal tar-archive ingest (sources/archive.py:read_tar_members —
    the reference untars dataset archives, src/eval_zeshel_gcp.py:86-89).
    Full-construction oracle: the archive is built deterministically from
    the first 50 documents (member docs/doc_{id:06d} holds the UTF-8
    text), so member sizes and md5 digests are SQL-expressible from the
    source table (octet_length/md5 of the text)."""
    import os
    import tarfile
    import tempfile

    from entity_linking_spark.sources.archive import read_tar_members

    rows = sorted(
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 50)
        .select("doc_id", "text")
        .collect(),
        key=lambda r: r["doc_id"],
    )
    # stable content-addressed dir: Python's str hash is salted per
    # process, so hash(sf_dir) minted a fresh leaked dir per driver run
    # (ADVICE r03) — md5 makes reruns reuse (and overwrite) one path
    import hashlib

    tdir = os.path.join(
        tempfile.gettempdir(),
        f"el_tar_query_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    os.makedirs(tdir, exist_ok=True)
    tar_path = os.path.join(tdir, "corpus.tar.gz")
    import io

    with tarfile.open(tar_path, "w:gz") as tf:
        for r in rows:
            data = r["text"].encode("utf-8")
            info = tarfile.TarInfo(name=f"docs/doc_{r['doc_id']:06d}")
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))

    out = read_tar_members(spark, tar_path)
    return out.select("path", "size", F.md5("content").alias("md5"))


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the streaming rollup)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_epoch"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: retrieval-rate over sf0.001 embeddings (the reference's
    headline metric, src/eval_zeshel.py:33-35, computed in one pass)."""
    return q_retrieval_rate(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "denormalize_join": q_denormalize_join,
        "dedup_last_wins": q_dedup_last_wins,
        "distinct_entities": q_distinct_entities,
        "union_corpora": q_union_corpora,
        "split_counts": q_split_counts,
        "entity_overlap": q_entity_overlap,
        "tiny_split": q_tiny_split,
        "stratified_sample": q_stratified_sample,
        "context_window": q_context_window,
        "pad_sequences": q_pad_sequences,
        "theta_join": q_theta_join,
        "topk_per_group": q_topk_per_group,
        "semi_join_truth": q_semi_join_truth,
        "anti_join_resume": q_anti_join_resume,
        "retrieval_rate": q_retrieval_rate,
        "ann_topk": q_ann_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "exact_dedup": q_exact_dedup,
        "ngram_jaccard_dedup": q_ngram_jaccard_dedup,
        "decontaminate": q_decontaminate,
        "pii_redact": q_pii_redact,
        "url_canonical": q_url_canonical,
        "hash_split": q_hash_split,
        "repeated_spans": q_repeated_spans,
        "unigram_logprob": q_unigram_logprob,
        "corpus_clean": q_corpus_clean,
        "span_removal": q_span_removal,
        "warc_records": q_warc_records,
        "minhash_dedup": q_minhash_dedup,
        "simhash_dedup": q_simhash_dedup,
        "incremental_dedup": q_incremental_dedup,
        "line_dedup": q_line_dedup,
        "boilerplate_lines": q_boilerplate_lines,
        "token_stats": q_token_stats,
        "repetition_stats": q_repetition_stats,
        "fingerprint": q_fingerprint,
        "language_id": q_language_id,
        "quality_score": q_quality_score,
        "tfidf_top_terms": q_tfidf_top_terms,
        "embedding_neardup": q_embedding_neardup,
        "media_features": q_media_features,
        "frame_sample": q_frame_sample,
        "audio_features": q_audio_features,
        "image_features": q_image_features,
        "video_features": q_video_features,
        "video_frames": q_video_frames,
        "connected_components": q_connected_components,
        "sessionize": q_sessionize,
        "asof_join": q_asof_join,
        "json_extract": q_json_extract,
        "tar_members": q_tar_members,
        "events_hourly": q_events_hourly,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "denormalize_join": """
            SELECT o_orderkey, c_name, n_name, o_totalprice
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
        """,
        "dedup_last_wins": """
            SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
            FROM lineitem
            QUALIFY row_number() OVER (
                PARTITION BY l_orderkey
                ORDER BY l_linenumber DESC, l_partkey DESC, l_quantity DESC
            ) = 1
        """,
        "distinct_entities": """
            SELECT DISTINCT lang, source FROM documents
        """,
        "union_corpora": """
            SELECT DISTINCT nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                UNION ALL
                SELECT s_nationkey AS nationkey FROM supplier
            )
        """,
        "split_counts": """
            SELECT o_orderstatus, count(*) AS n_orders
            FROM orders GROUP BY o_orderstatus
        """,
        "entity_overlap": """
            SELECT count(*) AS overlap FROM (
                SELECT DISTINCT c_nationkey AS k FROM customer
                INTERSECT
                SELECT DISTINCT s_nationkey AS k FROM supplier
            )
        """,
        "tiny_split": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_orderkey LIMIT 100
        """,
        "stratified_sample": """
            SELECT doc_id, lang, source FROM documents
            QUALIFY row_number() OVER (
                PARTITION BY lang, source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            ) <= 5
        """,
        "context_window": """
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t <> '') AS ws
                FROM documents
            ),
            s AS (
                SELECT doc_id, ws, len(ws) AS n,
                       CAST(floor(len(ws) / 4) AS INTEGER) AS st
                FROM w WHERE len(ws) >= 8
            )
            -- keep_left = floor((16-2 - mention_len)/2) = 4, keep_right = 5
            -- (mention_len = 3 words + 2 tags; reference arithmetic
            --  src/zeshel_dataset.py:72-74)
            SELECT doc_id,
                   array_to_string(
                       array_slice(ws, greatest(st - 4, 0) + 1, st)
                       || array_slice(ws, st + 1, st + 3)
                       || array_slice(ws, st + 4,
                                      st + 3 + least(5, greatest(n - (st + 3), 0))),
                       ' ') AS context
            FROM s
        """,
        "pad_sequences": """
            WITH w AS (
                SELECT doc_id,
                       list_transform(
                           list_filter(string_split_regex(text, '\\s+'), t -> t <> ''),
                           t -> length(t)) AS ids
                FROM documents
            )
            SELECT doc_id,
                   array_to_string(
                       list_transform(
                           array_slice(ids, 1, 12)
                           || list_transform(
                                  generate_series(1, greatest(12 - len(ids), 0)),
                                  x -> 0),
                           x -> CAST(x AS VARCHAR)),
                       ' ') AS padded
            FROM w
        """,
        "theta_join": """
            SELECT r1.r_regionkey AS a, r2.r_regionkey AS b
            FROM region r1, region r2
            WHERE r1.r_regionkey <> r2.r_regionkey
        """,
        "topk_per_group": """
            SELECT l_orderkey, l_linenumber, l_extendedprice,
                   CAST(row_number() OVER (
                       PARTITION BY l_orderkey
                       ORDER BY l_extendedprice DESC, l_linenumber ASC
                   ) AS INTEGER) AS rank
            FROM lineitem
            WHERE l_orderkey <= 500
            QUALIFY rank <= 3
        """,
        "semi_join_truth": """
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
            )
        """,
        "anti_join_resume": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (
                SELECT 1 FROM orders WHERE o_custkey = c_custkey
            )
        """,
        "retrieval_rate": """
            WITH pairs AS (
                SELECT q.vec_id AS query_id, q.label AS q_label,
                       c.label AS c_label,
                       list_cosine_similarity(q.embedding, c.embedding) AS cosine,
                       c.vec_id AS corpus_id
                FROM embeddings q, embeddings c
                WHERE q.vec_id < 100 AND q.vec_id <> c.vec_id
            ),
            ranked AS (
                SELECT query_id, q_label, c_label,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY cosine DESC, corpus_id ASC
                       ) AS rank
                FROM pairs
                QUALIFY rank <= 16
            ),
            per_query AS (
                SELECT query_id, q_label,
                       min(CASE WHEN c_label = q_label THEN rank END) AS true_rank
                FROM ranked GROUP BY query_id, q_label
            )
            SELECT
                round(avg(CASE WHEN true_rank IS NOT NULL AND true_rank <= 1 THEN 1.0 ELSE 0.0 END), 4) AS rate_k1,
                round(avg(CASE WHEN true_rank IS NOT NULL AND true_rank <= 4 THEN 1.0 ELSE 0.0 END), 4) AS rate_k4,
                round(avg(CASE WHEN true_rank IS NOT NULL AND true_rank <= 8 THEN 1.0 ELSE 0.0 END), 4) AS rate_k8,
                round(avg(CASE WHEN true_rank IS NOT NULL AND true_rank <= 16 THEN 1.0 ELSE 0.0 END), 4) AS rate_k16
            FROM per_query
        """,
        "ann_topk": """
            SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                   CAST(row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                                c.vec_id ASC
                   ) AS INTEGER) AS rank,
                   round(list_cosine_similarity(q.embedding, c.embedding), 4) AS cosine
            FROM embeddings q, embeddings c
            WHERE q.vec_id < 30 AND q.vec_id <> c.vec_id
            QUALIFY rank <= 5
        """,
        "ann_lsh_topk": """
            SELECT vec_id + 100000 AS query_id, vec_id AS corpus_id,
                   CAST(1 AS INTEGER) AS rank, CAST(1.0 AS DOUBLE) AS cosine
            FROM embeddings WHERE vec_id < 30
        """,
        "ann_ivf_topk": """
            SELECT vec_id + 100000 AS query_id, vec_id AS corpus_id,
                   CAST(1 AS INTEGER) AS rank, CAST(1.0 AS DOUBLE) AS cosine
            FROM embeddings WHERE vec_id < 30
        """,
        "exact_dedup": """
            SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM documents GROUP BY md5(text)
        """,
        "ngram_jaccard_dedup": """
            WITH toks AS (
                SELECT doc_id AS id,
                       list_distinct(string_split_regex(
                           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                       )) AS toks
                FROM documents
            ),
            sized AS (SELECT id, toks, len(toks) AS n_toks FROM toks),
            ex AS (SELECT id, unnest(toks) AS tok FROM sized),
            inter AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
                FROM ex a JOIN ex b ON a.tok = b.tok AND a.id < b.id
                GROUP BY a.id, b.id
            )
            SELECT id_a, id_b,
                   round(n_inter / (sa.n_toks + sb.n_toks - n_inter), 4) AS jaccard
            FROM inter
            JOIN sized sa ON sa.id = id_a
            JOIN sized sb ON sb.id = id_b
            WHERE n_inter / (sa.n_toks + sb.n_toks - n_inter) >= 0.9
        """,
        "decontaminate": """
            -- replicate normalize/split/3-word-shingle exactly: filtered
            -- whitespace split, n_sh = max(len-2, 1) shingles (short docs
            -- yield one shingle of their available words, matching the
            -- zip_with/concat_ws shape), distinct per doc
            WITH toks AS (
                SELECT doc_id AS id,
                       list_filter(string_split_regex(
                           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                       ), t -> t <> '') AS toks
                FROM documents
            ),
            grams AS (
                SELECT id, list_distinct(list_transform(
                           generate_series(1, greatest(len(toks) - 2, 1)),
                           i -> array_to_string(toks[i:i+2], ' '))) AS gs
                FROM toks WHERE len(toks) > 0
            ),
            bench AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE id % 10 = 0),
            hits AS (
                SELECT id, count(*) AS n_hits
                FROM (SELECT id, unnest(gs) AS g FROM grams) e
                JOIN bench USING (g)
                GROUP BY id
            )
            SELECT t.id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                   coalesce(h.n_hits, 0) >= 1 AS contaminated
            FROM toks t LEFT JOIN hits h ON h.id = t.id
        """,
        "pii_redact": """
            -- identical planted construction and patterns as
            -- q_pii_redact; counts on the ORIGINAL text, redaction
            -- chained email -> ipv4 -> phone (dict order)
            WITH p AS (
                SELECT doc_id AS id,
                       text || CASE
                           WHEN doc_id % 3 = 0 THEN ' reach u' || doc_id || '@ex.org or +1 555 000 1234'
                           WHEN doc_id % 3 = 1 THEN ' server 10.0.' || (doc_id % 256) || '.7 up'
                           ELSE '' END AS t
                FROM documents
            )
            SELECT id,
                   CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
                   CAST(len(regexp_extract_all(t, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS INTEGER) AS n_ipv4,
                   CAST(len(regexp_extract_all(t, '\\+\\d[\\d -]{6,14}\\d')) AS INTEGER) AS n_phone,
                   regexp_replace(regexp_replace(regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<email>', 'g'),
                       '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<ipv4>', 'g'),
                       '\\+\\d[\\d -]{6,14}\\d', '<phone>', 'g') AS redacted
            FROM p
        """,
        "unigram_logprob": """
            WITH toks AS (
                SELECT doc_id AS id,
                       unnest(list_filter(string_split_regex(
                           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                       ), t -> t <> '')) AS tok
                FROM documents
            ),
            freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
            tot AS (SELECT sum(c) AS t FROM freq)
            SELECT id, count(*) AS n_tokens,
                   round(avg(ln(c / t)), 4) AS avg_logprob
            FROM toks JOIN freq USING (tok), tot
            GROUP BY id
        """,
        "warc_records": """
            -- full-construction oracle (tar_members pattern): the WARC
            -- archives are built from the documents rows themselves, so
            -- every parsed field is replayable from the table
            SELECT doc_id AS id,
                   'response' AS record_type,
                   'http://ex.org/doc/' || doc_id AS url,
                   '2024-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
                       || 'T00:00:00Z' AS warc_date,
                   concat('HTTP/1.1 200 OK', chr(13), chr(10),
                          'Content-Type: text/plain') AS http_headers,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   md5(text) AS payload_md5
            FROM documents WHERE doc_id < 50
        """,
        "span_removal": """
            -- window-rank first-occurrence protection + index-mask strip,
            -- identical to remove_repeated_spans (k=20); parallel unnest
            -- zips positions with spans
            WITH toks AS (
                SELECT doc_id AS id,
                       coalesce(list_filter(string_split_regex(
                           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                       ), t -> t <> ''), []) AS toks
                FROM documents
            ),
            spans AS (
                SELECT id,
                       unnest(generate_series(1, len(toks) - 19)) - 1 AS pos,
                       unnest(list_transform(generate_series(1, len(toks) - 19),
                           i -> array_to_string(toks[i:i+19], ' '))) AS span
                FROM toks WHERE len(toks) >= 20
            ),
            flagged AS (
                SELECT id, pos FROM (
                    SELECT id, pos,
                           row_number() OVER (PARTITION BY span ORDER BY id, pos) AS rn
                    FROM spans
                ) WHERE rn > 1
            ),
            rm AS (SELECT id, list_sort(list(pos)) AS rm FROM flagged GROUP BY id),
            masked AS (
                SELECT t.id, t.toks,
                       CASE WHEN r.rm IS NULL THEN t.toks
                            ELSE list_transform(
                                list_filter(generate_series(0, len(t.toks) - 1),
                                    j -> len(list_filter(r.rm,
                                        p -> p <= j AND j < p + 20)) = 0),
                                j -> t.toks[j + 1]) END AS kept
                FROM toks t LEFT JOIN rm r ON r.id = t.id
            )
            -- array_to_string([]) is NULL in DuckDB but array_join([]) is
            -- '' in Spark (a fully-repeated doc strips to nothing)
            SELECT id, coalesce(array_to_string(kept, ' '), '') AS clean_text,
                   CAST(len(toks) - len(kept) AS INTEGER) AS n_tokens_removed
            FROM masked
        """,
        "repeated_spans": """
            -- identical normalize/split/20-token sliding-window pipeline;
            -- docs shorter than 20 tokens contribute no windows
            WITH toks AS (
                SELECT list_filter(string_split_regex(
                           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                       ), t -> t <> '') AS toks
                FROM documents
            ),
            spans AS (
                SELECT unnest(list_transform(
                           generate_series(1, len(toks) - 19),
                           i -> array_to_string(toks[i:i+19], ' '))) AS span
                FROM toks WHERE len(toks) >= 20
            )
            SELECT span, count(*) AS n_occurrences
            FROM spans GROUP BY span HAVING count(*) >= 2
        """,
        "hash_split": """
            SELECT doc_id AS id,
                   CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
                        WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "url_canonical": """
            -- same planted construction and regex pipeline as
            -- q_url_canonical (patterns are Java-and-RE2-safe)
            WITH p AS (
                SELECT doc_id AS id,
                       CASE doc_id % 6
                           WHEN 0 THEN 'HTTP://Example.COM:80/a' || doc_id || '/?utm_source=x&q=1#frag'
                           WHEN 1 THEN 'https://Sub.Ex.org:443/p' || doc_id || '/'
                           WHEN 2 THEN 'https://ex.org/p?b=2&a=' || doc_id || '&fbclid=zzz'
                           WHEN 3 THEN 'http://ex.org/q' || doc_id
                           WHEN 4 THEN 'https://ex.org/'
                           ELSE 'http://ex.org:8080/z?ref=abc&x=' || doc_id
                       END AS u
                FROM documents
            ),
            s AS (SELECT id, regexp_replace(u, '#.*$', '') AS u FROM p),
            parts AS (
                SELECT id,
                       lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                       lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
                       regexp_replace(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$', '') AS path,
                       regexp_extract(u, '\\?([^#]*)', 1) AS query
                FROM s
            ),
            canon AS (
                SELECT id, scheme, path,
                       CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                            WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                            ELSE hostport END AS host,
                       list_sort(list_filter(string_split(query, '&'),
                           x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=&]*|fbclid|gclid|ref)(=|$)'))) AS kept
                FROM parts
            )
            SELECT id,
                   scheme || '://' || host || path ||
                       CASE WHEN len(kept) > 0
                            THEN '?' || array_to_string(kept, '&')
                            ELSE '' END AS canon,
                   host
            FROM canon
        """,
        "minhash_dedup": """
            SELECT doc_id AS id_a, doc_id + 100000 AS id_b,
                   CAST(1.0 AS DOUBLE) AS jaccard_est
            FROM documents WHERE doc_id < 50
        """,
        "simhash_dedup": """
            SELECT doc_id AS id_a, doc_id + 100000 AS id_b,
                   CAST(0 AS INTEGER) AS hamming
            FROM documents WHERE doc_id < 50
        """,
        "incremental_dedup": """
            SELECT doc_id + 100000 AS id,
                   doc_id >= 50 AS is_novel,
                   CASE WHEN doc_id < 50 THEN doc_id END AS matched_ref_id
            FROM documents WHERE doc_id < 100
        """,
        "line_dedup": """
            WITH corpus AS (
                SELECT doc_id AS id,
                       concat(CASE WHEN doc_id % 97 = 0
                              THEN 'x navigation menu x. y copyright footer y. z subscribe banner z. '
                              ELSE '' END, text) AS text
                FROM documents
            ),
            lns AS (
                SELECT id, regexp_replace(trim(lower(l)), '\\s+', ' ', 'g') AS line
                FROM (SELECT id, unnest(string_split_regex(text, '\\. ')) AS l FROM corpus)
            ),
            d AS (SELECT DISTINCT id, line FROM lns WHERE length(line) >= 8),
            sizes AS (SELECT id, count(*) AS n_lines FROM d GROUP BY id),
            inter AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
                FROM d a JOIN d b ON a.line = b.line AND a.id < b.id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b, n_shared,
                   round(n_shared / CAST(sa.n_lines + sb.n_lines - n_shared AS DOUBLE), 4) AS line_jaccard
            FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE n_shared >= 3
        """,
        "boilerplate_lines": """
            WITH corpus AS (
                SELECT doc_id AS id,
                       concat(CASE WHEN doc_id % 97 = 0
                              THEN 'x navigation menu x. y copyright footer y. z subscribe banner z. '
                              ELSE '' END, text) AS text
                FROM documents
            ),
            lns AS (
                SELECT id, regexp_replace(trim(lower(l)), '\\s+', ' ', 'g') AS line
                FROM (SELECT id, unnest(string_split_regex(text, '\\. ')) AS l FROM corpus)
            ),
            d AS (SELECT DISTINCT id, line FROM lns WHERE length(line) >= 8)
            SELECT line, count(*) AS n_docs
            FROM d GROUP BY line HAVING count(*) >= 3
        """,
        "repetition_stats": """
            -- words(): lower + trim + \\s+ split, Python-split semantics
            -- (empty text -> []); shingles mirror word_shingles: k-slices
            -- at positions 1..greatest(len-1_or_2, 1), short tail slices
            -- included, a <k-word doc yielding one short shingle
            WITH w AS (
                SELECT doc_id,
                       CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                            ELSE string_split_regex(trim(lower(text)), '\\s+')
                       END AS ws
                FROM documents
            ),
            g AS (
                SELECT doc_id, ws,
                       list_transform(generate_series(1, greatest(len(ws) - 1, 1)),
                                      i -> array_to_string(ws[i:i+1], ' ')) AS g2,
                       list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
                                      i -> array_to_string(ws[i:i+2], ' ')) AS g3
                FROM w
            )
            SELECT doc_id,
                   CASE WHEN len(ws) = 0 THEN 0.0 ELSE
                     round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4)
                   END AS dup_word_frac,
                   CASE WHEN len(ws) = 0 THEN 0.0 ELSE
                     round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 4)
                   END AS dup_2gram_frac,
                   CASE WHEN len(ws) = 0 THEN 0.0 ELSE
                     round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 4)
                   END AS dup_3gram_frac,
                   CASE WHEN len(ws) = 0 THEN 0.0 ELSE
                     round(CAST(list_max(list_transform(list_distinct(ws),
                           u -> len(list_filter(ws, x -> x = u)))) AS DOUBLE)
                           / len(ws), 4)
                   END AS top_word_frac
            FROM g
        """,
        "token_stats": """
            SELECT doc_id,
                   CAST(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS INTEGER) AS n_tokens,
                   round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / greatest(length(text), 1), 4) AS punct_ratio,
                   round(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         t -> list_contains(['the','a','of','and','to','in','is','it','that','was'], t)))
                         / greatest(CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END, 1), 4) AS stopword_ratio,
                   round(list_sum(list_transform(string_split_regex(trim(text), '\\s+'), t -> length(t)))
                         / greatest(CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END, 1), 4) AS mean_word_len
            FROM documents
        """,
        "fingerprint": """
            SELECT doc_id,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
                       (acc, x) -> (acc * 31 + x) % 2147483647
                   ) AS fingerprint
            FROM documents
        """,
        "language_id": """
            WITH w AS (
                SELECT doc_id, text,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t <> '') AS ws
                FROM documents
            ), s AS (
                SELECT doc_id, text,
                       len(list_filter(ws, t -> list_contains(
                           ['der','die','das','und','ein','eine','ist','zu','den','von'], t))) AS s_de,
                       len(list_filter(ws, t -> list_contains(
                           ['the','a','of','and','to','in','is','it','that','was'], t))) AS s_en,
                       len(list_filter(ws, t -> list_contains(
                           ['el','la','los','de','y','un','una','es','que','en'], t))) AS s_es,
                       len(list_filter(ws, t -> list_contains(
                           ['le','la','les','de','et','un','une','est','que','dans'], t))) AS s_fr,
                       length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk
                FROM w
            )
            SELECT doc_id,
                   CASE WHEN cjk * 3 > length(text) THEN 'zh'
                        WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                        WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                        WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                        WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                        WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
                        ELSE 'und' END AS lang_guess
            FROM s
        """,
        "quality_score": """
            WITH t AS (
                SELECT doc_id, text,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words,
                       length(text) AS n_chars,
                       length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
                FROM documents
            ), m AS (
                SELECT doc_id, n_words,
                       CASE WHEN trim(text) = '' THEN CAST(0 AS DOUBLE)
                            ELSE CAST(list_sum(list_transform(
                                     string_split_regex(trim(text), '\\s+'),
                                     x -> length(x))) AS DOUBLE) END
                           / greatest(n_words, 1) AS mwl,
                       n_punct / CAST(greatest(n_chars, 1) AS DOUBLE) AS pr
                FROM t
            )
            SELECT doc_id,
                   round((least(n_words / CAST(20.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
                          + CASE WHEN mwl >= CAST(2.0 AS DOUBLE) AND mwl <= CAST(12.0 AS DOUBLE)
                                 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.3 AS DOUBLE) END
                          + (CAST(1.0 AS DOUBLE)
                             - least(pr * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE))))
                         / CAST(3.0 AS DOUBLE), 4) AS quality
            FROM m
        """,
        "tfidf_top_terms": """
            WITH toks AS (
                SELECT id, t AS term FROM (
                    SELECT doc_id AS id,
                           unnest(list_filter(
                               string_split_regex(lower(text), '\\s+'),
                               x -> x <> '')) AS t
                    FROM documents)
                WHERE length(t) >= 2
            ),
            tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
            dfr AS (
                SELECT term, count(*) AS df
                FROM (SELECT DISTINCT id, term FROM toks) GROUP BY 1
            ),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
            scored AS (
                SELECT id, term, tf, df,
                       tf * (ln((n_docs + CAST(1.0 AS DOUBLE))
                                / (df + CAST(1.0 AS DOUBLE)))
                             + CAST(1.0 AS DOUBLE)) AS tfidf
                FROM tf JOIN dfr USING (term), n
            )
            SELECT id AS doc_id, term, tf, df, round(tfidf, 4) AS tfidf,
                   CAST(row_number() OVER (
                       PARTITION BY id ORDER BY tfidf DESC, term ASC
                   ) AS INTEGER) AS rank
            FROM scored
            QUALIFY rank <= 3
        """,
        "embedding_neardup": """
            SELECT vec_id AS id_a, vec_id + 100000 AS id_b,
                   CAST(1.0 AS DOUBLE) AS cosine
            FROM embeddings WHERE vec_id < 50
        """,
        "media_features": """
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'video' ELSE 'image' END AS kind,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   sha256(text) AS sha256
            FROM documents WHERE doc_id < 200
        """,
        "frame_sample": """
            WITH m AS (
                SELECT CAST(doc_id AS VARCHAR) AS media_id,
                       least(greatest(CAST(floor(octet_length(encode(text)) / 10000.0) AS BIGINT), 1), 300) AS nf
                FROM documents WHERE doc_id < 200 AND doc_id % 3 = 0
            )
            SELECT media_id, unnest(generate_series(0, nf - 1, 30)) AS frame_index
            FROM m
        """,
        "audio_features": """
            -- the WAV construction is deterministic from doc_id (see
            -- q_audio_features), so every decoded field is replicated in
            -- closed form; rms = A/32768 is exact in binary floating
            -- point (A/2^15), so no rounding is needed on either side
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(44 + 2 * (800 + (doc_id % 40) * 80) AS BIGINT) AS n_bytes,
                   CAST(8000 AS INTEGER) AS sample_rate,
                   CAST(1 AS INTEGER) AS n_channels,
                   CAST(2 AS INTEGER) AS sample_width,
                   CAST(800 + (doc_id % 40) * 80 AS BIGINT) AS n_frames,
                   CAST(800 + (doc_id % 40) * 80 AS DOUBLE) / 8000.0 AS duration_sec,
                   CAST(1000 + doc_id % 100 AS DOUBLE) / 32768.0 AS rms
            FROM documents WHERE doc_id < 200
        """,
        "image_features": """
            -- the PNG construction is deterministic from doc_id (see
            -- q_image_features): constant-channel RGB images, so the
            -- decoded per-channel means equal the channel byte values
            -- exactly (integer-valued doubles, no rounding)
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(4 + doc_id % 8 AS INTEGER) AS width,
                   CAST(3 + doc_id % 5 AS INTEGER) AS height,
                   CAST(3 AS INTEGER) AS channels,
                   CAST(8 AS INTEGER) AS bit_depth,
                   CAST(doc_id % 256 AS DOUBLE) AS mean_r,
                   CAST((2 * doc_id) % 256 AS DOUBLE) AS mean_g,
                   CAST((3 * doc_id) % 256 AS DOUBLE) AS mean_b
            FROM documents WHERE doc_id < 200
        """,
        "video_features": """
            -- the Y4M construction is deterministic from doc_id (see
            -- _make_y4m_udf): single-digit dims keep the header at 39
            -- bytes, constant planes make the decoded means the byte
            -- values exactly, and 4:2:0 layout gives the byte count in
            -- closed form
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(39 + (1 + doc_id % 5)
                        * (6 + 3 * (4 + 2 * (doc_id % 3)) * (2 + 2 * (doc_id % 4)) / 2)
                        AS BIGINT) AS n_bytes,
                   CAST(4 + 2 * (doc_id % 3) AS INTEGER) AS width,
                   CAST(2 + 2 * (doc_id % 4) AS INTEGER) AS height,
                   CAST(1 + doc_id % 5 AS INTEGER) AS n_frames,
                   CAST(30.0 AS DOUBLE) AS fps,
                   CAST(1 + doc_id % 5 AS DOUBLE) / CAST(30 AS DOUBLE) AS duration_sec,
                   CAST(doc_id % 256 AS DOUBLE) AS mean_y,
                   CAST((2 * doc_id) % 256 AS DOUBLE) AS mean_u,
                   CAST((3 * doc_id) % 256 AS DOUBLE) AS mean_v
            FROM documents WHERE doc_id < 200
        """,
        "video_frames": """
            -- every 2nd frame of each deterministic Y4M clip; constant
            -- luma plane => mean_y = doc_id % 256 for every frame
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(unnest(generate_series(0, doc_id % 5, 2)) AS INTEGER) AS frame_index,
                   CAST(doc_id % 256 AS DOUBLE) AS mean_y
            FROM documents WHERE doc_id < 200
        """,
        "connected_components": """
            SELECT format('v{:08d}', vec_id) AS node,
                   format('v{:08d}', min(vec_id) OVER (PARTITION BY label)) AS cluster_id
            FROM embeddings
        """,
        "sessionize": """
            WITH marked AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            sess AS (
                SELECT user_id, ts, value,
                       sum(new_sess) OVER (
                           PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS sess_id
                FROM marked
            )
            SELECT CAST(user_id AS VARCHAR) AS session_key,
                   CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,
                   CAST(floor(epoch(max(ts))) AS BIGINT) AS end_epoch,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM sess
            GROUP BY user_id, sess_id
        """,
        "asof_join": """
            WITH clicks AS (
                SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
            ),
            views AS (
                SELECT user_id, ts, value FROM events WHERE event_type = 'view'
                QUALIFY row_number() OVER (
                    PARTITION BY user_id, ts ORDER BY event_id DESC
                ) = 1
            )
            SELECT c.user_id, c.event_id,
                   CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
                   CAST(floor(epoch(v.ts)) AS BIGINT) AS view_epoch,
                   round(v.value, 4) AS view_value
            FROM clicks c ASOF LEFT JOIN views v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        """,
        "json_extract": """
            SELECT event_type,
                   CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_bucket,
                   count(*) AS n,
                   round(avg(value), 4) AS avg_value
            FROM events
            GROUP BY 1, 2
        """,
        "tar_members": """
            -- member docs/doc_{id:06d} carries the UTF-8 text verbatim,
            -- so size/md5 are derivable from the source table
            SELECT 'docs/doc_' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS path,
                   CAST(octet_length(encode(text)) AS BIGINT) AS size,
                   md5(text) AS md5
            FROM documents WHERE doc_id < 50
        """,
        "events_hourly": """
            SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
                   event_type, count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY 1, 2
        """,
    }
