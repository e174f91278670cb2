"""Golden digests of every guarded key-join caller.

Each digest is sha256 over the sorted output rows of one caller on an
input where the bucket cap (or blocking's stop-key cap) removes at least
one bucket — each test also checks that the cap changes the output — so
a change to the shared guard that moves a single pair at any caller
fails here.  The digests were recorded before the callers moved onto
``operators/keyjoin.py:guarded_key_join``.
"""

import hashlib

import numpy as np
import pytest

from entity_linking_spark.operators.ann import embedding_dedup_pairs, lsh_topk
from entity_linking_spark.operators.blocking import (
    BlockingConfig,
    blocking_keys,
    candidate_pairs,
)
from entity_linking_spark.operators.dedup import (
    line_dedup_pairs,
    minhash_lsh_pairs,
    minhash_lsh_pairs_against,
    ngram_jaccard_pairs,
    simhash_pairs,
)

_HOT = "the same templated page body repeated across every page of one site section"
_BASES = [
    "spark engines shuffle partitions across the cluster before every wide join",
    "the quick brown fox jumps over the lazy dog while the farmer sleeps",
    "entity linking maps every surface mention to one entry of the knowledge base",
    "near duplicate documents waste training compute and inflate evaluation scores",
    "a bucket that holds too many documents turns the self join quadratic",
    "gardening with tulips requires cold winters and well drained sandy soil",
]
_UNRELATED = [
    "submarine acoustics rely on low frequency sound propagating through water",
    "the history of printing presses spans several centuries of european trade",
    "volcanic soils are rich in minerals and support dense tropical forests",
]


def _digest(rows, fmt) -> str:
    lines = sorted(fmt(r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _texts(spark):
    """12 clones of one page (over a cap of 10), six near-duplicate pairs
    (last word changed), one exact pair and three unrelated pages."""
    rows = [(i, _HOT) for i in range(12)]
    for j, b in enumerate(_BASES):
        rows.append((100 + 2 * j, b))
        rows.append((101 + 2 * j, b.rsplit(" ", 1)[0] + " today"))
    rows.append((200, _BASES[0]))
    for j, t in enumerate(_UNRELATED):
        rows.append((300 + j, t))
    return spark.createDataFrame(rows, "id long, text string")


def _row_line(r):
    return "\t".join(str(v) for v in r)


def _check(capped, uncapped, fmt, expected):
    """The cap must remove pairs, and the capped output must be the
    recorded one."""
    got = capped.collect()
    assert len(got) < uncapped.count()
    assert (len(got), _digest(got, fmt)) == expected


def test_minhash_lsh_pairs_golden(spark):
    df = _texts(spark)
    _check(
        minhash_lsh_pairs(df, "id", "text", max_bucket=10),
        minhash_lsh_pairs(df, "id", "text", max_bucket=10**6),
        _row_line,
        (8, "310e12d65221c352d72ea8607844174f0b9ada63ebfca9e3cbfc32d7a6461f98"),
    )


def test_simhash_pairs_golden(spark):
    df = _texts(spark)
    _check(
        simhash_pairs(df, "id", "text", max_bucket=10),
        simhash_pairs(df, "id", "text", max_bucket=10**6),
        _row_line,
        (1, "d24f433604f1f0e71595e82dc5c1f6e4cf37379fa838f58719f8f1545e1bd24b"),
    )


@pytest.mark.parametrize("prefix_filter", [True, False])
def test_ngram_jaccard_pairs_golden(spark, prefix_filter):
    df = _texts(spark)
    _check(
        ngram_jaccard_pairs(
            df, "id", "text", threshold=0.8, max_bucket=10,
            prefix_filter=prefix_filter,
        ),
        ngram_jaccard_pairs(
            df, "id", "text", threshold=0.8, max_bucket=10**6,
            prefix_filter=prefix_filter,
        ),
        _row_line,
        # the prefix filter is result-identical, so both modes share a digest
        (8, "b0601a97bbccbae21da4cba0caacdebcc9c94edff5623179da6b4585c739b8d0"),
    )


def test_line_dedup_pairs_golden(spark):
    # both footer lines are in all 18 docs, over a cap of 10; the two
    # template lines are in six
    footer = "shared sitewide footer line\nsecond sitewide footer line"
    rows = []
    for i in range(6):
        rows.append((i, f"template alpha line\ntemplate beta line\nunique {i:03d}\n{footer}"))
    for i in range(6, 18):
        rows.append((i, f"unique {i:03d}\n{footer}"))
    df = spark.createDataFrame(rows, "id long, text string")
    _check(
        line_dedup_pairs(df, "id", "text", min_shared_lines=2, min_line_chars=5,
                         max_doc_freq=10),
        line_dedup_pairs(df, "id", "text", min_shared_lines=2, min_line_chars=5,
                         max_doc_freq=10**6),
        lambda r: f"{r['id_a']}\t{r['id_b']}\t{r['n_shared']}\t{r['line_jaccard']!r}",
        (15, "9ed616a6fef4682fd0f96dfb3908e6acef9e96a3535056887c9cedeb8cc0f0ad"),
    )


def test_minhash_lsh_pairs_against_golden(spark):
    ref = _texts(spark)
    new = spark.createDataFrame(
        [(1000, _HOT)]                                       # ref bucket 12 > 10
        + [(1001 + j, b) for j, b in enumerate(_BASES[:4])]
        + [(1010, "completely novel text about lighthouse keepers and storms")],
        "id long, text string",
    )
    _check(
        minhash_lsh_pairs_against(new, ref, "id", "text", max_bucket=10),
        minhash_lsh_pairs_against(new, ref, "id", "text", max_bucket=10**6),
        _row_line,
        (9, "c636ca44c5a16bd790378931e2921f46114670f501d91698cc61627e689c2d33"),
    )


_DIM = 16


def _vectors(spark):
    """40 clones of one vector (over a cap of 30 in every table), 20
    near-duplicate pairs, 20 singletons."""
    rng = np.random.RandomState(11)
    base = rng.standard_normal(_DIM)
    rows = [(i, base) for i in range(40)]
    for j in range(20):
        v = rng.standard_normal(_DIM)
        rows.append((100 + 2 * j, v))
        rows.append((101 + 2 * j, v + rng.standard_normal(_DIM) * 1e-3))
    for j in range(20):
        rows.append((200 + j, rng.standard_normal(_DIM)))
    return spark.createDataFrame(
        [(i, [float(x) for x in v / np.linalg.norm(v)]) for i, v in rows],
        "id long, embedding array<float>",
    )


def _cosine_row(a, b):
    # cosines are rounded: the digest pins the pair set and the
    # per-query ranking, not the last float bit of the Arrow kernel
    return lambda r: f"{r[a]}\t{r[b]}\t{round(r['cosine'], 5)!r}"


def test_embedding_dedup_pairs_golden(spark):
    df = _vectors(spark)
    _check(
        embedding_dedup_pairs(df, "id", threshold=0.99, dim=_DIM, max_bucket=30),
        embedding_dedup_pairs(df, "id", threshold=0.99, dim=_DIM, max_bucket=None),
        _cosine_row("id_a", "id_b"),
        (20, "dccc5ff7ab34090d829b476086888adcfb7b16ce8ecb9b7bbe0ac0729ce85df9"),
    )


def test_lsh_topk_golden(spark):
    df = _vectors(spark)
    kw = dict(dim=_DIM, k=3, query_id="id", corpus_id="id")
    _check(
        lsh_topk(df, df, max_bucket=30, **kw),
        lsh_topk(df, df, max_bucket=None, **kw),
        _cosine_row("query_id", "corpus_id"),
        (82, "1edbd6a690fb18b94d5e8b4e151c256625d796e9e27e75377639c6fbfbc1e44d"),
    )


def _blocking_input(spark):
    """40 mentions of one name against 2 entities (hot: salted), 12
    entities sharing one name (over the stop-key cap of 10, a stop key),
    and a few plain names."""
    m = (
        [(i, "aaaa bbbb") for i in range(40)]
        + [(100 + i, "cccc dddd") for i in range(3)]
        + [(200 + i, n) for i, n in enumerate(["acme corp", "tolkien", "zurich re"])]
    )
    e = (
        [(i, "aaaa bbbb") for i in range(2)]
        + [(100 + i, "cccc dddd") for i in range(12)]
        + [(200 + i, n) for i, n in enumerate(["acme corp", "tolkien", "zurich ag"])]
    )
    return (
        spark.createDataFrame(m, "mention_id long, s string"),
        spark.createDataFrame(e, "entity_id long, s string"),
    )


@pytest.mark.parametrize("staged", [False, True])
def test_candidate_pairs_golden(spark, tmp_path, staged):
    from entity_linking_spark.sources.catalog import Catalog

    m, e = _blocking_input(spark)
    conf = BlockingConfig(hot_threshold=20, num_salts=4, max_key_freq=10)
    nocap = BlockingConfig(hot_threshold=20, num_salts=4, max_key_freq=None)
    mk = blocking_keys(m, "mention_id", "s", conf)
    ek = blocking_keys(e, "entity_id", "s", conf)

    def run(c, sub):
        if not staged:
            return candidate_pairs(mk, ek, c)
        return candidate_pairs(mk, ek, c, catalog=Catalog(spark, str(tmp_path / sub)))

    _check(
        run(conf, "capped"),
        run(nocap, "uncapped"),
        lambda r: f"{r['mention_id']}\t{r['entity_id']}\t{r['blocking_key']}",
        # one digest: with and without a catalog give the same rows
        (83, "4ed19375b262be48b307ae6c1ef7ab93c79ae105631747ba1f9acad63efdfe5a"),
    )
