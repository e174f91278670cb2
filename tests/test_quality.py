"""Text-analysis functions: token counts, quality, language ID."""

import pytest
from pyspark.sql import functions as F

from entity_linking_spark.functions.quality import (
    bpe_ish_token_count,
    language_id,
    mean_word_length,
    punct_ratio,
    quality_score,
    stopword_ratio,
    whitespace_token_count,
)


def test_repetition_stats(spark):
    """Hand-computed within-doc repetition fractions."""
    from entity_linking_spark.functions.quality import (
        dup_ngram_fraction,
        dup_word_fraction,
        top_word_fraction,
    )

    rows = [
        ("r1", "buy now buy now buy now"),   # 6 words, 2 distinct
        ("r2", "all words here are unique"),  # no repeats
        ("r3", ""),                           # empty
        ("r4", "one"),                        # single word
    ]
    df = spark.createDataFrame(rows, "id string, t string")
    got = {
        r["id"]: (r["w"], r["g2"], r["top"])
        for r in df.select(
            "id",
            F.round(dup_word_fraction("t"), 4).alias("w"),
            F.round(dup_ngram_fraction("t", 2), 4).alias("g2"),
            F.round(top_word_fraction("t"), 4).alias("top"),
        ).collect()
    }
    # r1: 6 words, 2 distinct → 4/6; 2-grams: 5 total ("buy now" ×3,
    # "now buy" ×2), 2 distinct → 3/5; top word 3/6
    assert got["r1"] == (pytest.approx(4 / 6, abs=1e-4), pytest.approx(3 / 5, abs=1e-4), 0.5)
    assert got["r2"] == (0.0, 0.0, 0.2)
    assert got["r3"] == (0.0, 0.0, 0.0)
    assert got["r4"] == (0.0, 0.0, 1.0)


def test_token_counts(spark):
    df = spark.createDataFrame([(" a  bb   ccc ",), ("",)], "t string")
    got = [r["n"] for r in df.select(whitespace_token_count("t").alias("n")).collect()]
    assert got == [3, 0]


def test_punct_and_stopword_ratio(spark):
    df = spark.createDataFrame([("the cat, the hat!",)], "t string")
    r = df.select(
        punct_ratio("t").alias("p"), stopword_ratio("t").alias("s")
    ).collect()[0]
    assert r["p"] == pytest.approx(2 / 17)
    assert r["s"] == pytest.approx(2 / 4)


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat is in the hat and it was fine",),
            ("le chat est dans la maison et un peu",),
            ("el perro es un animal y la casa es grande",),
            ("der hund und die katze ist ein tier",),
            ("这是一个中文句子 这是一个中文句子",),
            ("zzz qqq xxx",),
        ],
        "t string",
    )
    got = [r["l"] for r in df.select(language_id("t").alias("l")).collect()]
    assert got == ["en", "fr", "es", "de", "zh", "und"]


def test_quality_score_ordering(spark):
    df = spark.createDataFrame(
        [
            ("a perfectly normal sentence with plenty of reasonable words here today ok",),
            ("!!! ??? ### $$$ %%%",),
        ],
        "t string",
    )
    got = [r["q"] for r in df.select(quality_score("t").alias("q")).collect()]
    assert got[0] > got[1]


def test_mean_word_length(spark):
    df = spark.createDataFrame([("aa bbbb",)], "t string")
    assert df.select(mean_word_length("t").alias("m")).collect()[0]["m"] == 3.0


def test_top_word_fraction_agg_matches_hof(spark):
    """The explode+groupBy twin must equal the HOF column form on the
    same corpus — including empty docs (0.0), NULL text (NULL) and ties."""
    from entity_linking_spark.functions.quality import (
        top_word_fraction,
        top_word_fraction_agg,
    )

    rows = [
        (0, "a a a b"),
        (1, ""),
        (2, "   "),
        (3, "x y x y"),
        (4, "one two three"),
        (5, "Spam SPAM spam ok"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    hof = {r["id"]: r["f"] for r in
           df.select("id", top_word_fraction("text").alias("f")).collect()}
    agg = {r["id"]: r["top_word_frac"] for r in
           top_word_fraction_agg(df, "id", "text").collect()}
    assert set(hof) == set(agg)
    assert hof[6] is None and agg[6] is None
    for i in hof.keys() - {6}:
        assert abs(hof[i] - agg[i]) < 1e-12, (i, hof[i], agg[i])


def test_repetition_stats_table_keeps_null_text_rows(spark):
    """NULL text must yield one all-NULL-stats row, not vanish:
    length(NULL) <= k is NULL, which a bare where() drops from BOTH
    branches of the adaptive split — the regression the coalesce guard
    exists for (the DuckDB oracle emits one row per document)."""
    from entity_linking_spark.functions.quality import repetition_stats_table

    df = spark.createDataFrame(
        [(0, "a a b"), (1, None), (2, "x " * 20_001)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in
            repetition_stats_table(df, "doc_id", "text", hof_max_chars=10).collect()}
    assert set(rows) == {0, 1, 2}, "every input row must survive the split"
    assert rows[1]["dup_word_frac"] is None
    assert rows[1]["top_word_frac"] is None


def test_repetition_stats_table_adaptive_long_doc(spark):
    """repetition_stats_table (VERDICT r04 #5) must (a) give identical
    results whichever path a row takes, and (b) finish promptly on a
    book-length row with a huge distinct vocabulary — the case where the
    HOF form's O(distinct·words) work explodes (~10^9 comparisons here;
    the explode twin does ~5·10^5)."""
    import time

    from entity_linking_spark.functions.quality import repetition_stats_table

    # parity: same small corpus through both thresholds
    small = spark.createDataFrame(
        [(0, "a a b c c c"), (1, ""), (2, "w x y z")], "doc_id long, text string"
    )
    lo = {r["doc_id"]: r.asDict() for r in
          repetition_stats_table(small, "doc_id", "text", hof_max_chars=1).collect()}
    hi = {r["doc_id"]: r.asDict() for r in
          repetition_stats_table(small, "doc_id", "text", hof_max_chars=10**6).collect()}
    assert lo == hi

    # runtime bound: 500k words, ~125k distinct — impractical via the HOF
    # path, seconds via the explode twin
    # 500k words, 125k distinct, top word planted at exactly 5% (the
    # output is rounded to 4 places — the driver/oracle contract — so
    # the planted fraction must survive rounding)
    words = " ".join(
        ["top"] * 25_000 + [f"w{i % 125_000}" for i in range(475_000)]
    )
    big = spark.createDataFrame([(9, words)], "doc_id long, text string")
    t0 = time.time()
    row = repetition_stats_table(big, "doc_id", "text").collect()[0]
    assert time.time() - t0 < 60
    assert abs(row["top_word_frac"] - 0.05) < 1e-9


def test_pii_redaction_counts_and_placeholders(spark):
    from entity_linking_spark.functions.quality import pii_counts, redact_pii

    rows = [
        (1, "mail a@b.io and c.d+x@sub.ex.org, ip 10.0.0.1, call +44 20 7946 0958"),
        (2, "no pii here at all"),
        (3, "two ips 192.168.1.1 8.8.8.8 and one mail z@z.de"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = {r["id"]: r for r in df.select(
        "id", *pii_counts("t"), redact_pii("t").alias("red")).collect()}
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (2, 1, 1)
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (0, 0, 0)
    assert out[2]["red"] == "no pii here at all"
    assert (out[3]["n_email"], out[3]["n_ipv4"]) == (1, 2)
    assert out[3]["red"] == "two ips <ipv4> <ipv4> and one mail <email>"
    assert "<email>" in out[1]["red"] and "<ipv4>" in out[1]["red"]
    assert "<phone>" in out[1]["red"]
    assert "@" not in out[1]["red"]
