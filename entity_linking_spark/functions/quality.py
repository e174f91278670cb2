"""Text-analysis functions for training-data pipelines — all JVM-side.

Beyond the reference's operator set (SURVEY.md §2.10): language-ID
(stopword-hit heuristic), quality scoring (length/punctuation/stopword
ratios), token counting (whitespace + BPE-ish regex), document
fingerprinting (see functions/hashing.py:rolling_fingerprint).  These run
in the scan-stage projection: no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from entity_linking_spark.functions.text import words

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "was"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "dans"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "que", "en"],
    "de": ["der", "die", "das", "und", "ein", "eine", "ist", "zu", "den", "von"],
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def whitespace_token_count(col: Column | str) -> Column:
    return F.size(words(_c(col)))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Count of BPE-ish units: word chunks of ≤4 chars + digits + punctuation
    marks — a deterministic proxy for subword token counts."""
    c = _c(col)
    return F.size(
        F.filter(
            F.split(F.lower(c), r"(?<=\G.{4})(?=\w)|\W+"),
            lambda t: t != F.lit(""),
        )
    )


def punct_ratio(col: Column | str) -> Column:
    c = _c(col)
    total = F.greatest(F.length(c), F.lit(1))
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return punct / total


def _stopword_hits(ws: Column, lang: str) -> Column:
    sw_arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(ws, lambda w: F.array_position(sw_arr, w) > 0))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    ws = words(F.lower(_c(col)))
    return _stopword_hits(ws, lang) / F.greatest(F.size(ws), F.lit(1))


def mean_word_length(col: Column | str) -> Column:
    ws = words(_c(col))
    total = F.aggregate(
        ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    return total / F.greatest(F.size(ws), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality score: rewards mid-range doc length, sane
    mean word length, and low punctuation density."""
    c = _c(col)
    n_words = F.size(words(c)).cast("double")
    len_score = F.least(n_words / 20.0, F.lit(1.0))
    mwl = mean_word_length(c)
    word_len_score = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.3))
    punct_score = F.lit(1.0) - F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    return (len_score + word_len_score + punct_score) / 3.0


def dup_word_fraction(col: Column | str) -> Column:
    """Fraction of word occurrences that repeat an earlier word in the
    same doc: 1 − |distinct words| / |words| (0 for empty docs) — the
    within-document repetition signal web-scale quality filters use to
    drop degenerate/templated pages (Gopher-style repetition rules).
    Pure scan-stage expression."""
    ws = words(F.lower(_c(col)))
    n = F.size(ws)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(ws)) / n
    )


def dup_ngram_fraction(col: Column | str, n: int = 2) -> Column:
    """Same signal over word n-grams — catches repeated PHRASES that
    word-level dedup misses (boilerplate refrains, copy-pasted spans).
    Docs with < n words yield one short shingle (word_shingles
    semantics) → fraction 0."""
    from entity_linking_spark.functions.hashing import word_shingles

    ws = words(F.lower(_c(col)))
    grams = word_shingles(ws, k=n)
    total = F.size(grams)
    return F.when(F.size(ws) == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(grams)) / total
    )


def top_word_fraction(col: Column | str) -> Column:
    """Frequency of the single most common word over total words (0 for
    empty docs) — high values flag keyword-stuffed / degenerate pages.
    O(|distinct| · |words|) per row as a pure column expression; fine
    for document-sized inputs."""
    ws = words(F.lower(_c(col)))
    n = F.size(ws)
    counts = F.transform(
        F.array_distinct(ws), lambda w: F.size(F.filter(ws, lambda x: x == w))
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(F.array_max(counts) / n)


def language_id(col: Column | str) -> Column:
    """Stopword-hit language guess over {en,fr,es,de}, 'zh' when CJK chars
    dominate, 'und' when nothing matches.  Deterministic tie-break by
    language-code order."""
    c = _c(col)
    ws = words(F.lower(c))
    scores = {lang: _stopword_hits(ws, lang) for lang in STOPWORDS}
    cjk = F.length(F.regexp_replace(c, r"[^一-鿿]", ""))
    best = F.greatest(*scores.values())
    expr = F.when(cjk * 3 > F.length(c), F.lit("zh")).when(best == 0, F.lit("und"))
    for lang in sorted(STOPWORDS):
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def top_word_fraction_agg(df, id_col: str, text_col) -> "DataFrame":  # noqa: F821
    """(id, top_word_frac) via explode + two hash aggregations — the
    DataFrame-level twin of ``top_word_fraction`` for LONG rows (VERDICT
    r04 #5): the column form is O(|distinct| · |words|) per row (HOF
    nested filter), fine for document-sized inputs but quadratic-ish on
    book-length rows; this shape is O(words) scan + shuffle on (id,
    word), bounded per row.  Empty docs yield 0.0 (explode_outer keeps
    them as a null-word row; the conditional aggregates ignore it), and
    NULL text yields NULL, as in the column form."""
    ws = words(F.lower(_c(text_col)))
    # the NULL flag is projected before the explode, so the Generate
    # carries (id, flag) per word, never the whole text column
    ex = df.select(
        F.col(id_col), _c(text_col).isNull().alias("__null"), ws.alias("__ws")
    ).select(id_col, "__null", F.explode_outer("__ws").alias("__w"))
    per_word = ex.groupBy(id_col, "__null", "__w").agg(F.count("*").alias("__c"))
    return per_word.groupBy(id_col, "__null").agg(
        F.max(F.when(F.col("__w").isNotNull(), F.col("__c"))).alias("__mx"),
        F.sum(
            F.when(F.col("__w").isNotNull(), F.col("__c")).otherwise(F.lit(0))
        ).alias("__tot"),
    ).select(
        id_col,
        F.when(F.col("__null"), F.lit(None).cast("double"))
        .when(F.col("__tot") == 0, F.lit(0.0))
        .otherwise(F.col("__mx") / F.col("__tot"))
        .alias("top_word_frac"),
    )


def repetition_stats_table(
    df, id_col: str, text_col: str, hof_max_chars: int = 20_000
) -> "DataFrame":  # noqa: F821
    """Per-doc repetition signals with a ROW-LENGTH-ADAPTIVE top-word
    path (VERDICT r04 #5): rows at or under ``hof_max_chars`` compute all
    four signals in the scan projection (zero shuffle — the common web
    -document case); longer rows route ``top_word_frac`` through the
    explode+groupBy twin so a book-length row cannot stall its task on
    the O(distinct·words) HOF expression.  Column set matches the
    repetition_stats driver query: (id, dup_word_frac, dup_2gram_frac,
    dup_3gram_frac, top_word_frac), fractions rounded to 4 places.

    NULL text must not lose the row: ``length(NULL) <= k`` is NULL,
    which a bare ``where`` drops from BOTH branches — the coalesce
    routes NULL-text rows down the short/scan path, which projects the
    same all-NULL stats the pre-split single projection emitted (and
    the DuckDB oracle still expects one row per document)."""
    is_short = F.coalesce(
        F.length(F.col(text_col)) <= hof_max_chars, F.lit(True)
    )

    def scan_cols():
        return [
            F.round(dup_word_fraction(text_col), 4).alias("dup_word_frac"),
            F.round(dup_ngram_fraction(text_col, n=2), 4).alias("dup_2gram_frac"),
            F.round(dup_ngram_fraction(text_col, n=3), 4).alias("dup_3gram_frac"),
        ]

    short = df.where(is_short).select(
        F.col(id_col),
        *scan_cols(),
        F.round(top_word_fraction(text_col), 4).alias("top_word_frac"),
    )
    long_rows = df.where(~is_short)
    twf = top_word_fraction_agg(long_rows, id_col, text_col)
    long_out = (
        long_rows.select(F.col(id_col), *scan_cols())
        .join(twf, id_col)
        .select(
            id_col, "dup_word_frac", "dup_2gram_frac", "dup_3gram_frac",
            F.round(F.col("top_word_frac"), 4).alias("top_word_frac"),
        )
    )
    return short.unionByName(long_out)


# PII scrubbing (C4/RefinedWeb-style hygiene).  Patterns are kept to the
# regex subset shared by Java regex and RE2 (no lookaround, no
# backreferences) so the DuckDB oracle can replicate them verbatim.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+\d[\d -]{6,14}\d",
}


def pii_counts(col: Column | str, patterns: dict[str, str] | None = None) -> list[Column]:
    """One count column per PII kind (``n_<kind>``), computed on the
    ORIGINAL text — pure JVM regexp_count expressions, scan-stage."""
    pats = patterns or PII_PATTERNS
    c = _c(col)
    return [F.regexp_count(c, F.lit(p)).alias(f"n_{k}") for k, p in pats.items()]


def redact_pii(col: Column | str, patterns: dict[str, str] | None = None,
               token: str = "<{kind}>") -> Column:
    """Replace every PII match with a typed placeholder (``<email>``,
    ``<ipv4>``, ``<phone>``), applied in dict order — a single chained
    regexp_replace projection, no Python in the path.  Counts should be
    taken from ``pii_counts`` on the original column (redaction rewrites
    overlapping spans in order, so counting after would undercount)."""
    pats = patterns or PII_PATTERNS
    c = _c(col)
    for kind, pat in pats.items():
        c = F.regexp_replace(c, pat, token.format(kind=kind))
    return c
