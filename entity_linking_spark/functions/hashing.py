"""N-grams, MinHash, LSH bands, SimHash, rolling-hash fingerprints.

Everything here is a pure Column expression (JVM-side: xxhash64 +
higher-order array functions), so signature computation stays inside
whole-stage codegen and shuffles nothing extra.  This replaces the
reference's exhaustive M×N scoring (reference src/eval_zeshel.py:44) with
sub-quadratic candidate generation, per the north rule.

Scale notes: MinHash signatures are computed in the scan stage projection
(no shuffle); the only shuffle is the band-key equi-join in blocking.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

MAX_LONG = (1 << 63) - 1


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def char_ngrams(col: Column | str, n: int = 3, distinct: bool = True) -> Column:
    """Array of character n-grams; a string shorter than n yields itself.

    CAPTURE-FREE shape (r5 — CLAUDE.md rule 6's HOF-lambda corollary):
    ``zip_with``'s ARGUMENT arrays are evaluated once per row, then the
    n shifted slices of the char array are zipped with a null-skipping
    concat.  The previous ``transform(sequence, i -> substr(c, i, n))``
    captured the string EXPRESSION inside the lambda, and HOF lambdas
    re-evaluate captured subtrees PER ELEMENT (CodegenFallback, no CSE)
    — O(len) re-evaluations of the upstream normalize/lower chain per
    row, i.e. O(len²) per document.

    NULL input is treated as "" (→ [""]): F.split propagates NULL, which
    would silently drop NULL-surface rows from blocking candidate
    generation (they previously produced a shared sentinel gram and thus
    still paired with each other)."""
    c = F.coalesce(_c(col), F.lit(""))
    chars = F.split(c, "")
    n_g = F.greatest(F.length(c) - F.lit(n - 1), F.lit(1))
    grams = F.slice(chars, 1, n_g)
    for j in range(1, n):
        # shorter shifted slices zip-pad with null; concat_ws skips
        # nulls, reproducing the short tail gram of a string < n chars
        grams = F.zip_with(
            grams, F.slice(chars, j + 1, n_g), lambda a, b: F.concat_ws("", a, b)
        )
    return F.array_distinct(grams) if distinct else grams


def word_shingles(words_col: Column | str, k: int = 2) -> Column:
    """Array of k-word shingles from an array<string> of words.

    CAPTURE-FREE shape (r5, same corollary as ``char_ngrams``): the k
    shifted slices of the word array are zip_with-ed (arguments
    evaluated once per row) instead of a transform lambda slicing a
    captured copy of the tokenizer expression per position — which made
    shingling O(words × tokenize) per row, measured MINUTES on a
    500k-word document and a hidden constant on every corpus-scale
    signature scan.  An empty word array still yields [""] (the
    empty-doc sentinel the MinHash family filters on), and a NULL word
    array (words(NULL) propagates) is treated as empty — NULL docs get
    the same sentinel instead of a NULL shingle array that would leak
    NULL signatures past the n_sh = 0 band filter's intent."""
    w = F.coalesce(_c(words_col), F.array().cast("array<string>"))
    n_sh = F.greatest(F.size(w) - F.lit(k - 1), F.lit(1))
    sh = F.slice(w, 1, n_sh)
    for j in range(1, k):
        sh = F.zip_with(
            sh, F.slice(w, j + 1, n_sh), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(F.size(w) == 0, F.array(F.lit(""))).otherwise(sh)


MASK_31 = (1 << 31) - 1  # low-31-bit mask: (h & MASK_31) ≡ h mod 2^31


def minhash_signature(tokens: Column | str, num_hashes: int = 64, seed: int = 42) -> Column:
    """MinHash signature (array<bigint>, length num_hashes) of a token array.

    Hash family: Kirsch-Mitzenmacher double hashing — per token only TWO
    string hashes run (h1 = xxhash64(tok), h2 = xxhash64(seed, tok), both
    masked to the low 31 bits, i.e. reduced mod 2^31 — a mask, not the
    Mersenne-prime modulus; ADVICE r02); permutation i is the integer
    combination h_i = (h1 + i·h2) mod 2^31, well-distributed because h2
    is forced odd (OR 1).  This halves-to-quarters the signature cost
    vs num_hashes independent xxhash64 calls (each re-reads the token
    string; VERDICT r01 flagged the 64× family as minhash_dedup's
    dominant cost) while keeping the min-wise estimator sound.  All
    arithmetic stays below 2^37, safe under ANSI overflow checking.
    h2 is forced ≥ 1 so the permutations stay distinct.
    Empty token array → all MAX_LONG (matches "empty set" semantics).
    """
    t = _c(tokens)
    mask = MASK_31
    bases = F.transform(
        t,
        lambda tok: F.struct(
            F.xxhash64(tok).bitwiseAND(F.lit(mask)).alias("h1"),
            F.xxhash64(F.lit(seed), tok).bitwiseAND(F.lit(mask)).bitwiseOR(F.lit(1)).alias("h2"),
        ),
    )
    per_token = F.transform(
        bases,
        lambda b: F.array(
            *[
                (b["h1"] + F.lit(i) * b["h2"]).bitwiseAND(F.lit(mask))
                for i in range(num_hashes)
            ]
        ),
    )
    init = F.array(*[F.lit(MAX_LONG).cast("long") for _ in range(num_hashes)])
    return F.aggregate(
        per_token, init, lambda acc, x: F.zip_with(acc, x, lambda p, q: F.least(p, q))
    )


def minhash_signature_with_size(
    tokens: Column | str, num_hashes: int = 64, seed: int = 42
) -> Column:
    """struct(sig: array<bigint>, n: int) — the MinHash signature AND the
    token-set cardinality from ONE evaluation of the token expression.

    Callers that need both (minhash_lsh_pairs' Jaccard size-bound
    prefilter) must not write ``minhash_signature(expr), F.size(expr)``
    as two projection columns: higher-order-function trees are
    CodegenFallback, so subexpression elimination never merges the two
    copies of ``expr`` and the (expensive — normalize/split/shingle/
    distinct) token computation runs twice per row (measured 6.6 s →
    12.5 s on the sf0.1 document scan).  Here the signature aggregate
    threads a counter through its accumulator, so cardinality is free.
    """
    t = _c(tokens)
    mask = MASK_31
    bases = F.transform(
        t,
        lambda tok: F.struct(
            F.xxhash64(tok).bitwiseAND(F.lit(mask)).alias("h1"),
            F.xxhash64(F.lit(seed), tok).bitwiseAND(F.lit(mask)).bitwiseOR(F.lit(1)).alias("h2"),
        ),
    )
    per_token = F.transform(
        bases,
        lambda b: F.array(
            *[
                (b["h1"] + F.lit(i) * b["h2"]).bitwiseAND(F.lit(mask))
                for i in range(num_hashes)
            ]
        ),
    )
    init = F.struct(
        F.array(*[F.lit(MAX_LONG).cast("long") for _ in range(num_hashes)]).alias("sig"),
        F.lit(0).alias("n"),
    )
    return F.aggregate(
        per_token,
        init,
        lambda acc, x: F.struct(
            F.zip_with(acc["sig"], x, lambda p, q: F.least(p, q)).alias("sig"),
            (acc["n"] + F.lit(1)).alias("n"),
        ),
    )


def lsh_band_keys(
    signature: Column | str, bands: int, rows_per_band: int, compact: bool = False
) -> Column:
    """Array of band keys for LSH bucketing.

    Two sets collide on band i iff their signature rows [i*r, (i+1)*r) are
    identical — the standard banding amplification of MinHash Jaccard.

    ``compact=False``: human-readable strings 'b{i}:{hash(band slice)}'
    (blocking: the F1-at-shared-key evaluation and stage schemas keep
    string keys).  ``compact=True``: array<bigint> —
    (band idx, band slice) folded into ONE xxhash64 long, so the bucket
    exchange ships two fixed-width longs per row instead of a ~25-byte
    string (the ann.py:136 lesson; VERDICT r03 #2).  A
    64-bit collision across band indexes merely adds a candidate pair
    that downstream verification rejects — zero recall cost.
    """
    sig = _c(signature)
    folded = [
        F.xxhash64(F.lit(i), F.slice(sig, i * rows_per_band + 1, rows_per_band))
        for i in range(bands)
    ]
    if compact:
        return F.array(*folded)
    return F.array(
        *[
            F.concat_ws(":", F.lit(f"b{i}"), h.cast("string"))
            for i, h in enumerate(folded)
        ]
    )


def _simhash_fp_scalar(hs) -> int:
    """Pure-Python reference for one row (tests only): bit votes ±1 per
    bit of each token hash; the sign of each bit-sum forms the
    fingerprint.  The batch UDF below must agree exactly."""
    if hs is None or len(hs) == 0:
        return 0
    h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
    shifts = np.arange(64, dtype=np.uint64)
    bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
    votes = (2 * bits - 1).sum(axis=0)
    fp = np.uint64(0)
    for b in range(64):
        if votes[b] > 0:
            fp |= np.uint64(1) << np.uint64(b)
    return int(fp.astype(np.int64))


_SIMHASH_CHUNK_TOKENS = 1 << 20  # ≤ ~512 MB of bit matrix per slice


def _simhash_reduce_batch(
    hashes: pd.Series, max_chunk_tokens: int = _SIMHASH_CHUNK_TOKENS
) -> np.ndarray:
    """Vectorized batch SimHash reduction — no per-row Python loops.

    Rows are flattened into one (total_tokens,) array; the (tokens, 64)
    bit matrix is summed per row with np.add.reduceat over the row
    offsets, and the 64 sign bits collapse to the fingerprint with one
    weighted sum per row.  Replaces the per-row 64-iteration Python loop
    (VERDICT r01 finding #4 — the old kernel dominated simhash_dedup's
    bench time).

    The flattened token stream is processed in slices of at most
    ``max_chunk_tokens`` tokens, split only on row boundaries, so the bit
    matrix's transient allocation stays bounded (~512 bytes/token — an
    unchunked 10k-row batch of long shingled docs could allocate GBs at
    once; ADVICE r02, same class as CLAUDE.md numpy-kernel rule).  A
    single row longer than the cap still processes alone (its matrix is
    the same size the old per-row loop peaked at)."""
    n = len(hashes)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    lengths = np.fromiter(
        (0 if hs is None else len(hs) for hs in hashes), dtype=np.int64, count=n
    )
    total = int(lengths.sum())
    if total == 0:
        return out
    nonempty = lengths > 0
    flat = np.concatenate(
        [np.asarray(hs, dtype=np.int64) for hs in hashes if hs is not None and len(hs) > 0]
    ).astype(np.uint64)
    shifts = np.arange(64, dtype=np.uint64)
    ne_lengths = lengths[nonempty]
    ends = np.cumsum(ne_lengths)
    starts = ends - ne_lengths
    ones_parts = []
    i = 0
    n_rows = len(ne_lengths)
    while i < n_rows:
        # widest j with ends[j-1] - starts[i] ≤ cap, but always ≥ i+1 rows
        j = int(np.searchsorted(ends, starts[i] + max_chunk_tokens, side="right"))
        j = max(j, i + 1)
        chunk = flat[starts[i] : ends[j - 1]]
        bits = ((chunk[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
        ones_parts.append(np.add.reduceat(bits, starts[i:j] - starts[i], axis=0))
        i = j
    ones = np.concatenate(ones_parts)  # (n_nonempty, 64)
    votes = 2 * ones - ne_lengths[:, None]
    powers = np.uint64(1) << shifts  # 1<<63 wraps correctly in uint64
    fps = ((votes > 0).astype(np.uint64) * powers).sum(axis=1, dtype=np.uint64)
    out[nonempty] = fps.view(np.int64)
    return out


def _simhash_reduce_udf():
    """Arrow UDF: array<long> token hashes → 64-bit SimHash.

    numpy bit ops over the whole batch — the pure Column-expression
    formulation (64-way per-bit expression tree) was ~100× slower to
    evaluate, so hashing stays JVM-side (xxhash64) and only this
    reduction crosses to Python, Arrow-batched and fully vectorized
    (``_simhash_reduce_batch``).
    """

    @pandas_udf(LongType())
    def reduce_udf(hashes: pd.Series) -> pd.Series:
        return pd.Series(_simhash_reduce_batch(hashes))

    return reduce_udf


_simhash_udf = None


def simhash64(tokens: Column | str) -> Column:
    """64-bit SimHash of a token array (bigint).

    Token hashing is JVM-side (xxhash64 in a transform); the bit-vote
    reduction is a vectorized Arrow UDF (see _simhash_reduce_udf).
    Near-duplicate texts land within small Hamming distance — pair with
    ``hamming64`` for dedup."""
    global _simhash_udf
    if _simhash_udf is None:
        _simhash_udf = _simhash_reduce_udf()
    t = _c(tokens)
    token_hashes = F.transform(t, lambda tok: F.xxhash64(tok))
    return _simhash_udf(token_hashes)


def hamming64(a: Column | str, b: Column | str) -> Column:
    return F.bit_count(_c(a).bitwiseXOR(_c(b)))


def rolling_fingerprint(col: Column | str, base: int = 31, mod: int = (1 << 31) - 1) -> Column:
    """Deterministic polynomial rolling hash over characters (document
    fingerprint).  acc = (acc*base + codepoint) mod mod — portable to any
    SQL engine (same arithmetic reproducible in DuckDB)."""
    c = _c(col)
    chars = F.filter(F.split(c, ""), lambda ch: ch != F.lit(""))
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * base + F.ascii(ch), F.lit(mod)),
    )
