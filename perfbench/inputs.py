"""Seeded benchmark inputs, written as parquet without Spark.

Both builders are pure functions of their arguments: the same seed gives
byte-identical tables.  They use pyarrow, so the JVM stays cold until the
timed workload call, as it is for a one-shot ``cli.py link`` / ``cli.py
clean`` job.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from entity_linking_spark.fixtures import generate_fixture

# The sf0.1 ``documents`` table draws its words from this vocabulary
# (10-100 words per document); the clean corpus keeps that shape.
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
# The seed picks which word marks a replica ("<text> <word><r>").
REPLICA_WORDS = ["rep", "copy", "mirror", "clone", "twin", "echo", "redo"]
# Every EXACT_DUP_EVERY-th base document repeats its predecessor verbatim,
# so exact dedup has work to do (sf0.1 holds 8 such texts in 5000; this
# is denser so that a 500-document base holds some too).
EXACT_DUP_EVERY = 125

PAGES = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
MENTIONS = pa.schema([
    ("mention_id", pa.string()), ("url", pa.string()),
    ("entity_id", pa.string()), ("surface", pa.string()),
    ("start_index", pa.int64()), ("end_index", pa.int64()),
    ("corpus", pa.string()), ("category", pa.string()),
])
ENTITIES = pa.schema([
    ("entity_id", pa.string()), ("title", pa.string()), ("text", pa.string()),
])
DOCS = pa.schema([("id", pa.int64()), ("url", pa.string()), ("text", pa.string())])
BENCH_DOCS = pa.schema([("id", pa.int64()), ("text", pa.string())])


def _write(rows: list[dict], schema: pa.Schema, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    pq.write_table(pa.table(cols, schema=schema),
                   os.path.join(path, "part-0.parquet"))


def build_link_inputs(dest: str, seed: int, pages: int, entities: int) -> dict:
    """``generate_fixture`` pages / mentions / entities under ``dest``."""
    fx = generate_fixture(pages, entities, seed=seed, max_labeled_per_key=0)
    for p in fx.pages:
        p["html"] = bytes(p["html"])
    _write(fx.pages, PAGES, os.path.join(dest, "pages"))
    _write(fx.mentions, MENTIONS, os.path.join(dest, "mentions"))
    _write(fx.entities, ENTITIES, os.path.join(dest, "entities"))
    return {"pages": len(fx.pages), "mentions": len(fx.mentions),
            "entities": len(fx.entities)}


def build_clean_inputs(dest: str, seed: int, base_docs: int,
                       replicas: int) -> dict:
    """Replicated corpus in the shape of ``scripts/clean_scaling.py``.

    Doc ``d``'s replica ``r`` has id ``d * replicas + r``, url
    ``http://ex.org/p{d % url_keys}?r{r}&utm_source=x`` and text
    ``<base text d> <word><r>``.  The benchmark slice is every doc whose
    id is ``residue`` mod 100.  Returns the counts the first three report
    stages must produce, derived here without Spark: URL dedup keeps the
    minimum id per (d mod url_keys, r), i.e. docs with d < url_keys, and
    exact dedup keeps one doc per distinct text among those.
    """
    rng = np.random.RandomState(seed)
    word = REPLICA_WORDS[seed % len(REPLICA_WORDS)]
    residue = seed % 100
    base = []
    for d in range(base_docs):
        if d % EXACT_DUP_EVERY == EXACT_DUP_EVERY - 1:
            base.append(base[-1])
            continue
        n = int(rng.randint(10, 101))
        base.append(" ".join(rng.choice(DOC_VOCAB, n)))
    url_keys = base_docs * 4 // 5
    ids, urls, texts = [], [], []
    for d, text in enumerate(base):
        for r in range(replicas):
            ids.append(d * replicas + r)
            urls.append(f"http://ex.org/p{d % url_keys}?r{r}&utm_source=x")
            texts.append(f"{text} {word}{r}")
    docs = [{"id": i, "url": u, "text": t} for i, u, t in zip(ids, urls, texts)]
    _write(docs, DOCS, os.path.join(dest, "docs"))
    bench = [d for d in docs if d["id"] % 100 == residue]
    _write(bench, BENCH_DOCS, os.path.join(dest, "benchmark"))
    return {
        "rows_in": len(ids),
        "url_dedup": url_keys * replicas,
        "exact_dedup": len(set(base[:url_keys])) * replicas,
    }
