"""End-to-end corpus cleaning — the RefinedWeb/C4 "macro data
refinement" composition of the engine's hygiene operators into the one
pipeline a 100 TB webtext pretraining run actually executes:

  1. URL dedup         — canonical_url last-write-wins (cheapest key
                         first: kills recrawls before any text work)
  2. exact dedup       — md5 text hash, keep min id
  3. near dedup        — MinHash-LSH pairs → connected components →
                         keep cluster representative
  4. line dedup        — strip corpus-frequent boilerplate lines
                         INSIDE surviving docs
  5. decontamination   — drop docs sharing k-gram shingles with a
                         held-out benchmark corpus
  6. quality gate      — token-count bounds; PII is REDACTED, not
                         dropped

Every stage reports attrition (rows in → rows out) in a `report`
dict, because at web scale "the cleaning ran" is meaningless without
per-stage accounting — a stage that silently drops 60% of the corpus
is a bug report, not a cleaning step.  Each count is one Spark action,
and the two-parallelism probe (scripts/clean_scaling.py) measured
those seven serial job latencies as the sandbox-scale wall — so
``CleanConfig(report_mode="silent")`` skips the counts.  It still cuts
every stage, and AQE runs each stage's upstream shuffles when its cut
is created, so silent mode is fewer jobs, not ONE action.

Stage order is cost-ordered on purpose: O(row) key dedups run before
the shuffle-heavy near-dup family, which runs before the per-line
explode, so each expensive stage sees the smallest possible corpus.

Every stage boundary is a lineage cut: each stage output is a
``localCheckpoint`` and, in eager mode, its count is the one job that
materializes it (the next stage re-reads the cut; recomputing a MinHash
stage to count it would double the dominant cost).  A persist would
keep the reuse but not shorten the logical plan: a stage that reads
``cur`` twice copies the whole composition so far, so the plan grew to
~4,000 nodes by ``rows_out`` and every action on it (including the
caller's) paid seconds of driver-side analysis.  With the cuts each
stage plans only its own operators over a ``LogicalRDD`` leaf.  The
cuts are not tracked by operators/_cache.py: Spark's ContextCleaner
reclaims each one once nothing references it, the same lifetime as
the connected-components rounds (operators/cluster.py), so the
returned frame never recomputes, even after the caller's
``cache_scope()`` closes.  That scope still releases the operators'
own tracked persists (MinHash signatures and band keys); wrap calls
in it per the repo cache convention.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class CleanConfig:
    url_col: str | None = "url"          # None = skip URL dedup
    id_col: str = "id"
    text_col: str = "text"
    near_dup_threshold: float = 0.8
    shingle_k: int = 2
    line_min_docs: int = 5               # boilerplate line doc-frequency
    decontaminate_k: int = 8
    min_tokens: int = 10
    max_tokens: int = 100_000
    redact_pii: bool = True
    # "eager": cut + count every stage (the attrition report; each count
    # is the one Spark job that materializes the stage's localCheckpoint,
    # so seven serial job latencies — measured flat across 8→32 cores at
    # sandbox scale, scripts/clean_scaling.py).
    # "silent": cut every stage the same way (minhash + join-back both
    # read `cur`) but skip the counts; report stays empty.  Not one
    # action: AQE still runs each stage's upstream shuffles when its cut
    # is created.  Production shape for latency-sensitive runs; audits
    # re-run eager on a sample.
    report_mode: str = "eager"
    extra: dict = field(default_factory=dict)


def _counted(df: DataFrame, name: str, report: dict, eager: bool) -> DataFrame:
    cut = df.localCheckpoint(eager=False)
    if eager:
        report[name] = cut.count()  # the job that materializes the cut
    return cut


def clean_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    config: CleanConfig | None = None,
) -> tuple[DataFrame, dict]:
    """Run the full cleaning composition; returns (clean_docs, report).

    ``report`` maps stage name → surviving row count, in execution
    order, ``rows_in`` first (empty in ``report_mode="silent"``).  A
    document whose every line is
    corpus-frequent boilerplate is dropped at the boilerplate stage
    (nothing of it remains).  A NULL-text document is no duplicate of
    anything: it survives every dedup stage on its own and is dropped
    by the token gate (``rows_out``)."""
    from entity_linking_spark.functions.quality import (
        redact_pii as _redact,
        whitespace_token_count,
    )
    from entity_linking_spark.functions.text import normalize_text
    from entity_linking_spark.functions.url import canonical_url
    from entity_linking_spark.operators.dedup import (
        boilerplate_lines,
        decontaminate,
        dedup_assignment,
        exact_dedup,
        minhash_lsh_pairs,
    )

    cfg = config or CleanConfig()
    if cfg.report_mode not in ("eager", "silent"):
        raise ValueError(f"unknown report_mode {cfg.report_mode!r}")
    eager = cfg.report_mode == "eager"
    idc, txt = cfg.id_col, cfg.text_col
    report: dict[str, int] = {}
    cur = _counted(docs, "rows_in", report, eager)

    # 1. URL dedup — one canonical key per page, keep min id (stable).
    # ONLY parseable absolute URLs participate: canonical_url(NULL) is
    # NULL and every unparseable/relative url canonicalizes to the same
    # constant, so grouping them would collapse all url-less docs into
    # one survivor each (the NULL-surface mass-drop class fixed in
    # blocking, r5) — those rows pass through to the text stages intact.
    if cfg.url_col is not None:
        if cfg.url_col not in cur.columns:
            raise ValueError(
                f"url_col {cfg.url_col!r} not in corpus columns "
                f"{cur.columns}; pass CleanConfig(url_col=None) to skip "
                "URL dedup"
            )
        parseable = F.col(cfg.url_col).rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://")
        keyed = cur.select(
            F.col(idc),
            F.when(parseable,
                   canonical_url(F.col(cfg.url_col))).alias("__cu"),
        )
        keep = (
            keyed.where(F.col("__cu").isNotNull())
            .groupBy("__cu").agg(F.min(idc).alias(idc))
            .drop("__cu")
        )
        keep = keep.unionByName(
            keyed.where(F.col("__cu").isNull()).select(idc)
        )
        cur = _counted(cur.join(keep, idc, "left_semi"), "url_dedup", report, eager)

    # 2. exact text dedup — md5 window, keep min-id row per text.  NULL
    # text is no text to match: md5(NULL) would put every NULL-text doc in
    # one window and keep one, so they bypass this stage and the
    # boilerplate strip, and the token gate drops each one at rows_out.
    no_text = F.col(txt).isNull()
    cur = _counted(
        exact_dedup(cur.where(~no_text), idc, txt).drop("dup_count")
        .unionByName(cur.where(no_text)),
        "exact_dedup", report, eager,
    )

    # 3. MinHash near-dup — pairs → CC → keep component representative
    pairs = minhash_lsh_pairs(
        cur, idc, txt, shingle_k=cfg.shingle_k,
        threshold=cfg.near_dup_threshold,
    )
    assign = dedup_assignment(cur, idc, pairs)
    keep_near = assign.where(F.col("id") == F.col("keep_id")).select(
        F.col("id").alias(idc)
    )
    cur = _counted(cur.join(keep_near, idc, "left_semi"), "near_dedup", report,
                   eager)

    # 4. line-level boilerplate strip INSIDE surviving docs: rebuild each
    # doc without its corpus-frequent lines.  boilerplate_lines returns
    # NORMALIZED lines, so the anti-join key is the normalized form of
    # each raw line; the rebuilt text keeps the RAW surviving lines in
    # original order (posexplode position).
    boiler = boilerplate_lines(cur, idc, txt, min_docs=cfg.line_min_docs)
    lines = cur.select(
        F.col(idc),
        F.posexplode(F.split(F.col(txt), "\n")).alias("__pos", "__line"),
    ).withColumn("__norm", normalize_text(F.col("__line")))
    kept_lines = lines.join(
        boiler.select(F.col("line").alias("__norm")), "__norm", "left_anti"
    )
    rebuilt = kept_lines.groupBy(idc).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
        ).alias(txt)
    )
    # posexplode(split(NULL)) emits no lines, so the inner join would drop
    # NULL-text docs here; they pass through unchanged instead.
    cur = _counted(
        cur.drop(txt).join(rebuilt, idc, "inner")
        .unionByName(cur.where(no_text)),
        "boilerplate_strip", report, eager,
    )

    # 5. decontamination against the held-out benchmark
    if benchmark is not None:
        flagged = decontaminate(
            cur, benchmark, k=cfg.decontaminate_k,
            id_col=idc, text_col=txt,
        )
        cur = _counted(
            flagged.where(~F.col("contaminated")).drop("n_hits", "contaminated"),
            "decontaminate", report, eager,
        )

    # 6. quality gate + PII redaction (redact, don't drop)
    n_tok = whitespace_token_count(F.col(txt))
    cur = cur.where((n_tok >= cfg.min_tokens) & (n_tok <= cfg.max_tokens))
    if cfg.redact_pii:
        cur = cur.withColumn(txt, _redact(F.col(txt)))
    out = _counted(cur, "rows_out", report, eager)
    return out, report
