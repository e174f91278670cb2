"""Physical-plan audit: verify the plans Catalyst produces for the
driver-surface queries are the plans we want at scale — filters reach the
parquet scan, projections prune columns, dimension joins broadcast, and
the relational spine stays inside WholeStageCodegen.

Writes BENCH/PLANS.md with the findings; exits non-zero if a REQUIRED
property is missing (used as a regression gate for plan quality).
"""

from __future__ import annotations

import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from entity_linking_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

def _bucket_exchanges_carry_no_embeddings(plan: str) -> bool:
    """Every plan node touching the LSH bucket-key stream (Input list
    contains bkey) must carry only id columns — the 'never shuffle
    embeddings per pair' rule (operators/ann.py scale contract; VERDICT
    r01 finding #1).  Covers both the shuffle (hashpartitioning) and the
    broadcast form of the bucket join."""
    inputs = [
        cols
        for cols in re.findall(r"Input \[\d+\]: \[([^\]]*)\]", plan)
        if "bkey" in cols
    ]
    return bool(inputs) and all("emb" not in cols for cols in inputs)


def _bucket_keys_are_bigint(plan: str) -> bool:
    """Every bkey attribute is a bigint (#NNNL) — the xxhash64-folded
    compact key, not the r02 concat_ws string (VERDICT r02 finding #5):
    the bucket exchange ships two fixed-width longs per row."""
    refs = re.findall(r"bkey#\d+(L?)", plan)
    return bool(refs) and all(suffix == "L" for suffix in refs)


def _dedup_bucket_keys_are_bigint(plan: str) -> bool:
    """Every `key` attribute in the dedup bucket join is a bigint (#NNNL)
    — the xxhash64-folded compact band key, not a concat_ws string
    (VERDICT r03 #2: the SimHash/minhash bucket exchanges shipped ~25-byte
    strings where two fixed-width longs do).  Negative lookbehind keeps
    `bkey#` (ANN's column, separately audited) out of the match."""
    refs = re.findall(r"(?<![0-9A-Za-z_])key#\d+(L?)", plan)
    return bool(refs) and all(suffix == "L" for suffix in refs)


def _single_window_exchange(plan: str) -> bool:
    """Single-shuffle window dedup (ADVICE r03 #5 hardened): assert on the
    FORMATTED rendering's node headers only — exactly one `(N) Exchange`
    node and no Join — instead of counting substring occurrences across
    three concatenated renderings (which drifted with rendering changes)."""
    nodes = re.findall(r"\(\d+\) (\w+)", plan)
    return (
        nodes.count("Exchange") == 1
        and "Window" in nodes
        and not any("Join" in n for n in nodes)
    )


def _inverted_bucket_guard(plan: str) -> bool:
    """The bucket-size guard is the INVERTED (scale-safe) shape — the
    tiny OVER-cap key set is broadcast and the key stream LEFT-ANTI-joins
    against it (VERDICT r04 #1).  Asserted two ways: (1) a broadcast
    anti-join exists in the physical plan; (2) the size-filter predicates
    are strictly-greater-than over-cap filters (`n > cap`) — the r04
    anti-pattern's under-cap complement filter (`n <= cap`), whose
    broadcast was corpus-proportional, must NOT appear anywhere."""
    has_anti = re.search(r"BroadcastHashJoin [^\n]*LeftAnti", plan) is not None
    counts = r"\bn(?:_new|_ref)?#\d+L?"
    has_over_cap = re.search(counts + r" > \d", plan) is not None
    has_under_cap = re.search(counts + r" <= \d", plan) is not None
    return has_anti and has_over_cap and not has_under_cap


def _no_forced_broadcast(plan: str) -> bool:
    """The optimized logical plan carries no broadcast join hint — the
    planner (or AQE at runtime) picks the join strategy from measured
    sizes instead (VERDICT r02 finding #2: a forced vocabulary broadcast
    OOMs at web scale where a shuffle join is fine)."""
    return "strategy=broadcast" not in plan


# query -> list of (description, regex-or-callable that must hold on the plan)
CHECKS = {
    "ann_lsh_topk": [
        ("bucket-key exchanges carry ids only, never embeddings",
         _bucket_exchanges_carry_no_embeddings),
        ("bucket keys are compact bigints, not strings",
         _bucket_keys_are_bigint),
        ("INVERTED bucket-size guard: over-cap set broadcast + anti-join "
         "(VERDICT r04 #3)", _inverted_bucket_guard),
    ],
    "tfidf_top_terms": [
        ("map-side partial aggregation on the tf/df shuffles", r"partial_count"),
        ("no forced broadcast hint on the idf join (planner/AQE decides)",
         _no_forced_broadcast),
        ("whole-stage codegen spans", r"codegen id : \d"),
    ],
    "denormalize_join": [
        ("broadcast hash joins for both dims", r"BroadcastHashJoin"),
        ("columns pruned at orders scan",
         r"ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice"),
        ("whole-stage codegen spans", r"codegen id : \d"),
    ],
    "semi_join_truth": [
        ("returnflag filter pushed to lineitem scan",
         r"PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R\)"),
        ("semi join strategy", r"(LeftSemi|left_semi)"),
    ],
    "topk_per_group": [
        ("orderkey range filter pushed to scan",
         r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_orderkey,500\)"),
        ("single window sort per group", r"Window"),
    ],
    "tiny_split": [
        ("global top-n, not full sort", r"TakeOrderedAndProject"),
    ],
    "exact_dedup": [
        ("single-shuffle window dedup: representative + dup_count share "
         "one md5-keyed exchange, no rejoin (formatted node headers only)",
         _single_window_exchange),
    ],
    "token_stats": [
        ("only doc_id+text read",
         r"ReadSchema: struct<doc_id:bigint,text:string>"),
    ],
    "events_hourly": [
        ("partial agg before shuffle", r"partial_"),
        ("only ts/event_type/value read",
         r"ReadSchema: struct<ts:timestamp(_ntz)?,event_type:string,value:double>"),
    ],
    "decontaminate": [
        ("shingles folded to xxhash64 bigints before any join", r"xxhash64"),
        ("the ONLY broadcast hint is the benchmark gram set (eval-suite "
         "sized by construction); the corpus-side join-back is left to "
         "the planner/AQE",
         lambda plan: plan.count("strategy=broadcast") == 1),
        ("benchmark gram join is a broadcast inner join on the folded key",
         r"BroadcastHashJoin \[g#\d+L?\], \[g#\d+L?\], Inner"),
        ("per-doc hit count aggregates map-side partial first",
         r"partial_count"),
    ],
    # the repeated_spans DRIVER query runs keep_text=True so its DuckDB
    # oracle can see span strings; the scale mode's xxhash64 fold shows
    # in span_removal's plan below (same span stream, hashed)
    "repeated_spans": [
        ("map-side partial count on the span shuffle", r"partial_count"),
        ("no broadcast hint anywhere (every set is corpus-proportional)",
         _no_forced_broadcast),
    ],
    "span_removal": [
        ("span keys folded to xxhash64 bigints before any exchange",
         r"xxhash64"),
        ("first occurrence via partial min aggregate (skew-safe), never "
         "a window rank over the span partition",
         lambda plan: re.search(r"partial_min", plan) is not None
         and re.search(r"RunningWindowFunction", plan) is None),
        ("no broadcast hint anywhere (every set is corpus-proportional)",
         _no_forced_broadcast),
    ],
    "minhash_dedup": [
        ("signatures computed in scan projection (no pre-shuffle)", r"Project"),
        ("INVERTED bucket guard: over-cap set broadcast + anti-join, "
         "no under-cap broadcast", _inverted_bucket_guard),
        ("band bucket keys are compact bigints, not strings",
         _dedup_bucket_keys_are_bigint),
    ],
    "simhash_dedup": [
        ("band bucket keys are compact bigints, not strings",
         _dedup_bucket_keys_are_bigint),
        ("INVERTED bucket guard: over-cap set broadcast + anti-join, "
         "no under-cap broadcast", _inverted_bucket_guard),
    ],
    "incremental_dedup": [
        ("bipartite band bucket keys are compact bigints",
         _dedup_bucket_keys_are_bigint),
        ("empty-doc (n_sh=0) filter applied before banding", r"n_sh#\d+ > 0"),
        ("INVERTED bipartite bucket guard: over-cap union broadcast + "
         "anti-join, no under-cap broadcast", _inverted_bucket_guard),
    ],
    "line_dedup": [
        ("INVERTED boilerplate-frequency guard: over-cap set broadcast + "
         "anti-join, no under-cap broadcast", _inverted_bucket_guard),
        ("only doc_id+text read",
         r"ReadSchema: struct<doc_id:bigint,text:string>"),
    ],
    "sessionize": [
        ("session assignment via window functions", r"Window"),
        ("only ts/user_id/value read",
         r"ReadSchema: struct<ts:timestamp(_ntz)?,user_id:bigint,value:double>"),
    ],
    "pad_sequences": [
        ("only doc_id+text read",
         r"ReadSchema: struct<doc_id:bigint,text:string>"),
    ],
}


def main() -> int:
    # AQE off for the audit only: adaptive plans defer final-plan rendering
    # (codegen ids, chosen joins) until runtime; the static plan shows the
    # same structure the optimizer commits to before AQE's runtime tweaks.
    spark = get_spark(cores=8, extra_conf={"spark.sql.adaptive.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    lines = ["# Physical-plan audit (scripts/explain_audit.py)", "",
             f"Run on `{SF_DIR}`; every listed property is asserted by the",
             "audit and fails CI if a plan regresses.", ""]
    failures = []
    jvm = spark._jvm
    formatted = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name, checks in CHECKS.items():
        df = queries[name](spark, SF_DIR)
        # simple plan string for strategies/pushdown + formatted explain for
        # codegen-span ids (AQE hides codegen markers in the simple string)
        # + optimized logical plan, where join HINTS survive as
        # leftHint/rightHint(strategy=...) so hint-absence is checkable
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan += "\n" + df._jdf.queryExecution().explainString(formatted)
        plan += "\n" + df._jdf.queryExecution().optimizedPlan().toString()
        lines.append(f"## {name}")
        for desc, pattern in checks:
            ok = pattern(plan) if callable(pattern) else re.search(pattern, plan) is not None
            mark = "x" if ok else " "
            lines.append(f"- [{mark}] {desc}")
            if not ok:
                failures.append(f"{name}: {desc} (pattern {pattern!r})")
        lines.append("")
    # Stage-table hot-key mode (VERDICT r03 #9) — not an entry query, so
    # audited directly: classification must be fully distributed (hot keys
    # broadcast-joined from the key_stats stage, never collected to the
    # driver and re-entered as a local relation).
    import tempfile

    from entity_linking_spark.operators.blocking import (
        BlockingConfig, blocking_keys, candidate_pairs,
    )
    from entity_linking_spark.sources.catalog import Catalog

    m = spark.createDataFrame(
        [(f"m{i}", "alpha beta") for i in range(30)], "mention_id string, s string"
    )
    e = spark.createDataFrame(
        [(f"e{i}", "alpha beta") for i in range(30)], "entity_id string, s string"
    )
    conf = BlockingConfig(hot_threshold=10, num_salts=4, max_key_freq=20)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="el_audit_keystats_"))
    p_stage = candidate_pairs(
        blocking_keys(m, "mention_id", "s", conf),
        blocking_keys(e, "entity_id", "s", conf),
        conf,
        catalog=cat,
    )
    stage_plan = p_stage._jdf.queryExecution().executedPlan().toString()
    # the same classification without a catalog: key_stats aggregated
    # inline over the tracked in-memory streams
    inline_plan = candidate_pairs(
        blocking_keys(m, "mention_id", "s", conf),
        blocking_keys(e, "entity_id", "s", conf),
        conf,
    )._jdf.queryExecution().executedPlan().toString()
    # blocking_keys projects norm/grams/sig once per row (CLAUDE.md rule
    # 6): one MinHash aggregate and one normalize regexp per plan
    key_plan = (
        blocking_keys(m, "mention_id", "s", BlockingConfig())
        ._jdf.queryExecution().executedPlan().toString()
    )
    lines.append("## blocking (key generation, stage-table hot-key mode)")
    for desc, ok in [
        ("blocking_keys computes each expensive column once per row: "
         "exactly one aggregate( and one regexp_replace( in the plan",
         key_plan.count("aggregate(") == 1 and key_plan.count("regexp_replace(") == 1),
        ("hot-key classification is distributed: no driver-collected key "
         "list re-enters the plan (no LocalTableScan / ExistingRDD[key)",
         "LocalTableScan" not in stage_plan and "ExistingRDD[key" not in stage_plan),
        ("hot/cold split reads the key_stats catalog stage",
         "blocking_key_stats" in stage_plan),
        ("INVERTED stop-key guard: over-cap e_freq filter broadcast + "
         "anti-join; no under-cap/existence (e_freq >= 1 / <=cap) "
         "broadcast (VERDICT r04 #1)",
         re.search(r"BroadcastHashJoin [^\n]*LeftAnti", stage_plan) is not None
         and re.search(r"e_freq#\d+L? > 20", stage_plan) is not None
         and re.search(r"e_freq#\d+L? <= \d", stage_plan) is None
         and re.search(r"e_freq#\d+L? >= 1\b", stage_plan) is None),
        ("no-catalog hot-key classification is distributed too: no "
         "driver-collected key list anywhere (no LocalTableScan / "
         "ExistingRDD[key)",
         "LocalTableScan" not in inline_plan and "ExistingRDD[key" not in inline_plan),
    ]:
        mark = "x" if ok else " "
        lines.append(f"- [{mark}] {desc}")
        if not ok:
            failures.append(f"blocking-stage-mode: {desc}")
    lines.append("")

    # Scoring — not an entry query either: both plans of score_pairs over
    # prepared stages read back from parquet, as link_entities reads them
    from entity_linking_spark.fixtures import fixture_dataframes, generate_fixture
    from entity_linking_spark.operators.scoring import (
        BROADCAST_FEATURE_ROWS, score_pairs,
    )
    from entity_linking_spark.plans.pipeline import prepare_entities, prepare_mentions

    pages, mentions, entities, _ = fixture_dataframes(
        spark, generate_fixture(num_pages=20, num_entities=10, seed=42)
    )
    stage_dir = tempfile.mkdtemp(prefix="el_audit_scoring_")
    prepare_mentions(pages, mentions, 32).write.parquet(f"{stage_dir}/m")
    prepare_entities(entities).write.parquet(f"{stage_dir}/e")
    m_prep, e_prep = spark.read.parquet(f"{stage_dir}/m"), spark.read.parquet(f"{stage_dir}/e")
    cands = m_prep.select("mention_id", "entity_id")
    bc_plan, join_plan = (
        score_pairs(cands, m_prep, e_prep, feature_rows=rows)
        ._jdf.queryExecution().executedPlan().toString()
        for rows in (0, BROADCAST_FEATURE_ROWS + 1)
    )
    shutil.rmtree(stage_dir)
    lines.append("## scoring (score_pairs, broadcast-indexed and join-attached plans)")
    for desc, ok in [
        ("one Arrow crossing per pair: exactly one ArrowEvalPython node in "
         "each plan (CLAUDE.md rule 1)",
         bc_plan.count("ArrowEvalPython") == 1
         and join_plan.count("ArrowEvalPython") == 1),
        ("the broadcast-indexed plan streams ids and surfaces only: no "
         "embedding column anywhere in its executed plan",
         "embedding" not in bc_plan),
    ]:
        mark = "x" if ok else " "
        lines.append(f"- [{mark}] {desc}")
        if not ok:
            failures.append(f"scoring: {desc}")
    lines.append("")

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCH", "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    if failures:
        print("PLAN AUDIT FAILURES:")
        for fl in failures:
            print(" -", fl)
        return 1
    print("all plan properties hold")
    return 0


if __name__ == "__main__":
    sys.exit(main())
