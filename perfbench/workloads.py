"""The benchmark's workloads: one shipped entry point each.

- ``link_full`` calls ``plans.pipeline.link_entities(..., resume=False)``
  with a fresh workdir, so every catalog stage is computed and written.
- ``clean_8x`` calls ``plans.corpus_clean.clean_corpus`` in the default
  eager report mode, which persists and counts every stage, survivors
  included.

``open_workload`` loads the inputs and returns a ``Workload``: ``call``
runs the entry point once (the timed part) and ``inspect`` turns what it
returned into the values the output check reads.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from perfbench import inputs

# Default sizes (see perfbench/README.md for why they are this small).
LINK_SIZE = {"pages": 500, "entities": 50}
CLEAN_SIZE = {"base_docs": 500, "replicas": 8}

F1_GATE = 0.99


@dataclass
class Workload:
    name: str
    root_layer: str
    call: Callable[[str], object]        # pass dir -> output
    inspect: Callable[[object], dict]    # output -> values
    check: Callable[[dict], list[str]]   # values -> problems
    stable: Callable[[dict], dict]       # values a seed must reproduce
    items: Callable[[dict], int]         # values -> items processed


def build_inputs(name: str, dest: str, seed: int, size: dict | None = None) -> dict:
    if name == "link_full":
        return inputs.build_link_inputs(dest, seed, **(size or LINK_SIZE))
    if name == "clean_8x":
        return inputs.build_clean_inputs(dest, seed, **(size or CLEAN_SIZE))
    raise ValueError(f"unknown workload {name!r}")


def open_workload(name: str, spark, src: str, meta: dict) -> Workload:
    if name == "link_full":
        return _link_full(spark, src, meta)
    return _clean(spark, src, meta)


def _link_full(spark, src, meta) -> Workload:
    from entity_linking_spark.operators._cache import cache_scope
    from entity_linking_spark.plans.pipeline import PipelineConfig, link_entities

    pages, mentions, entities = (
        spark.read.parquet(os.path.join(src, t))
        for t in ("pages", "mentions", "entities")
    )

    def call(pass_dir: str) -> dict:
        with cache_scope():
            return link_entities(spark, pages, mentions, entities,
                                 PipelineConfig(workdir=pass_dir), resume=False)

    def inspect(out: dict) -> dict:
        m, cat = out["metrics"], out["catalog"]
        rows = {s: cat.manifest_entry(s)["rows"]
                for s in ("candidates", "scored", "edges", "clusters")}
        return {
            **rows,
            "mentions": meta["mentions"],
            "extract_mismatches": m["extract_mismatches"],
            "pairwise_f1": m["contingency"].f1,
            "blocking_recall": m["blocking_recall"],
            "retrieval_at_1": m["retrieval"]["retrieval_rate_k1"],
        }

    def check(v: dict) -> list[str]:
        problems = []
        if v["pairwise_f1"] < F1_GATE:
            problems.append(f"pairwise_f1 {v['pairwise_f1']:.5f} < {F1_GATE}")
        if v["extract_mismatches"]:
            problems.append(f"{v['extract_mismatches']} extraction mismatches")
        if not 0 < v["edges"] <= v["mentions"]:
            problems.append(f"{v['edges']} top-1 edges for {v['mentions']} mentions")
        return problems

    def stable(v: dict) -> dict:
        return {k: v[k] for k in ("candidates", "scored", "edges", "clusters")}

    return Workload("link_full", "pipeline.root", call, inspect, check, stable,
                    lambda v: v["mentions"])


def _clean(spark, src, meta) -> Workload:
    from entity_linking_spark.operators._cache import release_cached
    from entity_linking_spark.plans.corpus_clean import CleanConfig, clean_corpus

    docs = spark.read.parquet(os.path.join(src, "docs"))
    bench = spark.read.parquet(os.path.join(src, "benchmark"))
    cfg = CleanConfig(min_tokens=5, line_min_docs=5)

    def call(pass_dir: str) -> tuple:
        return clean_corpus(docs, bench, cfg)

    def inspect(result: tuple) -> dict:
        # the report alone: any further action on the returned frame
        # re-plans the whole composition (~10 s of driver time per call)
        release_cached()
        return {"report": result[1]}

    def check(v: dict) -> list[str]:
        rep = v["report"]
        problems = []
        for k in ("rows_in", "url_dedup", "exact_dedup"):
            if rep.get(k) != meta[k]:
                problems.append(f"{k}={rep.get(k)}, inputs imply {meta[k]}")
        counts = list(rep.values())
        if counts != sorted(counts, reverse=True):
            problems.append(f"report is not non-increasing: {rep}")
        if not rep.get("decontaminate", 0) < rep.get("boilerplate_strip", 0):
            problems.append(f"decontamination removed nothing: {rep}")
        return problems

    return Workload("clean_8x", "clean.root", call, inspect, check,
                    lambda v: {"report": v["report"]},
                    lambda v: v["report"]["rows_in"])
