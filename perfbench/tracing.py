"""Per-layer tracing of one workload call, from outside the program.

``instrument(tracer)`` wraps the program's public layer boundaries for
the duration of a ``with`` block:

- ``Catalog.get_or_compute`` — one span per catalog stage, named after
  the module that computes it (``STAGE_LAYERS``), plus the stage's
  manifest row count and on-disk bytes;
- ``plans.pipeline``'s extraction check and its three metric calls;
- the ``operators.dedup`` entry points and ``plans.corpus_clean``'s
  per-stage ``_counted`` (one span per persisted + counted report stage).

Every span adds a Spark job tag (``SparkContext.addJobTag``) that is
unique to the span instance, so jobs launched inside it carry the tag.
Nested spans stack their tags; a job belongs to the innermost span among
its tags (the one opened last).  ``collect_jobs`` then reads each job's
tags and its stages' executor run time, shuffle write and spill from the
Spark status store, which is kept even with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time

# Catalog stage → layer (module that computes the stage).
STAGE_LAYERS = {
    "mentions_prepared": "pipeline.mentions_prepared",
    "entities_prepared": "pipeline.entities_prepared",
    "mention_blocking_keys": "blocking.mention_blocking_keys",
    "entity_blocking_keys": "blocking.entity_blocking_keys",
    "blocking_key_stats": "blocking.key_stats",
    "candidates": "blocking.candidates",
    "scored": "scoring.scored",
    "edges": "topk.edges",
    "clusters": "cluster.clusters",
}
# plans.pipeline globals → layer.
PIPELINE_CALLS = {
    "validate_extraction": "pipeline.validate_extraction",
    "pairwise_f1_from_contingency": "evaluate.f1",
    "blocking_recall": "evaluate.blocking_recall",
}
DEDUP_CALLS = ("exact_dedup", "minhash_lsh_pairs", "dedup_assignment",
               "boilerplate_lines", "decontaminate")


class Tracer:
    """Spans of one traced run, kept in memory until the run ends."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.counts: dict[str, dict[str, float]] = {}
        self.bookkeeping_s = 0.0
        self.first_job = self.last_job = -1
        self._open: list[int] = []

    def tag(self, span_id: int) -> str:
        return f"perfbench-{self.run_id}-{span_id}"

    @contextlib.contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._open[-1] if self._open else None}
        self.spans.append(rec)
        self._open.append(sid)
        self.sc.addJobTag(self.tag(sid))
        rec["start"] = time.perf_counter() - self.t0
        self.bookkeeping_s += time.perf_counter() - t
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            t = time.perf_counter()
            self.sc.removeJobTag(self.tag(sid))
            self._open.pop()
            self.bookkeeping_s += time.perf_counter() - t

    def count(self, layer: str, key: str, value: float) -> None:
        self.counts.setdefault(layer, {})[key] = value

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its direct children cover (spans
        of one thread nest, so children never overlap each other)."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]]
                for s in self.spans}


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the program's layer boundaries with ``tracer`` spans; the
    originals are restored on exit."""
    from entity_linking_spark.operators import dedup
    from entity_linking_spark.plans import corpus_clean, pipeline
    from entity_linking_spark.sources.catalog import Catalog

    saved = []

    def patch(owner, attr, wrap):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrap(orig)))

    def spanned(layer):
        def wrap(orig):
            def call(*args, **kwargs):
                with tracer.span(layer):
                    return orig(*args, **kwargs)
            return call
        return wrap

    for attr, layer in PIPELINE_CALLS.items():
        patch(pipeline, attr, spanned(layer))
    for attr in DEDUP_CALLS:
        patch(dedup, attr, spanned(f"dedup.{attr}"))

    def retrieval(orig):
        # link_entities collects this one-row frame itself; collecting it
        # inside the span hands back a local relation, so the metric's
        # jobs land in evaluate.retrieval rather than in the root span.
        def call(*args, **kwargs):
            with tracer.span("evaluate.retrieval"):
                df = orig(*args, **kwargs)
                return df.sparkSession.createDataFrame(df.collect(), df.schema)
        return call

    patch(pipeline, "retrieval_rates", retrieval)

    def get_or_compute(orig):
        def call(self, name, compute, resume=True):
            layer = STAGE_LAYERS.get(name, f"catalog.{name}")
            with tracer.span(layer):
                out = orig(self, name, compute, resume)
            tracer.count(layer, "rows_out",
                         self.manifest_entry(name).get("rows", 0))
            tracer.count(layer, "stage_bytes",
                         _dir_bytes(os.path.join(self.root, name)))
            return out
        return call

    patch(Catalog, "get_or_compute", get_or_compute)

    def counted(orig):
        def call(df, name, report, eager):
            layer = f"clean.{name}"
            with tracer.span(layer):
                out = orig(df, name, report, eager)
            if name in report:
                tracer.count(layer, "rows_out", report[name])
            return out
        return call

    patch(corpus_clean, "_counted", counted)
    try:
        yield tracer
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _store(sc):
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return jsc.statusStore()


def last_job_id(sc) -> int:
    """Highest job id the status store holds (-1 when none ran yet)."""
    return max((j.jobId() for j in _seq(_store(sc).jobsList(None))),
               default=-1)


def collect_jobs(tracer: Tracer) -> list[dict]:
    """The jobs of the traced call: their tags plus the executor run
    time, shuffle write and spill of the stages they ran.  A stage that
    several jobs list (reused shuffle output) counts for the lowest job
    id only; skipped stages carry no metrics."""
    store = _store(tracer.sc)
    jobs = sorted(
        ({"job_id": j.jobId(), "tags": list(_seq(j.jobTags())),
          "stage_ids": list(_seq(j.stageIds()))}
         for j in _seq(store.jobsList(None))
         if tracer.first_job < j.jobId() <= tracer.last_job),
        key=lambda j: j["job_id"],
    )
    seen: set[int] = set()
    for job in jobs:
        job.update(executor_run_s=0.0, shuffle_write_bytes=0, spill_bytes=0)
        for sid in job["stage_ids"]:
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue
            job["executor_run_s"] += st.executorRunTime() / 1000.0
            job["shuffle_write_bytes"] += st.shuffleWriteBytes()
            job["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return jobs


def traced_call(sc, wl, pass_dir: str, run_id: str) -> tuple[Tracer, dict]:
    """Run ``wl.call`` once under a root span named ``wl.root_layer``;
    returns the tracer and the call's output; ``collect_jobs(tracer)``
    then reads the jobs the call ran."""
    tracer = Tracer(sc, run_id)
    tracer.first_job = last_job_id(sc)
    with instrument(tracer), tracer.span(wl.root_layer):
        output = wl.call(pass_dir)
    tracer.last_job = last_job_id(sc)
    return tracer, output


def layer_table(tracer: Tracer, jobs: list[dict]) -> dict[str, dict]:
    """Per-layer sums over the tracer's spans and the jobs attributed to
    them.  Each job goes to exactly one span: the innermost span of this
    run among its tags; a job with none of them goes to ``untagged``."""
    self_s = tracer.self_times()
    by_tag = {tracer.tag(s["id"]): s for s in tracer.spans}
    table: dict[str, dict] = {}

    def row(layer):
        return table.setdefault(layer, {
            "wall_s": 0.0, "self_s": 0.0, "jobs": 0, "executor_run_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "job_ids": [],
        })

    for s in tracer.spans:
        r = row(s["name"])
        r["wall_s"] += s["end"] - s["start"]
        r["self_s"] += self_s[s["id"]]
    for job in jobs:
        mine = [by_tag[t] for t in job["tags"] if t in by_tag]
        layer = max(mine, key=lambda s: s["id"])["name"] if mine else "untagged"
        r = row(layer)
        r["jobs"] += 1
        r["job_ids"].append(job["job_id"])
        for k in ("executor_run_s", "shuffle_write_bytes", "spill_bytes"):
            r[k] += job[k]
    for layer, counts in tracer.counts.items():
        row(layer).update(counts)
    return table
