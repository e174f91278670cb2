"""Benchmark harness.

Default mode: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The record-linkage timings all call the shipped ``link_entities``
(``el_pipeline``), never a bench-only copy of its hot path.

--scaling mode (north rule two-cluster-size proxy): times link_entities
at local[8] and local[32] in separate JVMs (subprocesses) on identical
input, reports scored pairs/sec at both parallelism levels and
efficiency = r32 / (4 · r8), and writes BENCH/BASELINE.md.

--probe is the internal single-run mode used by --scaling; --el-probe
times the headline el_pipeline region alone (scripts/el_ab.py).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
# BENCH/BASELINE.md content from this line on survives --scaling rewrites
MANUAL_SECTIONS_MARKER = (
    "<!-- manual sections below: preserved across --scaling rewrites -->"
)
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
FIXTURE_DIR = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/tmp/el_bench_fixture")


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def ensure_bench_fixture(spark, pages: int = 3000, entities: int = 300) -> str:
    """Deterministic EL fixture parquet shared by bench + scaling probes.
    One directory per (pages, entities) size so headline and scaling
    fixtures coexist."""
    fdir = f"{FIXTURE_DIR}_{pages}_{entities}"
    marker = os.path.join(fdir, "_done")
    if not os.path.exists(marker):
        from entity_linking_spark.fixtures import fixture_dataframes, generate_fixture

        shutil.rmtree(fdir, ignore_errors=True)
        fx = generate_fixture(num_pages=pages, num_entities=entities, seed=42,
                              max_labeled_per_key=0)
        pg, me, en, _ = fixture_dataframes(spark, fx)
        pg.write.mode("overwrite").parquet(os.path.join(fdir, "pages"))
        me.write.mode("overwrite").parquet(os.path.join(fdir, "mentions"))
        en.write.mode("overwrite").parquet(os.path.join(fdir, "entities"))
        open(marker, "w").close()
    return fdir


def el_pipeline(spark, fixture_dir: str) -> tuple[float, int, int]:
    """One timed ``link_entities(..., resume=False)`` call — the shipped
    entry point, every catalog stage computed and written — on the bench
    fixture, in a fresh temporary workdir removed afterwards.  Returns
    (wall, scored pairs, clustered nodes), the counts read from the
    catalog manifest."""
    import tempfile

    from entity_linking_spark.operators._cache import cache_scope
    from entity_linking_spark.plans.pipeline import PipelineConfig, link_entities

    pages, mentions, entities = (
        spark.read.parquet(os.path.join(fixture_dir, t))
        for t in ("pages", "mentions", "entities")
    )
    workdir = tempfile.mkdtemp(prefix="el_bench_")
    try:
        t0 = time.time()
        with cache_scope():
            cat = link_entities(spark, pages, mentions, entities,
                                PipelineConfig(workdir=workdir), resume=False)["catalog"]
        wall = round(time.time() - t0, 3)
        return wall, cat.manifest_entry("scored")["rows"], cat.manifest_entry("clusters")["rows"]
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _recall_suite(spark, q, c, dim: int, k: int, target: float,
                  n_queries: int) -> dict:
    """Recall@k vs brute force for: the historical default LSH point, the
    ``choose_lsh_params``-selected config for ``target``, and the IVF
    point — on one (queries, corpus) pair.  ``n_queries`` is the REAL
    query-side row count: the bench workload is asymmetric (hundreds of
    queries vs the full corpus), and without it the chooser's bucket-load
    screen models a corpus-sized query set, excluding multi-probe configs
    the actual run would pass.  ``max_nprobe`` bounds the IVF probe
    budget to the historical default point's, keeping ``met_target``
    falsifiable (unbounded, nprobe = num_centroids is brute force with
    recall 1.0 by construction, so some config always 'meets' any
    target)."""
    from entity_linking_spark.operators._cache import release_cached
    from entity_linking_spark.operators.ann import (
        brute_force_topk, choose_ivf_params, choose_lsh_params, ivf_topk,
        lsh_topk,
    )

    exact = brute_force_topk(q, c, k=k).select("query_id", "corpus_id").persist()
    denom = exact.count()

    def recall(op, **params):
        hits = (
            op(q, c, dim=dim, k=k, **params)
            .select("query_id", "corpus_id").intersect(exact).count()
        )
        release_cached()
        return round(hits / denom, 4)

    lsh_recall = lambda **p: recall(lsh_topk, **p)  # noqa: E731
    ivf_recall = lambda **p: recall(ivf_topk, **p)  # noqa: E731

    lsh_default = {"num_planes": 6, "num_tables": 8}
    chosen = choose_lsh_params(
        c, k=k, target_recall=target, max_tables=32, n_queries=n_queries
    )
    chosen_knobs = {kk: chosen[kk]
                    for kk in ("num_planes", "num_tables", "multi_probe")}
    ivf_params = {"num_centroids": 16, "nprobe": 4}
    ivf_chosen = choose_ivf_params(
        c, k=k, target_recall=target, max_nprobe=ivf_params["nprobe"]
    )
    ivf_knobs = {kk: ivf_chosen[kk] for kk in ("num_centroids", "nprobe")}
    out = {
        "lsh": {"recall": lsh_recall(**lsh_default), **lsh_default},
        "lsh_target": {
            "recall": lsh_recall(**chosen_knobs),
            "target": target,
            "predicted_recall": chosen["predicted_recall"],
            "met_target": chosen["met_target"],
            **chosen_knobs,
        },
        "ivf": {"recall": ivf_recall(**ivf_params), **ivf_params},
        "ivf_target": {
            "recall": ivf_recall(**ivf_knobs),
            "target": target,
            "predicted_recall": ivf_chosen["predicted_recall"],
            "met_target": ivf_chosen["met_target"],
            **ivf_knobs,
        },
    }
    exact.unpersist()
    return out


def ann_recall_at_sf(spark, sf_dir: str, k: int = 10, n_queries: int = 500,
                     target: float = 0.9) -> dict:
    """Recall@k of the approximate ANN paths vs brute force (VERDICT r03
    #8 + r04 #3): on the REAL sf embeddings corpus (near-uniform, max
    pair cosine ≈ 0.51 — the hard case where defaults score low and the
    chooser honestly reports whether the target is reachable) AND on a
    deterministic clustered corpus (the workload LSH is for).  For each,
    the historical default point, the choose_lsh_params config for the
    stated target, and IVF are all recorded — the recall/param frontier,
    not one point.  Untimed — a quality metric, not a throughput one."""
    import numpy as np
    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    dim = len(emb.select("embedding").first()[0])
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    uniform = _recall_suite(spark, q, c, dim, k, target, n_queries=q.count())
    corpus_size = c.count()

    # clustered corpus: 50 well-separated centers, tight noise — the
    # realistic near-dup/retrieval shape (deterministic, seed fixed)
    rng = np.random.RandomState(42)
    centers = rng.standard_normal((50, dim)) * 3
    vecs = centers[np.arange(2000) % 50] + rng.standard_normal((2000, dim)) * 0.15
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(2000)],
        "vec_id long, embedding array<float>",
    )
    qc = cdf.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cc = cdf.select(F.col("vec_id").alias("corpus_id"), "embedding")
    clustered = _recall_suite(
        spark, qc, cc, dim, k, target, n_queries=min(n_queries, 2000)
    )

    return {
        "k": k,
        "n_queries": n_queries,
        "corpus_size": corpus_size,
        **uniform,
        "clustered": clustered,
    }


def _el_headline_region(spark, cores: int, fixture) -> tuple:
    """THE headline el_pipeline measurement protocol, shared verbatim by
    run_headline and run_el_probe so the --el-probe distributions stay
    comparable with headline numbers by construction (protocol drift
    between the two would invalidate every el_ab.py adjudication —
    CLAUDE.md rules 2/9).

    Warm session fixed costs once — full Python-worker pool spawn (a
    pandas-UDF job across > cores partitions), codegen JIT, Arrow
    init — then time ``link_entities`` COLD (pays one-time Catalyst
    analysis + codegen; headline swings of 33-72 s across sessions were
    partly this placement) and once WARM, each call in its own fresh
    workdir (``el_pipeline``).
    Returns (cold_wall, warm_wall, n_pairs, n_cc_nodes)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm_udf(x):
        return x * 1.0

    spark.range(200_000).repartition(2 * cores).select(
        F.sum(_warm_udf(F.col("id").cast("double")))
    ).collect()

    cold, _, _ = el_pipeline(spark, fixture)
    warm, n_pairs, n_nodes = el_pipeline(spark, fixture)
    return cold, warm, n_pairs, n_nodes


def run_headline(cores: int) -> dict:
    from pyspark.sql import functions as F

    from entity_linking_spark.operators._cache import release_cached
    from entity_linking_spark.session import get_spark

    spark = get_spark(app_name="el-bench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod

    fixture = ensure_bench_fixture(spark)
    timings: dict[str, float] = {}

    el_cold, el_warm, n_pairs, n_edges = _el_headline_region(
        spark, cores, fixture
    )
    cold = {"el_pipeline": el_cold}
    timings["el_pipeline"] = el_warm
    # drop anything the pipeline left persisted before the per-query
    # loop: it is dead weight from here on and would squeeze the loop's
    # own caches
    spark.catalog.clearCache()
    release_cached()

    # minhash/simhash driver queries run a planted-oracle corpus (so the
    # DuckDB gate can check them exactly); the BENCH numbers here keep
    # measuring the operators on the REAL document corpus — same operator
    # calls the r01 driver queries made, so timings stay comparable.
    # (Their one-time Catalyst/codegen constant for the 64-wide signature
    # trees lands in the untimed warm pass below — queries_cold records
    # it; the interpreted small-tree alternative measured ~100× slower at
    # execution, BENCH/BASELINE.md.)
    def bench_minhash(spark, sf_dir):
        from pyspark.sql import functions as F

        from entity_linking_spark.operators.dedup import minhash_lsh_pairs

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return minhash_lsh_pairs(docs, "doc_id", "text", shingle_k=2, threshold=0.8)

    def bench_simhash(spark, sf_dir):
        from entity_linking_spark.operators.dedup import simhash_pairs

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return simhash_pairs(docs, "doc_id", "text", max_hamming=3)

    headline = [
        "denormalize_join",
        "topk_per_group",
        "retrieval_rate",
        "ann_topk",
        "exact_dedup",
        "minhash_dedup",
        "simhash_dedup",
        "token_stats",
        "fingerprint",
        "connected_components",
        "events_hourly",
    ]
    qmap = entrymod.queries()
    qmap["minhash_dedup"] = bench_minhash
    qmap["simhash_dedup"] = bench_simhash
    # Warm steady-state measurement (VERDICT r02 finding #1; CLAUDE.md
    # perf rule #2): each query runs ONCE untimed — that pass pays the
    # one-time Catalyst analysis + Janino codegen of its expression trees
    # (~8-10 s for the 64-wide signature families, a constant that
    # amortizes to zero on long production jobs) — then ONCE timed.  The
    # timed pass rebuilds the DataFrame from scratch (new plan objects,
    # new operator-internal persists), so it measures the full compute,
    # not a cache readback; tracked caches are released between passes so
    # no run inherits the other's persisted intermediates.  The cold
    # first-pass walls are reported alongside as queries_cold.
    for name in headline:
        t0 = time.time()
        qmap[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        cold[name] = round(time.time() - t0, 3)
        release_cached()
        t0 = time.time()
        df = qmap[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
        release_cached()

    # r5 hygiene group: the training-data hygiene ops timed on the REAL
    # document corpus (hashed/scale modes, not the planted oracle
    # constructions) — reported under their own key so the headline
    # total stays comparable round-over-round.
    def bench_decontaminate(spark, sf_dir):
        from pyspark.sql import functions as F

        from entity_linking_spark.operators.dedup import decontaminate

        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("id"), "text")
        bench = docs.where(F.col("id") % 100 == 0)
        return decontaminate(docs, bench, k=8)

    def bench_repeated_spans(spark, sf_dir):
        from pyspark.sql import functions as F

        from entity_linking_spark.operators.dedup import repeated_spans

        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("id"), "text")
        return repeated_spans(docs, k=50)

    def bench_span_removal(spark, sf_dir):
        from pyspark.sql import functions as F

        from entity_linking_spark.operators.dedup import remove_repeated_spans

        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("id"), "text")
        return remove_repeated_spans(docs, k=50)

    def bench_pii(spark, sf_dir):
        from pyspark.sql import functions as F

        from entity_linking_spark.functions.quality import (
            pii_counts, redact_pii,
        )

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return docs.select(
            "doc_id", *pii_counts("text"),
            F.length(redact_pii("text")).alias("red_len"),
        )

    hygiene = {}
    for name, fn in [("decontaminate", bench_decontaminate),
                     ("repeated_spans", bench_repeated_spans),
                     ("span_removal", bench_span_removal),
                     ("pii_redact", bench_pii)]:
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        release_cached()
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        hygiene[name] = round(time.time() - t0, 3)
        release_cached()

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "hygiene": hygiene,
        "sf": _sf_of(SF_DIR),
        "cores": cores,
        "el_scored_pairs": n_pairs,
        "el_cc_nodes": n_edges,
        "ann_recall": ann_recall_at_sf(spark, SF_DIR),
    }
    spark.stop()
    return out


SCALE_PAGES = int(os.environ.get("SPARK_GRAFT_SCALE_PAGES", "24000"))
SCALE_ENTITIES = int(os.environ.get("SPARK_GRAFT_SCALE_ENTITIES", "2400"))


def run_kernel_scaling(
    procs_small: int = 8, procs_big: int = 32, reps: int = 3
) -> dict:
    """Scaling of the scoring COMPUTE KERNEL (the Python side of
    score_pairs, ``scoring._cos_jw``: embedding einsum + JW×2-with-skip) measured with
    plain multiprocessing — no Spark orchestration, no shuffle.

    This isolates what a real N→4N EXECUTOR scale-out parallelizes
    perfectly (executors on separate machines have private DRAM, shuffle
    service, and JVMs); the single-box job-level probe (--scaling)
    additionally pays this box's shared-memory/shuffle ceiling, which a
    multi-node cluster does not share.

    Measurement protocol (r5 — CLAUDE.md #9 brought to this probe): the
    two arms are INTERLEAVED rep by rep (small, big, small, big, …) on
    long-lived pools after one untimed warm-up pass each, and each arm
    reports its MEDIAN wall of ``reps`` passes — a single-pass ratio on
    this shared box turns external-load windows into efficiency noise
    (r5 measured single-pass values 0.73–0.87 within one hour on
    unchanged kernel code)."""
    import multiprocessing as mp
    import statistics

    walls: dict[int, list] = {procs_small: [], procs_big: []}
    pairs: dict[int, int] = {}
    pools = {}
    try:
        for procs in (procs_small, procs_big):
            pools[procs] = mp.Pool(procs)
            # untimed warm-up: worker spawn + imports + allocator
            pairs[procs] = sum(pools[procs].map(_kernel_unit, range(procs * 2)))
        for _ in range(reps):
            for procs in (procs_small, procs_big):
                t0 = time.time()
                pairs[procs] = sum(
                    pools[procs].map(_kernel_unit, range(procs * 2))
                )
                walls[procs].append(round(time.time() - t0, 3))
    finally:
        for pool in pools.values():
            pool.terminate()
            pool.join()
    results = {}
    for procs in (procs_small, procs_big):
        wall = statistics.median(walls[procs])
        results[procs] = {
            "procs": procs, "wall_sec": wall, "walls_all": walls[procs],
            "pairs": pairs[procs],
            "pairs_per_sec": round(pairs[procs] / wall, 1),
        }
    r_small = results[procs_small]["pairs_per_sec"]
    r_big = results[procs_big]["pairs_per_sec"]
    factor = procs_big / procs_small
    eff = round(r_big / (factor * r_small), 3)
    return {
        "metric": f"kernel_scaling_efficiency_{procs_small}_to_{procs_big}",
        "value": eff, "unit": "ratio",
        "probe_small": results[procs_small], "probe_big": results[procs_big],
    }


def _kernel_unit(seed: int) -> int:
    """One deterministic kernel work unit: 200k pair-scorings through the
    scorer's own UDF body."""
    import numpy as np
    import pandas as pd

    from entity_linking_spark.operators.scoring import _cos_jw

    rng = np.random.RandomState(seed)
    vocab = [f"term{i:03d}" for i in range(50)] + [
        "crimson falcon society", "gilded harbor institute", "silent citadel",
    ]
    n, reps = 8192, 25
    sa = pd.Series([" ".join(rng.choice(vocab, 2)) for _ in range(n)])
    sb = pd.Series([" ".join(rng.choice(vocab, 2)) for _ in range(n)])
    ssa = sa.map(lambda s: " ".join(sorted(s.split(" "))))
    ssb = sb.map(lambda s: " ".join(sorted(s.split(" "))))
    ea = rng.standard_normal((n, 128)).astype(np.float32)
    eb = rng.standard_normal((n, 128)).astype(np.float32)
    for _ in range(reps):
        _cos_jw(ea, eb, sa, sb, ssa, ssb)
    return n * reps


def run_probe(cores: int) -> dict:
    """One scaling-probe run in this JVM.

    Timed region = one whole ``link_entities`` call (``el_pipeline``);
    throughput = scored candidate pairs / wall, the north rule's
    'candidate-pairs scored/sec'.  An untimed pass first pays JVM JIT,
    Python worker spawn (≥1s × cores of imports), codegen compilation
    and broadcast builds — fixed costs that amortize to zero on
    long-running production jobs.  Three timed passes follow and the
    median is reported: this box's run-to-run variance on an identical
    warm plan is ±40% (shared-host effects invisible to local load),
    which a single pass turns into efficiency-ratio noise."""
    from entity_linking_spark.session import get_spark

    spark = get_spark(app_name=f"el-scale-{cores}", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    fixture = ensure_bench_fixture(spark, pages=SCALE_PAGES, entities=SCALE_ENTITIES)
    el_pipeline(spark, fixture)
    walls = []
    for _ in range(3):
        wall, n_pairs, n_nodes = el_pipeline(spark, fixture)
        walls.append(wall)
    wall = sorted(walls)[1]
    spark.stop()
    return {"cores": cores, "wall_sec": wall, "walls_all": walls,
            "pairs": n_pairs, "pairs_per_sec": round(n_pairs / wall, 1),
            "cc_nodes": n_nodes}


def run_scaling() -> dict:
    # fixture built once in a throwaway session so probes measure compute only
    from entity_linking_spark.session import get_spark

    spark = get_spark(app_name="el-fixture", cores=32)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_bench_fixture(spark, pages=SCALE_PAGES, entities=SCALE_ENTITIES)
    spark.stop()

    # North rule: the job runs "via spark-submit --py-files" — each probe is
    # a real spark-submit of bench.py with the packaged library zip, at its
    # own --master local[N] (the sandbox proxy for N vs 4N executors).
    spark_submit = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"),
                                "bin", "spark-submit")
    pyfiles = "/tmp/entity_linking_spark.zip"
    if os.path.exists(spark_submit):
        subprocess.run(
            ["bash", os.path.join(REPO, "scripts", "make_pyfiles_zip.sh"), pyfiles],
            check=True, capture_output=True,
        )

    results = {}
    for cores in (8, 32):
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
                   PYSPARK_PYTHON=sys.executable,
                   PYSPARK_DRIVER_PYTHON=sys.executable)
        if os.path.exists(spark_submit):
            # --driver-memory / --driver-java-options must be submit args:
            # builder confs are ignored once spark-submit has already
            # launched the JVM.  SPARK_GRAFT_JAVA_OPTS carries JVM-launch
            # options (GC choice) from scaling experiments.
            cmd = [spark_submit, "--master", f"local[{cores}]",
                   "--driver-memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")]
            java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
            if java_opts:
                cmd += ["--driver-java-options", java_opts]
            cmd += ["--py-files", pyfiles, os.path.abspath(__file__), "--probe"]
        else:
            cmd = [sys.executable, os.path.abspath(__file__), "--probe"]
        out = subprocess.run(cmd, env=env, capture_output=True, text=True, check=True)
        results[cores] = json.loads(out.stdout.strip().splitlines()[-1])

    r8 = results[8]["pairs_per_sec"]
    r32 = results[32]["pairs_per_sec"]
    eff = round(r32 / (4 * r8), 3)
    kernel = run_kernel_scaling()
    report = {
        "metric": "scaling_efficiency_8_to_32_cores",
        "value": eff,
        "unit": "ratio",
        "probe_8": results[8],
        "probe_32": results[32],
        "kernel": kernel,
    }
    ks, kb = kernel["probe_small"], kernel["probe_big"]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    baseline_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    # everything below the marker is hand-authored analysis (phase
    # breakdowns, round measurement context, A/B adjudications, the ANN
    # recall frontier) — carry it across the probe's rewrite instead of
    # silently destroying the measurement history
    preserved = MANUAL_SECTIONS_MARKER + "\n"
    if os.path.exists(baseline_path):
        old = open(baseline_path).read()
        if MANUAL_SECTIONS_MARKER in old:
            preserved = old[old.index(MANUAL_SECTIONS_MARKER):]
    with open(baseline_path, "w") as f:
        f.write(
            "# BENCH/BASELINE — throughput & scaling efficiency\n\n"
            "North-rule two-cluster-size criterion, sandbox proxy: the same\n"
            "job spark-submitted with --py-files at local[8] and local[32]\n"
            f"on identical input (deterministic EL fixture, seed=42,\n"
            f"{SCALE_PAGES} pages / {SCALE_ENTITIES} entities).  Timed region =\n"
            "one whole `link_entities(..., resume=False)` call — the shipped\n"
            "entry point: prepare, blocking, scoring, top-1 edges, connected\n"
            "components and metrics, every catalog stage written to a fresh\n"
            "workdir.  Throughput = scored candidate pairs (the `scored`\n"
            "manifest row count) / wall, the north-rule metric.  Steady state:\n"
            "an untimed pass amortizes JIT/worker-spawn/codegen, as on long\n"
            "production jobs.  Each probe times three passes and reports the\n"
            "MEDIAN — this shared box swings ±40% run-to-run on an identical\n"
            "warm plan (all three walls are in the per-probe JSON below).\n\n"
            "## Job-level (single box, shared DRAM + shuffle)\n\n"
            "| parallelism | median wall sec | all 3 walls | scored pairs | pairs/sec | CC nodes |\n"
            "|---|---|---|---|---|---|\n"
            f"| local[8] | {results[8]['wall_sec']} | {results[8].get('walls_all')} | {results[8]['pairs']} | {r8} | {results[8]['cc_nodes']} |\n"
            f"| local[32] | {results[32]['wall_sec']} | {results[32].get('walls_all')} | {results[32]['pairs']} | {r32} | {results[32]['cc_nodes']} |\n\n"
            f"**Job-level scaling efficiency (8→32 cores) = r32 / (4·r8) = {eff}**\n\n"
            "## Scoring-kernel (multiprocessing, no shared JVM/shuffle;\n"
            "interleaved arms, per-arm median of 3)\n\n"
            "The kernel is the scorer's own UDF body (`scoring._cos_jw`).\n\n"
            "| parallelism | median wall sec | all walls | pairs | pairs/sec |\n"
            "|---|---|---|---|---|\n"
            f"| 8 procs | {ks['wall_sec']} | {ks.get('walls_all')} | {ks['pairs']} | {ks['pairs_per_sec']} |\n"
            f"| 32 procs | {kb['wall_sec']} | {kb.get('walls_all')} | {kb['pairs']} | {kb['pairs_per_sec']} |\n\n"
            f"**Kernel scaling efficiency (8→32 procs) = {kernel['value']}**"
            " (target ≥ 0.8)\n\n"
            "## Why two numbers\n\n"
            "The north rule's criterion is N→4N EXECUTORS on a multi-node\n"
            "cluster, where each 8-core executor brings its own DRAM\n"
            "bandwidth, JVM heap, shuffle disks, and Python workers.  This\n"
            "sandbox is one box: all 32 cores share one memory bus and one\n"
            "tmpfs shuffle namespace, so the job-level probe saturates\n"
            "shared resources and under-reports what executor scale-out\n"
            "delivers.  The kernel probe isolates the per-executor compute —\n"
            "the part that multiplies cleanly across machines.  The job-level\n"
            "probe also pays the fixed-round stages (connected components,\n"
            "the catalog writes, the metric jobs), which do not scale with\n"
            "cores at this fixture size.  Job-level figures taken before the\n"
            "probe timed `link_entities` (r1-r5) timed a bench-only copy of\n"
            "blocking + scoring and are not comparable with these.\n\n"
            "Reference publishes no throughput numbers (BASELINE.md) — the\n"
            "quality baseline (retrieval rate / F1) is covered by pytest\n"
            "gates (tests/test_pipeline.py) and CORRECTNESS queries.\n"
        )
        f.write("\n" + preserved)
    return report


def run_el_probe(cores: int) -> dict:
    """One fresh-JVM measurement of the HEADLINE el_pipeline region —
    exactly run_headline's protocol (same fixture, same warm-up, same
    cold-then-timed split) but nothing else, so repeated invocations in
    sequential JVMs give an interleaved distribution for the r4 → r5
    bench-swing adjudication (VERDICT r04 task #2)."""
    from entity_linking_spark.session import get_spark

    spark = get_spark(app_name=f"el-ab-{os.getpid()}", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    fixture = ensure_bench_fixture(spark)
    cold, wall, n_pairs, n_nodes = _el_headline_region(spark, cores, fixture)
    spark.stop()
    return {"cores": cores, "el_wall_warm": wall, "el_wall_cold": cold,
            "pairs": n_pairs, "cc_nodes": n_nodes}


def main() -> None:
    if "--scaling" in sys.argv:
        print(json.dumps(run_scaling()))
    elif "--kernel-scaling" in sys.argv:
        print(json.dumps(run_kernel_scaling()))
    elif "--el-probe" in sys.argv:
        print(json.dumps(run_el_probe(CPUS)))
    elif "--probe" in sys.argv:
        print(json.dumps(run_probe(CPUS)))
    else:
        print(json.dumps(run_headline(CPUS)))


if __name__ == "__main__":
    main()
