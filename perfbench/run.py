"""Benchmark of the shipped ``link_entities`` and ``clean_corpus`` entry
points (see perfbench/README.md).

    python3 perfbench/run.py --workload link_full --seed 42 --seconds 20 --trace 0

Run it from anywhere inside a checkout of the repository; it reads and
writes only under ``<checkout>/.perfbench_work``.  The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it records
the run environment.  ``--trace 0`` reports the end-to-end metrics of
untraced calls, ``--trace 1`` the per-layer metrics of one traced call.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
EXPECTED = os.path.join(ROOT, "perfbench", "expected.json")
WORKLOADS = ("link_full", "clean_8x")
SETUP_REPS = 3

END_TO_END = {"wall_s": "s", "setup_s": "s", "items_per_s": "1/s",
              "ok_frac": "share"}

LINK_LAYERS = [
    "pipeline.root", "pipeline.validate_extraction",
    "pipeline.mentions_prepared", "pipeline.entities_prepared",
    "blocking.mention_blocking_keys", "blocking.entity_blocking_keys",
    "blocking.key_stats", "blocking.candidates", "scoring.scored",
    "topk.edges", "cluster.clusters",
    "evaluate.f1", "evaluate.blocking_recall", "evaluate.retrieval",
]
CLEAN_LAYERS = [
    "clean.root", "clean.rows_in", "clean.url_dedup", "clean.exact_dedup",
    "clean.near_dedup", "clean.boilerplate_strip", "clean.decontaminate",
    "clean.rows_out",
    "dedup.exact_dedup", "dedup.minhash_lsh_pairs", "dedup.dedup_assignment",
    "dedup.boilerplate_lines", "dedup.decontaminate",
]
# No executor time reported: the dedup calls here only build a lazy plan
# (its work runs under the clean stage that counts it), and clean.rows_in
# is a count of the input scan.
NO_EXECUTOR_LAYERS = {"dedup.exact_dedup", "dedup.boilerplate_lines",
                      "dedup.decontaminate", "clean.rows_in"}
SELF_LAYERS = ["pipeline.root", "blocking.candidates", "clean.root"]
SHUFFLE_LAYERS = [
    "blocking.candidates", "scoring.scored", "topk.edges", "cluster.clusters",
    "clean.near_dedup", "clean.boilerplate_strip", "clean.decontaminate",
    "dedup.dedup_assignment",
]
CATALOG_LAYERS = LINK_LAYERS[2:11]
ROWS_LAYERS = CATALOG_LAYERS[2:] + CLEAN_LAYERS[1:8]
RATIOS = ["blocking.candidates.pairs_per_mention",
          "blocking.candidates.true_pair_share", "topk.edges.edge_share"]
QUALITY = ["quality.pairwise_f1", "quality.blocking_recall",
           "quality.retrieval_at_1"]
RUN_TOTALS = {"run.wall_s": "s", "run.jobs": "count",
              "run.executor_run_s": "s", "run.shuffle_write_bytes": "bytes",
              "run.spill_bytes": "bytes", "run.peak_rss_mb": "MB",
              "run.trace_bookkeeping_s": "s"}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name → unit, in BENCHMARK.json order."""
    unit = {"wall_s": "s", "self_s": "s", "jobs": "count",
            "executor_run_s": "s", "shuffle_write_bytes": "bytes",
            "rows_out": "count", "stage_bytes": "bytes"}
    names: dict[str, str] = {}
    for layer in LINK_LAYERS + CLEAN_LAYERS:
        names[f"{layer}.wall_s"] = "s"
        names[f"{layer}.jobs"] = "count"
        if layer not in NO_EXECUTOR_LAYERS:
            names[f"{layer}.executor_run_s"] = "s"
    for suffix, layers in (("self_s", SELF_LAYERS),
                           ("shuffle_write_bytes", SHUFFLE_LAYERS),
                           ("rows_out", ROWS_LAYERS),
                           ("stage_bytes", CATALOG_LAYERS)):
        for layer in layers:
            names[f"{layer}.{suffix}"] = unit[suffix]
    names.update({n: "ratio" for n in RATIOS + QUALITY})
    names.update(RUN_TOTALS)
    return names


# -- environment ------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _ppid(pid: str) -> int:
    with open(f"/proc/{pid}/stat") as f:
        return int(f.read().rsplit(")", 1)[1].split()[1])


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants (this
    driver, the JVM it launched and the JVM's Python workers), as the sum
    of their proportional set sizes, so pages that forked workers share
    count once."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                children.setdefault(_ppid(pid), []).append(int(pid))
            except (OSError, ValueError, IndexError):
                pass
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            pass
    return total


class RssSampler:
    """Peak process-tree RSS, sampled on a thread while ``with`` runs."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# -- session ----------------------------------------------------------------

def start_spark(work: str, cores: int):
    """``session.get_spark`` at local[cores], with every path it writes
    kept under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # "" keeps session.py from picking a local dir itself (it would also
    # turn spill compression off); spark.local.dir is set below instead.
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = ""
    for var in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_CPUS"):
        os.environ.pop(var, None)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    from entity_linking_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=cores, extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file: the JVM would write it to /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# -- seed records -----------------------------------------------------------

def size_key(workload: str) -> str:
    from perfbench import workloads

    size = workloads.LINK_SIZE if workload == "link_full" else workloads.CLEAN_SIZE
    return ",".join(f"{k}={v}" for k, v in sorted(size.items()))


def _seen_path(workload: str, seed: int) -> str:
    return os.path.join(WORK, "seen", f"{workload}-{size_key(workload)}-{seed}.json")


def reference_values(workload: str, seed: int) -> tuple[dict | None, str]:
    """Values this seed must reproduce: expected.json's, else those of
    an earlier correct run of this seed in the same checkout."""
    with open(EXPECTED) as f:
        rec = json.load(f).get(workload, {}).get(size_key(workload), {})
    if str(seed) in rec:
        return rec[str(seed)], "expected.json"
    if os.path.exists(_seen_path(workload, seed)):
        with open(_seen_path(workload, seed)) as f:
            return json.load(f), "an earlier run"
    return None, ""


def remember(workload: str, seed: int, values: dict) -> None:
    path = _seen_path(workload, seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(values, f)


# -- one run ----------------------------------------------------------------

def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """One benchmark run: set-up, then timed (or one traced) calls.
    Returns the result object and the run environment."""
    from perfbench import workloads

    t_setup = time.perf_counter()
    run_id = f"{workload}-s{seed}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(WORK, run_id)
    os.makedirs(work)
    cores = nproc()
    env = {"run_id": run_id, "workload": workload, "seed": seed,
           "nproc": cores, "master": f"local[{cores}]",
           "git_commit": git_commit(), "trace": trace}
    try:
        # inputs: built SETUP_REPS times (the same seed must give the same
        # inputs each time); set-up counts the median build
        builds, metas = [], []
        for i in range(SETUP_REPS):
            t = time.perf_counter()
            metas.append(workloads.build_inputs(
                workload, os.path.join(work, f"inputs{i}"), seed))
            builds.append(time.perf_counter() - t)
        if any(m != metas[0] for m in metas):
            raise RuntimeError(f"seed {seed} gave different inputs: {metas}")
        t = time.perf_counter()
        spark = start_spark(work, cores)
        try:
            wl = workloads.open_workload(
                workload, spark, os.path.join(work, "inputs0"), metas[0])
            setup_s = (time.perf_counter() - t) + statistics.median(builds)
            env.update(pyspark=spark.version,
                       java=spark.sparkContext._jvm.System.getProperty(
                           "java.version"),
                       setup_wall_s=time.perf_counter() - t_setup)
            result = _passes(spark, wl, work, seed, seconds, trace, env)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not trace:
        result["metrics"]["setup_s"] = {"value": setup_s, "unit": "s"}
    return result, env


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _passes(spark, wl, work, seed, seconds, trace, env) -> dict:
    """Timed calls until ``seconds`` have passed (at least one), or one
    traced call.  Returns the result object."""
    from perfbench import tracing

    reference, source = reference_values(wl.name, seed)
    problems, records = [], []
    values = traced = None
    start = time.perf_counter()
    # memory is sampled in traced runs only, so sampling never competes
    # with the timed calls for the cores
    with RssSampler() if trace else contextlib.nullcontext() as rss:
        while True:
            pass_dir = os.path.join(work, f"pass{len(records) + 1}")
            load_before, cpu_before = os.getloadavg()[0], _cpu_times()
            t = time.perf_counter()
            try:
                if trace:
                    traced, output = tracing.traced_call(
                        spark.sparkContext, wl, pass_dir, env["run_id"])
                else:
                    output = wl.call(pass_dir)
                wall = time.perf_counter() - t
                values = wl.inspect(output)
                found = wl.check(values)
                if reference is not None and wl.stable(values) != reference:
                    found.append(f"{wl.stable(values)} != {reference} "
                                 f"from {source}")
            except Exception:  # a failed call is counted, not fatal
                wall = time.perf_counter() - t
                values, found = None, [traceback.format_exc()]
            cpu = [b - a for a, b in zip(cpu_before, _cpu_times())]
            records.append({"wall_s": wall, "load1_before": load_before,
                            "load1_after": os.getloadavg()[0],
                            "steal_share": cpu[7] / max(sum(cpu), 1),
                            "problems": found})
            problems.extend(found)
            if not found and reference is None:
                reference, source = wl.stable(values), "an earlier call"
                remember(wl.name, seed, reference)
            if trace or time.perf_counter() - start >= seconds:
                break
    env["passes"] = records
    env["overloaded"] = any(max(r["load1_before"], r["load1_after"]) > env["nproc"]
                            for r in records)
    attempted = len(records)
    failed = sum(bool(r["problems"]) for r in records)
    if trace:
        metrics = dict.fromkeys(per_layer_names(), 0)
        if traced is not None:  # None when the traced call raised
            metrics = _per_layer(traced, tracing.collect_jobs(traced), values,
                                 records[0]["wall_s"], env)
        metrics["run.peak_rss_mb"] = rss.peak / 2**20
    else:
        good = [r["wall_s"] for r in records if not r["problems"]]
        wall_s = statistics.median(good or [r["wall_s"] for r in records])
        metrics = {
            "wall_s": wall_s,
            "items_per_s": (wl.items(values) if values else 0) / wall_s,
            "ok_frac": (attempted - failed) / attempted,
        }
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    units = {**END_TO_END, **per_layer_names()}
    return {
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _per_layer(tracer, jobs, values, wall, env) -> dict:
    from perfbench import tracing

    table = tracing.layer_table(tracer, jobs)
    out = {}
    for name in per_layer_names():
        layer, _, suffix = name.rpartition(".")
        out[name] = table.get(layer, {}).get(suffix, 0)
    out.update({
        "run.wall_s": wall,
        "run.jobs": len(jobs),
        "run.executor_run_s": sum(j["executor_run_s"] for j in jobs),
        "run.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
        "run.spill_bytes": sum(j["spill_bytes"] for j in jobs),
        "run.trace_bookkeeping_s": tracer.bookkeeping_s,
    })
    if values and "candidates" in values:
        n_m, n_c = values["mentions"], values["candidates"]
        out.update({
            "blocking.candidates.pairs_per_mention": n_c / n_m,
            "blocking.candidates.true_pair_share":
                values["blocking_recall"] * n_m / n_c,
            "topk.edges.edge_share": values["edges"] / values["scored"],
            "quality.pairwise_f1": values["pairwise_f1"],
            "quality.blocking_recall": values["blocking_recall"],
            "quality.retrieval_at_1": values["retrieval_at_1"],
        })
    self_s = tracer.self_times()
    spans = [{**s, "self_s": self_s[s["id"]]} for s in tracer.spans]
    path = os.path.join(WORK, "traces", f"{env['run_id']}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"env": env, "spans": spans, "layers": table, "jobs": jobs},
                  f, indent=1, sort_keys=True)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "entity_linking_spark", "__init__.py")):
        print(f"perfbench: {ROOT} holds no entity_linking_spark package; run "
              "the benchmark from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result, env = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"env": env}, sort_keys=True))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
