"""A/B harness for job-level scaling experiments (VERDICT r02 item #7).

Runs bench.py --probe in sequential subprocess JVMs — one per conf
variant × parallelism — so every variant gets a fresh JVM and nothing
shares the box.  Variants ride SPARK_GRAFT_EXTRA_CONF (session.py
overlay) plus SPARK_GRAFT_JAVA_OPTS for JVM-launch options (GC choice —
must be set before the JVM starts, so it cannot be a builder conf).

Usage:
    python scripts/scaling_ab.py             # all variants at 32 cores
    python scripts/scaling_ab.py --full      # winner-check at 8+32 cores
    python scripts/scaling_ab.py --variants baseline,spill_nocomp --reps 2
        # confirm mode: interleaved repeats (b, s, b, s) so slow box-load
        # drift hits both arms equally — the decisive test for a variant
        # that won a single sweep
    SPARK_GRAFT_SCALE_PAGES=12000 python scripts/scaling_ab.py   # faster

Interpreting: the box's run-to-run variance is large (same plan has
measured ±30% across sessions — shared-host effects invisible to local
load); only deltas well beyond that, reproduced across repeats, count.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

VARIANTS: dict[str, dict[str, str]] = {
    "baseline": {},
    "offheap16g": {
        "SPARK_GRAFT_EXTRA_CONF":
            "spark.memory.offHeap.enabled=true;spark.memory.offHeap.size=16g",
    },
    "parallel_gc": {
        "SPARK_GRAFT_JAVA_OPTS": "-XX:+UseParallelGC",
    },
    "offheap+pgc": {
        "SPARK_GRAFT_EXTRA_CONF":
            "spark.memory.offHeap.enabled=true;spark.memory.offHeap.size=16g",
        "SPARK_GRAFT_JAVA_OPTS": "-XX:+UseParallelGC",
    },
    "arrow100k": {
        "SPARK_GRAFT_EXTRA_CONF":
            "spark.sql.execution.arrow.maxRecordsPerBatch=100000",
    },
    "spill_nocomp": {
        "SPARK_GRAFT_EXTRA_CONF": "spark.shuffle.spill.compress=false",
    },
}


def run_probe(cores: int, extra_env: dict[str, str]) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        **extra_env,
    )
    # plain-python launch (not spark-submit): pyspark then starts the JVM
    # itself, so SPARK_GRAFT_JAVA_OPTS can reach the launch command line
    if "SPARK_GRAFT_JAVA_OPTS" in env:
        env["SPARK_SUBMIT_OPTS"] = env["SPARK_GRAFT_JAVA_OPTS"]
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--probe"],
        env=env, capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    full = "--full" in sys.argv
    cores_list = (8, 32) if full else (32,)
    names = list(VARIANTS)
    reps = 1
    if "--variants" in sys.argv:
        names = sys.argv[sys.argv.index("--variants") + 1].split(",")
    if "--reps" in sys.argv:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])
    results: dict[str, dict[int, dict]] = {}
    if reps > 1:
        # interleaved confirm mode: round-robin the variants so any
        # monotonic box-load drift is shared across arms
        runs: dict[str, list[float]] = {n: [] for n in names}
        for rep in range(reps):
            for name in names:
                r = run_probe(32, VARIANTS[name])
                runs[name].append(r["pairs_per_sec"])
                print(f"rep{rep} {name:>12}: {r['pairs_per_sec']:>9} pairs/s "
                      f"({r['wall_sec']}s)", flush=True)
        for name, vals in runs.items():
            mean = sum(vals) / len(vals)
            print(f"{name:>12}: mean {mean:.1f}  runs {vals}")
        print(json.dumps(runs))
        return
    for name in names:
        extra = VARIANTS[name]
        results[name] = {}
        for cores in cores_list:
            r = run_probe(cores, extra)
            results[name][cores] = r
            print(
                f"{name:>12} local[{cores}]: {r['pairs_per_sec']:>9} pairs/s "
                f"({r['wall_sec']}s)",
                flush=True,
            )
    if full:
        for name, rs in results.items():
            eff = round(rs[32]["pairs_per_sec"] / (4 * rs[8]["pairs_per_sec"]), 3)
            print(f"{name:>12}: efficiency 8→32 = {eff}")
    print(json.dumps(results))


if __name__ == "__main__":
    main()
