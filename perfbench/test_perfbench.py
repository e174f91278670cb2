"""Tests of the benchmark's own code on tiny inputs (60 pages / 20
entities; 40 documents x 8 replicas).

    python3 -m pytest perfbench/test_perfbench.py -q

They start one local[2] session and run each workload twice: once
traced, once untraced.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import uuid

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run, tracing, workloads  # noqa: E402

SIZES = {"link_full": {"pages": 60, "entities": 20},
         "clean_8x": {"base_docs": 40, "replicas": 8}}
LAYERS = {"link_full": run.LINK_LAYERS, "clean_8x": run.CLEAN_LAYERS}
SEED = 7


@pytest.fixture(scope="module")
def work():
    path = os.path.join(run.WORK, f"test-{uuid.uuid4().hex[:8]}")
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="module")
def spark(work):
    s = run.start_spark(work, 2)
    yield s
    run.stop_spark(s)


@pytest.fixture(scope="module", params=sorted(SIZES))
def calls(request, spark, work):
    """(workload, meta, tracer, jobs, traced values, untraced values)."""
    name = request.param
    src = os.path.join(work, name, "inputs")
    meta = workloads.build_inputs(name, src, SEED, SIZES[name])
    wl = workloads.open_workload(name, spark, src, meta)
    tracer, output = tracing.traced_call(
        spark.sparkContext, wl, os.path.join(work, name, "pass1"), f"test-{name}")
    traced = wl.inspect(output)
    jobs = tracing.collect_jobs(tracer)
    untraced = wl.inspect(wl.call(os.path.join(work, name, "pass2")))
    return wl, meta, tracer, jobs, traced, untraced


def test_every_named_layer_appears(calls):
    wl, _meta, tracer, jobs, _t, _u = calls
    table = tracing.layer_table(tracer, jobs)
    missing = [layer for layer in LAYERS[wl.name] if layer not in table]
    assert not missing


def test_span_self_times_are_non_negative(calls):
    _wl, _meta, tracer, _jobs, _t, _u = calls
    spans = tracer.spans
    assert spans and all("end" in s for s in spans)
    assert all(s["parent"] is None or s["parent"] < s["id"] for s in spans)
    assert min(tracer.self_times().values()) >= -1e-9


def test_each_job_counts_under_exactly_one_layer(calls):
    wl, _meta, tracer, jobs, _t, _u = calls
    table = tracing.layer_table(tracer, jobs)
    assert jobs and "untagged" not in table
    assert sum(r["jobs"] for r in table.values()) == len(jobs)
    ids = [i for r in table.values() for i in r["job_ids"]]
    assert sorted(ids) == sorted(j["job_id"] for j in jobs)
    assert len(set(ids)) == len(ids)
    if wl.name == "link_full":
        # candidates nests the key stages: their jobs carry three of this
        # run's tags (root, candidates, key stage) and count for the key
        # stage alone
        nested = [j for j in jobs
                  if sum(t.startswith(f"perfbench-{tracer.run_id}-")
                         for t in j["tags"]) > 2]
        assert nested
        assert table["blocking.mention_blocking_keys"]["jobs"] > 0


def test_one_seed_gives_identical_check_values(calls, work):
    wl, meta, _tracer, _jobs, traced, untraced = calls
    assert wl.check(traced) == [] and wl.check(untraced) == []
    assert wl.stable(traced) == wl.stable(untraced)
    again = workloads.build_inputs(wl.name, os.path.join(work, wl.name, "again"),
                                   SEED, SIZES[wl.name])
    assert again == meta


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        run.per_layer_names()
    assert len(bench["per_layer"]) < 128


def test_refuses_to_run_without_the_program(work):
    bare = os.path.join(work, "bare")
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "link_full",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""
