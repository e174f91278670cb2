"""Hybrid connected components vs a union-find oracle.

Every parity case runs through both strategies: the driver finish (the
default for graphs this small) and the forced-distributed large-star /
small-star rounds (``_LOCAL_MAX_EDGES`` patched below every edge count).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from entity_linking_spark.operators import cluster
from entity_linking_spark.operators.cluster import connected_components


def union_find_oracle(edges: list[tuple]) -> dict:
    """Component-min per node; Python orders str by code point, which is
    UTF-8 byte order (Spark's string order), and int numerically."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # compress to component-min
    comp: dict[str, list[str]] = {}
    for n in list(parent):
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for root, members in comp.items() for n in members}


@pytest.fixture(params=["driver", "distributed"])
def path(request, monkeypatch):
    if request.param == "distributed":
        monkeypatch.setattr(cluster, "_LOCAL_MAX_EDGES", -1)
    return request.param


def run_cc(spark, edges, id_type="string"):
    df = spark.createDataFrame(edges, f"src {id_type}, dst {id_type}")
    rows = connected_components(df).collect()
    got = {r["node"]: r["cluster_id"] for r in rows}
    assert len(got) == len(rows), "a node was assigned twice"
    return got


def test_cc_simple_components(spark):
    edges = [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")]
    got = run_cc(spark, edges)
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "p": "p"}


def test_cc_long_chain(spark):
    """Pathological chain — exercises the O(log n) star rounds."""
    n = 64
    edges = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)]
    got = run_cc(spark, edges)
    assert set(got.values()) == {"n000"}
    assert len(got) == n + 1


def test_cc_random_graphs_match_union_find(spark):
    rng = np.random.RandomState(7)
    nodes = [f"v{i:04d}" for i in range(200)]
    edges = [
        (nodes[rng.randint(0, 200)], nodes[rng.randint(0, 200)]) for _ in range(150)
    ]
    got = run_cc(spark, edges)
    want = union_find_oracle(edges)
    assert got == want


def test_cc_deterministic_across_partitionings(spark):
    edges = [(f"a{i}", f"a{(i * 7) % 40}") for i in range(40)]
    df1 = spark.createDataFrame(edges, "src string, dst string").repartition(2)
    df2 = spark.createDataFrame(edges, "src string, dst string").repartition(16)
    r1 = {r["node"]: r["cluster_id"] for r in connected_components(df1).collect()}
    r2 = {r["node"]: r["cluster_id"] for r in connected_components(df2).collect()}
    assert r1 == r2


def _chain(n):
    return [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)]


PARITY_CASES = {
    "random": [
        (f"v{a:04d}", f"v{b:04d}")
        for a, b in np.random.RandomState(11).randint(0, 300, size=(250, 2))
    ],
    "long_chain": _chain(64),
    "duplicates_and_self_loops": [
        ("a", "b"), ("b", "a"), ("a", "b"), ("b", "c"), ("c", "c"),
        ("d", "d"), ("d", "d"), ("e", "f"), ("f", "e"),
    ],
    "empty": [],
    # byte order: "a10" < "a9"; U+00E9 > "z"; U+FFFF < U+1F600 (UTF-16
    # order would put the astral character first)
    "string_byte_order": [
        ("a9", "a10"), ("z", "é"), ("\U0001F600", "￿"),
        ("é", "￿"), ("b9", "b10"), ("b10", "b100"),
    ],
}


@pytest.mark.parametrize("case", sorted(PARITY_CASES))
def test_cc_paths_match_union_find(spark, path, case):
    edges = PARITY_CASES[case]
    assert run_cc(spark, edges) == union_find_oracle(edges)


def test_cc_bigint_ids_order_numerically(spark, path):
    # numeric order differs from string order: 9 < 10, -5 < 3
    edges = [(10, 9), (100, 10), (3, -5), (7, 7), (2**62, 2**40)]
    got = run_cc(spark, edges, "bigint")
    assert got == union_find_oracle(edges)
    assert got[100] == 9 and got[3] == -5 and got[7] == 7


def test_cc_null_endpoints(spark, path):
    """greatest/least skip NULL: (a, NULL) links nothing, leaves a as a
    singleton and adds one (NULL, NULL) row."""
    edges = [("a", None), ("b", "c"), (None, None), (None, "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    rows = sorted(
        connected_components(df).collect(), key=lambda r: (r["node"] is not None, r["node"])
    )
    assert [tuple(r) for r in rows] == [
        (None, None), ("a", "a"), ("b", "b"), ("c", "b"),
    ]


@pytest.mark.parametrize("threshold", [cluster._LOCAL_MAX_EDGES, -1])
def test_cc_runs_upstream_edge_plan_once(spark, monkeypatch, threshold):
    """The input is cut once: the canonical edges and the node set both
    read the cut, so a counting UDF upstream fires once per edge row."""
    monkeypatch.setattr(cluster, "_LOCAL_MAX_EDGES", threshold)
    edges = _chain(20) + [("x", "y"), ("p", "p")]
    calls = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(s):
        calls.add(1)
        return s

    df = spark.createDataFrame(edges, "src string, dst string").select(
        counted("src").alias("src"), "dst"
    )
    got = {r["node"]: r["cluster_id"] for r in connected_components(df).collect()}
    assert got == union_find_oracle(edges)
    assert calls.value == len(edges)


def test_cc_raises_without_fixpoint(spark, monkeypatch):
    monkeypatch.setattr(cluster, "_LOCAL_MAX_EDGES", 0)
    df = spark.createDataFrame(_chain(64), "src string, dst string")
    with pytest.raises(RuntimeError, match="no fixpoint after 1 rounds"):
        connected_components(df, max_iterations=1)


def test_cc_hands_off_to_driver_mid_rounds(spark, monkeypatch):
    """A graph over the bound runs distributed rounds, then finishes on
    the driver once a round's edge count falls under it."""
    finishes = []
    finish = cluster._finish_on_driver

    def spy(edges):
        finishes.append(edges.count())
        return finish(edges)

    # two 12-cliques: 132 edges in, 22 at the fixpoint
    edges = [
        (f"{c}{i:02d}", f"{c}{j:02d}") for c in "pq" for i in range(12) for j in range(i)
    ]
    monkeypatch.setattr(cluster, "_LOCAL_MAX_EDGES", 60)
    monkeypatch.setattr(cluster, "_finish_on_driver", spy)
    assert run_cc(spark, edges) == union_find_oracle(edges)
    assert len(finishes) == 1 and finishes[0] <= 60


@pytest.mark.parametrize(
    "n_nodes,n_edges,chain",
    [(1, 0, False), (50, 10, False), (2000, 1500, False), (2000, 6000, False), (2000, 0, True)],
)
def test_component_min_index_matches_union_find(n_nodes, n_edges, chain):
    """The driver kernel alone, on graphs from sparse to past the giant
    component, and on one chain through all nodes in shuffled order."""
    rng = np.random.RandomState(n_nodes + n_edges)
    src, dst = rng.randint(0, n_nodes, size=(2, n_edges))
    if chain:
        order = rng.permutation(n_nodes)
        src, dst = order[:-1], order[1:]
    root = cluster._component_min_index(src, dst, n_nodes)
    want = union_find_oracle(list(zip(src.tolist(), dst.tolist())))
    assert {i: int(root[i]) for i in want} == want
    assert all(root[i] == i for i in set(range(n_nodes)) - set(want))
