"""Tests for the Misra–Gries two-pass heavy hitters and PageRank."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dask_ssh_docker_spark.operators.graph import pagerank
from dask_ssh_docker_spark.operators.sketches import (
    _mg_trim,
    heavy_hitters,
    misra_gries_candidates,
)


def test_mg_trim_bounds_and_survivors():
    # 6 counters, k=3 → subtract the 3rd-smallest (3), keep counts > 3
    counters = {"a": 10, "b": 8, "c": 5, "d": 3, "e": 2, "f": 1}
    _mg_trim(counters, 3)
    assert counters == {"a": 7, "b": 5, "c": 2}
    # already within k → untouched
    counters = {"a": 4, "b": 2}
    _mg_trim(counters, 5)
    assert counters == {"a": 4, "b": 2}


def test_candidates_superset_and_bounded(spark):
    # Zipf-ish skew: key i appears 1000//(i+1) times; many singletons
    rows = []
    for i in range(50):
        rows += [(f"hot{i}",)] * (1000 // (i + 1))
    rows += [(f"cold{i}",) for i in range(5000)]
    df = spark.createDataFrame(rows, ["k"]).repartition(8)
    n = df.count()
    k = 20
    cands = set(r.k for r in misra_gries_candidates(df, "k", k).collect())
    assert len(cands) <= k * 8 + 8
    exact = {
        r.k
        for r in df.groupBy("k").count().filter(F.col("count") * (k + 1) > n).collect()
    }
    assert exact <= cands  # superset guarantee


def test_heavy_hitters_equals_naive(spark):
    rows = [("a",)] * 500 + [("b",)] * 200 + [("c",)] * 90 + [
        (f"x{i}",) for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["k"]).repartition(6)
    n = df.count()
    k = 7  # threshold n/8 ≈ 136 → {a, b}
    got = {(r.k, r.n_key) for r in heavy_hitters(df, "k", k).collect()}
    want = {
        (r.k, r["count"])
        for r in df.groupBy("k").count().filter(F.col("count") * (k + 1) > n).collect()
    }
    assert got == want == {("a", 500), ("b", 200)}


def test_heavy_hitters_plan_no_python_rowudf_and_broadcast(spark):
    rows = [("a",)] * 50 + [(f"x{i}",) for i in range(50)]
    df = spark.createDataFrame(rows, ["k"]).repartition(4)
    plan = heavy_hitters(df, "k", 5)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan  # Arrow path only
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_pagerank_two_node_cycle(spark):
    edges = spark.createDataFrame([(0, 1), (1, 0)], ["src", "dst"])
    ranks = {r.node: r["rank"] for r in pagerank(edges, iters=10).collect()}
    assert math.isclose(ranks[0], 0.5, abs_tol=1e-12)
    assert math.isclose(ranks[1], 0.5, abs_tol=1e-12)


def test_pagerank_mass_conserved_with_dangling(spark):
    # 2 -> dangling (no out-edges); mass must still sum to 1
    edges = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], ["src", "dst"])
    ranks = pagerank(edges, iters=8).collect()
    total = sum(r["rank"] for r in ranks)
    assert math.isclose(total, 1.0, rel_tol=1e-9)
    by_node = {r.node: r["rank"] for r in ranks}
    # 2 receives from both 0 and 1 → highest rank
    assert by_node[2] == max(by_node.values())


def test_pagerank_isolated_node_gets_teleport_share(spark):
    edges = spark.createDataFrame([(0, 1)], ["src", "dst"])
    nodes = spark.createDataFrame([(0,), (1,), (2,)], ["id"])
    by_node = {
        r.node: r["rank"] for r in pagerank(edges, nodes=nodes, iters=6).collect()
    }
    assert set(by_node) == {0, 1, 2}
    assert sum(by_node.values()) > 0.99  # mass conserved incl. dangling 1, 2
    assert by_node[1] > by_node[0] > 0  # 1 receives 0's rank; 0 only teleports


def test_shortest_paths_line_graph(spark):
    from dask_ssh_docker_spark.operators.graph import shortest_paths

    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"])
    sources = spark.createDataFrame([(0,)], ["id"])
    d = {r.node: r.dist for r in shortest_paths(edges, sources, max_iters=5).collect()}
    assert d == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0}


def test_shortest_paths_weighted_prefers_cheap_detour(spark):
    from dask_ssh_docker_spark.operators.graph import shortest_paths

    # direct 0->2 costs 10; detour 0->1->2 costs 3
    edges = spark.createDataFrame(
        [(0, 2, 10.0), (0, 1, 1.0), (1, 2, 2.0)], ["src", "dst", "w"]
    )
    sources = spark.createDataFrame([(0,)], ["id"])
    d = {
        r.node: r.dist
        for r in shortest_paths(edges, sources, weight="w", max_iters=4).collect()
    }
    assert d[2] == 3.0


def test_shortest_paths_hop_bound_and_unreachable(spark):
    from dask_ssh_docker_spark.operators.graph import shortest_paths

    # chain longer than max_iters; node 9 disconnected
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)] + [(8, 9)], ["src", "dst"]
    )
    sources = spark.createDataFrame([(0,)], ["id"])
    d = {r.node: r.dist for r in shortest_paths(edges, sources, max_iters=2).collect()}
    assert set(d) == {0, 1, 2}  # only nodes within 2 hops appear
    assert 9 not in d


def test_pagerank_bounded_matches_distributed(spark):
    # the driver-side numpy iteration for schema-bounded graphs must match
    # the distributed loop (identical recurrence; float addition order
    # differs, so pin to 1e-9 — far inside every consumer's rounding)
    edges = spark.createDataFrame(
        [(a, b, float(1 + (a * 7 + b) % 5)) for a in range(12) for b in range(12) if (a * 5 + b * 3) % 4 == 0 and a != b],
        ["src", "dst", "w"],
    )
    nodes = spark.createDataFrame([(i,) for i in range(14)], ["id"])  # 2 isolated
    fast = {
        r.node: r["rank"]
        for r in pagerank(edges, nodes=nodes, weight="w", iters=6).collect()
    }
    slow = {
        r.node: r["rank"]
        for r in pagerank(
            edges, nodes=nodes, weight="w", iters=6, driver_iter_max_nodes=0
        ).collect()
    }
    assert set(fast) == set(slow)
    for k in fast:
        assert math.isclose(fast[k], slow[k], abs_tol=1e-9), k
    assert math.isclose(sum(fast.values()), 1.0, rel_tol=1e-9)


def test_sssp_bounded_matches_distributed(spark):
    # driver-side Bellman-Ford for bounded edge lists must be BIT-equal
    # to the distributed loop (identical per-path addition order)
    from dask_ssh_docker_spark.operators.graph import shortest_paths

    edges = spark.createDataFrame(
        [(0, 1, 1.5), (1, 2, 0.25), (0, 2, 2.0), (2, 3, 0.125), (3, 1, 0.0625), (4, 0, 1.0)],
        ["src", "dst", "w"],
    )
    sources = spark.createDataFrame([(0,)], ["id"])
    fast = {r.node: r.dist for r in shortest_paths(edges, sources, weight="w").collect()}
    slow = {
        r.node: r.dist
        for r in shortest_paths(
            edges, sources, weight="w", driver_max_edges=0
        ).collect()
    }
    assert fast == slow  # exact float equality, not approx
    assert fast[3] == 1.5 + 0.25 + 0.125
    assert 4 not in fast  # unreachable from source


@pytest.mark.parametrize(
    "name, jobs, tasks",
    [("pagerank_nation_trade", 8, 12), ("sssp_nation_trade", 8, 23)],
)
def test_graph_query_job_count(spark, sf_dir, spark_work, name, jobs, tasks):
    """Build + collect at sf0.001 of the bounded graph paths: one bound
    probe collects the rows the local iteration runs on, and the result
    is a job-free local relation."""
    from dask_ssh_docker_spark.queries import REGISTRY

    with spark_work() as w:
        REGISTRY[name].fn(spark, sf_dir).collect()
    assert w.jobs == jobs
    # shuffle-stage task counts scale with the default parallelism; the
    # counts were measured at 8
    if spark.sparkContext.defaultParallelism == 8:
        assert w.tasks == tasks


def test_pagerank_null_weights_both_paths_agree(spark):
    # ADVICE r7: NULL-weight edges crashed the driver fast path (`du + w`
    # on None / np.asarray over a None ratio) while the distributed
    # aggregates silently null-skipped.  Both paths now DROP null-weight
    # edges at prep, so dirty inputs give identical results.
    rows = [(0, 1, 2.0), (1, 2, None), (1, 0, 1.0), (2, 0, 3.0), (3, 2, None)]
    edges = spark.createDataFrame(rows, "src int, dst int, w double")
    nodes = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    fast = {
        r.node: r["rank"]
        for r in pagerank(edges, nodes=nodes, weight="w", iters=4).collect()
    }
    slow = {
        r.node: r["rank"]
        for r in pagerank(
            edges, nodes=nodes, weight="w", iters=4, driver_iter_max_nodes=0
        ).collect()
    }
    assert set(fast) == set(slow) == {0, 1, 2, 3}
    for k in fast:
        assert math.isclose(fast[k], slow[k], abs_tol=1e-9), k
    # node 3's only edge is null-weight => dangling on BOTH paths
    assert math.isclose(sum(fast.values()), 1.0, rel_tol=1e-9)


def test_sssp_null_weights_both_paths_agree(spark):
    from dask_ssh_docker_spark.operators.graph import shortest_paths

    rows = [(0, 1, 1.0), (1, 2, None), (0, 3, 2.5), (3, 2, 1.5)]
    edges = spark.createDataFrame(rows, "src int, dst int, w double")
    sources = spark.createDataFrame([(0,)], ["id"])
    fast = {
        r.node: r.dist
        for r in shortest_paths(edges, sources, weight="w").collect()
    }
    slow = {
        r.node: r.dist
        for r in shortest_paths(
            edges, sources, weight="w", driver_max_edges=0
        ).collect()
    }
    assert fast == slow  # bit-equal, including on dirty input
    assert fast[2] == 4.0  # reached only via the non-null 0->3->2 path
