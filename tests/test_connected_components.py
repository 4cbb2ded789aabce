"""Hash-to-min connected components on hand-built graphs
(FIXTURES.md §3 CC graphs: chain, star, two components, singleton,
self-loop). Every graph runs through BOTH physical strategies — the
driver union-find endgame (default for small edge sets) and the
distributed hash-to-min loop (forced via driver_edge_limit=0) — and
must produce identical labels."""

import pytest

from dedup_spark.operators.connected_components import connected_components


def _run(spark, nodes, edges, max_iters=50):
    n = spark.createDataFrame([(x,) for x in nodes], "conv_id string")
    e = spark.createDataFrame(edges or [("zzz", "zzz")], "conv_a string, conv_b string")
    if not edges:
        e = e.limit(0)
    by_unionfind = {
        r.conv_id: r.cluster_id
        for r in connected_components(n, e, max_iters).collect()
    }
    by_loop = {
        r.conv_id: r.cluster_id
        for r in connected_components(n, e, max_iters, driver_edge_limit=0).collect()
    }
    assert by_unionfind == by_loop
    return by_unionfind


def test_chain(spark):
    labels = _run(spark, ["a", "b", "c", "d"], [("a", "b"), ("b", "c"), ("c", "d")])
    assert labels == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_star(spark):
    labels = _run(spark, ["m", "x", "y", "z"], [("m", "x"), ("m", "y"), ("m", "z")])
    assert labels == {"m": "m", "x": "m", "y": "m", "z": "m"}


def test_two_components_and_singleton(spark):
    labels = _run(
        spark, ["a", "b", "c", "d", "e"], [("a", "b"), ("c", "d")]
    )
    assert labels == {"a": "a", "b": "a", "c": "c", "d": "c", "e": "e"}


def test_self_loop(spark):
    labels = _run(spark, ["a", "b"], [("a", "a"), ("a", "b")])
    assert labels == {"a": "a", "b": "a"}


def test_no_edges(spark):
    labels = _run(spark, ["a", "b"], [])
    assert labels == {"a": "a", "b": "b"}


def test_long_chain_converges(spark):
    nodes = [f"n{i:03d}" for i in range(12)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(11)]
    labels = _run(spark, nodes, edges)
    assert set(labels.values()) == {"n000"}


def test_loop_raises_when_round_budget_runs_out(spark):
    """A chain longer than the round budget cannot converge: the loop
    raises instead of returning partial (split) labels."""
    nodes = [f"n{i:03d}" for i in range(12)]
    n = spark.createDataFrame([(x,) for x in nodes], "conv_id string")
    e = spark.createDataFrame(
        [(nodes[i], nodes[i + 1]) for i in range(11)],
        "conv_a string, conv_b string",
    )
    with pytest.raises(RuntimeError, match="max_iters=4"):
        connected_components(n, e, max_iters=4, driver_edge_limit=0)
