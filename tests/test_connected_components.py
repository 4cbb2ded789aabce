"""Connected components on hand-built graphs (FIXTURES.md §3 CC
graphs: chain, star, two components, singleton, self-loop, plus long
paths and a binary tree). Every graph runs through BOTH physical
strategies — the driver union-find endgame (default for small edge
sets) and the distributed star-contraction loop (forced via
driver_edge_limit=0) — and must produce identical labels. The long
graphs also bound the loop's rounds by 2·⌈log₂ n⌉ + 2."""

import math
import random

import pytest

from dedup_spark.operators import connected_components as cc
from dedup_spark.operators.connected_components import connected_components


@pytest.fixture
def star_rounds(monkeypatch):
    """Round counts of every star-contraction run in the test."""
    rounds = []
    contract = cc._star_contract

    def counted(edges):
        stars, n = contract(edges)
        rounds.append(n)
        return stars, n

    monkeypatch.setattr(cc, "_star_contract", counted)
    return rounds


def _run(spark, nodes, edges):
    n = spark.createDataFrame([(x,) for x in nodes], "conv_id string")
    e = spark.createDataFrame(edges or [("zzz", "zzz")], "conv_a string, conv_b string")
    if not edges:
        e = e.limit(0)
    by_unionfind = {
        r.conv_id: r.cluster_id
        for r in connected_components(n, e).collect()
    }
    by_loop = {
        r.conv_id: r.cluster_id
        for r in connected_components(n, e, driver_edge_limit=0).collect()
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


def _ids(n, shuffled):
    ids = [f"n{i:05d}" for i in range(n)]
    if shuffled:
        random.Random(7).shuffle(ids)
    return ids


def _assert_one_component_in_log_rounds(spark, star_rounds, ids, edges):
    labels = _run(spark, ids, edges)
    assert set(labels.values()) == {min(ids)}
    assert len(labels) == len(ids)
    assert star_rounds and star_rounds[0] <= 2 * math.ceil(math.log2(len(ids))) + 2


@pytest.mark.parametrize("shuffled", [False, True], ids=["sorted", "shuffled"])
def test_long_path_in_log_rounds(spark, star_rounds, shuffled):
    """A 1,024-node path: label propagation needs 1,023 rounds on it."""
    ids = _ids(1024, shuffled)
    edges = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    _assert_one_component_in_log_rounds(spark, star_rounds, ids, edges)


def test_shuffled_binary_tree_in_log_rounds(spark, star_rounds):
    ids = _ids(1023, shuffled=True)
    edges = [(ids[i], ids[(i - 1) // 2]) for i in range(1, len(ids))]
    _assert_one_component_in_log_rounds(spark, star_rounds, ids, edges)
