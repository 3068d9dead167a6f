"""Connected-components correctness vs a Python union-find oracle."""

from __future__ import annotations

import random

from islamic_ner_spark.operators.components import connected_components


def _oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {node: find(node) for node in parent}


def test_components_match_union_find(spark) -> None:
    rng = random.Random(17)
    nodes = [f"n{idx:03d}" for idx in range(60)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes))
        for _ in range(70)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _oracle(edges)

    df = spark.createDataFrame(edges, "src string, dst string")
    # local union-find path (small input)
    got_local = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    assert got_local == expected
    # distributed large-star/small-star path (threshold forced to 0)
    got_dist = {
        r["node"]: r["component"]
        for r in connected_components(df, local_threshold=0).collect()
    }
    assert got_dist == expected


def test_components_two_chains(spark) -> None:
    edges = [("b", "c"), ("a", "b"), ("x", "y"), ("y", "z")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "x"}


def test_components_deterministic_across_partitionings(spark) -> None:
    edges = [(f"n{i}", f"n{i+1}") for i in range(0, 40, 2)] + [
        (f"n{i}", f"n{i+2}") for i in range(0, 30, 3)
    ]
    df1 = spark.createDataFrame(edges, "src string, dst string").repartition(1)
    df8 = spark.createDataFrame(edges, "src string, dst string").repartition(8)
    r1 = sorted(map(tuple, connected_components(df1).collect()))
    r8 = sorted(map(tuple, connected_components(df8).collect()))
    assert r1 == r8


def test_pair_groups_numeric_min_without_singletons(spark) -> None:
    """The group of {2, 1000002} is its numeric min 2, not the
    lexicographic min '1000002' that connected_components labels it
    with; an id in no pair with another id (7, a self-pair) is absent."""
    from islamic_ner_spark.operators.components import pair_groups

    pairs = spark.createDataFrame([(2, 1000002), (7, 7)], "id_a long, id_b long")
    groups = pair_groups(pairs)
    assert groups.schema.simpleString() == "struct<id:bigint,group:bigint>"
    assert sorted(tuple(r) for r in groups.collect()) == [(2, 2), (1000002, 2)]
