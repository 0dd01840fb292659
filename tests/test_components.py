"""Connected components (operators/components.py): large-star/small-star
against a pure-Python union-find ground truth on planted topologies."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from isimip_qa_spark.operators import components
from isimip_qa_spark.operators.components import connected_components


def _uf_truth(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

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
    return {n: find(n) for n in parent}


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, "src", "dst").collect()
    }
    assert got == _uf_truth(edges)
    return got


@pytest.fixture
def rounds(monkeypatch):
    """The number of rounds connected_components runs (one small-star step
    each)."""
    n = [0]
    small_star = components._small_star

    def counting(e):
        n[0] += 1
        return small_star(e)

    monkeypatch.setattr(components, "_small_star", counting)
    return n


def test_chain_needs_multiple_rounds(spark, rounds):
    # a 64-node path has diameter 63 — plain label propagation would need
    # 63 rounds; star contraction must still converge (O(log² n)) and label
    # every node with the path minimum. It stops on the round that reaches
    # the star forest, not one round later.
    edges = [(i, i + 1) for i in range(63)]
    got = _run(spark, edges)
    assert set(got.values()) == {0}
    assert rounds[0] == 6


def test_child_with_two_roots_is_not_a_fixpoint(spark, rounds):
    # path 0-2-3-4-1: the first round gives 2→0, 2→1, 3→0, 4→1, where no
    # parent is a child but node 2 has two parents. Stopping there would
    # label 1 and 4 with component 1.
    got = _run(spark, [(0, 2), (2, 3), (3, 4), (4, 1)])
    assert set(got.values()) == {0}
    assert rounds[0] == 3


def test_mixed_components_and_duplicates(spark):
    edges = [
        (5, 9), (9, 5), (5, 5),          # duplicate + self-loop noise
        (1, 2), (2, 3),                  # triangle-ish chain
        (10, 11),                        # pair
        (20, 21), (21, 22), (20, 22),    # cycle
    ]
    got = _run(spark, edges)
    assert got[9] == 5 and got[3] == 1 and got[11] == 10 and got[22] == 20


def test_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    nodes = list(range(200))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _run(spark, edges)


def test_star_output_shape(spark):
    # output is exactly one row per node appearing in an edge; components
    # labeled by their minimum
    edges = [(100, 3), (3, 50)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, "src", "dst")
    rows = out.orderBy("node").collect()
    assert [(r["node"], r["component"]) for r in rows] == [
        (3, 3), (50, 3), (100, 3)
    ]


def test_dedup_clusters_transitivity(spark, tmp_path):
    """dedup_clusters merges A~B, B~C into one cluster even when A≁C, and
    exact-dup members inherit the rep's cluster."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    words = base.split()
    # B overlaps heavily with both A and C; A vs C overlap is low
    texts = [
        " ".join(words),                          # A
        " ".join(words[2:] + ["lambda", "mu"]),   # B ~ A and ~ C
        " ".join(words[4:] + ["lambda", "mu", "nu", "xi"]),  # C ~ B
        " ".join(words),                          # exact dup of A
        "completely unrelated text about nothing at all here",
    ]
    docs = [(i + 1, t, "en", "web", len(t)) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path)
    sdf.write.parquet(f"{sf_dir}/documents.parquet")

    from isimip_qa_spark.queries.dedup import dedup_clusters, dedup_minhash_lsh

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_minhash_lsh(spark, sf_dir).collect()
    }
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(spark, sf_dir).collect()
    }
    assert got[5] == 5  # singleton keeps its own id
    assert got[4] == got[1]  # exact dup inherits rep's cluster
    if (1, 2) in pairs and (2, 3) in pairs:
        # transitive merge through B
        assert got[1] == got[2] == got[3] == 1
