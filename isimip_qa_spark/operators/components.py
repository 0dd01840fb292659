"""Connected components over duplicate-pair edges — the cluster-assignment
step a dedup pipeline needs after pair generation (pairs alone don't tell a
trainer which docs to drop; the canonical doc per *component* does, since
near-dup similarity is not transitive and A~B, B~C with A≁C must still
collapse to one cluster).

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi, Mirrokni,
Rastogi, Vassilvitskii — "Connected Components in MapReduce and Beyond",
ACM SoCC 2014). Each round is two hash aggregations + exchange-reusing
joins on 8-byte node ids; the edge set converges to stars (child → root)
in O(log² n) rounds regardless of component diameter — unlike plain label
propagation, whose round count is the graph diameter (a linked chain of
near-dup docs, common in template families, would take O(n) rounds).

Scale shape per round: `Exchange(hashpartitioning(u))` feeding both the
min-aggregate and the join probe (ReusedExchange), nothing wider than
(long, long) rows ever shuffles, and lineage is truncated every round with
an eager localCheckpoint so the plan stays O(1) deep instead of O(rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected edges as (u=min, v=max), self-loops dropped."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For every node u: connect each strictly-larger neighbor v to
    m = min(Γ(u) ∪ {u})."""
    b = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (
        b.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    return (
        b.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Direct each edge large→small, then for every node u: connect each
    (smaller) neighbor and u itself to m = min(Γ(u) ∪ {u})."""
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = d.groupBy("u").agg(F.min("v").alias("m"))  # m < u by construction
    return (
        d.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(m)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _is_star_forest(e: DataFrame) -> bool:
    """True when `e` (child u → parent v) is a star forest: no node is a
    child twice and no parent is a child, i.e. every node that is a child
    has exactly one edge. A round maps such an edge set onto itself, so it
    is the fixpoint; one aggregate checks it."""
    ends = e.select(F.col("u").alias("n"), F.lit(1).alias("child")).union(
        e.select(F.col("v").alias("n"), F.lit(0).alias("child"))
    )
    per_node = ends.groupBy("n").agg(
        F.max("child").alias("child"), F.count(F.lit(1)).alias("edges")
    )
    bad = per_node.filter((F.col("child") == 1) & (F.col("edges") > 1))
    return bad.agg(F.count(F.lit(1))).first()[0] == 0


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_rounds: int = 64
) -> DataFrame:
    """(node, component) for every node appearing in `edges`; the component
    id is the minimum node id in the component (deterministic, so the
    result is oracle-comparable). Nodes in no edge simply don't appear —
    callers attach singletons with a left join (see dedup_clusters).

    Driver-side iteration that stops on the first round whose output is a
    star forest (`_is_star_forest`, one tiny aggregate row per round, never
    the edges themselves); the paper bounds rounds at O(log² n), observed
    ≤ 4 on dup-cluster graphs."""
    e = _canon(edges, src, dst).localCheckpoint(eager=True)
    for _ in range(max_rounds):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        if _is_star_forest(e):
            break
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_rounds} rounds")
    # a star forest directed large→small: (child, root). Roots appear only
    # on the v side; add their self-assignments.
    stars = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node")).distinct().join(
        stars.select(F.col("node")), "node", "left_anti"
    )
    return stars.union(
        roots.select("node", F.col("node").alias("component"))
    )
