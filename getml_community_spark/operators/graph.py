"""Distributed connected components — the transitive closure behind
full near-duplicate clustering.

``minhash_lsh_dedup`` / ``embedding_near_dups`` emit PAIRS; dropping
the larger id of each pair is a one-hop approximation (documented in
dedup.py): in a chain a—b—c it keeps c when b was already dropped.
The exact semantics is "one survivor per connected component", which
needs an iterative algorithm. Two variants (both from the map-reduce
CC family of Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC 2014 — public):

- ``algorithm="star"`` (default): alternating **large-star /
  small-star** rounds. Large-star connects every strictly-larger
  neighbor of u to u's neighborhood minimum; small-star connects the
  smaller neighbors. Each operation preserves connectivity, and the
  alternation converges to per-component stars centered at the
  component minimum in O(log n) rounds — diameter-independent, so a
  million-node path costs ~20 rounds, not a million.
- ``algorithm="label"``: plain min-label propagation — one join+agg
  per round, O(component diameter) rounds. Fine for near-dup clusters
  (near-cliques are shallow); kept as the simple reference.

Scale shape per round (both): a bounded number of shuffle joins /
aggregations over (node, node) pairs — no vectors, no text, no
driver-side rows (the convergence check moves one scalar per round).
Frames pass an eager :func:`..session.barrier` every round so lineage
stays O(1) deep. The barrier is a localCheckpoint (executor-local: a
lost executor restarts the job) unless the session has a checkpoint
dir (``spark.sparkContext.setCheckpointDir``), which makes every round
a reliable ``checkpoint()`` — the right mode for multi-hour runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import barrier

__all__ = ["connected_components"]


def _checksum(e: DataFrame) -> tuple:
    """(count, xxhash64-sum) of an edge frame — one scalar row to the
    driver; wrap-around on the sum is deterministic (ANSI off)."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64("a", "b")).alias("h")
    ).first()
    return (row["n"], row["h"])


def _large_star(e: DataFrame) -> DataFrame:
    """Kiveris et al. Alg. 3: for each node u with neighborhood Γ(u),
    m = min(Γ(u) ∪ {u}); emit (v, m) for every v ∈ Γ(u) with v > u."""
    bi = (
        e.select("a", "b")
        .union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )
    mins = bi.groupBy("a").agg(F.min("b").alias("__mn"))
    mins = mins.select("a", F.least(F.col("__mn"), F.col("a")).alias("m"))
    return (
        bi.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Kiveris et al. Alg. 4: orient each edge (u, v) with u > v, group
    by u, m = min(Γ(u)); emit (v, m) for v ∈ Γ(u) ∪ {u}, v ≠ m."""
    o = (
        e.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    return (
        o.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .union(mins.select(F.col("u").alias("a"), F.col("m").alias("b")))
        .distinct()
    )


def _cc_star(e: DataFrame, nodes: DataFrame, max_iter: int) -> DataFrame:
    """Alternate large-star/small-star until the (canonically max→min
    oriented) edge set is stable; the fixed point is one star per
    component centered at the component min."""
    nodes = barrier(nodes, eager=True)
    prev = None
    for _ in range(max_iter):
        e = barrier(_small_star(_large_star(e)), eager=True)
        chk = _checksum(e)
        if chk == prev:
            stars = e.select(F.col("a").alias("node"), F.col("b").alias("component"))
            return nodes.join(stars, "node", "left").select(
                "node",
                F.coalesce(F.col("component"), F.col("node")).alias("component"),
            )
        prev = chk
    raise RuntimeError(
        f"connected_components(star) did not converge in {max_iter} rounds"
    )


def _cc_label(e: DataFrame, max_iter: int) -> DataFrame:
    e = barrier(
        e.select("a", "b")
        .union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct(),
        eager=True,
    )
    labels = barrier(
        e.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node")),
        eager=True,
    )
    for _ in range(max_iter):
        neighbor_min = (
            e.join(labels, e["b"] == labels["node"])
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("__nbr"))
        )
        merged = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.col("component").alias("__old"),
                F.least(
                    F.col("component"), F.coalesce(F.col("__nbr"), F.col("component"))
                ).alias("component"),
            )
        )
        merged = barrier(merged, eager=True)
        changed = merged.where(F.col("component") != F.col("__old")).count()
        labels = merged.select("node", "component")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(component diameter exceeds max_iter; raise it or use "
        "algorithm='star')"
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    algorithm: str = "star",
) -> DataFrame:
    """Return (node, component) with component = min node id reachable.

    ``edges`` is undirected input (each pair listed once is enough).
    Nodes only appear if they occur in ``edges`` — callers keep
    isolated nodes implicitly (they are their own component).
    ``algorithm="star"`` (default) converges in O(log n) rounds
    regardless of component diameter; ``"label"`` is the O(diameter)
    min-label propagation. Both raise RuntimeError past ``max_iter``.

    Every round cuts lineage through :func:`..session.barrier`: reliable
    ``checkpoint()`` into the session's checkpoint dir when one is set
    (slower per round, survives executor loss — use on multi-hour
    cluster runs), ``localCheckpoint`` otherwise.
    """
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = raw.where(F.col("a") != F.col("b"))
    if algorithm == "star":
        # node universe from the RAW input so a node appearing only in a
        # self-pair still gets a (node, node) row
        nodes = (
            raw.select(F.col("a").alias("node"))
            .union(raw.select(F.col("b").alias("node")))
            .distinct()
        )
        return _cc_star(e, nodes, max_iter)
    if algorithm == "label":
        return _cc_label(raw, max_iter)
    raise ValueError(f"unknown algorithm {algorithm!r}")
