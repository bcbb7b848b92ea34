"""connected_components vs a pure-python union-find oracle, and the
transitive near-dedup semantics it enables."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from getml_community_spark.operators.graph import connected_components


def _union_find(edges):
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
    # canonical min-root per node
    return {n: find(n) for n in parent}


def test_cc_matches_union_find_random_graph(spark):
    rng = np.random.default_rng(11)
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, 200, size=(300, 2))
        if a != b
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    got_label = {
        r["node"]: r["component"]
        for r in connected_components(df, algorithm="label").collect()
    }
    want = _union_find(edges)
    # union-find roots are not guaranteed minimal per component — remap
    # both to the min node of each component before comparing
    def canon(m):
        comp_min: dict[int, int] = {}
        for n, c in m.items():
            comp_min[c] = min(comp_min.get(c, n), n)
        return {n: comp_min[c] for n, c in m.items()}

    assert canon(got) == canon(want)
    assert canon(got_label) == canon(want)


def test_cc_chain_needs_iterations(spark):
    # path graph 0-1-2-...-9: diameter 9, converges to component 0
    edges = [(i, i + 1) for i in range(9)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    for algo in ("star", "label"):
        got = connected_components(df, algorithm=algo).collect()
        assert {r["component"] for r in got} == {0}
        assert len(got) == 10


def test_cc_star_deep_path_log_rounds(spark):
    """The adversarial case for label propagation: a 1,000-node path
    (diameter 999). Large-star/small-star must converge in O(log n)
    rounds — well under the default max_iter=20 — where min-label
    propagation would need ~1,000 rounds."""
    edges = [(i, i + 1) for i in range(999)]
    df = spark.createDataFrame(edges, "id_a long, id_b long").coalesce(4)
    got = connected_components(df, max_iter=15).collect()
    assert len(got) == 1000
    assert {r["component"] for r in got} == {0}
    # label propagation provably cannot do it in 20 rounds
    with pytest.raises(RuntimeError):
        connected_components(df, algorithm="label", max_iter=5)


def test_cc_max_iter_raises(spark):
    edges = [(i, i + 1) for i in range(9)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError):
        connected_components(df, max_iter=2, algorithm="label")


def test_transitive_dedup_drops_whole_chain(spark):
    from getml_community_spark.operators.dedup import minhash_lsh_dedup

    # a strict drift chain: cumulative 4-token blocks at well-separated
    # offsets, so adjacent chain positions share 0.85 shingle Jaccard
    # but distance-2 only 0.72 (probed). ids follow content order
    # 2-1-3-0: node 1's neighbors {2, 3} are both larger, so the
    # one-hop greedy keeps {0, 1} while the transitive semantics keeps
    # only the component min {0}.
    base = [f"tok{i}" for i in range(104)]
    chain_ids = [2, 1, 3, 0]
    docs = []
    for pos, did in enumerate(chain_ids):
        words = base.copy()
        for b in range(pos):
            for j in range(10 + 12 * b, 10 + 12 * b + 4):
                words[j] = f"alt{j}"
        docs.append((did, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    greedy = minhash_lsh_dedup(df, "text", "doc_id", threshold=0.8)
    trans = minhash_lsh_dedup(df, "text", "doc_id", threshold=0.8, transitive=True)
    g = sorted(r["doc_id"] for r in greedy.select("doc_id").collect())
    t = sorted(r["doc_id"] for r in trans.select("doc_id").collect())
    assert g == [0, 1]  # one-hop misses the chain-end
    assert t == [0]  # one survivor for the whole connected chain


def test_cc_reliable_checkpoint_dir(spark, reliable_checkpoint_dir):
    """A session checkpoint dir switches per-round lineage truncation to
    reliable DataFrame.checkpoint() — same components, and checkpoint
    files actually land in that store (round-4 advice: one reliable path
    for iterative ops)."""
    import os

    rng = np.random.default_rng(5)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 60, size=(80, 2))]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    ckdir = reliable_checkpoint_dir

    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    want = _union_find(edges)
    assert got == want

    # reliable checkpoints were actually written to the store
    found = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckdir)
        for f in fs
        if not f.startswith(".")
    ]
    assert found, f"no checkpoint files under {ckdir}"

    # label variant takes the same path
    got_l = {
        r["node"]: r["component"]
        for r in connected_components(df, algorithm="label", max_iter=80).collect()
    }
    assert got_l == want
