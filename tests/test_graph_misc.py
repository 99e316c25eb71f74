"""T10/T11 BFS, plus randomized differential tests: closure/MRCA/induced
against a trivial pure-Python tree implementation on random trees
(SURVEY.md §5 rebuild test plan item (c))."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from treemachine_spark.graph import traversal as T
from treemachine_spark.graph.closure import build_closure, with_self_paths


def random_tree(rng: random.Random, n: int):
    """Random rooted tree as child->parent pairs; node 0 is root."""
    return [(i, rng.randrange(0, i)) for i in range(1, n)]


def py_ancestors(parents: dict[int, int], x: int) -> list[int]:
    out = []
    while x in parents:
        x = parents[x]
        out.append(x)
    return out


def py_mrca(parents: dict[int, int], tips: list[int]) -> int:
    chains = [[t] + py_ancestors(parents, t) for t in tips]
    common = set(chains[0])
    for c in chains[1:]:
        common &= set(c)
    # deepest common ancestor = first common element on any chain
    for node in chains[0]:
        if node in common:
            return node
    raise AssertionError("no common ancestor")


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_closure_and_mrca_vs_python_oracle(spark, seed):
    rng = random.Random(seed)
    n = 200
    pairs = random_tree(rng, n)
    parents = {c: p for c, p in pairs}
    edges = spark.createDataFrame(
        [(f"v{c}", f"v{p}") for c, p in pairs], "child_id string, parent_id string"
    )
    paths = build_closure(edges)
    got = {(r["node_id"], r["ancestor_id"]): r["depth"] for r in paths.collect()}
    want = {}
    for c in parents:
        for d, a in enumerate(py_ancestors(parents, c), start=1):
            want[(f"v{c}", f"v{a}")] = d
    assert got == want

    nodes = edges.select(F.col("child_id").alias("node_id")).unionByName(
        spark.createDataFrame([("v0",)], "node_id string")
    )
    ps = with_self_paths(paths, nodes)
    for _ in range(3):
        k = rng.randrange(2, 8)
        tips = rng.sample(range(n), k)
        tdf = spark.createDataFrame([(f"v{t}",) for t in tips], "node_id string")
        got_mrca = T.mrca(ps, tdf).collect()[0]["mrca_node_id"]
        assert got_mrca == f"v{py_mrca(parents, tips)}"


def test_induced_subtree_vs_python_oracle(spark):
    rng = random.Random(99)
    n = 150
    pairs = random_tree(rng, n)
    parents = {c: p for c, p in pairs}
    edges = spark.createDataFrame(
        [(f"v{c}", f"v{p}") for c, p in pairs], "child_id string, parent_id string"
    )
    paths = build_closure(edges)
    nodes = edges.select(F.col("child_id").alias("node_id")).unionByName(
        spark.createDataFrame([("v0",)], "node_id string")
    )
    ps = with_self_paths(paths, nodes)

    tips = rng.sample(range(1, n), 6)
    tdf = spark.createDataFrame([(f"v{t}",) for t in tips], "node_id string")
    got = {(r["child_id"], r["parent_id"]) for r in T.induced_subtree(ps, tdf).collect()}

    # python oracle: kept = tips + ancestors covering >=2 tips; parent =
    # nearest kept ancestor
    from collections import Counter

    cover = Counter()
    for t in tips:
        for a in py_ancestors(parents, t):
            cover[a] += 1
    kept = {f"v{t}" for t in tips} | {f"v{a}" for a, c in cover.items() if c >= 2}
    want = set()
    for node in list(kept):
        x = int(node[1:])
        for a in py_ancestors(parents, x):
            if f"v{a}" in kept:
                want.add((node, f"v{a}"))
                break
    assert got == want


def test_bfs_capped(spark):
    # T10 — breadth-first web tree with node cap (GraphExporter.java:948-1036)
    edges = spark.createDataFrame(
        [(f"v{c}", f"v{(c - 1) // 3}") for c in range(1, 40)],
        "child_id string, parent_id string",
    )
    full = T.bfs_capped(edges, "v0", max_nodes=100)
    assert full.count() == 40  # everything fits
    capped = T.bfs_capped(edges, "v0", max_nodes=10)
    n = capped.count()
    assert 10 <= n <= 13  # cap honored per-level (limit applied on frontier)
    # BFS order: depths are contiguous from 0
    depths = sorted({r["depth"] for r in capped.collect()})
    assert depths == list(range(len(depths)))


def test_degree_prune(spark):
    edges = spark.createDataFrame(
        [(f"c{i}", "hub") for i in range(150)] + [("a", "b")],
        "child_id string, parent_id string",
    )
    pruned = T.degree_prune_frontier(edges, threshold=100)
    assert [r["node_id"] for r in pruned.collect()] == ["hub"]


def py_deepest_exemplified(parents, matched):
    """Literal reference climb (GraphImporter.java:445-479): walk up while
    the parent's tip-descendant set misses the union of the OTHER matched
    nodes' tip sets; return the last node below the first intersecting
    parent (the matched node itself when its own parent intersects)."""
    children: dict[int, list[int]] = {}
    for c, p in parents.items():
        children.setdefault(p, []).append(c)

    def tipset(x):
        out, stack = set(), [x]
        while stack:
            y = stack.pop()
            kids = children.get(y)
            if kids:
                stack.extend(kids)
            else:
                out.add(y)
        return out

    res = {}
    for m in matched:
        outgroup = set()
        for j in matched:
            if j != m:
                outgroup |= tipset(j)
        cur, depth = m, 0
        while True:
            par = parents[cur]  # matched root is reference-undefined
            if tipset(par) & outgroup:
                break
            cur, depth = par, depth + 1
        res[m] = (cur, depth)
    return res


@pytest.mark.parametrize(
    "seed",
    [3, pytest.param(11, marks=pytest.mark.slow),
     pytest.param(99, marks=pytest.mark.slow)],
)
def test_deepest_exemplified_vs_python_oracle(spark, seed):
    """T15 differential: the closure-join operator (tree-comparability
    shortcut) against the literal BitSet-intersection climb, random trees
    x random matched sets (nested matches included — they pin the
    remap-to-self floor)."""
    rng = random.Random(seed)
    n = 150
    pairs = random_tree(rng, n)
    parents = {c: p for c, p in pairs}
    edges = spark.createDataFrame(
        [(f"v{c}", f"v{p}") for c, p in pairs], "child_id string, parent_id string"
    )
    paths = build_closure(edges)
    nodes = edges.select(F.col("child_id").alias("node_id")).unionByName(
        spark.createDataFrame([("v0",)], "node_id string")
    )
    ps = with_self_paths(paths, nodes)
    for _ in range(3):
        k = rng.randrange(2, 9)
        matched = rng.sample(range(1, n), k)  # root excluded: climb undefined
        want = {
            f"v{m}": (f"v{r}", d)
            for m, (r, d) in py_deepest_exemplified(parents, matched).items()
        }
        got = {
            r["node_id"]: (r["remap_id"], r["remap_depth"])
            for r in T.deepest_exemplified_remap(
                ps, [f"v{m}" for m in matched]
            ).collect()
        }
        assert got == want

    # a nested pair always floors to self (the reference's
    # first-parent-already-intersects return)
    leafy = next(c for c in range(1, n) if c not in set(parents.values()))
    anc = parents[leafy]
    got = {
        r["node_id"]: (r["remap_id"], r["remap_depth"])
        for r in T.deepest_exemplified_remap(
            ps, [f"v{leafy}", f"v{anc}", f"v{leafy}"]  # dupes dedup
        ).collect()
    }
    assert got == {
        f"v{leafy}": (f"v{leafy}", 0),
        f"v{anc}": (f"v{anc}", 0),
    }

    with pytest.raises(ValueError, match=">= 2 distinct"):
        T.deepest_exemplified_remap(ps, [f"v1", f"v1"])
    with pytest.raises(ValueError, match="request-scale"):
        T.deepest_exemplified_remap(ps, [f"v{i}" for i in range(10_001)])
