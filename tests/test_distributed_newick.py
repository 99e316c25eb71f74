"""The fragment-tier newick == driver-side assemble_newick, on the fixture
tree and on random trees."""

from __future__ import annotations

import pytest

import random

from test_topology import store_of
from treemachine_spark.api import v3
from treemachine_spark.exporters.newick_sink import assemble_newick
from treemachine_spark.graph import topology
from treemachine_spark.graph.topology import TreeIndex


def _check_tree(spark, monkeypatch, pairs, labels: dict, anchor_depths):
    """v3's fragment-tier newick of the whole tree == assemble_newick, with
    the anchor depth picked by the shape ("auto") or forced to each of
    ``anchor_depths`` through the index's bounds: no fragment fits
    ``FRAGMENT_TARGET`` = 0, so the pick goes as deep as ``TOP_MAX`` (the
    node count of levels 1..d) allows."""
    parent = dict(pairs)
    (root,) = {p for _, p in pairs} - set(parent)
    api = v3.TreeOfLifeV3(store_of(spark, parent, {n: labels.get(n) for n in {root, *parent}}))
    want = assemble_newick(pairs, root, labels)
    pick = TreeIndex.anchor_depth

    def depth(n):
        return 0 if n == root else 1 + depth(parent[n])

    for anchor_depth in anchor_depths:
        picked = []

        def recording_pick(index, nodes):
            picked.append(pick(index, nodes))
            return picked[-1]

        with monkeypatch.context() as m:
            m.setattr(topology, "FRAGMENT_TIER_EDGES", 0)
            if anchor_depth != "auto":
                m.setattr(topology, "FRAGMENT_TARGET", 0)
                m.setattr(topology, "TOP_MAX", sum(depth(c) <= anchor_depth for c in parent))
            m.setattr(TreeIndex, "anchor_depth", recording_pick)
            got = api.subtree(node_id=root, label_format="name")["newick"]
        assert got == want, anchor_depth
        assert len(picked) == 1
        if anchor_depth != "auto":
            assert picked == [anchor_depth]


def test_fixture_tree(spark, monkeypatch):
    pairs = [
        ("ott536234", "mrca1"),
        ("ott810751", "mrca1"),
        ("mrca1", "root1"),
        ("ott316878", "ord1"),
        ("ott102710", "ord1"),
        ("ord1", "root1"),
    ]
    labels = {n: n.upper() for n in {c for c, _ in pairs} | {"root1"}}
    _check_tree(spark, monkeypatch, pairs, labels, [1])


@pytest.mark.slow
def test_random_trees(spark, monkeypatch):
    rng = random.Random(5)
    for trial in range(2):
        n = 120
        pairs = [(f"v{i}", f"v{rng.randrange(0, i)}") for i in range(1, n)]
        labels = {f"v{i}": f"L{i}" for i in range(n) if rng.random() < 0.7}
        _check_tree(spark, monkeypatch, pairs, labels, [1, 2, 3, "auto"])


def test_deep_chain_with_shallow_anchor(spark, monkeypatch):
    # anchors that are leaves, and members far below the anchor level
    pairs = [(f"v{i}", f"v{i-1}") for i in range(1, 30)] + [("w1", "v0")]
    labels = {f"v{i}": f"n{i}" for i in range(30)}
    _check_tree(spark, monkeypatch, pairs, labels, [2])
