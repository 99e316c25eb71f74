"""distributed_newick == driver-side assemble_newick, on the fixture tree
and on random trees."""

from __future__ import annotations

import pytest

import random

from pyspark.sql import functions as F

from treemachine_spark.exporters import newick_sink as ns
from treemachine_spark.exporters.newick_sink import assemble_newick, distributed_newick
from treemachine_spark.graph.closure import build_closure


def _check_tree(spark, monkeypatch, pairs, labels: dict, anchor_depth):
    """distributed_newick == assemble_newick with the anchor depth picked
    by the shape ("auto") or forced to ``anchor_depth`` through the
    module's bounds: no fragment fits ``FRAGMENT_TARGET`` = 0, so the pick
    goes as deep as ``TOP_MAX`` (the node count of levels 1..d) allows."""
    edges = spark.createDataFrame(pairs, "child_id string, parent_id string")
    paths = build_closure(edges)
    parent = dict(pairs)
    roots = ({p for _, p in pairs} | {c for c, _ in pairs}) - {c for c, _ in pairs}
    root = roots.pop()
    ldf = spark.createDataFrame(list(labels.items()), "node_id string, label string")
    want = assemble_newick(pairs, root, labels)
    picked = []
    pick = ns.pick_anchor_depth

    def recording_pick(*args):
        picked.append(pick(*args))
        return picked[-1]

    with monkeypatch.context() as m:
        if anchor_depth != "auto":

            def depth(n):
                return 0 if n == root else 1 + depth(parent[n])

            m.setattr(ns, "FRAGMENT_TARGET", 0)
            m.setattr(ns, "TOP_MAX", sum(depth(c) <= anchor_depth for c in parent))
        m.setattr(ns, "pick_anchor_depth", recording_pick)
        got = distributed_newick(edges, paths, root, ldf)
    assert got == want
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
    _check_tree(spark, monkeypatch, pairs, labels, anchor_depth=1)


@pytest.mark.slow
def test_random_trees(spark, monkeypatch):
    rng = random.Random(5)
    for trial in range(2):
        n = 120
        pairs = [(f"v{i}", f"v{rng.randrange(0, i)}") for i in range(1, n)]
        labels = {f"v{i}": f"L{i}" for i in range(n) if rng.random() < 0.7}
        for depth in (1, 2, 3, "auto"):
            _check_tree(spark, monkeypatch, pairs, labels, anchor_depth=depth)


def test_deep_chain_with_shallow_anchor(spark, monkeypatch):
    # anchors that are leaves, and members far below the anchor level
    pairs = [(f"v{i}", f"v{i-1}") for i in range(1, 30)] + [("w1", "v0")]
    labels = {f"v{i}": f"n{i}" for i in range(30)}
    _check_tree(spark, monkeypatch, pairs, labels, anchor_depth=2)
