"""graph/closure.build_closure against a brute-force parent walk: forests,
wide polytomies, a caterpillar deeper than 1,000 levels, tiny and empty
edge lists, NULL weights, malformed edge lists, and what one build costs
in Spark jobs and held storage."""

from __future__ import annotations

import random

import pytest

from treemachine_spark.graph.closure import build_closure

SCHEMA = "struct<node_id:string,ancestor_id:string,depth:int>"


def edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "child_id string, parent_id string")


def walk_closure(pairs):
    """{(node, ancestor): depth} by walking each child's parent links."""
    parent = dict(pairs)
    out = {}
    for node in parent:
        up, depth = node, 0
        while up in parent:
            up, depth = parent[up], depth + 1
            out[(node, up)] = depth
    return out


def got_closure(paths):
    t = paths.toArrow()
    rows = zip(*(t[c].to_pylist() for c in ("node_id", "ancestor_id", "depth")))
    got = {}
    for node, anc, depth in rows:
        assert (node, anc) not in got, "duplicate closure row"
        got[(node, anc)] = depth
    return got


def random_forest(rng, n, n_roots, fanout_from):
    """Nodes f0..f{n-1}; the first n_roots are roots, every other node's
    parent is one of the ``fanout_from`` nodes before it (a small number
    makes deep, narrow trees; 1 makes a chain)."""
    pairs = [
        (f"f{i}", f"f{rng.randrange(max(0, i - fanout_from), i)}") for i in range(n_roots, n)
    ]
    rng.shuffle(pairs)
    return pairs


@pytest.mark.parametrize(
    "n, n_roots, fanout_from", [(400, 1, 400), (400, 5, 3), (300, 40, 40), (60, 1, 1)]
)
def test_closure_equals_parent_walk_on_random_forests(spark, n, n_roots, fanout_from):
    pairs = random_forest(random.Random(n * 31 + n_roots), n, n_roots, fanout_from)
    paths = build_closure(edges_df(spark, pairs))
    assert paths.schema.simpleString() == SCHEMA
    assert got_closure(paths) == walk_closure(pairs)


def test_closure_of_wide_polytomy(spark):
    pairs = [(f"t{i}", "hub") for i in range(2000)] + [("hub", "root")]
    assert got_closure(build_closure(edges_df(spark, pairs))) == walk_closure(pairs)


def test_closure_of_deep_caterpillar(spark):
    """1,100 spine levels with one leaf hanging off each spine node: the
    climb runs deeper than 1,000 levels."""
    levels = 1100
    pairs = [(f"s{i}", f"s{i - 1}") for i in range(1, levels)]
    pairs += [(f"l{i}", f"s{i}") for i in range(levels)]
    t = build_closure(edges_df(spark, pairs)).toArrow()
    node, anc = t["node_id"].to_pylist(), t["ancestor_id"].to_pylist()
    depth = t["depth"].to_pylist()
    want_rows = levels * (levels - 1) // 2 + levels * (levels + 1) // 2
    assert len(node) == want_rows == len(set(zip(node, anc)))
    spine = {f"s{i}": i for i in range(levels)}
    for x, a, d in zip(node, anc, depth):
        at = spine[x] if x[0] == "s" else int(x[1:]) + 1
        assert spine[a] == at - d, (x, a, d)
    assert max(depth) == levels


def test_closure_of_one_edge_and_of_no_edges(spark):
    paths = build_closure(edges_df(spark, [("a", "r")]))
    assert got_closure(paths) == {("a", "r"): 1}
    empty = build_closure(edges_df(spark, []))
    assert empty.schema.simpleString() == SCHEMA
    assert empty.count() == 0
    weighted = build_closure(
        spark.createDataFrame([], "child_id string, parent_id string, w double"), "w"
    )
    assert weighted.schema.simpleString() == SCHEMA[:-1] + ",w_sum:double>"
    assert weighted.count() == 0


def test_weighted_closure_keeps_null_weights_null(spark):
    """w_sum is the sum of the edge weights on the path, NULL when any of
    them is NULL (as ``a.w_sum + b.w_sum`` propagates NULL). The weights
    are exact binary fractions, so the sum does not depend on its order."""
    rng = random.Random(7)
    pairs = random_forest(rng, 300, 2, 6)
    weight = {c: rng.choice([None, 0.0, 0.5, 1.25, 2.0, 3.75]) for c, _ in pairs}
    edges = spark.createDataFrame(
        [(c, p, weight[c]) for c, p in pairs], "child_id string, parent_id string, bl double"
    )
    paths = build_closure(edges, weight_col="bl")
    assert paths.schema.simpleString() == SCHEMA[:-1] + ",w_sum:double>"
    parent = dict(pairs)
    want = {}
    for node in parent:
        up, depth, total = node, 0, 0.0
        while up in parent:
            w = weight[up]
            total = None if total is None or w is None else total + w
            up, depth = parent[up], depth + 1
            want[(node, up)] = (depth, total)
    got = {(r["node_id"], r["ancestor_id"]): (r["depth"], r["w_sum"]) for r in paths.collect()}
    assert got == want
    assert any(w is None for _, w in want.values()) and any(w for _, w in want.values())


@pytest.mark.parametrize(
    "pairs, why",
    [
        ([("a", "r"), ("a", "s")], "two parent edges"),
        ([("a", "r"), ("b", "c"), ("c", "b")], "cycle"),
        ([("a", "a")], "cycle"),
        ([("a", "r"), ("b", None)], "null"),
        ([("a", "r"), (None, "r")], "null"),
    ],
)
def test_closure_rejects_what_is_not_a_forest(spark, pairs, why):
    with pytest.raises(ValueError, match=why):
        build_closure(edges_df(spark, pairs))


def test_build_holds_no_storage_and_runs_one_job(spark):
    """The build collects the edges (one job) and holds nothing in Spark
    storage; counting its frame starts as many jobs as counting any
    map-only frame (under adaptive execution, a shuffle-stage job and a
    result job)."""
    sc = spark.sparkContext
    rng = random.Random(3)
    edges = edges_df(spark, random_forest(rng, 3000, 1, 3000)).cache()
    edges.count()

    def held():
        return {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            out = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    before = held()
    paths, build_jobs = jobs("closure-build", lambda: build_closure(edges))
    _, count_jobs = jobs("closure-count", paths.count)
    _, plain_jobs = jobs(
        "closure-plain", spark.range(sc.defaultParallelism, numPartitions=sc.defaultParallelism).count
    )
    assert build_jobs <= 1
    assert build_jobs + count_jobs <= 1 + plain_jobs
    assert held() == before
    edges.unpersist()
