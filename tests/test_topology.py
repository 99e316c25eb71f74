"""graph.topology.TreeIndex: Spark-free checks of every walk and range count
against a brute-force parent map on seeded random trees, then the served
answers that read it — the reference's induced topology on the probe tree
``((((A,B)X,C)Y,D)Z,E)R;`` through v3, v2 and ServerCore, agreement with
the closure recipes, and the Spark-job budget of a light request."""

from __future__ import annotations

import random

import pytest

from treemachine_spark.graph import topology
from treemachine_spark.graph.topology import TreeIndex

# -- Spark-free: random trees against a brute-force parent map ---------------


def random_tree(rng: random.Random, n: int, hubs: int) -> dict[int, int]:
    """child -> parent over nodes 0..n-1 (0 is the root). Each node hangs
    from one of the first ``hubs`` nodes half the time, so small ``hubs``
    give wide polytomies."""
    return {
        i: rng.randrange(0, min(i, hubs)) if rng.random() < 0.5 else rng.randrange(0, i)
        for i in range(1, n)
    }


def caterpillar(n_tips: int) -> dict[int, int]:
    """Spine 0-1-2-... with one tip hanging from each spine node."""
    parent, spine = {}, 0
    for k in range(1, n_tips):
        tip, nxt = 2 * k - 1, 2 * k
        parent[tip] = spine
        parent[nxt] = spine
        spine = nxt
    return parent


def label(i: int) -> str:
    # mixed lengths and a multi-byte character exercise the byte-key map
    return ("ñ" if i % 7 == 3 else "n") + str(i * 37 % 1009) + "x" * (i % 3) + f".{i}"


class Brute:
    """Plain parent-map answers to every index question."""

    def __init__(self, parent: dict[int, int], n: int):
        self.parent, self.n = parent, n
        self.kids: dict[int, list[int]] = {}
        for c, p in parent.items():
            self.kids.setdefault(p, []).append(c)

    def ancestors(self, v):
        out = []
        while v in self.parent:
            v = self.parent[v]
            out.append(v)
        return out

    def below(self, v) -> set:
        out, todo = set(), [v]
        while todo:
            x = todo.pop()
            out.add(x)
            todo.extend(self.kids.get(x, ()))
        return out

    def dist(self, v, a) -> int:
        return ([v] + self.ancestors(v)).index(a)

    def lca(self, nodes):
        common = set.intersection(*({v, *self.ancestors(v)} for v in nodes))
        return max(common, key=lambda a: len(self.ancestors(a)))

    def induced(self, tips):
        """(root, {(child, parent)}): the tips plus every node whose tips
        fall under two or more of its children, each hung from its
        nearest kept ancestor."""
        tips = set(tips)
        kept = set(tips) | {
            a for a in range(self.n)
            if sum(bool(self.below(c) & tips) for c in self.kids.get(a, ())) >= 2
        }
        edges = set()
        for v in kept:
            up = [a for a in self.ancestors(v) if a in kept]
            if up:
                edges.add((v, up[0]))
        (root,) = kept - {c for c, _ in edges}
        return root, edges

    def anchor_depth(self, v, limit, gate, target, top) -> int | None:
        """The fragment tier's cut of ``v``'s subtree within ``limit``:
        none up to ``gate`` edges, else level by level, the cumulative
        width and the largest fragment (an anchor plus its descendants
        within the limit)."""
        within = {u: self.dist(u, v) for u in self.below(v)}
        within = {u: d for u, d in within.items() if limit < 0 or d <= limit}
        if len(within) - 1 <= gate:
            return None
        cum, best = 0, None
        for d in range(1, max(within.values()) + 1):
            level = [u for u, k in within.items() if k == d]
            cum += len(level)
            if cum > top:
                break
            largest = max(len(self.below(u) & within.keys()) for u in level)
            if best is None or largest < best[0]:
                best = (largest, d)
            if largest <= target:
                return d
        return best[1] if best else 1


def index_of(parent: dict[int, int], n: int, named: set, rng: random.Random):
    """The TreeIndex of a parent map, rows handed over in a shuffled order.
    Returns it with the child_index of each child: small, often tied
    between siblings and sometimes null (read as 0)."""
    rows = list(range(n))
    rng.shuffle(rows)
    kids = [c for c in rows if c in parent]
    tips = {v: len([x for x in Brute(parent, n).below(v) if x not in parent.values()]) for v in kids}
    child_index = {c: rng.choice([None, 0, 1, 2, 3]) for c in kids}
    ix = TreeIndex(
        [label(v) for v in rows],
        [1000 + v if v % 4 else None for v in rows],
        [v in named for v in rows],
        [label(c) for c in kids],
        [label(parent[c]) for c in kids],
        [child_index[c] for c in kids],
        [tips[c] for c in kids],
    )
    return ix, child_index


def newick_preorder(bf: Brute, child_index: dict[int, int | None]) -> list[int]:
    """The nodes in the order a newick answer prints them: each node
    before its children, siblings by (child_index, node id)."""
    out, todo = [], [0]
    while todo:
        v = todo.pop()
        out.append(v)
        kids = sorted(bf.kids.get(v, ()), key=lambda c: (child_index[c] or 0, label(c)))
        todo.extend(reversed(kids))
    return out


TREES = [
    ("random", lambda rng: (random_tree(rng, 120, 120), 120)),
    ("polytomies", lambda rng: (random_tree(rng, 150, 4), 150)),
    ("caterpillar", lambda rng: (caterpillar(40), 79)),
    ("one_node", lambda rng: ({}, 1)),
]


@pytest.mark.parametrize("shape", [t[0] for t in TREES])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_index_matches_brute_force(shape, seed, monkeypatch):
    rng = random.Random(seed)
    parent, n = dict(TREES)[shape](rng)
    named = {v for v in range(n) if rng.random() < 0.4}
    ix, child_index = index_of(parent, n, named, rng)
    bf = Brute(parent, n)
    node = dict(zip(range(n), ix.lookup([label(v) for v in range(n)]).tolist()))
    back = {w: v for v, w in node.items()}
    assert sorted(node.values()) == list(range(n)) and node[0] == 0
    # the preorder visits siblings in (child_index, id) order
    assert [back[w] for w in range(n)] == newick_preorder(bf, child_index)

    for v in range(n):
        w = node[v]
        assert [back[a] for a in ix.lineage(w)] == bf.ancestors(v)
        assert ix.ids([w]) == [label(v)]
        nn = next((a for a in bf.ancestors(v) if a in named), None)
        got = ix.nearest_named(w)
        assert (None if got is None else back[got]) == nn
        below = bf.below(v)
        for limit in (-1, 0, 1, 2, 5):
            within = [u for u in below if limit < 0 or bf.dist(u, v) <= limit]
            got = ix.members(w, limit).tolist()
            assert got[0] == w and got == sorted(got)
            assert {back[u] for u in got} == set(within) and len(got) == len(within)
        if v:
            assert ix.num_tips(w) == len([u for u in below if u not in bf.kids])
    assert ix.nearest_named(0) is None and ix.num_tips(0) is None

    for _ in range(25):
        k = rng.randint(1, min(n, 8))
        nodes = rng.sample(range(n), k)
        if rng.random() < 0.3 and bf.ancestors(nodes[0]):
            nodes.append(rng.choice(bf.ancestors(nodes[0])))  # an ancestor of another
        assert back[ix.lca([node[v] for v in nodes])] == bf.lca(nodes)
        root, edges = ix.virtual_tree([node[v] for v in nodes])
        want_root, want_edges = bf.induced(nodes)
        assert back[root] == want_root
        assert {(back[c], back[p]) for c, p in edges} == want_edges

    for v in {0, *rng.sample(range(n), min(n, 4))}:
        for limit in (-1, 2):
            edges = len(ix.members(node[v], limit)) - 1
            for gate, target, top in (
                (0, 0, 10**6), (0, 3, 12), (0, 10, 10**6), (edges - 1, 0, 10**6), (edges, 0, 10**6)
            ):
                monkeypatch.setattr(topology, "FRAGMENT_TIER_EDGES", gate)
                monkeypatch.setattr(topology, "FRAGMENT_TARGET", target)
                monkeypatch.setattr(topology, "TOP_MAX", top)
                got = ix.anchor_depth(ix.members(node[v], limit))
                want = bf.anchor_depth(v, limit, gate, target, top)
                assert got == want, (v, limit, gate, target, top)


def test_index_id_maps():
    ix = TreeIndex(
        ["r", "a", "bb", "ccc"], [7, None, 5, 5], [True, False, True, True],
        ["a", "bb", "ccc"], ["r", "r", "a"], [0, 1, 0], [2, 1, 1],
    )
    r, a, bb, ccc = ix.lookup(["r", "a", "bb", "ccc"]).tolist()
    assert ix.lookup(["cccc", "", "b", 5, None, "ccc"]).tolist() == [-1, -1, -1, -1, -1, ccc]
    # an ott id shared by two nodes resolves to one of them, every time
    assert ix.lookup_ott([7, 5, 6, 5]).tolist() == [r, bb, -1, bb]
    assert ix.ids([ccc, r]) == ["ccc", "r"]
    assert ix.lookup([]).tolist() == [] and ix.lookup_ott([]).tolist() == []


@pytest.mark.parametrize(
    "nodes, children, parents, why",
    [
        (["r", "s"], [], [], "exactly one parent"),
        (["r", "a", "b"], ["a", "b"], ["b", "a"], "cycle"),
        (["r", "a"], ["a"], ["q"], "not in the node table"),
        (["r", "a", "a"], ["a"], ["r"], "unique"),
        (["r", "a", "b"], ["a", "a"], ["r", "b"], "exactly one parent"),
    ],
)
def test_index_rejects_what_is_not_a_tree(nodes, children, parents, why):
    with pytest.raises(ValueError, match=why):
        TreeIndex(nodes, [None] * len(nodes), [False] * len(nodes), children, parents,
                  [0] * len(children), [1] * len(children))


# -- served answers ------------------------------------------------------------

PROBE = {"A": "X", "B": "X", "X": "Y", "C": "Y", "Y": "Z", "D": "Z", "Z": "R", "E": "R"}


def store_of(spark, parent: dict[str, str], names: dict[str, str | None], child_index=None):
    """A served GraphStore over a child -> parent map: closure from
    build_closure, stored tip counts, no ott ids and no annotations.
    ``child_index`` maps a child to its stored child_index; by default
    siblings are numbered in id order."""
    from treemachine_spark.graph.closure import build_closure
    from treemachine_spark.ingest import GraphStore

    kids: dict[str, list] = {}
    for c, p in parent.items():
        kids.setdefault(p, []).append(c)

    def tips(v):
        return sum(map(tips, kids[v])) if v in kids else 1

    (root,) = set(names) - set(parent)
    edges = spark.createDataFrame(
        [
            ("t", c, p, None, i if child_index is None else child_index[c], tips(c))
            for i, (c, p) in enumerate(sorted(parent.items()))
        ],
        "tree_id string, child_id string, parent_id string, branch_length double, "
        "child_index int, tip_descendants long",
    ).cache()
    nodes = spark.createDataFrame(
        [("t", v, None, nm, nm, None, [], v not in kids) for v, nm in sorted(names.items())],
        "tree_id string, node_id string, ott_id long, name string, unique_name string, "
        "rank string, tax_sources array<string>, is_leaf boolean",
    ).cache()
    ann = spark.createDataFrame(
        [],
        "node_id string, supported_by map<string,string>, "
        "conflicts_with map<string,array<string>>, resolves map<string,string>, "
        "resolved_by map<string,array<string>>, partial_path_of map<string,string>, "
        "terminal map<string,string>",
    ).cache()
    smap = spark.createDataFrame([], "source_id string, study_id string, tree_id string, git_sha string")
    return GraphStore(
        tree_id="t", root_id=root, nodes=nodes, edges=edges,
        paths=build_closure(edges.select("child_id", "parent_id")).cache(),
        node_annotations=ann, source_map=smap, tree_meta={"num_tips": tips(root)},
    )


@pytest.fixture(scope="module")
def probe_store(spark):
    # node ids are v2-encodable ('ott<N>'), numbered in newick order so
    # that the id order of siblings is their newick order; the names are
    # the probe labels
    ids = {x: f"ott{k}" for k, x in enumerate("ABXCYDZER", start=1)}
    return store_of(
        spark, {ids[c]: ids[p] for c, p in PROBE.items()}, {i: x for x, i in ids.items()}
    ), ids


@pytest.mark.parametrize(
    "tips, want",
    [("AB", "(A,B)X;"), ("ACE", "((A,C)Y,E)R;"), ("ADE", "((A,D)Z,E)R;")],
)
def test_induced_probe_tree_has_reference_topology(probe_store, tips, want):
    """Only the pairwise first intersections are kept: {A,B} is answered
    by X alone, not X under a unary chain up to R, and {A,C,E} drops the
    unary Z."""
    from treemachine_spark.api.server import ServerCore
    from treemachine_spark.api.v2 import TreeOfLifeV2
    from treemachine_spark.api.v3 import TreeOfLifeV3

    store, ids = probe_store
    node_ids = [ids[t] for t in tips]
    v3 = TreeOfLifeV3(store)
    assert v3.induced_subtree(node_ids=node_ids)["newick"] == want
    assert TreeOfLifeV2(v3).induced_tree(node_ids=[int(i[3:]) for i in node_ids])["newick"] == want
    status, resp = ServerCore(store, cache_size=0).handle(
        "/v3/tree_of_life/induced_subtree", {"node_ids": node_ids, "label_format": "name"}
    )
    assert (status, resp["newick"]) == (200, want)


def test_quoted_ids_reach_the_fetch(spark):
    """Node ids holding a quote or a backslash resolve and fetch intact."""
    from treemachine_spark.api.v3 import TreeOfLifeV3

    root = "r\\o'ot"
    v3 = TreeOfLifeV3(
        store_of(spark, {"it's": root, "pl\\ain": root}, {"it's": "Q", "pl\\ain": None, root: "R"})
    )
    info = v3.node_info(node_id="it's", include_lineage=True)
    assert info["taxon"]["name"] == "Q" and [b["node_id"] for b in info["lineage"]] == [root]
    assert v3.mrca(node_ids=["pl\\ain"])["nearest_taxon"]["name"] == "R"
    assert v3.mrca(node_ids=["it's", "pl\\ain"])["mrca"]["node_id"] == root


@pytest.fixture(scope="module")
def generated(spark):
    """A seeded 400-node store with polytomies and ~40% named nodes; its
    child_index values are small, often tied and sometimes null, so the
    newick child order is not the id order."""
    rng = random.Random(11)
    parent = random_tree(rng, 400, 12)
    names = {f"g{v}": (f"Taxon{v}" if v == 0 or rng.random() < 0.4 else None) for v in range(400)}
    order = random.Random(12)
    child_index = {f"g{c}": order.choice([None, 0, 1, 2, 3]) for c in parent}
    store = store_of(spark, {f"g{c}": f"g{p}" for c, p in parent.items()}, names, child_index)
    return store, parent, names, rng, child_index


def test_index_agrees_with_closure_recipes(generated):
    """Index lineage and MRCA equal graph.traversal's path_to_root and mrca
    over the closure of the same store."""
    from treemachine_spark.graph import traversal as T

    store, parent, _, rng, _ = generated
    ix = TreeIndex.from_store(store)
    ps = store.paths_with_self()
    for v in rng.sample(range(400), 8):
        want = [r["ancestor_id"] for r in T.path_to_root(store.paths, f"g{v}").collect()]
        assert ix.ids(ix.lineage(int(ix.lookup([f"g{v}"])[0]))) == want
    for k in (1, 2, 5, 9):
        tips = [f"g{v}" for v in rng.sample(range(400), k)]
        want = T.mrca(ps, tips).collect()[0]["mrca_node_id"]
        assert ix.ids([ix.lca(ix.lookup(tips).tolist())]) == [want]


def test_light_requests_spark_job_budget(spark, generated):
    """Through ServerCore.handle with the cache off: node_info (with and
    without lineage), mrca (named and unnamed MRCA) and about start at most
    2 Spark jobs, induced_subtree at most 3, a whole-tree subtree newick at
    most 4 and an arguson of the root (its default height 5) at most 6, and
    an unknown node_id answers 400 without starting one."""
    from treemachine_spark.api.server import ServerCore

    store, parent, names, _, _ = generated
    core = ServerCore(store, cache_size=0)
    deep = max(parent, key=lambda v: len(Brute(parent, 400).ancestors(v)))
    named = next(v for v in names if names[v] and v != "g0")
    unnamed = next(v for v in names if names[v] is None)
    tips = [f"g{v}" for v in range(400) if v not in parent.values()][:12]
    sc = spark.sparkContext
    budget = [
        ("node_info", {"node_id": named}, 200, 2),
        ("node_info", {"node_id": f"g{deep}", "include_lineage": True}, 200, 2),
        ("mrca", {"node_ids": [named]}, 200, 2),
        ("mrca", {"node_ids": [unnamed]}, 200, 2),
        ("about", {}, 200, 2),
        ("induced_subtree", {"node_ids": tips}, 200, 3),
        ("subtree", {"node_id": "g0", "label_format": "id"}, 200, 4),
        ("subtree", {"node_id": "g0", "format": "arguson"}, 200, 6),
        ("node_info", {"node_id": "not-a-node"}, 400, 0),
    ]
    for k, (route, body, want_status, max_jobs) in enumerate(budget):
        group = f"budget-{k}"
        sc.setJobGroup(group, route)
        try:
            status, resp = core.handle(f"/v3/tree_of_life/{route}", body)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert status == want_status, (route, body, resp)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= max_jobs, (route, body)
    status, resp = core.handle("/v3/tree_of_life/mrca", {"node_ids": [unnamed]})
    assert "taxon" not in resp["mrca"] and resp["nearest_taxon"]["name"]


# -- subtree answers against the parent map ------------------------------------


def want_newick(bf: Brute, names, child_index, v, label_format, include_all, height):
    """The newick of ``v``'s subtree cut ``height`` levels below it (whole
    when negative), children in (child_index, id) order. The store has no
    ott ids, so name_and_id labels a named node by its bare name."""

    def lab(u):
        nm = names[f"g{u}"]
        if nm is None:
            return f"g{u}" if include_all else ""
        return f"g{u}" if label_format == "id" else nm

    def nwk(u, left):
        kids = sorted(bf.kids.get(u, ()), key=lambda c: (child_index[f"g{c}"] or 0, f"g{c}"))
        if not kids or left == 0:
            return lab(u)
        return "(" + ",".join(nwk(c, left - 1) for c in kids) + ")" + lab(u)

    return nwk(v, height) + ";"


def subtree_nodes(parent) -> list[int]:
    """The root, the two widest polytomies, one node of middling depth and
    one leaf of a parent map."""
    bf = Brute(parent, 400)
    wide = sorted(bf.kids, key=lambda p: (-len(bf.kids[p]), p))
    mid = next(v for v in sorted(bf.kids) if len(bf.ancestors(v)) == 3)
    leaf = next(v for v in range(400) if v not in bf.kids)
    return [0, *wide[1:3], mid, leaf]


def test_subtree_newick_matches_parent_map(generated):
    """Newick answers of several nodes in every label format, with and
    without labels for unnamed nodes, whole and cut at heights 0 and 2,
    equal the answers built from the parent map and the stored
    child_index."""
    from treemachine_spark.api.v3 import TreeOfLifeV3

    store, parent, names, _, child_index = generated
    api, bf = TreeOfLifeV3(store), Brute(parent, 400)
    for v in subtree_nodes(parent):
        for fmt in ("name", "id", "name_and_id"):
            for include_all in (False, True):
                for height in (-1, 0, 2):
                    got = api.subtree(
                        node_id=f"g{v}", label_format=fmt, height_limit=height,
                        include_all_node_labels=include_all,
                    )
                    want = want_newick(bf, names, child_index, v, fmt, include_all, height)
                    assert got == {"newick": want, "supporting_studies": []}, (v, fmt, height)


def check_arguson(bf: Brute, names, child_index, blob, u, left) -> int:
    """Check the arguson blob of ``u`` cut ``left`` levels below it against
    the parent map; returns the number of blobs seen."""
    assert blob["node_id"] == f"g{u}"
    assert blob["num_tips"] == len([x for x in bf.below(u) if x not in bf.kids])
    assert ("taxon" in blob) == (names[f"g{u}"] is not None)
    below = sorted(names[f"g{x}"] for x in bf.below(u) - {u} if names[f"g{x}"])
    if "taxon" not in blob and below:
        assert blob["descendant_name_list"] == [below[0], below[-1]]
    else:
        assert "descendant_name_list" not in blob
    kids = sorted(bf.kids.get(u, ()), key=lambda c: (child_index[f"g{c}"] or 0, f"g{c}"))
    if left == 0 or not kids:
        assert "children" not in blob
        return 1
    assert [c["node_id"] for c in blob["children"]] == [f"g{c}" for c in kids]
    return 1 + sum(
        check_arguson(bf, names, child_index, b, c, left - 1)
        for b, c in zip(blob["children"], kids)
    )


def test_subtree_arguson_matches_parent_map(generated):
    """Arguson answers at heights 0-3: each blob's children in (child_index,
    id) order down to the height, its stored tip count (the tree's for the
    root), a taxon exactly for named nodes, the first and last names below
    an unnamed node, and the lineage parent first."""
    from treemachine_spark.api.v3 import TreeOfLifeV3

    store, parent, names, _, child_index = generated
    api, bf = TreeOfLifeV3(store), Brute(parent, 400)
    for v in subtree_nodes(parent):
        for height in range(4):
            arg = api.subtree(node_id=f"g{v}", tree_format="arguson", height_limit=height)["arguson"]
            seen = check_arguson(bf, names, child_index, arg, v, height)
            assert seen == len([u for u in bf.below(v) if bf.dist(u, v) <= height])
            assert [b["node_id"] for b in arg["lineage"]] == [f"g{a}" for a in bf.ancestors(v)]


def test_fragment_tier_matches_parent_map(generated, monkeypatch):
    """Past the gate (forced down to 0 edges) the fragment tier answers
    the same as the parent map: newick whole and cut at height 2 in every
    label format, with and without labels for unnamed nodes, and arguson
    at heights 1 and 3, for the root and the widest polytomy."""
    from treemachine_spark.api.v3 import TreeOfLifeV3

    store, parent, names, _, child_index = generated
    api, bf = TreeOfLifeV3(store), Brute(parent, 400)
    monkeypatch.setattr(topology, "FRAGMENT_TIER_EDGES", 0)
    calls = []
    fragments = TreeOfLifeV3._fragments
    monkeypatch.setattr(
        TreeOfLifeV3, "_fragments", lambda *a: calls.append(1) or fragments(*a)
    )
    for v in subtree_nodes(parent)[:2]:
        for fmt in ("name", "id", "name_and_id"):
            for include_all in (False, True):
                for height in (-1, 2):
                    got = api.subtree(
                        node_id=f"g{v}", label_format=fmt, height_limit=height,
                        include_all_node_labels=include_all,
                    )
                    want = want_newick(bf, names, child_index, v, fmt, include_all, height)
                    assert got == {"newick": want, "supporting_studies": []}, (v, fmt, height)
        for height in (1, 3):
            arg = api.subtree(node_id=f"g{v}", tree_format="arguson", height_limit=height)["arguson"]
            seen = check_arguson(bf, names, child_index, arg, v, height)
            assert seen == len([u for u in bf.below(v) if bf.dist(u, v) <= height])
            assert [b["node_id"] for b in arg["lineage"]] == [f"g{a}" for a in bf.ancestors(v)]
    assert len(calls) == 2 * (12 + 2)
