"""Driver-side topology index of one served tree (SURVEY.md §2.4 T1-T6
answered without Spark).

A tree of n nodes fits in a few int32 arrays. Every node is numbered by its
preorder rank, so the subtree of ``v`` is the rank range
``[v, v + size[v])`` and ancestry is range containment. The reference
answers lineage, MRCA and induced-subtree questions by walking parent
pointers over its embedded graph (GraphExplorer.getPathToRoot,
GraphExplorer.java:795-814; getDraftTreeMRCA, :617-650; getInducedSubtree,
:704-785); this index makes the same walks in one process, so a served
request needs Spark only to fetch the rows of the ids in its answer. A
subtree's shape comes from it too, as the reference rebuilds a
depth-limited subtree in one process
(GraphExplorer.reconstructDepthLimitedSubtree, GraphExplorer.java:539-574),
and so do its tier and, past the gate, its cut into executor-side
fragments (``anchor_depth``).

Siblings are ordered as newick answers print them, by (``child_index``,
node id), so a node's preorder range is also its subtree in answer order.

``TreeIndex.from_store`` is the only Spark work: one Arrow collect of
``nodes`` and one of ``edges``. Everything after it is numpy over whole
columns and creates no Python object per node: the preorder comes from
ranking the Euler tour by pointer jumping (O(n log n), whatever the
tree's height), and node ids are held as one sorted fixed-width byte
array searched with ``np.searchsorted``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# the fragment tier's policy, read at call time. Past FRAGMENT_TIER_EDGES
# subtree edges a subtree answer is cut into anchor fragments assembled
# executor-side — the reference instead refuses newick over 100k tips and
# arguson over 25k (tree_of_life_v3.java:591-592). A fragment is one
# applyInPandas group, so its size is executor-memory-bound; the levels
# above the anchors are printed on the driver, so their cumulative width
# is driver-bound
FRAGMENT_TIER_EDGES = 200_000
FRAGMENT_TARGET = 100_000
TOP_MAX = 200_000


def _arrow(values, type_) -> pa.Array:
    """One contiguous Arrow array of ``type_`` from an Arrow (chunked)
    array or a plain sequence."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    elif not isinstance(values, pa.Array):
        values = pa.array(values, type_)
    return values.cast(type_)


def _fixed_width(strings: pa.Array, width: int | None = None):
    """The UTF-8 bytes of a string array as one numpy ``S<width>`` array,
    gathered column by column from the Arrow buffers (no Python object
    per row). ``width`` defaults to the longest string; the second result
    flags strings longer than ``width``, which were cut short."""
    if strings.null_count:
        raise ValueError("node ids must not be null")
    arr = _arrow(strings, pa.large_string())
    _, offsets_buf, data_buf = arr.buffers()
    offsets = np.frombuffer(offsets_buf, np.int64, len(arr) + 1, arr.offset * 8)
    data = np.frombuffer(data_buf, np.uint8) if data_buf is not None else np.zeros(0, np.uint8)
    starts, lens = offsets[:-1], np.diff(offsets)
    if width is None:
        width = max(1, int(lens.max(initial=0)))
    out = np.zeros((len(arr), width), np.uint8)
    for j in range(width):
        has = lens > j
        out[has, j] = data[starts[has] + j]
    return out.view(f"S{width}").ravel(), lens > width


def parent_array(child_ids, parent_ids, node_ids=None):
    """The node ids, the node row of each edge's child, and the parent
    array of a child -> parent edge list: ``parent[v]`` is the row of
    ``v``'s parent, -1 where ``v`` has no parent edge. Ids are Arrow
    (chunked) arrays or plain sequences, mapped to rows with
    ``pc.index_in``; ``node_ids`` defaults to the distinct edge ids,
    children first. Raises ValueError on a NULL edge id, an edge id not
    in ``node_ids`` or a child with two parent edges."""
    child_ids = _arrow(child_ids, pa.string())
    parent_ids = _arrow(parent_ids, pa.string())
    if child_ids.null_count or parent_ids.null_count:
        raise ValueError("edge ids must not be null")
    ends = pa.concat_arrays([child_ids, parent_ids])
    node_ids = pc.unique(ends) if node_ids is None else _arrow(node_ids, pa.string())
    ends = pc.index_in(ends, value_set=node_ids)
    if ends.null_count:
        raise ValueError("an edge names a node that is not in the node table")
    ends = ends.to_numpy().astype(np.int64)
    child = ends[: len(child_ids)]
    parent = np.full(len(node_ids), -1, np.int64)
    parent[child] = ends[len(child_ids) :]
    if np.bincount(child, minlength=len(node_ids)).max(initial=0) > 1:
        raise ValueError("a child has two parent edges; each node has exactly one parent")
    return node_ids, child, parent


def _euler_preorder(parent: np.ndarray, rank: np.ndarray):
    """Preorder rank, depth and subtree size of every row of the parent
    array ``parent`` (-1 at the root); siblings are visited in ``rank``
    order.

    The Euler tour has an enter event ``v`` and an exit event ``n + v`` per
    node. Each event's successor is known locally (enter a parent -> enter
    its first child; enter a leaf -> exit it; exit a child -> enter its
    next sibling, or exit its parent), so the tour is a linked list whose
    positions come from pointer jumping in ceil(log2(2n)) vectorized
    rounds. The enter events in tour order are the preorder; the open
    events at a node's enter are its depth; the events between its enter
    and exit are its descendants, two each."""
    n = len(parent)
    roots = np.flatnonzero(parent < 0)
    if len(roots) != 1:
        raise ValueError(f"a tree has one root; these edges leave {len(roots)}")
    root = int(roots[0])
    kids = np.flatnonzero(parent >= 0)
    kids = kids[np.argsort(parent[kids] * n + rank[kids])]
    kp = parent[kids]
    first = np.ones(len(kids), bool)
    first[1:] = kp[1:] != kp[:-1]
    last = np.ones(len(kids), bool)
    last[:-1] = first[1:]
    succ = np.empty(2 * n, np.int32)
    succ[:n] = n + np.arange(n)
    succ[kp[first]] = kids[first]
    next_kid = np.zeros(len(kids), np.int32)
    next_kid[:-1] = kids[1:]
    succ[n + kids] = np.where(last, n + kp, next_kid)
    end = n + root
    succ[end] = end
    # dist = number of steps from each event to the tour's last event
    dist = np.ones(2 * n, np.int32)
    dist[end] = 0
    for _ in range(int(np.ceil(np.log2(2 * n))) + 1):
        if (succ == end).all():
            break
        dist += dist[succ]
        succ = succ[succ]
    else:
        raise ValueError("the parent links contain a cycle")
    pos = 2 * n - 1 - dist.astype(np.int64)
    opened = np.zeros(2 * n, np.int64)
    opened[pos[:n]] = 1
    enters = np.cumsum(opened)
    at_enter, at_exit = pos[:n], pos[n:]
    pre = enters[at_enter] - 1
    depth = 2 * enters[at_enter] - at_enter - 2
    size = (at_exit - at_enter + 1) // 2
    return pre, depth, size


class TreeIndex:
    """Parent, depth, subtree-size, named-flag and stored tip-count arrays
    of one tree, indexed by preorder rank, plus sorted node-id and ott-id
    maps. Node 0 is the root. Immutable once built: a new store snapshot
    gets a new index."""

    def __init__(
        self, node_ids, ott_ids, named, child_ids, parent_ids, child_index, tip_descendants
    ):
        """Build from the node columns (node_id, ott_id, named) and the edge
        columns (child_id, parent_id, child_index, tip_descendants), each an
        Arrow array or a plain sequence. A null ott_id or tip_descendants
        means none; a null child_index counts as 0."""
        node_ids = _arrow(node_ids, pa.string())
        n = len(node_ids)
        if n == 0:
            raise ValueError("an empty tree has no index")
        by_key = pc.sort_indices(node_ids).to_numpy().astype(np.int64)
        keys, _ = _fixed_width(node_ids.take(pa.array(by_key)))
        if (keys[1:] == keys[:-1]).any():
            raise ValueError("node ids must be unique")
        key_rank = np.empty(n, np.int64)
        key_rank[by_key] = np.arange(n)

        _, child, parent = parent_array(child_ids, parent_ids, node_ids)
        if len(child) != n - 1:
            raise ValueError("every node but the root needs exactly one parent edge")
        sibling_key = np.zeros(n, np.int64)
        sibling_key[child] = _arrow(child_index, pa.int64()).fill_null(0).to_numpy()
        rank = np.empty(n, np.int64)
        rank[np.lexsort((key_rank, sibling_key))] = np.arange(n)
        pre, depth, size = _euler_preorder(parent, rank)
        row_of = np.empty(n, np.int64)
        row_of[pre] = np.arange(n)

        par = parent[row_of]
        self.parent = np.where(par >= 0, pre[par], -1).astype(np.int32)
        self.depth = depth[row_of].astype(np.int32)
        self.size = size[row_of].astype(np.int32)
        named = _arrow(named, pa.bool_()).fill_null(False)
        self.named = named.to_numpy(zero_copy_only=False)[row_of]
        tips = np.full(n, -1, np.int32)
        tips[child] = _arrow(tip_descendants, pa.int64()).fill_null(-1).to_numpy()
        self.tips = tips[row_of]

        self._keys = keys
        self._node_of_key = pre[by_key].astype(np.int32)
        self._key_of_node = np.empty(n, np.int32)
        self._key_of_node[self._node_of_key] = np.arange(n, dtype=np.int32)

        otts = _arrow(ott_ids, pa.int64())
        rows = np.flatnonzero(otts.is_valid().to_numpy(zero_copy_only=False))
        values = otts.fill_null(0).to_numpy()[rows]
        by_ott = np.argsort(values, kind="stable")
        self._otts = values[by_ott]
        self._ott_node = pre[rows[by_ott]].astype(np.int32)

    @classmethod
    def from_store(cls, store) -> "TreeIndex":
        """The index of a GraphStore: one Arrow collect of ``nodes`` and one
        of ``edges``, the only Spark work the index ever does."""
        from pyspark.sql import functions as F

        nodes = store.nodes.select(
            "node_id",
            F.col("ott_id").cast("long").alias("ott_id"),
            F.col("name").isNotNull().alias("named"),
        ).toArrow()
        edges = store.edges.select(
            "child_id",
            "parent_id",
            F.col("child_index").cast("long").alias("child_index"),
            F.col("tip_descendants").cast("long").alias("tip_descendants"),
        ).toArrow()
        return cls(
            nodes["node_id"], nodes["ott_id"], nodes["named"],
            edges["child_id"], edges["parent_id"], edges["child_index"],
            edges["tip_descendants"],
        )

    # -- id maps ----------------------------------------------------------

    def lookup(self, node_ids) -> np.ndarray:
        """The node of each id, -1 for an id not in the tree (or not a
        string)."""
        ids = [i if isinstance(i, str) else None for i in node_ids]
        if not ids:
            return np.zeros(0, np.int64)
        q, cut = _fixed_width(pa.array([i or "" for i in ids], pa.string()), self._keys.itemsize)
        pos = np.minimum(np.searchsorted(self._keys, q), len(self._keys) - 1)
        hit = (self._keys[pos] == q) & ~cut & np.array([i is not None for i in ids])
        return np.where(hit, self._node_of_key[pos], -1)

    def lookup_ott(self, ott_ids) -> np.ndarray:
        """The node of each ott id (the first in id order if several share
        it), -1 for an ott id not in the tree."""
        q = np.asarray(list(ott_ids), np.int64)
        if len(self._otts) == 0:
            return np.full(len(q), -1, np.int64)
        pos = np.searchsorted(self._otts, q)
        at = np.minimum(pos, len(self._otts) - 1)
        return np.where(self._otts[at] == q, self._ott_node[at], -1)

    def ids(self, nodes) -> list[str]:
        """The node id of each node."""
        picked = self._keys[self._key_of_node[np.asarray(list(nodes), np.int64)]]
        return [b.decode("utf-8") for b in picked.tolist()]

    def num_tips(self, v: int) -> int | None:
        """The stored tip_descendants of ``v``'s edge; None for the root,
        which has no edge."""
        t = int(self.tips[v])
        return None if t < 0 else t

    # -- walks --------------------------------------------------------------

    def lineage(self, v: int) -> list[int]:
        """T1 — the strict ancestors of ``v``, parent first."""
        out = []
        p = int(self.parent[v])
        while p >= 0:
            out.append(p)
            p = int(self.parent[p])
        return out

    def _lca2(self, u: int, v: int) -> int:
        """LCA of u <= v: the first ancestor-or-self of u whose range holds v."""
        a = u
        while v >= a + self.size[a]:
            a = int(self.parent[a])
        return a

    def lca(self, nodes) -> int:
        """T2 — the MRCA of ``nodes``: the LCA of the lowest and the highest
        preorder rank among them, since every node lies between the two."""
        nodes = [int(v) for v in nodes]
        return self._lca2(min(nodes), max(nodes))

    def nearest_named(self, v: int) -> int | None:
        """T3 — the first strict ancestor of ``v`` with a name; None when
        there is none (always for the root)."""
        a = int(self.parent[v])
        while a >= 0 and not self.named[a]:
            a = int(self.parent[a])
        return None if a < 0 else a

    def virtual_tree(self, nodes) -> tuple[int, list[tuple[int, int]]]:
        """T6 — the induced subtree of ``nodes`` with the reference's
        topology: the nodes plus the LCA of each pair of preorder-adjacent
        nodes, which are exactly the nodes whose requested tips fall under
        two or more of their children. Each kept node hangs from its
        nearest kept ancestor; the root is the nodes' MRCA. Returns
        (root, [(child, parent), ...])."""
        tips = sorted({int(v) for v in nodes})
        kept = set(tips)
        kept.update(self._lca2(a, b) for a, b in zip(tips, tips[1:]))
        order = sorted(kept)
        edges: list[tuple[int, int]] = []
        stack: list[int] = []
        for v in order:
            while stack and v >= stack[-1] + self.size[stack[-1]]:
                stack.pop()
            if stack:
                edges.append((v, stack[-1]))
            stack.append(v)
        return order[0], edges

    # -- depth-limited subtrees ----------------------------------------------

    def members(self, v: int, limit: int = -1) -> np.ndarray:
        """T4/T5 — the nodes of ``v``'s subtree at most ``limit`` levels
        below it (all of them when ``limit`` < 0) in preorder, ``v`` first:
        the shape and the print order of a subtree answer."""
        nodes = np.arange(v, v + int(self.size[v]), dtype=np.int64)
        if limit < 0:
            return nodes
        return nodes[self.depth[nodes] <= self.depth[v] + limit]

    def anchor_depth(self, nodes) -> int | None:
        """The fragment tier's cut of the ``members`` walk ``nodes``: None
        when the walk has at most ``FRAGMENT_TIER_EDGES`` edges, so the
        driver prints it whole; otherwise the shallowest level below its
        root whose largest fragment fits ``FRAGMENT_TARGET``, never letting
        levels 1..d exceed ``TOP_MAX`` nodes; when no level fits, the level
        with the smallest largest fragment. A fragment is an anchor plus its
        descendants among ``nodes``, ``searchsorted(nodes, u + size[u]) -
        rank(u)``, so a depth-limited walk counts only its members.

        On a balanced fanout-f tree this is the smallest d with
        n/f^d <= FRAGMENT_TARGET; on a caterpillar every level has one
        giant fragment, so it is the deepest level the driver stitch can
        afford. The largest fragment strictly shrinks with depth, so
        ``FRAGMENT_TARGET = 0`` with ``TOP_MAX`` set to the node count of
        levels 1..d forces depth d."""
        if len(nodes) - 1 <= FRAGMENT_TIER_EDGES:
            return None
        nodes = np.asarray(nodes, np.int64)
        level = (self.depth[nodes] - self.depth[nodes[0]])[1:]
        frag = (np.searchsorted(nodes, nodes + self.size[nodes]) - np.arange(len(nodes)))[1:]
        cum = np.cumsum(np.bincount(level))
        largest = np.zeros(len(cum), np.int64)
        np.maximum.at(largest, level, frag)
        best = None
        for d in range(1, len(cum)):
            if cum[d] > TOP_MAX:
                break
            if best is None or largest[d] < largest[best]:
                best = d
            if largest[d] <= FRAGMENT_TARGET:
                return d
        return best or 1
