"""Seeded synthesis-release generator and its answer oracle.

A release is written in the formats the ingest sources read:

- ``labelled_supertree.tre``: newick whose labels are ``ott<uid>`` for taxa
  and ``mrcaott<X>ott<Y>`` for unnamed internal nodes, where X and Y are
  tips under two different children (so the label names exactly one node);
- ``taxonomy.tsv``: the pipe-delimited OTT table (tab padded, header line),
  with extra rows for taxa that are not in the tree;
- ``annotations.json``: release metadata, ``source_id_map`` and per-node
  ``supported_by`` / ``conflicts_with`` / ``resolves`` over a source set.

The tree is grown by splitting a tip count into a random number of uneven
parts, so fanout and depth both vary. The generator keeps the parent map and
answers every question the benchmark asks (LCA, tip counts, clade tip sets,
lineages, depth-limited children) from it, without Spark.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

N_SOURCES = 40  # source trees named in annotations.json
TAXON_SHARE = 0.5  # share of internal nodes (not the root) that are taxa

# fanout choices and their weights: mostly binary, with a tail of polytomies
_FANOUTS = (2, 3, 4, 5, 6, 8, 12)
_FANOUT_W = (60, 18, 8, 5, 4, 3, 2)


@dataclass
class Release:
    """A generated tree plus the lookups the oracle needs.

    Nodes are integers 0..n-1 in preorder (the root is 0); ``label`` maps a
    node to its newick label, which is the served ``node_id``.
    """

    seed: int
    tree_id: str
    label: list[str]
    parent: list[int]
    children: list[list[int]]
    ott: dict[int, int]
    depth: list[int] = field(default_factory=list)
    tip_lo: list[int] = field(default_factory=list)
    tip_hi: list[int] = field(default_factory=list)
    tips: list[int] = field(default_factory=list)

    def __post_init__(self) -> None:
        n = len(self.label)
        self.depth = [0] * n
        for v in range(1, n):  # preorder: a parent precedes its children
            self.depth[v] = self.depth[self.parent[v]] + 1
        # tips in preorder; each node's tips are the slice [tip_lo, tip_hi)
        self.tip_lo = [0] * n
        self.tip_hi = [0] * n
        self.tips = []
        for v in range(n):
            self.tip_lo[v] = len(self.tips)
            if not self.children[v]:
                self.tips.append(v)
        for v in range(n - 1, -1, -1):
            kids = self.children[v]
            self.tip_hi[v] = self.tip_hi[kids[-1]] if kids else self.tip_lo[v] + 1

    # -- sizes -----------------------------------------------------------

    @property
    def n_nodes(self) -> int:
        return len(self.label)

    @property
    def n_tips(self) -> int:
        return len(self.tips)

    @property
    def closure_rows(self) -> int:
        """Rows of the ancestor closure: one per (node, proper ancestor)."""
        return sum(self.depth)

    @property
    def mean_tip_depth(self) -> float:
        return sum(self.depth[t] for t in self.tips) / len(self.tips)

    # -- oracle ----------------------------------------------------------

    def num_tips(self, v: int) -> int:
        return self.tip_hi[v] - self.tip_lo[v]

    def clade_tips(self, v: int) -> set[str]:
        return {self.label[t] for t in self.tips[self.tip_lo[v] : self.tip_hi[v]]}

    def lineage(self, v: int) -> list[str]:
        """Ancestors of ``v``, parent first."""
        out = []
        while self.parent[v] >= 0:
            v = self.parent[v]
            out.append(self.label[v])
        return out

    def lca(self, nodes: list[int]) -> int:
        # the tip interval of the LCA is the smallest one holding every
        # node's interval: walk up from the first node until it does
        lo = min(self.tip_lo[v] for v in nodes)
        hi = max(self.tip_hi[v] for v in nodes)
        a = nodes[0]
        while not (self.tip_lo[a] <= lo and hi <= self.tip_hi[a]):
            a = self.parent[a]
        return a

    # -- files -----------------------------------------------------------

    def newick(self) -> str:
        out: list[str] = []
        stack: list[tuple[int, int]] = [(0, 0)]
        while stack:
            v, i = stack.pop()
            kids = self.children[v]
            if i < len(kids):
                out.append("(" if i == 0 else ",")
                stack.append((v, i + 1))
                stack.append((kids[i], 0))
            else:
                if kids:
                    out.append(")")
                out.append(self.label[v])
        return "".join(out) + ";"

    def write(self, out_dir: str, rng: random.Random) -> dict[str, str]:
        """Write the three release files; returns their paths by kind."""
        os.makedirs(out_dir, exist_ok=True)
        paths = {
            "newick": os.path.join(out_dir, "labelled_supertree.tre"),
            "taxonomy": os.path.join(out_dir, "taxonomy.tsv"),
            "annotations": os.path.join(out_dir, "annotations.json"),
        }
        with open(paths["newick"], "w") as fh:
            fh.write(self.newick())
        with open(paths["taxonomy"], "w") as fh:
            fh.write(_tsv_row(["uid", "parent_uid", "name", "rank", "sourceinfo", "uniqname", "flags"]))
            for row in self._taxonomy_rows(rng):
                fh.write(_tsv_row(row))
        with open(paths["annotations"], "w") as fh:
            json.dump(self._annotations(rng), fh)
        return paths

    def _taxonomy_rows(self, rng: random.Random):
        ranks = ("species", "genus", "family", "order", "class", "phylum")
        used = set(self.ott.values())
        for v, uid in self.ott.items():
            a = self.parent[v]
            while a >= 0 and a not in self.ott:
                a = self.parent[a]
            parent_uid = str(self.ott[a]) if a >= 0 else ""
            rank = ranks[0] if not self.children[v] else ranks[min(1 + self.depth[v] % 5, 5)]
            name = f"Taxon {uid}" if rank == "species" else f"Clade{uid}"
            yield [
                str(uid),
                parent_uid,
                name,
                rank,
                f"ncbi:{uid % 99991},gbif:{uid % 7919}",
                "",
                "",
            ]
        # taxa the tree does not use: the ingest semi-join must drop them
        extra = max(1, len(used) // 10)
        hi = 40 * len(used)
        while extra:
            uid = rng.randrange(1, hi)
            if uid in used:
                continue
            used.add(uid)
            extra -= 1
            yield [str(uid), "", f"Unused{uid}", "no rank", "", "", ""]

    def _annotations(self, rng: random.Random) -> dict:
        sources = [f"pg_{100 + i}@tree{1000 + i}" for i in range(N_SOURCES)]
        smap = {
            s: {
                "study_id": s.split("@")[0],
                "tree_id": s.split("@")[1],
                "git_sha": f"{rng.getrandbits(32):08x}",
            }
            for s in sources
        }
        nodes: dict[str, dict] = {}
        for v in range(self.n_nodes):
            if not self.children[v] or rng.random() > 0.6:
                continue
            ann: dict = {
                "supported_by": {
                    s: f"node{rng.randrange(10**6)}"
                    for s in rng.sample(sources, rng.randint(1, 3))
                }
            }
            if rng.random() < 0.1:
                s = rng.choice(sources)
                ann["conflicts_with"] = {s: [f"node{rng.randrange(10**6)}" for _ in range(2)]}
            if rng.random() < 0.05:
                ann["resolves"] = {rng.choice(sources): f"node{rng.randrange(10**6)}"}
            nodes[self.label[v]] = ann
        return {
            "tree_id": self.tree_id,
            "root_ott_id": self.ott.get(0),
            "taxonomy_version": f"3.{self.seed % 7}",
            "date_completed": "2026-01-01",
            "num_tips": self.n_tips,
            "num_source_studies": N_SOURCES,
            "num_source_trees": N_SOURCES,
            "filtered_flags": ["major_rank_conflict", "viral"],
            "sources": sources,
            "source_id_map": smap,
            "nodes": nodes,
        }


def _tsv_row(cols: list[str]) -> str:
    return "".join(f"{c}\t|\t" for c in cols) + "\n"


def _split(n: int, k: int, rng: random.Random) -> list[int]:
    """Split ``n`` tips into ``k`` non-empty, unevenly sized parts."""
    weights = [rng.random() ** 2 + 0.02 for _ in range(k)]
    total = sum(weights)
    parts = [1 + int((n - k) * w / total) for w in weights]
    parts[rng.randrange(k)] += n - sum(parts)
    return parts


def draw(n_tips: int, seed: int, candidates: int = 15) -> Release:
    """The release of median closure size among ``candidates`` drawn from
    ``seed``. Closure size of one draw varies by about 10% (interquartile
    over seeds), the median of nine by about 4.5%, so seeds change the
    shape of the tree much more than its size."""
    rng = random.Random(seed)
    drawn = sorted(
        (generate(n_tips, rng.getrandbits(32)) for _ in range(candidates)),
        key=lambda r: r.closure_rows,
    )
    return drawn[candidates // 2]


def generate(n_tips: int, seed: int) -> Release:
    """A release of exactly ``n_tips`` tips drawn from ``seed``.

    Every tip and the root carry an OTT id; each other internal node is a
    taxon with probability ``TAXON_SHARE`` and a ``mrcaott`` node otherwise.
    """
    rng = random.Random(seed)
    parent: list[int] = []
    children: list[list[int]] = []
    size: list[int] = []
    # preorder construction: a node's tip budget is split among its children
    stack = [(-1, n_tips)]
    while stack:
        p, n = stack.pop()
        v = len(parent)
        parent.append(p)
        children.append([])
        size.append(n)
        if p >= 0:
            children[p].append(v)
        if n > 1:
            k = min(n, rng.choices(_FANOUTS, _FANOUT_W)[0])
            for part in reversed(_split(n, k, rng)):
                stack.append((v, part))
    n_nodes = len(parent)
    uids = rng.sample(range(1, 20 * n_nodes), n_nodes)
    ott: dict[int, int] = {}
    for v in range(n_nodes):
        if v == 0 or not children[v] or rng.random() < TAXON_SHARE:
            ott[v] = uids[v]
    # mrcaott labels name two tips under different children; resolve the
    # first tip under each node bottom-up (children have larger ids)
    first_tip = list(range(n_nodes))
    for v in range(n_nodes - 1, -1, -1):
        if children[v]:
            first_tip[v] = first_tip[children[v][0]]
    label = []
    for v in range(n_nodes):
        if v in ott:
            label.append(f"ott{ott[v]}")
        else:
            a, b = children[v][0], children[v][-1]
            label.append(f"mrcaott{ott[first_tip[a]]}ott{ott[first_tip[b]]}")
    return Release(
        seed=seed,
        tree_id=f"synth_{seed}",
        label=label,
        parent=parent,
        children=children,
        ott=ott,
    )
