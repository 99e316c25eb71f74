"""Newick sink (S7) — reference: JadeNode.getNewick
(jade/tree/deprecated/JadeNode.java:167-195), recursive StringBuffer append.

Rebuild: the subtree's edge rows are computed distributed (closure filter),
then assembled into the newick string with an **iterative** postorder
(explicit stack — no recursion limit; the reference's recursion is a real
failure mode at 2.4M tips). Children are emitted in (child_index, child_id)
order, so output is byte-stable.

Branch length rule per the reference: when lengths are requested, 0 is
replaced by MIN_BRANCHLENGTH (JadeNode.java:10, :176-177).

Scale note: string assembly of one tree is inherently O(result) on a single
machine. For subtrees past the reference's caps, :func:`anchored_fragments`
is the one fragment decomposition of every subtree format: it cuts the
subtree at a fanout-aware anchor depth, assembles each anchor's fragment
executor-side with the caller's per-fragment assembler and collects only
the top levels for the driver stitch. ``distributed_newick`` and the v3
arguson fragment tier are its two callers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from treemachine_spark.graph.traversal import ids_in

MIN_BRANCHLENGTH = 0.0000000000000000000001

# characters that force quoting per the newick standard (the reference
# delegates to ot-base GeneralUtils.newickName; JadeNode.offendingChars
# lists the same family — jade/tree/deprecated/JadeNode.java:23)
_OFFENDING = set(" ()[]{}/\\,;:=*'\"<>")


def newick_escape(name: str) -> str:
    """Quote a label when it contains offending characters (single-quote
    wrapping, internal quotes doubled)."""
    if not name:
        return ""
    if any(c in _OFFENDING for c in name):
        return "'" + name.replace("'", "''") + "'"
    return name


def assemble_newick(
    edge_rows,
    root_id: str,
    labels: dict[str, str] | None = None,
    include_branch_lengths: bool = False,
    leaf_overrides: dict[str, str] | None = None,
) -> str:
    """Build a newick string from (child_id, parent_id[, branch_length
    [, child_index]]) rows. ``labels`` maps node_id -> display label
    (missing/empty -> unlabelled, matching idsForUnnamed=False).

    ``leaf_overrides`` substitutes a pre-rendered newick fragment for a leaf
    node's label — the stitch point used by ``distributed_newick``.
    """
    children: dict[str, list] = {}
    bls: dict[str, float] = {}
    for row in edge_rows:
        child, parent = row[0], row[1]
        bl = row[2] if len(row) > 2 else None
        ci = row[3] if len(row) > 3 else 0
        children.setdefault(parent, []).append((ci if ci is not None else 0, child))
        if bl is not None:
            bls[child] = bl
    for kids in children.values():
        kids.sort()

    labels = labels or {}
    leaf_overrides = leaf_overrides or {}

    def label_of(nid: str) -> str:
        if nid in leaf_overrides:
            return leaf_overrides[nid]
        return newick_escape(labels.get(nid, ""))

    def bl_of(nid: str) -> str:
        if not include_branch_lengths:
            return ""
        bl = bls.get(nid, 0.0)
        if bl == 0:
            bl = MIN_BRANCHLENGTH
        return f":{bl}"

    # iterative postorder: emit '(' on first visit, children recursively,
    # then ')label[:bl]'
    out: list[str] = []
    stack: list[tuple[str, int, bool]] = [(root_id, 0, True)]
    while stack:
        nid, idx, is_root = stack[-1]
        kids = children.get(nid)
        if not kids:  # leaf
            out.append(label_of(nid))
            if not is_root:
                out.append(bl_of(nid))
            stack.pop()
            continue
        if idx == 0:
            out.append("(")
        if idx < len(kids):
            stack[-1] = (nid, idx + 1, is_root)
            if idx > 0:
                out.append(",")
            stack.append((kids[idx][1], 0, False))
        else:
            out.append(")")
            out.append(label_of(nid))
            if not is_root:
                out.append(bl_of(nid))
            stack.pop()
    return "".join(out) + ";"


# anchor-depth bounds, read at call time: a fragment is one applyInPandas
# group, so its size is executor-memory-bound; the top stitch levels are
# collected, so their cumulative width is driver-bound
FRAGMENT_TARGET = 100_000
TOP_MAX = 200_000


def pick_anchor_depth(rd, member, paths):
    """Fanout-aware anchor depth for :func:`anchored_fragments`: instead of
    a fixed depth (right for the production tree's ~10-fanout, wrong for
    skewed stores), read the subtree's actual shape — per-level width and
    the LARGEST single fragment an anchor at that level would own — and
    take the shallowest level whose max fragment fits ``FRAGMENT_TARGET``,
    never letting the collected top levels exceed ``TOP_MAX`` rows. One
    subtree-scale aggregation (descendant counts over the request's
    closure) + a depth-profile collect of O(tree height) rows.

    On a balanced fanout-f tree this returns the smallest d with
    n/f^d <= FRAGMENT_TARGET (depth 2 for the 2.42M-tip production
    shape); on a caterpillar every level has one giant fragment, so it
    returns the deepest level the driver stitch can afford — the best
    decomposition that exists for that shape. Max fragment size strictly
    shrinks with depth, so ``FRAGMENT_TARGET = 0`` with ``TOP_MAX`` set to
    the node count of levels 1..d forces depth d (the tests' lever).
    """
    desc = (
        paths.join(
            member.withColumnRenamed("node_id", "ancestor_id"),
            "ancestor_id",
            "left_semi",
        )
        .join(member, "node_id", "left_semi")
        .groupBy("ancestor_id")
        .agg(F.count("*").alias("cnt"))
    )
    stats = sorted(
        rd.join(desc.withColumnRenamed("ancestor_id", "node_id"), "node_id", "left")
        .groupBy("depth")
        .agg(
            F.count("*").alias("width"),
            (F.max(F.coalesce(F.col("cnt"), F.lit(0))) + 1).alias("max_frag"),
        )
        .collect(),
        key=lambda r: r["depth"],
    )
    cum = 0
    best = None  # (max_frag, depth)
    for r in stats:
        cum += r["width"]
        if cum > TOP_MAX:
            break
        if best is None or r["max_frag"] < best[0]:
            best = (r["max_frag"], r["depth"])
        if r["max_frag"] <= FRAGMENT_TARGET:
            return r["depth"]
    return best[1] if best else 1


def anchored_fragments(edges, paths, root_id: str, assemble, node_cols=None):
    """The fragment tier shared by every subtree format: the subtree below
    ``root_id`` (its ``edges`` rows: child_id, parent_id, child_index and
    whatever else ``assemble`` reads) is cut at the anchor depth
    :func:`pick_anchor_depth` reads off its shape. Each anchor owns itself
    and its closure descendants; their edge rows, left-joined with the per-node
    ``node_cols`` (node_id plus assembler columns) and tagged ``anchor``,
    go through ONE grouped ``applyInPandas(assemble)`` keyed by anchor,
    which returns (anchor, frag) per anchor. The anchor's own row carries its
    parent link, which lies outside the fragment.

    Returns (frags {anchor: frag string}, top rows): the top rows are the
    ``edges`` rows of the levels down to the anchors, collected for the
    driver stitch, so the driver handles fanout^anchor_depth rows and never
    the whole edge list.
    """
    member = edges.select(F.col("child_id").alias("node_id"))
    # rd feeds the depth pick, the anchors and the top rows: materialize once
    rd = (
        paths.where(F.col("ancestor_id") == root_id)
        .select("node_id", "depth")
        .join(member, "node_id", "left_semi")
    ).localCheckpoint(eager=True)
    anchor_depth = pick_anchor_depth(rd, member, paths)
    anchors = rd.where(F.col("depth") == anchor_depth).select(
        F.col("node_id").alias("anchor")
    )
    owned = (
        paths.join(anchors.withColumnRenamed("anchor", "ancestor_id"), "ancestor_id")
        .select(F.col("node_id").alias("child_id"), F.col("ancestor_id").alias("anchor"))
        .unionByName(anchors.select(F.col("anchor").alias("child_id"), "anchor"))
    )
    rows = edges.join(owned, "child_id")
    if node_cols is not None:
        rows = rows.join(node_cols.withColumnRenamed("node_id", "child_id"), "child_id", "left")
    frags = dict(
        rows.groupBy("anchor").applyInPandas(assemble, "anchor string, frag string").collect()
    )
    top = edges.join(
        rd.where(F.col("depth") <= anchor_depth).select(F.col("node_id").alias("child_id")),
        "child_id",
        "left_semi",
    ).collect()
    return frags, top


def distributed_newick(
    edges,
    paths,
    root_id: str,
    labels=None,
    include_branch_lengths: bool = False,
) -> str:
    """Newick through :func:`anchored_fragments`: each anchor's fragment
    string (its label included) is assembled executor-side and becomes a
    leaf override in the driver's assembly of the top levels. ``labels``
    is an optional DataFrame (node_id, label).

    Executor memory per task is O(fragment), driver memory O(result
    string) — the floor for a single text artifact.
    """
    import pandas as pd

    sel = ["child_id", "parent_id"]
    sel.append(
        F.col("branch_length")
        if "branch_length" in edges.columns
        else F.lit(None).cast("double").alias("branch_length")
    )
    sel.append(F.col("child_index") if "child_index" in edges.columns else F.lit(0).alias("child_index"))
    e = edges.select(*sel)

    def asm(pdf: pd.DataFrame) -> pd.DataFrame:
        anchor = pdf["anchor"].iloc[0]
        rows = zip(pdf["child_id"], pdf["parent_id"], pdf["branch_length"], pdf["child_index"])
        labs = dict(zip(pdf["child_id"], pdf["label"])) if "label" in pdf else {}
        labs = {c: l for c, l in labs.items() if isinstance(l, str)}
        frag = assemble_newick(rows, anchor, labs, include_branch_lengths)[:-1]
        return pd.DataFrame({"anchor": [anchor], "frag": [frag]})

    frags, top_rows = anchored_fragments(e, paths, root_id, asm, labels)
    top_labels = {}
    if labels is not None:
        top_ids = [r["child_id"] for r in top_rows] + [root_id]
        top_labels = dict(
            labels.where(ids_in("node_id", top_ids)).select("node_id", "label").collect()
        )
    return assemble_newick(
        top_rows, root_id, top_labels, include_branch_lengths, leaf_overrides=frags
    )
