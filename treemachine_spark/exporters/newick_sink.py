"""Newick sink (S7) — reference: JadeNode.getNewick
(jade/tree/deprecated/JadeNode.java:167-195), recursive StringBuffer append.

Rebuild: the caller hands over the (child, parent) rows of the tree (a
served subtree's come from the topology index), and they are assembled
into the newick string with an **iterative** postorder
(explicit stack — no recursion limit; the reference's recursion is a real
failure mode at 2.4M tips). Children are emitted in (child_index, child_id)
order, so output is byte-stable.

Branch length rule per the reference: when lengths are requested, 0 is
replaced by MIN_BRANCHLENGTH (JadeNode.java:10, :176-177).

Scale note: string assembly of one tree is inherently O(result) on a single
machine. Past the fragment-tier gate, v3 calls this once per anchor
fragment executor-side and once more on the driver for the levels above
the anchors, with each fragment passed in as a leaf override
(``api.v3.TreeOfLifeV3._fragments``).
"""

from __future__ import annotations

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
    node's label — the stitch point of the fragment tier.
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
