"""v2 compatibility adapters — reference: opentree/plugins/tree_of_life.java
(:50-383) and opentree/plugins/graph.java (:45-195).

Pure response-transform layer over the v3 endpoints: field renames plus the
long<->string id codec (P10 — tree_of_life.longIdToStringId/stringIdToLongId,
tree_of_life.java:385-422). No Spark work of its own.
"""

from __future__ import annotations

from treemachine_spark.api.errors import BadIdsError, BadInputError
from treemachine_spark.api.v3 import TreeOfLifeV3, _id_list

ID_LIMIT = 10_000_000  # tree_of_life.java:385


def long_id_to_string_id(long_id: int) -> str:
    """P10 encode (tree_of_life.java:387-398): ids below the ott namespace
    bound are 'ottN'; larger ids pack two ott ids of an mrca node."""
    if long_id < ID_LIMIT:
        return f"ott{long_id}"
    return f"mrcaott{long_id % ID_LIMIT}ott{long_id // ID_LIMIT}"


def string_id_to_long_id(string_id: str) -> int:
    """P10 decode (tree_of_life.java:400-422)."""
    if string_id.startswith("mrcaott"):
        rest = string_id[len("mrcaott"):]
        first, second = rest.split("ott")
        return int(first) + int(second) * ID_LIMIT
    if string_id.startswith("ott"):
        return int(string_id[3:])
    raise ValueError(f"not an ot node id: {string_id!r}")


def _node_id(long_id) -> str:
    """One v2 node id from request input: an integer, else a 400."""
    if not isinstance(long_id, int) or isinstance(long_id, bool):
        raise BadInputError(f"Invalid node id: {long_id!r}; v2 node ids are integers.")
    return long_id_to_string_id(long_id)


def _node_ids(ids) -> list[str]:
    return [_node_id(i) for i in _id_list("node_ids", ids)]


def _string_ids_to_long_ids(ids):
    return [string_id_to_long_id(i) for i in ids]


class TreeOfLifeV2:
    """The four v2 endpoints (about/mrca/induced_subtree/subtree) +
    graph.node_info."""

    def __init__(self, v3: TreeOfLifeV3):
        self.v3 = v3

    def about(self, study_list: bool = True) -> dict:
        """tree_of_life.about (tree_of_life.java:50-139)."""
        result = self.v3.about(include_source_list=study_list)
        root = result["root"]
        res = {
            "date": result.get("date_created"),
            "num_tips": root.get("num_tips"),
            "num_source_studies": result.get("num_source_studies"),
            "taxonomy_version": result.get("taxonomy_version"),
            "root_node_id": string_id_to_long_id(root["node_id"]),
            "tree_id": result.get("synth_id"),
        }
        taxon = root.get("taxon")
        if taxon:
            res["root_ott_id"] = taxon["ott_id"]
            res["root_taxon_name"] = taxon["name"]
        if study_list:
            sid_map = result.get("source_id_map", {})
            res["study_list"] = [sid_map.get(s) for s in result.get("source_list", [])]
        return res

    def mrca(self, node_ids=None, ott_ids=None) -> dict:
        """tree_of_life.mrca (tree_of_life.java:150-262). v2 never 400s on
        bad ids — the BadIdsException payload is repackaged
        (tree_of_life.java:211-219)."""
        res: dict = {}
        try:
            v3r = self.v3.mrca(
                node_ids=_node_ids(node_ids),
                ott_ids=ott_ids,
            )
            res["node_ids_not_in_tree"] = []
            res["ott_ids_not_in_tree"] = []
        except BadIdsError as e:
            v3r = e.payload
            res["node_ids_not_in_tree"] = _string_ids_to_long_ids(
                v3r.get("node_ids_not_in_tree", [])
            )
            res["ott_ids_not_in_tree"] = v3r.get("ott_ids_not_in_tree", [])
        res["invalid_node_ids"] = []
        res["invalid_ott_ids"] = []

        mrca = v3r["mrca"]
        res["mrca_node_id"] = string_id_to_long_id(mrca["node_id"])
        res["tree_id"] = self.v3.store.tree_id
        taxon = mrca.get("taxon")
        if taxon:
            res["ott_id"] = taxon["ott_id"]
            res["mrca_name"] = taxon["name"]
            res["mrca_rank"] = taxon["rank"]
            res["mrca_unique_name"] = taxon.get("unique_name") or ""
            res["nearest_taxon_mrca_node_id"] = res["mrca_node_id"]
        else:
            res["ott_id"] = "null"
            res["mrca_name"] = ""
            res["mrca_rank"] = ""
            res["mrca_unique_name"] = ""
            nearest = v3r.get("nearest_taxon")
            if nearest:
                res["nearest_taxon_mrca_ott_id"] = nearest["ott_id"]
                res["nearest_taxon_mrca_name"] = nearest["name"]
                res["nearest_taxon_mrca_rank"] = nearest["rank"]
                res["nearest_taxon_mrca_unique_name"] = nearest["unique_name"]
                res["nearest_taxon_mrca_node_id"] = nearest["ott_id"]
        return res

    def induced_tree(self, node_ids=None, ott_ids=None) -> dict:
        """tree_of_life.induced_tree (tree_of_life.java:273-333)."""
        res: dict = {}
        try:
            v3r = self.v3.induced_subtree(
                node_ids=_node_ids(node_ids),
                ott_ids=ott_ids,
            )
            res["node_ids_not_in_tree"] = []
            res["ott_ids_not_in_tree"] = []
        except BadIdsError as e:
            v3r = e.payload
            res["node_ids_not_in_tree"] = _string_ids_to_long_ids(
                v3r.get("node_ids_not_in_tree", [])
            )
            res["ott_ids_not_in_tree"] = v3r.get("ott_ids_not_in_tree", [])
        res["newick"] = v3r.get("newick")
        res["node_ids_not_in_graph"] = []
        res["ott_ids_not_in_graph"] = []
        res["tree_id"] = self.v3.store.tree_id
        return res

    def subtree(self, node_id=None, ott_id=None) -> dict:
        """tree_of_life.subtree (tree_of_life.java:340-383)."""
        v3r = self.v3.subtree(
            node_id=_node_id(node_id) if node_id is not None else None,
            ott_id=ott_id,
        )
        return {"newick": v3r["newick"], "tree_id": self.v3.store.tree_id}

    def node_info(self, node_id=None, ott_id=None, include_lineage: bool = False) -> dict:
        """graph.node_info (opentree/plugins/graph.java:45-195): v3 blob with
        flattened taxon fields + v2 long ids."""
        v3r = self.v3.node_info(
            node_id=_node_id(node_id) if node_id is not None else None,
            ott_id=ott_id,
            include_lineage=include_lineage,
        )
        res = {
            "node_id": string_id_to_long_id(v3r["node_id"]),
            "num_tips": v3r["num_tips"],
            "in_synth_tree": True,
            "tree_id": self.v3.store.tree_id,
        }
        taxon = v3r.get("taxon")
        if taxon:
            res["name"] = taxon["name"]
            res["rank"] = taxon["rank"]
            res["unique_name"] = taxon.get("unique_name") or ""
            res["ott_id"] = taxon["ott_id"]
            res["tax_source"] = ",".join(taxon.get("tax_sources", []))
        else:
            res["name"] = ""
            res["rank"] = ""
            res["unique_name"] = ""
            res["ott_id"] = "null"
        for f in ("supported_by", "conflicts_with", "resolves", "resolved_by",
                  "partial_path_of", "terminal"):
            if f in v3r:
                res[f] = v3r[f]
        if include_lineage and "lineage" in v3r:
            res["draft_tree_lineage"] = v3r["lineage"]
        return res
