"""End-to-end: fixture ingest (S1-S6) → v3 API endpoints, mirroring the
reference's ws-tests (response-shape checks + golden values on the
Asterales-like fixture)."""

from __future__ import annotations

from pathlib import Path

import pytest

from treemachine_spark.api.errors import BadIdsError, BadInputError
from treemachine_spark.api.v3 import TreeOfLifeV3
from treemachine_spark.graph import topology
from treemachine_spark.ingest import ingest_synthesis_data

FIX = Path(__file__).parent / "fixtures"


@pytest.fixture(scope="module")
def store(spark):
    return ingest_synthesis_data(
        spark,
        str(FIX / "labelled_supertree.tre"),
        str(FIX / "annotations.json"),
        str(FIX / "taxonomy.tsv"),
    )


@pytest.fixture(scope="module")
def api(store):
    return TreeOfLifeV3(store)


def _check_taxon_blob(b):
    assert isinstance(b["ott_id"], int)
    assert isinstance(b["name"], str)
    assert isinstance(b["rank"], str)
    assert isinstance(b["unique_name"], str) and b["unique_name"]
    assert isinstance(b["tax_sources"], list)


def _check_node_blob(b):
    assert isinstance(b["node_id"], str)
    assert isinstance(b["num_tips"], int)
    if "taxon" in b:
        _check_taxon_blob(b["taxon"])


def test_ingest_tables(store):
    assert store.tree_id == "opentree_test1"
    assert store.root_id == "ott81461"
    assert store.nodes.count() == 7
    assert store.edges.count() == 6
    assert store.paths.count() == 6 + 4  # depth1: 6 edges; depth2: 4 tips
    named = {r["node_id"]: r["name"] for r in store.nodes.collect() if r["name"]}
    assert named["ott81461"] == "Aves"
    assert named["ott316878"] == "Gavia"
    assert "mrcaott246ott5481" not in named
    # uniqname fallback (IngestSynthesisData.java:247-250)
    uniq = {r["node_id"]: r["unique_name"] for r in store.nodes.collect() if r["name"]}
    assert uniq["ott316878"] == "Gavia (genus)"
    assert uniq["ott536234"] == "Struthio"


def test_tip_descendants(store):
    tc = {r["child_id"]: r["tip_descendants"] for r in store.edges.collect()}
    assert tc["mrcaott246ott5481"] == 2
    assert tc["ott5839486"] == 2
    assert tc["ott536234"] == 1


def test_taxonomy_support_appended(store):
    ann = {r["node_id"]: r["supported_by"] for r in store.node_annotations.collect()}
    assert ann["ott5839486"] == {"ot_157@tree1": "node7", "ott2.9draft12": "ott5839486"}
    assert ann["mrcaott246ott5481"] == {"pg_2044@tree4212": "node101"}
    assert ann["ott536234"] == {"ott2.9draft12": "ott536234"}


def test_about(api):
    res = api.about()
    assert res["synth_id"] == "opentree_test1"
    assert res["taxonomy_version"] == "2.9draft12"
    assert res["num_source_studies"] == 2
    assert res["filtered_flags"] == ["major_rank_conflict", "viral"]
    _check_node_blob(res["root"])
    assert res["root"]["taxon"]["name"] == "Aves"
    assert res["root"]["num_tips"] == 4
    assert "source_list" not in res

    res2 = api.about(include_source_list=True)
    assert res2["source_list"] == ["pg_2044@tree4212", "ot_157@tree1"]
    assert "pg_2044@tree4212" in res2["source_id_map"]


def test_node_info(api):
    res = api.node_info(ott_id=316878, include_lineage=True)
    _check_node_blob(res)
    assert res["node_id"] == "ott316878"
    assert res["taxon"]["unique_name"] == "Gavia (genus)"
    # lineage parent-first (tree_of_life_v3.java:145-150)
    assert [b["node_id"] for b in res["lineage"]] == ["ott5839486", "ott81461"]
    # supported_by of ott5839486 pulls its sources into the source map
    assert "ot_157@tree1" in res["source_id_map"]

    with pytest.raises(BadInputError):
        api.node_info()
    with pytest.raises(BadInputError):
        api.node_info(node_id="ott316878", ott_id=316878)
    with pytest.raises(BadInputError):
        api.node_info(ott_id=99999999)


def test_mrca_named(api):
    res = api.mrca(ott_ids=[316878, 102710])
    assert res["mrca"]["node_id"] == "ott5839486"
    assert res["mrca"]["taxon"]["name"] == "Gaviiformes"
    assert "nearest_taxon" not in res


def test_mrca_unnamed_gets_nearest_taxon(api):
    res = api.mrca(ott_ids=[536234, 810751])
    assert res["mrca"]["node_id"] == "mrcaott246ott5481"
    assert "taxon" not in res["mrca"]
    assert res["nearest_taxon"]["name"] == "Aves"
    assert res["mrca"]["supported_by"] == {"pg_2044@tree4212": "node101"}
    assert "pg_2044@tree4212" in res["source_id_map"]


def test_mrca_across_clades(api):
    res = api.mrca(node_ids=["ott536234"], ott_ids=[316878])
    assert res["mrca"]["node_id"] == "ott81461"


def test_mrca_bad_ids_carries_payload(api):
    with pytest.raises(BadIdsError) as ei:
        api.mrca(ott_ids=[316878, 102710, 55555555])
    payload = ei.value.payload
    assert payload["ott_ids_not_in_tree"] == [55555555]
    assert payload["mrca"]["node_id"] == "ott5839486"


def test_subtree_newick_default_labels(api):
    res = api.subtree(ott_id=81461)
    assert res["newick"] == (
        "((Struthio_ott536234,Apteryx_ott810751),"
        "(Gavia_ott316878,Anas_ott102710)Gaviiformes_ott5839486)Aves_ott81461;"
    )
    assert res["supporting_studies"] == ["ot_157@tree1", "pg_2044@tree4212"] or res[
        "supporting_studies"
    ] == ["ot_157", "pg_2044"]


def test_subtree_include_all_node_labels(api):
    res = api.subtree(ott_id=81461, include_all_node_labels=True)
    assert "mrcaott246ott5481" in res["newick"]


def test_subtree_name_format_and_depth(api):
    res = api.subtree(ott_id=81461, label_format="name", height_limit=1)
    assert res["newick"] == "(,Gaviiformes)Aves;"
    # unnamed nodes stay unlabelled even in 'id' format unless
    # include_all_node_labels (GraphExplorer.java:677-689)
    res = api.subtree(ott_id=81461, label_format="id", height_limit=1)
    assert res["newick"] == "(,ott5839486)ott81461;"
    res = api.subtree(
        ott_id=81461, label_format="id", height_limit=1, include_all_node_labels=True
    )
    assert res["newick"] == "(mrcaott246ott5481,ott5839486)ott81461;"


def test_subtree_invalid_args(api):
    with pytest.raises(BadInputError):
        api.subtree(ott_id=81461, label_format="bogus")
    with pytest.raises(BadInputError):
        api.subtree(ott_id=81461, tree_format="bogus")


def test_arguson(api):
    res = api.subtree(ott_id=5839486, tree_format="arguson")
    arg = res["arguson"]
    _check_node_blob(arg)
    assert {c["node_id"] for c in arg["children"]} == {"ott316878", "ott102710"}
    assert [b["node_id"] for b in arg["lineage"]] == ["ott81461"]
    assert "source_id_map" in arg


def test_arguson_distributed_matches_driver(api, monkeypatch):
    """The distributed fragment path round-trips the REAL annotation maps
    (supported_by & co. via to_json → _blob_from_dict) byte-equal to the
    driver assembly, lineage and source_id_map included."""
    driver = api.subtree(ott_id=81461, tree_format="arguson")["arguson"]
    monkeypatch.setattr(topology, "FRAGMENT_TIER_EDGES", 0)  # force the fragment tier
    dist = api.subtree(ott_id=81461, tree_format="arguson")["arguson"]
    assert dist == driver
    assert dist["source_id_map"]  # real sources crossed the json boundary


def test_named_node_without_ott_id_keeps_its_name(store, monkeypatch):
    """name_and_id labels a named node that has no ott id by its bare
    name, in the driver tier, the fragment tier and induced_subtree; its
    node_info and arguson blobs answer 200 with a null taxon ott_id."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from treemachine_spark.api.server import ServerCore

    gavia = F.col("node_id") == "ott316878"
    nodes = store.nodes.withColumn("ott_id", F.when(~gavia, F.col("ott_id")))
    api = TreeOfLifeV3(replace(store, nodes=nodes))
    core = ServerCore(replace(store, nodes=nodes), cache_size=0)

    def gavia_taxa():
        status, info = core.handle("/v3/tree_of_life/node_info", {"node_id": "ott316878"})
        assert status == 200, info
        status, arg = core.handle(
            "/v3/tree_of_life/subtree", {"node_id": "ott5839486", "format": "arguson"}
        )
        assert status == 200, arg
        (child,) = [c for c in arg["arguson"]["children"] if c["node_id"] == "ott316878"]
        return info["taxon"], child["taxon"]

    want_taxon = {"name": "Gavia", "ott_id": None}
    for taxon in gavia_taxa():
        assert {f: taxon[f] for f in want_taxon} == want_taxon
    want = (
        "((Struthio_ott536234,Apteryx_ott810751),"
        "(Gavia,Anas_ott102710)Gaviiformes_ott5839486)Aves_ott81461;"
    )
    assert api.subtree(node_id="ott81461")["newick"] == want
    induced = api.induced_subtree(node_ids=["ott536234", "ott316878"])["newick"]
    assert induced == "(Gavia,Struthio_ott536234)Aves_ott81461;"
    monkeypatch.setattr(topology, "FRAGMENT_TIER_EDGES", 0)  # force the fragment tier
    assert api.subtree(node_id="ott81461")["newick"] == want
    for taxon in gavia_taxa():
        assert {f: taxon[f] for f in want_taxon} == want_taxon


def test_induced_subtree(api):
    res = api.induced_subtree(ott_ids=[536234, 810751, 316878])
    # kept internals: mrca of the two left tips + root; Gavia hangs off root
    assert res["newick"] == (
        "((Struthio_ott536234,Apteryx_ott810751)mrcaott246ott5481,"
        "Gavia_ott316878)Aves_ott81461;"
    )


def test_induced_subtree_bad_ids(api):
    with pytest.raises(BadIdsError) as ei:
        api.induced_subtree(ott_ids=[536234, 810751], node_ids=["notanode"])
    assert ei.value.payload["node_ids_not_in_tree"] == ["notanode"]
    assert "newick" in ei.value.payload

    with pytest.raises(BadInputError):
        api.induced_subtree(ott_ids=[536234])


def test_malformed_id_and_height_args_are_400(store):
    """Request arguments of the wrong type are the caller's error: the
    server answers 400 with a message, never a 500, and a bare string is
    not read as a list of one-character ids."""
    from treemachine_spark.api.server import ServerCore

    core = ServerCore(store, cache_size=0)
    for path, body in (
        ("/v3/tree_of_life/mrca", {"ott_ids": ["abc"]}),
        ("/v3/tree_of_life/mrca", {"ott_ids": [None]}),
        ("/v3/tree_of_life/mrca", {"node_ids": "ott536234"}),
        ("/v3/tree_of_life/mrca", {"ott_ids": 536234}),
        ("/v3/tree_of_life/mrca", {"node_ids": [536234]}),
        ("/v3/tree_of_life/induced_subtree", {"ott_ids": ["x", "y"]}),
        ("/v3/tree_of_life/induced_subtree", {"node_ids": "ott536234,ott810751"}),
        ("/v3/tree_of_life/node_info", {"ott_id": "abc"}),
        ("/v3/tree_of_life/subtree", {"ott_id": "abc"}),
        ("/v3/tree_of_life/subtree", {"ott_id": 81461, "height_limit": "2"}),
        ("/v3/tree_of_life/subtree",
         {"ott_id": 81461, "format": "arguson", "height_limit": "2"}),
        ("/v2/tree_of_life/mrca", {"node_ids": "123"}),
        ("/v2/tree_of_life/mrca", {"node_ids": ["abc"]}),
        ("/v2/tree_of_life/induced_tree", {"node_ids": "12"}),
        ("/v2/tree_of_life/node_info", {"node_id": "abc"}),
    ):
        status, resp = core.handle(path, body)
        assert status == 400, (path, body, status, resp)
        assert resp["message"], (path, body)
    # well-formed requests on the same core still answer
    assert core.handle("/v3/tree_of_life/mrca", {"ott_ids": [536234, 810751]})[0] == 200
    assert core.handle(
        "/v3/tree_of_life/subtree", {"ott_id": 81461, "height_limit": 1}
    )[0] == 200


def test_write_store_layout_follows_contents(store, tmp_path):
    """The same store is written as the same files, however its tables
    happen to be partitioned: per table, equal file counts and bytes."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from treemachine_spark.ingest import load_store, write_store

    def layout(s, out):
        write_store(s, str(out))
        return {
            t: sorted(f.read_bytes() for f in (out / t).rglob("*.parquet"))
            for t in ("nodes", "edges", "paths", "node_annotations", "source_map")
        }

    first = layout(store, tmp_path / "a")
    assert layout(store, tmp_path / "b") == first
    reshuffled = replace(
        store,
        # materialized: a sort right below the repartition is optimized away
        paths=store.paths.orderBy(F.desc("ancestor_id"), F.desc("node_id")).localCheckpoint(),
        edges=store.edges.repartition(3, "parent_id"),
    )
    assert layout(reshuffled, tmp_path / "c") == first
    back = load_store(store.nodes.sparkSession, str(tmp_path / "c"))
    assert back.paths.count() == store.paths.count()
    assert back.edges.count() == store.edges.count()
