"""Port of the reference's ws-tests suite (SURVEY.md §5): each test mirrors
a ws-tests/test_*.py script, run against the fixture-ingested API with the
check.py combinators from blob_checks.py."""

from __future__ import annotations

from pathlib import Path

import pytest

from tests import blob_checks as C
from treemachine_spark.api.errors import BadIdsError, BadInputError
from treemachine_spark.api.v3 import TreeOfLifeV3
from treemachine_spark.ingest import ingest_synthesis_data

FIX = Path(__file__).parent / "fixtures"


@pytest.fixture(scope="module")
def api(spark):
    store = ingest_synthesis_data(
        spark,
        str(FIX / "labelled_supertree.tre"),
        str(FIX / "annotations.json"),
        str(FIX / "taxonomy.tsv"),
    )
    return TreeOfLifeV3(store)


def _assert_ok(ok: bool):
    assert ok, "; ".join(C.ERRORS)


@pytest.fixture(autouse=True)
def _clean_errors():
    C.reset_errors()
    yield


# ws-tests/test_about.py ------------------------------------------------------

check_about = C.check_blob(
    [
        C.field("synth_id", C.check_string),
        C.field("date_created", C.check_string),
        C.field("taxonomy_version", C.check_string),
        C.field("filtered_flags", C.check_list(C.check_string)),
        C.field("root", C.check_node_blob),
        C.field("num_source_studies", C.check_integer),
        C.field("num_source_trees", C.check_integer),
        C.opt_field("source_list", C.check_list(C.check_source_id)),
        C.opt_field("source_id_map", C.check_source_id_map),
    ]
)


def test_about_shape(api):
    _assert_ok(check_about(api.about(), "about"))


def test_about_with_sources(api):
    res = api.about(include_source_list=True)
    _assert_ok(check_about(res, "about+sources"))
    assert set(res["source_list"]) <= set(res["source_id_map"])


# ws-tests/test_node_info.py (3 id forms ± lineage) --------------------------

check_node_info = C.check_blob(
    C.node_blob_fields
    + [
        C.field("source_id_map", C.check_source_id_map),
        C.opt_field("lineage", C.check_list(C.check_lineage_blob)),
    ]
)


def test_node_info_by_ott_id(api):
    _assert_ok(check_node_info(api.node_info(ott_id=81461), "node_info/ott"))


def test_node_info_by_taxon_node_id(api):
    _assert_ok(check_node_info(api.node_info(node_id="ott316878"), "node_info/node"))


def test_node_info_by_mrca_node_id(api):
    _assert_ok(
        check_node_info(api.node_info(node_id="mrcaott246ott5481"), "node_info/mrca-id")
    )


def test_node_info_lineage(api):
    res = api.node_info(ott_id=316878, include_lineage=True)
    _assert_ok(check_node_info(res, "node_info+lineage"))
    assert len(res["lineage"]) == 2


# ws-tests/test_mrca.py + test_mrca_400.py -----------------------------------

check_mrca = C.check_blob(
    [
        C.field("mrca", C.check_node_blob),
        C.opt_field("nearest_taxon", C.check_taxon_blob),
        C.field("source_id_map", C.check_source_id_map),
        C.opt_field("ott_ids_not_in_tree", C.check_list(C.check_integer)),
        C.opt_field("node_ids_not_in_tree", C.check_list(C.check_string)),
    ]
)


def test_mrca_shape(api):
    _assert_ok(check_mrca(api.mrca(ott_ids=[3504 + 532730, 810751]), "mrca"))


def test_mrca_nearest_taxon_present_iff_unnamed(api):
    res = api.mrca(ott_ids=[536234, 810751])
    _assert_ok(check_mrca(res, "mrca-unnamed"))
    assert "taxon" not in res["mrca"] and "nearest_taxon" in res


def test_mrca_400_carries_payload(api):
    with pytest.raises(BadIdsError) as ei:
        api.mrca(ott_ids=[536234, 99999999])
    _assert_ok(check_mrca(ei.value.payload, "mrca-400"))
    assert ei.value.payload["ott_ids_not_in_tree"] == [99999999]


# ws-tests/test_subtree.py ----------------------------------------------------

check_subtree = C.check_blob(
    [
        C.field("newick", C.check_string),
        C.field("supporting_studies", C.check_list(C.check_string)),
        C.opt_field("ott_ids_not_in_tree", C.check_list(C.check_integer)),
        C.opt_field("node_ids_not_in_tree", C.check_list(C.check_string)),
    ]
)


def test_subtree_default_hides_mrca_labels(api):
    res = api.subtree(ott_id=81461)
    _assert_ok(check_subtree(res, "subtree"))
    assert "mrcaott" not in res["newick"]  # ws-tests/test_subtree.py:16-21


def test_subtree_include_all_node_labels_flips(api):
    res = api.subtree(ott_id=81461, include_all_node_labels=True)
    assert "mrcaott" in res["newick"]  # ws-tests/test_subtree.py:22-27


def test_subtree_arguson_height_limit(api):
    res = api.subtree(ott_id=81461, tree_format="arguson", height_limit=3)
    _assert_ok(C.check_top_arguson_blob(res["arguson"], "arguson"))


# ws-tests/test_induced_subtree.py -------------------------------------------


def test_induced_subtree_good_ids(api):
    res = api.induced_subtree(ott_ids=[536234, 810751, 316878])
    _assert_ok(check_subtree(res, "induced"))


def test_induced_subtree_bad_ids_400(api):
    # ids not in tree -> 400 with partial payload (ws-tests:13-17)
    with pytest.raises(BadIdsError) as ei:
        api.induced_subtree(ott_ids=[536234, 810751, 99999999])
    _assert_ok(check_subtree(ei.value.payload, "induced-400"))


def test_induced_subtree_too_few(api):
    with pytest.raises(BadInputError):
        api.induced_subtree(ott_ids=[536234, 99999999])



# ws-tests source_tree parity (tree_of_life_v3.java:822-907) -----------------


@pytest.fixture()
def source_base(tmp_path):
    """Local files layout mirroring files.opentreeoflife.org/preprocessed:
    {base}/v{version}/trees/{study}_{tree}.tre (version = synth_id minus the
    'opentree' prefix; fixture synth_id is 'opentree_test1')."""
    trees = tmp_path / "v_test1" / "trees"
    trees.mkdir(parents=True)
    # second line must be ignored — the reference does a single readLine()
    (trees / "pg_2044_tree4212.tre").write_text("((a,b),c);\nIGNORED SECOND LINE\n")
    return str(tmp_path)


check_source_tree = C.check_blob(
    [C.field("newick", C.check_string), C.field("synth_id", C.check_string)]
)


def test_source_tree_local(api, source_base):
    res = api.source_tree("pg_2044", "tree4212", source_base=source_base)
    _assert_ok(check_source_tree(res, "source_tree"))
    assert res == {"newick": "((a,b),c);", "synth_id": "opentree_test1"}


def test_source_tree_url_branch(api, source_base):
    # file:// exercises the urllib code path the HTTP deployment uses
    res = api.source_tree("pg_2044", "tree4212", source_base=f"file://{source_base}")
    assert res["newick"] == "((a,b),c);"


def test_source_tree_format_ignored(api, source_base):
    # the reference accepts a `format` arg and never validates it
    res = api.source_tree("pg_2044", "tree4212", format="newick", source_base=source_base)
    assert res["newick"] == "((a,b),c);"


def test_source_tree_bad_id_400(api, source_base):
    with pytest.raises(BadInputError, match="Invalid source id 'pg_999_tree9' provided."):
        api.source_tree("pg_999", "tree9", source_base=source_base)
