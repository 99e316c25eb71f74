"""T2/T6 size gate: the driver-side fast path and the pure join+agg scale
path must AGREE, and the scale path must handle tip sets far beyond the
reference's ~160-id request cap (>=50k tips) without literal IN-list plans
or driver-side coverage dicts (VERDICT r3 #1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, SF_SMOKE
from treemachine_spark.graph import traversal as T
from treemachine_spark.graph.hierarchy import ROOT_ID
from treemachine_spark.workload.queries import get_ctx


@pytest.fixture(scope="module")
def ctx(spark):
    return get_ctx(spark, SF_SMOKE)


@pytest.fixture(scope="module")
def big_ctx(spark):
    return get_ctx(spark, SF_CORRECT)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _tier(monkeypatch, tier: str, fn, *args, **kwargs):
    """Rows of ``fn`` on the "driver" or "joined" tier, forced through the
    size gate ``T.DRIVER_PATH_MAX_TIPS``."""
    monkeypatch.setattr(T, "DRIVER_PATH_MAX_TIPS", 10**9 if tier == "driver" else 0)
    return _rows(fn(*args, **kwargs))


def _mrca_raw(monkeypatch, ctx, tips):
    """The driver tier over the RAW closure (``paths=`` + ``root_id=``),
    the form api.v3 serves mrca through: self rows are synthesized for
    tips the scan proves valid, and for the root, which has no rows."""
    return _tier(
        monkeypatch, "driver", T.mrca, ctx["paths_self"], list(tips),
        paths=ctx["paths"], root_id=ROOT_ID,
    )


def test_mrca_paths_agree_small(spark, ctx, monkeypatch):
    tips = list(ctx["induced_tips"])
    fast = _tier(monkeypatch, "driver", T.mrca, ctx["paths_self"], tips)
    joined = _tier(monkeypatch, "joined", T.mrca, ctx["paths_self"], tips)
    assert fast == joined == _mrca_raw(monkeypatch, ctx, tips)
    assert len(fast) == 1


def test_induced_paths_agree_small(spark, ctx, monkeypatch):
    tips = list(ctx["induced_tips"])
    fast = _tier(monkeypatch, "driver", T.induced_subtree, ctx["paths_self"], tips)
    joined = _tier(monkeypatch, "joined", T.induced_subtree, ctx["paths_self"], tips)
    assert fast == joined


def test_mrca_joined_tip_is_own_ancestor(spark, ctx, monkeypatch):
    # a tip that is the ancestor of the rest must win (depth-0 self paths)
    reg = (
        ctx["edges"].where(F.col("child_id") == "n3").select("parent_id").first()[0]
    )
    for tips, want in (
        (["n3", reg], [(reg, 1)]),
        # the root as a tip: it has no closure rows of its own
        (["n3", ROOT_ID], [(ROOT_ID, 0)]),
    ):
        fast = _tier(monkeypatch, "driver", T.mrca, ctx["paths_self"], tips)
        joined = _tier(monkeypatch, "joined", T.mrca, ctx["paths_self"], tips)
        raw = _mrca_raw(monkeypatch, ctx, tips)
        assert fast == joined == raw == want, tips


def test_mrca_joined_disjoint_trees_empty(spark, ctx, monkeypatch):
    # ids that share no ancestor -> empty result on both paths
    tips = ["n3", "no_such_node"]
    assert _tier(monkeypatch, "joined", T.mrca, ctx["paths_self"], tips) == []
    assert _mrca_raw(monkeypatch, ctx, tips) == []


@pytest.mark.slow
def test_mrca_50k_tips_join_path(spark):
    """>=50k tips through the DEFAULT gate (join path). sf0.01 only has
    ~46k leaves, so build the closure once at sf0.1 (lighter than get_ctx:
    no dedup index) — all ~600k lineitem tips -> MRCA is the root."""
    from treemachine_spark.graph.closure import with_self_paths
    from treemachine_spark.graph.hierarchy import hierarchy_artifacts
    from treemachine_spark.io.tables import load_tables

    tables = load_tables(spark, "/root/testdata/sf0.1")
    nodes, edges, paths = hierarchy_artifacts(tables)
    paths = paths.repartition(32, "node_id").cache()
    paths_self = with_self_paths(paths, nodes)
    tips = T.leaf_set(edges).where(F.col("node_id").startswith("l")).cache()
    n = tips.count()
    assert n >= 50_000, f"need >=50k tips for the scale test, got {n}"
    got = T.mrca(paths_self, tips)  # default threshold -> join path
    assert _rows(got) == [("root", 0)]
    # a proper subset under one region resolves below the root
    r0_tips = (
        paths.where(F.col("ancestor_id") == "r0")
        .join(tips, "node_id", "left_semi")
        .select("node_id")
    )
    assert r0_tips.count() > T.DRIVER_PATH_MAX_TIPS
    assert _rows(T.mrca(paths_self, r0_tips)) == [("r0", 1)]
    paths.unpersist()
    tips.unpersist()


def test_induced_10k_tips_join_path_properties(spark, big_ctx, monkeypatch):
    """Induced subtree over every tip under one region (>5k tips, join
    path): every tip appears as a child, every parent is a kept internal,
    and the result equals the driver path run on the same set."""
    paths_self = big_ctx["paths_self"]
    r1_tips = (
        big_ctx["paths"]
        .where(F.col("ancestor_id") == "r1")
        .join(big_ctx["leaves"], "node_id", "left_semi")
        .select("node_id")
    )
    n = r1_tips.count()
    assert n > T.DRIVER_PATH_MAX_TIPS
    joined = T.induced_subtree(paths_self, r1_tips)  # default -> join path
    jrows = _rows(joined)
    # every tip except the induced root has a parent edge
    children = {c for c, _ in jrows}
    tip_ids = {r["node_id"] for r in r1_tips.collect()}
    assert tip_ids <= children
    # agreement with the driver-side recipe on the identical set
    fast = _tier(monkeypatch, "driver", T.induced_subtree, paths_self, sorted(tip_ids))
    assert jrows == fast
