"""t15_deepest_exemplified at sf10 — FULL value tier (r8 gate sign-off).

The t15 result is request-scale (6 rows) at every SF, so the sf10 sweep
compares FULL values. The DuckDB side keeps the gate oracle's LITERAL
tip-set-intersection semantics but stages it from the TIP side: the
registered SQL materializes every candidate ancestor's full tip set
(xct), and at sf10 the root candidate alone owns ~60M tips — the un-
staged CTE spilled past the 30 GB temp cap (measured). A common tip of
candidate x and matched j is by definition in tipset(j), so blocked(x,j)
is exactly "some tip of j has x as an ancestor-or-self": enumerating the
matched nodes' tips (a few thousand rows) and joining their ancestor
chains is the SAME set intersection with no corpus-scale intermediate.
The registered oracle itself stays the cross-check at the gate's own
SFs (sf0.001/0.01, every pytest + driver run); this staging is compared
against it at sf0.01 before the sf10 run (STAGE_CHECK in __main__).

The Spark side runs the gate query unchanged (ctx ingest at sf10
included, as in the r7 a1 sweep) — the tree-comparability recipe vs the
BitSet semantics, cross-checked on a 293M-row closure.

Run: cd /root/repo && python sweeps/sf10_t15.py | tee /tmp/sweep_t15.log
"""

from __future__ import annotations

import os

from common import (
    EDGES_SQL, PATHS_SQL, SF10, compare_rows, duck_con, get_spark, stage,
)


# literal tip-set semantics, staged: every table below is request-scale
# except lv_mat (the leaf set, one anti-join pass) and the two paths_mat
# streams (hash joins against request-scale build sides).
_STAGED = [
    # leaves
    """CREATE TABLE lv_mat AS
       SELECT DISTINCT child_id AS node_id FROM edges_mat e
       WHERE NOT EXISTS (SELECT 1 FROM edges_mat p WHERE p.parent_id = e.child_id)""",
    # matched set (identical derivation to the registered oracle)
    """CREATE TABLE matched_mat AS
       SELECT 'c' || CAST(MIN(c_custkey) AS VARCHAR) AS m, c_nationkey
       FROM customer
       WHERE c_custkey IN (SELECT DISTINCT o_custkey FROM orders)
       GROUP BY c_nationkey ORDER BY c_nationkey LIMIT 6""",
    # candidate ancestors of matched nodes, self included
    """CREATE TABLE cand_mat AS
       SELECT p.node_id AS m, p.ancestor_id AS cand, p.depth
       FROM (SELECT node_id, ancestor_id, depth FROM paths_mat
             UNION ALL SELECT m, m, 0 FROM matched_mat) p
       JOIN matched_mat ON p.node_id = matched_mat.m""",
    # each matched node's tip set (its mrca array) — self row kept for
    # fidelity with the registered oracle's pself (a matched leaf is its
    # own tip)
    """CREATE TABLE xmt_mat AS
       SELECT p.ancestor_id AS mj, p.node_id AS tip
       FROM (SELECT node_id, ancestor_id FROM paths_mat
             UNION ALL SELECT m, m FROM matched_mat) p
       JOIN matched_mat ON p.ancestor_id = matched_mat.m
       JOIN lv_mat l ON p.node_id = l.node_id""",
    # ancestor-or-self chains of exactly those tips
    """CREATE TABLE tipanc_mat AS
       SELECT p.node_id AS tip, p.ancestor_id AS anc
       FROM paths_mat p JOIN (SELECT DISTINCT tip FROM xmt_mat) x
         ON p.node_id = x.tip
       UNION ALL SELECT DISTINCT tip, tip FROM xmt_mat""",
]

_FINAL = """
WITH blocked AS (  -- BitSet.intersects(candidate, matched j), tip-side
    SELECT DISTINCT t.anc AS cand, x.mj
    FROM xmt_mat x JOIN tipanc_mat t ON t.tip = x.tip
    WHERE t.anc IN (SELECT DISTINCT cand FROM cand_mat)
),
ub AS (
    SELECT c.m, c.cand, c.depth FROM cand_mat c
    WHERE NOT EXISTS (
        SELECT 1 FROM blocked b WHERE b.cand = c.cand AND b.mj <> c.m
    )
),
best AS (
    SELECT m, arg_max(cand, depth) AS remap_id, MAX(depth) AS d
    FROM ub GROUP BY m
)
SELECT matched_mat.m AS node_id,
       COALESCE(best.remap_id, matched_mat.m) AS remap_id,
       CAST(COALESCE(best.d, 0) AS INTEGER) AS remap_depth
FROM matched_mat LEFT JOIN best ON matched_mat.m = best.m
"""


def staged_oracle(con):
    for sql in _STAGED:
        con.execute(sql)
    rel = con.sql(_FINAL)
    return list(rel.columns), rel.fetchall()


def main() -> None:
    from treemachine_spark.workload.oracles import ORACLES
    from treemachine_spark.workload.queries import QUERIES

    con = duck_con()
    with stage("duckdb: materialize closure (r7 recipe)"):
        con.execute(EDGES_SQL)
        con.execute(PATHS_SQL)
        n = con.sql("SELECT COUNT(*) FROM paths_mat").fetchone()[0]
        print(f"  paths_mat rows: {n}", flush=True)

    with stage("duckdb: t15 staged tip-set oracle"):
        dcols, drows = staged_oracle(con)
        print(f"  oracle rows: {sorted(drows)}", flush=True)

    if os.environ.get("STAGE_CHECK"):
        with stage("duckdb: registered-oracle drift check (small SF only)"):
            reg = con.sql(ORACLES["t15_deepest_exemplified"]).fetchall()
            assert sorted(reg) == sorted(drows), (reg, drows)
            print("  staged == registered", flush=True)

    spark = get_spark("sweep-t15")
    spark.sparkContext.setLogLevel("ERROR")
    with stage("spark: t15 gate query at sf10 (incl. ctx ingest)"):
        srows = QUERIES["t15_deepest_exemplified"](spark, SF10).collect()
        print(f"  spark rows: {sorted(tuple(r) for r in srows)}", flush=True)

    ok, msg = compare_rows(
        srows, drows, ["node_id", "remap_id", "remap_depth"], dcols
    )
    print(f"RESULT t15_full_sf10 ok={ok} {msg}", flush=True)
    if not ok:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
