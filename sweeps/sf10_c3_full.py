"""c3_node_heights at sf10, FULL-COVERAGE value tier (VERDICT r11 #5).

The r7/r11 sampled twin (since deleted) compared ~150 hash-sampled
nodes exactly. This
sweep graduates c3 to a FULL-coverage value sign: BOTH engines compute
every node's height (~62M at sf10) and reduce it to a per-stratum
fingerprint — COUNT(*), SUM(height_micro), and an order-insensitive
weighted hash-sum SUM((h32(node_id) % 1000003) * height_micro %
1000000007) — compared exactly. Every node's (id, height) pair
contributes to the fingerprint, so a single wrong height or a single
swapped assignment flips a stratum row; only 5 rows cross the engine
boundary, which sidesteps the comparator's ~5M-row value-compare bound
(the measured reason the raw 62M-row compare is infeasible — a 293M-row
value compare OOMed at 76 GB driver RSS in r7).

Integer-overflow audit (the x15/x16 BIGINT-end-to-end policy):
height_micro <= depth(5) * max_w(999) < 5000; per-row term
(h32 % 1000003) * height_micro < 5e9 fits BIGINT, and the post-mod sum
over 62M rows < 6.2e16 << 2^63. DuckDB SUM(BIGINT) returns HUGEINT —
CAST back (CLAUDE.md invariant).

Run: cd /root/repo && python sweeps/sf10_c3_full.py | tee /tmp/sweep_c3_full.log
"""

from __future__ import annotations

from common import (
    EDGES_SQL,
    PATHS_SQL,
    SF10,
    _W,
    compare_rows,
    duck_con,
    get_spark,
    h32_sql,
    stage,
)

FP_MOD = 1_000_000_007
H_MOD = 1_000_003


def main() -> None:
    from pyspark.sql import functions as F

    from treemachine_spark.functions.hashing import h32
    from treemachine_spark.workload.queries import QUERIES

    con = duck_con()
    con.execute("SET temp_directory='/tmp/duck_tmp_c3'")

    with stage("duckdb: materialize closure (r7 recipe)"):
        con.execute(EDGES_SQL)
        con.execute(PATHS_SQL)
        con.execute(
            "CREATE TABLE parents_mat AS SELECT DISTINCT parent_id FROM edges_mat"
        )
        n = con.sql("SELECT COUNT(*) FROM paths_mat").fetchone()[0]
        print(f"  paths_mat rows: {n}", flush=True)

    with stage("duckdb: FULL heights -> stratum fingerprint"):
        # pre(node) for EVERY node: ancestor-weight sum over the closure
        # plus the self row (same algebra as the c3 oracle's ps/pre CTEs,
        # workload/oracles.py c3_node_heights)
        con.execute(
            "CREATE TABLE allnodes AS "
            "SELECT DISTINCT child_id AS node_id FROM edges_mat "
            "UNION SELECT 'root'"
        )
        con.execute(
            "CREATE TABLE pre_n AS "
            "SELECT p.node_id, CAST(SUM(" + _W + ") AS BIGINT) AS pre "
            "FROM (SELECT node_id, ancestor_id FROM paths_mat "
            "      UNION ALL SELECT node_id, node_id FROM allnodes) "
            "      p(node_id, ancestor_id) "
            "GROUP BY p.node_id"
        )
        con.execute(
            "CREATE TABLE tips AS "
            "SELECT a.node_id FROM allnodes a "
            "LEFT JOIN parents_mat pp ON a.node_id = pp.parent_id "
            "WHERE pp.parent_id IS NULL"
        )
        rel = con.sql(
            f"""
            WITH heights AS (
                SELECT m.node_id,
                       CAST(m.mx - pr.pre AS BIGINT) AS height_micro
                FROM (
                    SELECT ps.ancestor_id AS node_id, MAX(pn.pre) AS mx
                    FROM (SELECT ancestor_id, node_id FROM paths_mat
                          UNION ALL SELECT node_id, node_id FROM allnodes)
                          ps(ancestor_id, node_id)
                    JOIN tips t ON ps.node_id = t.node_id
                    JOIN pre_n pn ON ps.node_id = pn.node_id
                    GROUP BY ps.ancestor_id
                ) m
                JOIN pre_n pr ON m.node_id = pr.node_id
            )
            SELECT substr(node_id, 1, 1) AS stratum,
                   COUNT(*) AS n_nodes,
                   CAST(SUM(height_micro) AS BIGINT) AS sum_height,
                   CAST(SUM(({h32_sql('node_id')} % {H_MOD})
                            * height_micro % {FP_MOD}) AS BIGINT)
                       AS hash_fp
            FROM heights
            GROUP BY stratum
            ORDER BY stratum
            """
        )
        dcols = list(rel.columns)
        drows = rel.fetchall()
        print(f"  oracle strata: {drows}", flush=True)

    spark = get_spark("sweep-c3-full")
    spark.sparkContext.setLogLevel("ERROR")

    with stage("spark: full c3 gate -> identical fingerprint"):
        full = QUERIES["c3_node_heights"](spark, SF10)
        srows = (
            full.groupBy(F.substring("node_id", 1, 1).alias("stratum"))
            .agg(
                F.count(F.lit(1)).alias("n_nodes"),
                F.sum("height_micro").alias("sum_height"),
                F.sum(
                    F.pmod(h32(F.col("node_id")), F.lit(H_MOD))
                    * F.col("height_micro")
                    % F.lit(FP_MOD)
                ).alias("hash_fp"),
            )
            .orderBy("stratum")
            .collect()
        )
        print(f"  spark strata: {srows}", flush=True)

    ok, msg = compare_rows(
        srows, drows, ["stratum", "n_nodes", "sum_height", "hash_fp"], dcols
    )
    print(f"RESULT c3_full_sf10 ok={ok} {msg}", flush=True)
    if not ok:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
