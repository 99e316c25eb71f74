"""v7_semantic_dedup at sf10, FULL-COVERAGE membership tier (VERDICT r11 #5).

The r11 sampled tier compared exact pair rows in ~40 hash-sampled cells;
the full pair COUNT was printed from Spark but never cross-checked. This
sweep graduates v7 to a full-coverage MEMBERSHIP sign at the scale-correct
k=450 (SemDeDup's k ~ sqrt(n)): both engines enumerate EVERY surviving
in-cell pair (cos >= 0.4, quantized integer vectors) and reduce the pair
SET to a per-cell-bucket fingerprint — pair count + an order-insensitive
hash-sum over (id_a, id_b) — compared exactly. Every pair's identity
contributes; a single missing/extra/mis-celled pair flips its bucket.

The cos VALUE stays out of the fingerprint deliberately: 4dp-rounded
cosines sit on 1-ulp knife edges across engines at scale (the CLAUDE.md
quantize-to-integer lesson — a pre-rounded DOUBLE was NOT enough at
sf10), and pair values were exact-compared in the r11 sampled-cell
tier (since deleted). Membership itself uses the rounded >= 0.4
test both sides; a boundary flip would surface as a visible 1-pair
count diff, not silent corruption.

Run: cd /root/repo && python sweeps/sf10_v7_full.py | tee /tmp/sweep_v7_full.log
"""

from __future__ import annotations

from common import (
    N_CENT,
    SF10,
    _ASSIGN_CTE,
    _QCOS,
    compare_rows,
    duck_con,
    get_spark,
    h32_sql,
    stage,
)

FP_MOD = 1_000_000_007
N_BUCKETS = 64  # fingerprint granularity: cent_id % 64 buckets


def main() -> None:
    from pyspark.sql import functions as F

    from treemachine_spark.functions import similarity
    from treemachine_spark.functions.hashing import h32
    from treemachine_spark.io.tables import load_tables

    con = duck_con()
    con.execute("SET temp_directory='/tmp/duck_tmp_v7'")

    with stage(f"duckdb: FULL in-cell pair membership at k={N_CENT} -> fingerprint"):
        rel = con.sql(
            _ASSIGN_CTE
            + f"""
            , am AS (
                SELECT g.vec_id, g.cent_id, b.v
                FROM asg g JOIN base b USING (vec_id)
            ),
            pairs AS (
                SELECT a.cent_id, a.vec_id AS id_a, b.vec_id AS id_b
                FROM am a JOIN am b
                  ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
                WHERE {_QCOS} >= 0.4
            )
            SELECT cent_id % {N_BUCKETS} AS bucket,
                   COUNT(*) AS n_pairs,
                   CAST(SUM(({h32_sql('CAST(id_a AS VARCHAR)')} * 31
                             + {h32_sql('CAST(id_b AS VARCHAR)')})
                            % {FP_MOD}) AS BIGINT) AS hash_fp
            FROM pairs
            GROUP BY bucket
            ORDER BY bucket
            """
        )
        dcols = list(rel.columns)
        drows = rel.fetchall()
        total = sum(r[1] for r in drows)
        print(f"  oracle buckets: {len(drows)}, total pairs: {total}", flush=True)

    spark = get_spark("sweep-v7-full")
    spark.sparkContext.setLogLevel("ERROR")

    with stage(f"spark: FULL v7 pairs at k={N_CENT} -> identical fingerprint"):
        emb = load_tables(spark, SF10)["embeddings"]
        pairs = similarity.semantic_dedup_pairs(
            emb, threshold=0.4, n_centroids=N_CENT
        )
        srows = (
            pairs.groupBy((F.col("cent_id") % N_BUCKETS).alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum(
                    (
                        h32(F.col("id_a").cast("string")) * 31
                        + h32(F.col("id_b").cast("string"))
                    )
                    % F.lit(FP_MOD)
                ).alias("hash_fp"),
            )
            .orderBy("bucket")
            .collect()
        )
        stotal = sum(r["n_pairs"] for r in srows)
        print(f"  spark buckets: {len(srows)}, total pairs: {stotal}", flush=True)

    ok, msg = compare_rows(srows, drows, ["bucket", "n_pairs", "hash_fp"], dcols)
    print(f"RESULT v7_full_sf10 ok={ok} {msg} (total pairs={total})", flush=True)
    if not ok:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
