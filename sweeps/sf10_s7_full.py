"""s7_sessionize_stream at sf10, FULL-COVERAGE membership tier (r13;
graduates the r7 sampled sweep on the c3/v7/d7 pattern).

The r7 sampled tier (since deleted) signed the FULL closed-session count
plus exact values for ~1/1000 users; this sweep makes EVERY session's
identity load-bearing: the REAL applyInPandasWithState stream
(read_event_stream -> sessionize(open_tail="never") -> run_to_memory,
sweep-sized await) and the DuckDB window-function oracle both reduce the
complete closed-session set to a per-bucket fingerprint — session count +
an order-insensitive hash-sum over (user_id, epoch_us(session_start),
epoch_us(session_end), n_events) — compared exactly. One missing, extra,
mis-bounded, or mis-counted session flips its bucket.

``total_value`` (a ROUND()ed per-session double) stays OUT of the
fingerprint deliberately: across ~millions of sessions a single knife-edge
rounding boundary would flip the hash (the CLAUDE.md quantize lesson);
per-session values were exact-compared in the r7 sampled tier. Session
IDENTITY is all-integer (epoch microseconds, counts) — engine-safe.

Run: cd /root/repo && python sweeps/sf10_s7_full.py | tee /tmp/sweep_s7_full.log
(SWEEP_SF_DIR=/root/testdata/sf0.1 smokes the recipe at the small decade.)
"""

from __future__ import annotations

from common import SF10, compare_rows, duck_con, get_spark, h32_sql, stage

FP_MOD = 1_000_000_007
N_BUCKETS = 64

_ORACLE_FP = """
WITH gapped AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN epoch_us(ts) - COALESCE(
                    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0)
                > 1800000000 THEN 1 ELSE 0 END AS new_session
    FROM events
),
sessions AS (
    SELECT *, SUM(new_session) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
    FROM gapped
),
agg AS (
    SELECT user_id, session_no,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS INTEGER) AS n_events,
           MAX(session_no) OVER (PARTITION BY user_id) AS max_no
    FROM sessions GROUP BY user_id, session_no
),
closed AS (
    SELECT user_id, session_start, session_end, n_events
    FROM agg WHERE session_no < max_no
)
SELECT user_id % {nb} AS bucket,
       COUNT(*) AS n_sessions,
       CAST(SUM({h} % {fp}) AS BIGINT) AS hash_fp
FROM closed
GROUP BY bucket
ORDER BY bucket
"""

_KEY_SQL = (
    "CAST(user_id AS VARCHAR) || '|' || CAST(epoch_us(session_start) AS VARCHAR)"
    " || '|' || CAST(epoch_us(session_end) AS VARCHAR)"
    " || '|' || CAST(n_events AS VARCHAR)"
)


def main() -> None:
    from pyspark.sql import functions as F

    from treemachine_spark.functions.hashing import h32
    from treemachine_spark.streaming import events as se

    con = duck_con()
    # window-sorting ~all events per-user spills under the 24GB cap —
    # keep the spill OFF the repo volume (the t15 CWD/.tmp incident)
    con.execute("SET temp_directory='/tmp/duck_tmp_s7'")

    with stage("duckdb: FULL closed-session set -> fingerprint"):
        rel = con.sql(
            _ORACLE_FP.format(nb=N_BUCKETS, fp=FP_MOD, h=h32_sql(_KEY_SQL))
        )
        dcols = list(rel.columns)
        drows = rel.fetchall()
        total = sum(r[1] for r in drows)
        print(f"  oracle buckets: {len(drows)}, total sessions: {total}", flush=True)

    spark = get_spark("sweep-s7-full")
    spark.sparkContext.setLogLevel("ERROR")

    with stage("spark: REAL sessionize stream -> identical fingerprint"):
        stream = se.read_event_stream(spark, SF10)
        out = se.run_to_memory(
            se.sessionize(stream, open_tail="never"),
            "sweep_s7_full_sessions",
            shuffle_partitions=32,
            await_seconds=3600,
        )
        key = F.concat_ws(
            "|",
            F.col("user_id").cast("string"),
            F.unix_micros("session_start").cast("string"),
            F.unix_micros("session_end").cast("string"),
            F.col("n_events").cast("string"),
        )
        srows = (
            out.groupBy((F.col("user_id") % N_BUCKETS).alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_sessions"),
                F.sum(h32(key) % F.lit(FP_MOD)).alias("hash_fp"),
            )
            .orderBy("bucket")
            .collect()
        )
        stotal = sum(r["n_sessions"] for r in srows)
        print(f"  spark buckets: {len(srows)}, total sessions: {stotal}", flush=True)

    ok, msg = compare_rows(srows, drows, ["bucket", "n_sessions", "hash_fp"], dcols)
    print(f"RESULT s7_full_sf10 ok={ok} {msg} (total sessions={total})", flush=True)
    if not ok:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
