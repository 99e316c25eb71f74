"""Shared harness for the sf10 SAMPLED-KEY value sweeps (VERDICT r7 #4).

The r7 full-surface sf10 sweep left seven gates capped: four because the
DuckDB oracle blows its recursion/spill budget recomputing the FULL result
(c3 d4 d5 d6), one because the gate wrapper's 120 s streaming await is too
small for a 100M-event stateful shuffle (s7), two box-bound (v6 disk,
v7 harness budget). The sampled-key tier closes the oracle-bound five
WITHOUT weakening the Spark side: Spark computes the FULL sf10 result
exactly as the gate does; only the cross-engine comparison restricts to a
deterministic md5-hash key sample, which lets the DuckDB oracle prune its
own work to the sampled keys' neighborhoods (a semi-join prune, never an
approximation — sampled values are compared EXACTLY, and the full row
count is compared where the oracle can count cheaply).

Sample membership is md5-derived on both engines (functions/hashing.h32 ==
('0x' || substr(md5(x), 1, 8))::BIGINT), so the two engines always pick
the same keys with no coordination.

All the r7 sweep guards apply (see .claude/skills/verify/SKILL.md):
DuckDB memory_limit/max_temp_directory_size caps, rows-only past ~5M
compared rows (not needed here — samples are small by construction),
run from /root/repo, tee output to a file.
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections import Counter

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF10 = os.environ.get("SWEEP_SF_DIR", "/tmp/sf10")

TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def get_spark(app: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[32]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "48g")
        # the d4/d5 exact-jaccard join streams ~2.5B pair-shingle rows
        # into the per-pair aggregate at sf10 (every shingle is shared by
        # the ~100-replica cluster) — its agg spill is ~60-80 GB under
        # lz4, past this box's ~75 GB usable /tmp. zstd halves it at a
        # few % CPU; on a real cluster this is simply shuffle across
        # executors' disks
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def duck_con(sf_dir: str = SF10):
    """DuckDB connection with the r7 sweep caps: a runaway oracle must
    ERROR (recorded as capped), never OOM-kill the process or fill the
    volume under a concurrent Spark job."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET memory_limit='24GB'")
    con.execute("SET max_temp_directory_size='30GB'")
    con.execute("SET threads=16")
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


# sample membership: md5-derived 32-bit hash mod K == 0 (engine-agnostic)
def h32_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 8))::BIGINT"


def sampled_sql(expr: str, k: int) -> str:
    return f"{h32_sql(expr)} % {k} = 0"


def sampled_col(col, k: int):
    from pyspark.sql import functions as F

    from treemachine_spark.functions.hashing import h32

    return F.pmod(h32(col.cast("string")), F.lit(k)) == 0


def _norm(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return v


def compare_rows(spark_rows, duck_rows, scols, dcols) -> tuple[bool, str]:
    """Order-insensitive multiset compare on name-sorted columns (the
    driver comparator's semantics, tests/oracle_check.py)."""
    if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
        return False, f"column mismatch: {sorted(scols)} vs {sorted(dcols)}"
    if len(spark_rows) != len(duck_rows):
        return False, f"row count mismatch: spark={len(spark_rows)} oracle={len(duck_rows)}"
    s_order = sorted(range(len(scols)), key=lambda i: scols[i].lower())
    d_order = sorted(range(len(dcols)), key=lambda i: dcols[i].lower())
    s_ms = Counter(tuple(_norm(r[i]) for i in s_order) for r in spark_rows)
    d_ms = Counter(tuple(_norm(r[i]) for i in d_order) for r in duck_rows)
    if s_ms != d_ms:
        only_s = list((s_ms - d_ms).items())[:3]
        only_d = list((d_ms - s_ms).items())[:3]
        return False, f"value mismatch: spark-only={only_s} oracle-only={only_d}"
    return True, f"ok ({len(duck_rows)} rows)"


class stage:
    """Timed, flushed progress marker (sweep logs are tail -f'd)."""

    def __init__(self, name: str):
        self.name = name

    def __enter__(self):
        self.t0 = time.time()
        print(f"[{time.strftime('%H:%M:%S')}] {self.name} ...", flush=True)
        return self

    def __exit__(self, *exc):
        print(
            f"[{time.strftime('%H:%M:%S')}] {self.name} done "
            f"({time.time() - self.t0:.1f}s)",
            flush=True,
        )


# --- closure materialization shared by the sf10 tree sweeps (c3, t15):
# the recursive closure is computed ONCE into paths_mat (the r7 recipe)
EDGES_SQL = """
CREATE TABLE edges_mat AS
WITH edges_raw(child_id, parent_id) AS (
    SELECT 'r' || CAST(r_regionkey AS VARCHAR), 'root' FROM region
    UNION ALL
    SELECT 'n' || CAST(n_nationkey AS VARCHAR), 'r' || CAST(n_regionkey AS VARCHAR) FROM nation
    UNION ALL
    SELECT 'c' || CAST(c_custkey AS VARCHAR), 'n' || CAST(c_nationkey AS VARCHAR) FROM customer
    UNION ALL
    SELECT 'o' || CAST(o_orderkey AS VARCHAR), 'c' || CAST(o_custkey AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'l' || CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR),
           'o' || CAST(l_orderkey AS VARCHAR) FROM lineitem
)
SELECT DISTINCT child_id, parent_id FROM edges_raw
"""

PATHS_SQL = """
CREATE TABLE paths_mat AS
WITH RECURSIVE paths(node_id, ancestor_id, depth) AS (
    SELECT child_id, parent_id, 1 FROM edges_mat
    UNION ALL
    SELECT p.node_id, e.parent_id, p.depth + 1
    FROM paths p JOIN edges_mat e ON p.ancestor_id = e.child_id
)
SELECT * FROM paths
"""

# w(ancestor) inlined (node_w excludes root -> 0): identical algebra to the
# full oracle's LEFT JOIN node_w
_W = (
    "CASE WHEN p.ancestor_id = 'root' THEN 0 "
    f"ELSE {h32_sql('p.ancestor_id')} % 900 + 100 END"
)


# --- v7 semantic-dedup cell assignment at the scale-correct k ~ sqrt(n)
N_CENT = int(os.environ.get("SWEEP_CELLS", "450"))  # ~sqrt(200k)

_QUANT = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))"
_QCOS = (
    "ROUND(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) "
    "* sqrt(list_dot_product(b.v, b.v))), 4)"
)

# assignment via two narrow hash aggregations, NOT a row_number window:
# the window would sort the n x k cross join WITH the 64-double vector
# in every row (~50 GB spill at 200k x 450 — it blew the temp cap on
# the first pass). Scoring keeps only (vec_id, cent_id, integer dot) in
# flight; MAX then MIN-on-ties reproduces centroid_assign's
# (max score, min cent_id) tie-break exactly (quantized dots are
# integer-valued, so the BIGINT cast is lossless).
_ASSIGN_CTE = f"""
WITH base AS (SELECT vec_id, {_QUANT} AS v FROM embeddings),
cent AS (SELECT vec_id AS cent_id, v AS cvec FROM base ORDER BY vec_id LIMIT {N_CENT}),
scored AS (
    SELECT b.vec_id, c.cent_id,
           CAST(list_dot_product(b.v, c.cvec) AS BIGINT) AS s
    FROM base b CROSS JOIN cent c
),
mx AS (SELECT vec_id, MAX(s) AS ms FROM scored GROUP BY vec_id),
asg AS (
    SELECT s.vec_id, MIN(s.cent_id) AS cent_id
    FROM scored s JOIN mx ON s.vec_id = mx.vec_id AND s.s = mx.ms
    GROUP BY s.vec_id
)
"""
