"""Parquet table loading for the driver-provided synthetic tables.

Replaces the reference's Neo4j store layer (opentree/GraphBase.java:60-118,
graph open/close) with immutable columnar snapshots: Spark's vectorized
parquet reader gives predicate pushdown + column pruning for free, which is
the rebuild's substitute for the reference's Lucene exact indexes
(opentree/GraphBase.java:431-448).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_NANO_TS_COLS = {"ts", "o_orderdate", "l_shipdate"}

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def rebuild_ts_cols(df: DataFrame) -> DataFrame:
    """Make timestamp columns unit-agnostic: the driver owns the testdata and
    its timestamp physical type can change between rounds (TIMESTAMP(NANOS)
    one round, native timestamp[us] the next) — always sniff, never assume.

    Under ``spark.sql.legacy.parquet.nanosAsLong=true`` a TIMESTAMP(NANOS)
    column reads back as BIGINT nanoseconds; rebuild a naive-UTC
    timestamp_ntz so values match DuckDB's read of the same file. Columns
    that already read as timestamp/timestamp_ntz (native micros) pass
    through untouched.
    """
    for field in df.schema.fields:
        if field.name in _NANO_TS_COLS and field.dataType.simpleString() == "bigint":
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"`{field.name}` div 1000")).cast(
                    "timestamp_ntz"
                ),
            )
    return df


def row_count(df: DataFrame) -> int:
    """Rows in ``df`` for a size-gated tier pick. A fully materialized
    cache or a local relation already carries its exact row count in the
    optimized plan's statistics, read here without a Spark job; any other
    input is counted. The plan is a fresh ``select("*")`` because a
    Dataset memoizes its optimized plan, whose statistics predate a later
    cache fill; only those two plan roots are trusted (a limit's count is
    an upper bound, scans and derived frames carry none)."""
    plan = df.select("*")._jdf.queryExecution().optimizedPlan()
    if plan.nodeName() in ("InMemoryRelation", "LocalRelation"):
        rows = plan.stats().rowCount()
        if rows.isDefined():
            return int(str(rows.get()))
    return df.count()


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every synthetic table under ``sf_dir`` as a DataFrame.

    Plain ``spark.read.parquet`` — filters/projections applied by callers are
    pushed down into the scan by Catalyst (PushedFilters / ReadSchema), so at
    100 TB a point lookup touches only matching row groups.

    The legacy nanosAsLong conf makes TIMESTAMP(NANOS) testdata readable
    (harmless for native-micros testdata); rebuild_ts_cols then normalizes
    whichever unit actually arrived. Set per-call so it also applies under
    the driver-owned SparkSession.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def _load(name: str) -> DataFrame:
        return rebuild_ts_cols(
            spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        )

    # footer/schema reads are independent driver-side I/O — run them
    # concurrently (Py4J releases the GIL during JVM calls)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(TABLE_NAMES)) as pool:
        dfs = list(pool.map(_load, TABLE_NAMES))
    tables = dict(zip(TABLE_NAMES, dfs))
    prefix = os.environ.get("TREEMACHINE_BUCKETED_FACTS")
    if prefix:
        tables = _with_bucketed_facts(spark, sf_dir, prefix, tables)
    return tables


# one validation per (session, sf_dir, prefix) — the tripwire counts are
# metadata-cheap but load_tables runs per query construction
_BUCKETED_VALIDATED: set[tuple[int, str, str]] = set()


def _with_bucketed_facts(
    spark: SparkSession, sf_dir: str, prefix: str, tables: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Serve the fact tables from an order-key co-bucketed warehouse layout
    when one is installed (VERDICT r14 #3 — the measured q3/q5 sf10 remedy).

    Opt-in via ``TREEMACHINE_BUCKETED_FACTS=<prefix>``: a production ingest
    writes ``<prefix>_lineitem`` / ``<prefix>_orders`` once with
    ``operators/scale.write_bucketed`` (bucketed+sorted on the order key),
    and every subsequent order-keyed fact⋈fact join, group-by and the
    hierarchy's lineitem dedup/closure join consume the bucket layout
    Exchange-free (bench_bucketed.py measures the real gates both ways).
    The driver's bench never sets the env var, so its parquet methodology
    is untouched; with the layout PRESENT the row SET is identical by
    construction (same rows, different physical order), which only the
    already-order-insensitive aggregates observe.

    Stale-layout tripwire: schema and row count must match the parquet
    inputs or this RAISES — a layout that drifted from the source must
    fail loud, never silently serve different data.
    """
    names = {"lineitem": f"{prefix}_lineitem", "orders": f"{prefix}_orders"}
    if not all(spark.catalog.tableExists(t) for t in names.values()):
        return tables  # layout not installed -> the parquet default
    key = (
        id(spark._jsparkSession) if hasattr(spark, "_jsparkSession") else id(spark),
        sf_dir,
        prefix,
    )
    for logical, table in names.items():
        bdf = spark.table(table)
        if key not in _BUCKETED_VALIDATED:
            # names+types only — nullability flags legitimately differ
            # between a parquet scan and a saved catalog table
            if bdf.dtypes != tables[logical].dtypes:
                raise ValueError(
                    f"bucketed layout {table} schema {bdf.dtypes} does not "
                    f"match {sf_dir}/{logical}.parquet "
                    f"{tables[logical].dtypes} — stale layout?"
                )
            expect, got = tables[logical].count(), bdf.count()
            if expect != got:
                raise ValueError(
                    f"bucketed layout {table} has {got} rows vs {expect} in "
                    f"{sf_dir}/{logical}.parquet — stale layout, refusing to serve"
                )
        tables[logical] = bdf
    _BUCKETED_VALIDATED.add(key)
    return tables
