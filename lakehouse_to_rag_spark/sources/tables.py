"""Parquet table catalog over a scale-factor directory.

Harness data layout (TESTDATA.md): ``{sf_dir}/{table}.parquet`` for the
TPC-H-ish star schema plus ``events``, ``documents``, ``embeddings``.

All reads are lazy ``spark.read.parquet`` — Catalyst pushes filters and
column pruning into the scan (check ``PushedFilters`` / ``ReadSchema``
in ``.explain("formatted")``), which is the load-bearing property at
100 TB: a query touching 2 of 11 lineitem columns must read 2 columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_to_rag_spark.session import tune

TABLES = [
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

# Columns stored as parquet TIMESTAMP(NANOS) — Spark has no native
# nanos timestamp; read them as long (legacy conf) and floor-divide to
# micros, which is exactly DuckDB's ns->us truncation on read.
_NANOS_TS_COLS = {"events": ("ts",)}

# Analyzed-plan cache. ``spark.read.parquet`` costs ~200 ms per call
# (driver-side footer read + py4j round trips) — with queries touching
# up to 6 tables and the correctness gate running ~100 queries, that
# fixed cost dominates small-SF latency. DataFrames are immutable
# logical plans, so reusing one per (application, sf_dir, table) is
# safe; the testdata directories are read-only by contract (TESTDATA.md).
_DF_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_NPARTS_CACHE: dict[tuple[str, str, str], int] = {}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool = False
) -> DataFrame:
    """Lazy parquet scan of one catalog table (plan-cached per session).

    ``parallelize=True`` round-robin-repartitions the scan up to the
    session's default parallelism — needed because the harness tables
    are single-row-group files (1 scan task) while the downstream
    operator does per-row CPU work (regex, shingling, chunking). It is
    a no-op-by-design question at 100 TB: real tables have thousands
    of splits, and the guard below skips the shuffle whenever the scan
    already yields enough partitions.
    """
    tune(spark)
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _DF_CACHE.get(key)
    if df is None:
        nanos_cols = _NANOS_TS_COLS.get(name, ())
        if nanos_cols:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        for c in nanos_cols:
            if dict(df.dtypes).get(c) == "bigint":
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        # Defense in depth: the harness regenerates testdata per round
        # with varying parquet timestamp encodings (nanos-as-int96 in
        # round 1, unadjusted micros in round 2). tune() already maps
        # unadjusted micros to TIMESTAMP via inferTimestampNTZ=false;
        # if that conf is static on some build, cast any survivor NTZ
        # column here (exact under the pinned UTC session tz).
        for c, t in df.dtypes:
            if t == "timestamp_ntz":
                df = df.withColumn(c, F.col(c).cast("timestamp"))
        _DF_CACHE[key] = df
    if parallelize:
        df = maybe_parallelize(df, _cache_key=key)
    return df


def maybe_parallelize(
    df: DataFrame,
    min_parts: int | None = None,
    _cache_key: tuple[str, str, str] | None = None,
) -> DataFrame:
    """Repartition iff the plan currently has fewer partitions than the
    session parallelism (cheap check; avoids pointless shuffles on
    already-wide inputs). ``df.rdd`` forces plan translation (~100 ms),
    so the partition count is memoized for catalog tables."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    nparts = _NPARTS_CACHE.get(_cache_key) if _cache_key else None
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
        if _cache_key:
            _NPARTS_CACHE[_cache_key] = nparts
    if nparts >= target:
        return df
    return df.repartition(target)


def tiny_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``createDataFrame`` for DRIVER-BOUNDED tiny row lists (ledger
    markers, one-row stats, bounded collected results) without the
    default fan-out (r13 optimization round): a bare
    ``createDataFrame(rows)`` parallelizes into defaultParallelism
    pickled slices, so any downstream single-task consumer — a
    ``coalesce(1)`` write being the worst case — iterates every slice
    through its own Python-worker round-trip (measured: a ONE-ROW
    ``coalesce(1)`` parquet write cost 4.5 s at 32 slices vs 0.26 s at
    one slice; even the plain 32-slice write/count pays ~0.5 s of
    parallel worker spin-up for zero parallelism benefit). One slice
    is the right layout for data that is tiny BY CONTRACT; anything
    unbounded keeps the default path.

    The one rule between this and ``local_df``: rows that Spark jobs
    write or join take ``tiny_df`` (one slice, one task, one file);
    rows that are collected or broadcast — where a job per action is
    the whole cost — take ``local_df``."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """A driver-LOCAL frame for driver-bounded rows (a collected
    quantizer, a footer-read manifest): built through pandas + Arrow,
    it plans as a ``LocalRelation``, so ``collect()`` and a broadcast
    of it launch no Spark job (``tiny_df``'s ``LogicalRDD`` launches
    one per action; see ``tiny_df`` for which to use). A write of it
    fans out to up to defaultParallelism files — ``coalesce(1)`` a
    single-file write."""
    import pandas as pd

    pdf = pd.DataFrame([tuple(r) for r in rows], columns=schema.names)
    return spark.createDataFrame(pdf, schema)


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register each table as a temp view for the SQL API
    (parity with the reference's duckdb ``con.register``,
    src/helpers/duckdb_queries.py:19-21)."""
    for t in tables or TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
