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


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """The one frame over driver-held rows (ledger markers, one-row
    stats, a collected quantizer, a served query's bounded state).
    ``schema`` is a ``StructType`` or a DDL string.

    The rows are built column by column into a ``pyarrow.Table`` with
    the Arrow types of ``schema`` (each value passed through its Spark
    type's ``toInternal`` first, as the row path does), so every value
    round-trips exactly: longs above 2**53 next to a null, NaN, nested
    types, and the empty list. The frame is an exact ``LocalRelation``
    with ``schema`` as given, nullability included: a collect or a
    broadcast of it launches no Spark job, and a write of n rows makes
    min(n, defaultParallelism) files."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = []
    for i, (field, arrow_field) in enumerate(zip(schema.fields, arrow_schema)):
        values = [r[i] for r in rows]
        if field.dataType.needConversion():
            values = [field.dataType.toInternal(v) for v in values]
        columns.append(pa.array(values, type=arrow_field.type))
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register each table as a temp view for the SQL API
    (parity with the reference's duckdb ``con.register``,
    src/helpers/duckdb_queries.py:19-21)."""
    for t in tables or TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
