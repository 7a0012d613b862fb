"""Lakehouse layer sinks/readers.

The reference persists every medallion layer as a Delta table with
``mode="overwrite"`` (airflow/dags/etl.py:110-115, 134-139, 239-244 via
delta-rs). Spark-native equivalent: ``df.write.format("delta")`` when
delta-spark is on the classpath, plain parquet otherwise (this harness
container has no delta-spark — the format is resolved at runtime, and
the engine's semantics don't depend on it).

Scale notes: layer writes partition by a low-cardinality column when
given (e.g. source / date) so downstream reads prune partitions;
``maxRecordsPerFile`` caps file size skew.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_to_rag_spark.sources.dirswap import (
    recover,
    staging_path,
    swap_in,
)


# SparkContext -> whether delta-spark is on its classpath. The
# classpath cannot change within a context, and the probe costs a py4j
# round trip (plus a converted ClassNotFoundException when delta is
# absent, ~20 ms) on every read_layer/write_layer; a new context
# probes again.
_DELTA_BY_CONTEXT: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _delta_available(spark: SparkSession) -> bool:
    sc = spark.sparkContext
    found = _DELTA_BY_CONTEXT.get(sc)
    if found is None:
        try:
            # py4j resolves attribute chains lazily, so probe the
            # actual classloader instead of touching spark._jvm.io...
            spark._jvm.java.lang.Class.forName("io.delta.tables.DeltaTable")
            found = True
        except Exception:
            found = False
        _DELTA_BY_CONTEXT[sc] = found
    return found


def write_layer(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    fmt: str | None = None,
) -> str:
    """Write a medallion layer; returns the format used."""
    fmt = fmt or ("delta" if _delta_available(df.sparkSession) else "parquet")
    w = df.write.format(fmt).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)
    return fmt


def read_layer(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    fmt = fmt or ("delta" if _delta_available(spark) else "parquet")
    return spark.read.format(fmt).load(path)


def upsert_by_key(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    fmt: str | None = None,
) -> str:
    """Keyed upsert into a layer — the incrementality the reference
    lacks (it full-overwrites every run, etl.py:113/137/242; SURVEY.md
    §4.1 names Delta MERGE as the fix).

    With delta-spark present this is a real `MERGE INTO` (file-level
    rewrite of only touched files). The parquet fallback reads the
    existing layer, anti-joins away rows whose key is being replaced,
    unions the updates, and publishes the result with
    ``sources.dirswap.swap_in`` (after ``recover`` repairs any earlier
    interrupted swap) — a full rewrite, correct but O(layer); the
    docstring-level contract (same keys in → replaced, new keys in →
    appended) is identical, so callers are delta-ready.
    """
    import os

    recover(path)
    fmt = fmt or ("delta" if _delta_available(spark) else "parquet")
    if fmt == "delta":
        from delta.tables import DeltaTable  # type: ignore

        target = DeltaTable.forPath(spark, path)
        cond = " AND ".join(f"t.{k} = u.{k}" for k in key_cols)
        (
            target.alias("t")
            .merge(updates.alias("u"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return fmt

    if not os.path.exists(path):
        updates.write.format(fmt).save(path)
        return fmt
    existing = spark.read.format(fmt).load(path)
    keys = updates.select(*key_cols).distinct()
    kept = existing.join(keys, key_cols, "left_anti")
    merged = kept.unionByName(updates)
    tmp = staging_path(path)
    merged.write.format(fmt).save(tmp)
    swap_in(tmp, path)
    return fmt


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) on its join
    key — the shuffle-free co-located join path for repeated big⋈big
    joins (fact tables joined every run shuffle ONCE at write time,
    never again at read time). Both sides of a join bucketed on the
    same key with the same bucket count join with zero Exchange; with
    sort_cols the SortMergeJoin also skips its Sort.

    Bucketing requires the table catalog (`saveAsTable`); the files
    land in the session's warehouse dir.
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def write_sorted(
    df: DataFrame,
    path: str,
    by_cols: list[str],
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Range-cluster a layer on its dominant filter columns before
    writing — the parquet data-skipping layout.

    ``repartitionByRange`` range-partitions rows across ``n_files``
    writers and ``sortWithinPartitions`` orders rows inside each file,
    so every file (and every row group within it) covers a narrow,
    non-overlapping min/max band of ``by_cols``. A reader filtering on
    those columns then prunes whole row groups from the footer stats
    (PushedFilters + parquet column-index) instead of scanning — at
    100 TB a time-range query over a ts-clustered events table reads
    only the files whose band intersects the predicate.

    Single-column clustering is plain range sort; for two columns the
    leading column dominates (lexicographic) — the right trade when
    filters are hierarchical (e.g. date, then user). Equal-width
    multi-dim skipping (Z-order) only pays when filters hit either
    column independently.
    """
    (
        df.repartitionByRange(n_files, *by_cols)
        .sortWithinPartitions(*by_cols)
        .write.mode(mode)
        .parquet(path)
    )


def _spread_bits16(col):
    """Spread the low 16 bits of ``col`` so bit i lands at position 2i
    (the classic mask-shift interleave, 4 steps) — pure JVM bitwise
    expressions, whole-stage-codegen'd."""
    from pyspark.sql import functions as F

    x = col.bitwiseAND(F.lit(0xFFFF))
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
    return x


def zorder_key(col_a, col_b, a_min, a_max, b_min, b_max):
    """Z-order (Morton) key of two numeric columns: each is scaled to a
    16-bit rank over its [min, max] range, then the bits interleave.
    Locality property: rows close in BOTH dimensions get close keys,
    so range-clustering on the key gives row-group skipping for
    predicates on EITHER column (a lexicographic sort only skips on
    its leading column)."""
    from pyspark.sql import functions as F

    def rank16(c, lo, hi):
        span = float(hi - lo) or 1.0
        return F.least(
            F.lit(65535),
            F.greatest(
                F.lit(0),
                ((c.cast("double") - F.lit(float(lo))) / F.lit(span) * 65535).cast("long"),
            ),
        )

    return _spread_bits16(rank16(col_a, a_min, a_max)).bitwiseOR(
        F.shiftleft(_spread_bits16(rank16(col_b, b_min, b_max)), 1)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Two-dimensional clustered write: range-partition + sort on the
    Morton key of (col_a, col_b), so parquet footer min/max stats on
    BOTH columns are narrow per row group. The one extra cost over
    ``write_sorted`` is a min/max aggregation to scale the dims (at
    100 TB: read from table stats instead). Delta/Iceberg OPTIMIZE
    ZORDER is this exact layout produced by a rewrite job."""
    from pyspark.sql import functions as F

    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).collect()[0]
    key = zorder_key(F.col(col_a), F.col(col_b), lo_a, hi_a, lo_b, hi_b)
    (
        df.withColumn("_zkey", key)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )


def compact_layer(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    fmt: str | None = None,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Small-file compaction: rewrite a layer into ``target_files``
    files (default: one per ``target_file_bytes`` of input, min 1)
    with an atomic directory swap (``sources.dirswap``).
    Streaming/incremental sinks accrete many small files; scans then pay per-file open cost and tiny row groups
    defeat pruning — periodic compaction is the standard fix. Uses
    coalesce (no shuffle) since output count only shrinks. Returns
    the file count written.

    NOT safe on IVF index layouts: this swaps the layer ROOT (which
    would drop the ``_centroids`` quantizer and the streaming sink's
    ``_ledger``) and flattens any partition directories. Use
    ``operators.similarity.compact_ivf_index`` for those.
    """
    import math
    import pathlib

    recover(path)
    fmt = fmt or ("delta" if _delta_available(spark) else "parquet")
    df = spark.read.format(fmt).load(path)
    if target_files is None:
        size = sum(
            f.stat().st_size
            for f in pathlib.Path(path).rglob("*")
            if f.is_file()
        )
        target_files = max(1, math.ceil(size / target_file_bytes))
    tmp = staging_path(path)
    # coalesce narrows without a shuffle; growing the file count (re-
    # splitting an over-compacted layer) genuinely needs repartition
    parts = df.rdd.getNumPartitions()
    sized = (
        df.coalesce(target_files)
        if target_files <= parts
        else df.repartition(target_files)
    )
    sized.write.format(fmt).mode("overwrite").save(tmp)
    swap_in(tmp, path)
    n = len(
        [
            f
            for f in pathlib.Path(path).rglob("*" + fmt)
            if f.is_file()
        ]
    )
    return n


def read_layer_merged(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: merge the schemas of all parquet files
    under the layer (columns added by later writers appear as NULL in
    older rows) — the read-side half of additive schema evolution
    without a table format."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits_per_col: int = 8,
    fmt: str | None = None,
) -> str:
    """Z-order clustered write: interleave the bits of each column's
    rank-bucket into a Morton key, range-partition + sort the data by
    it, and write — so EVERY listed column has a bounded value range
    per output file and parquet min/max row-group stats prune scans
    filtered on ANY of them (single-column sorting only prunes its own
    column). This is Delta OPTIMIZE ZORDER BY re-expressed as plain
    DataFrame ops: quantile bucket -> bit-interleave ->
    repartitionByRange + sortWithinPartitions.

    Relationship to ``write_zordered`` below: that one scales values
    linearly over [min, max] (pure JVM bit-spread, zero extra passes —
    right for uniform-ish columns); THIS one buckets by approximate
    quantiles, which survives skewed distributions and low-cardinality
    columns (where min-max scaling parks most rows in a few codes, and
    collapsed buckets here are spread back across the full bit range —
    the footer-stats test pins that property on a 15-value column).

    Rank-bucketing (not raw bit-slicing) makes the curve robust to
    skewed value distributions; ties share a bucket, which only
    relaxes pruning, never breaks correctness. Buckets come from
    ``approxQuantile`` boundaries (Greenwald-Khanna, distributed, one
    pass, driver holds only 2^bits-1 cut points) — NOT a global
    rank window, which would funnel the corpus through one task.
    """
    fmt = fmt or ("delta" if _delta_available(df.sparkSession) else "parquet")
    n_buckets = 1 << bits_per_col
    probs = [i / n_buckets for i in range(1, n_buckets)]
    zcols = []
    for c in cols:
        bounds = sorted(set(df.approxQuantile(c, probs, 0.001)))
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        # bucket = #boundaries <= value (codegen'd array filter). A
        # low-cardinality column collapses to len(bounds)+1 < 2^bits
        # buckets; SPREAD them across the full bit range, otherwise
        # their high Morton bits are constant zero and the interleave
        # degenerates to a sort on the other columns alone.
        bucket = F.size(
            F.filter(arr, lambda x: x <= F.col(c).cast("double"))
        ).cast("long")
        spread = n_buckets // (len(bounds) + 1)
        if spread > 1:
            bucket = bucket * F.lit(spread)
        zcols.append(bucket)
    # interleave: bit b of column i lands at position b*len(cols)+i
    z = F.lit(0).cast("long")
    for b in range(bits_per_col):
        for i, bucket in enumerate(zcols):
            z = z + F.shiftleft(
                F.shiftright(bucket, b).bitwiseAND(F.lit(1)),
                b * len(cols) + i,
            )
    keyed = df.withColumn("_zorder", z)
    (
        keyed.repartitionByRange(n_files, "_zorder")
        .sortWithinPartitions("_zorder")
        .drop("_zorder")
        .write.format(fmt)
        .save(path)
    )
    return fmt
