"""End-to-end medallion pipeline over the harness `documents` table.

The reference pipeline's corpus is scraped web pages keyed by ``url``;
the harness corpus is ``documents.parquet`` (doc_id, text, lang,
source, n_chars). ``documents_as_raw`` adapts the latter to the raw
shape (url/source/title/content) so bronze→silver→gold run unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_to_rag_spark.operators.bronze import bronze_transform
from lakehouse_to_rag_spark.operators.gold import gold_transform
from lakehouse_to_rag_spark.operators.silver import silver_transform
from lakehouse_to_rag_spark.session import concurrently
from lakehouse_to_rag_spark.sources.tables import load_table

# Fixed timestamp for deterministic pipeline runs (oracle comparison).
DETERMINISTIC_TS = "2025-01-01 00:00:00"


def documents_as_raw(docs: DataFrame) -> DataFrame:
    """documents(doc_id,text,lang,source,n_chars) -> raw(url,source,title,content)."""
    return docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.col("source"),
        F.concat(F.lit("doc "), F.col("doc_id").cast("string")).alias("title"),
        F.col("text").alias("content"),
        F.col("doc_id"),
        F.col("lang"),
    )


def run_medallion(
    spark: SparkSession,
    sf_dir: str,
    deterministic: bool = True,
    min_content_length: int = 50,
) -> dict[str, DataFrame]:
    """Load documents and run bronze→silver→gold; returns all layers."""
    ts = DETERMINISTIC_TS if deterministic else None
    raw = documents_as_raw(load_table(spark, sf_dir, "documents"))
    bronze = bronze_transform(
        raw,
        id_cols=("url", "source", "title", "doc_id", "lang"),
        processed_at=ts,
    )
    silver = silver_transform(
        bronze,
        key_col="url",
        # processed_at is constant within a run; doc_id makes the
        # W1 tie-break deterministic (SURVEY.md §5.2).
        order_cols=("processed_at", "doc_id"),
        min_content_length=min_content_length,
        silver_processed_at=ts,
    )
    gold = gold_transform(silver, with_index=True)
    return {"raw": raw, "bronze": bronze, "silver": silver, "gold": gold}


def run_medallion_incremental(
    spark: SparkSession,
    raw_batches: list[DataFrame],
    state_dir: str,
    deterministic: bool = True,
    min_content_length: int = 50,
) -> dict[str, DataFrame]:
    """URL-keyed MAINTAINED-mode medallion — the reference's documented
    intent (re-crawled pages keyed by url, airflow/dags/etl.py:179-198)
    without its overwrite-every-run anti-pattern (etl.py:113/137/242):
    each raw batch is transformed alone, then merged into persistent
    bronze/silver/gold layers under ``state_dir`` by key —
    ``upsert_by_key`` (Delta MERGE when available), never a full
    overwrite of the corpus.

    Semantics twin: with the deterministic timestamp, the overwrite
    pipeline's per-url W1 keeps the FIRST row per url — and the
    reference ranks BEFORE the length filter (etl.py:146-204), so a
    url whose first crawl fails the filter yields nothing even if a
    later crawl would pass. The maintained form reproduces exactly
    that by keying admission on the BRONZE layer (every non-empty url
    ever seen — one left-anti join against bronze's column-pruned url
    column, computed before the batch's own bronze upsert; the
    ``incremental_dedup_fps`` pattern with url as the key), not on
    silver. Feeding a corpus as batches whose per-url first arrival
    is also its W1 winner (e.g. disjoint urls, or ascending doc_id)
    produces layers ROW-FOR-ROW equal to one ``run_medallion`` over
    the union — equality-tested in tests/test_pipeline.py,
    gate-checked by the ``medallion_incremental`` entry (which also
    feeds a re-crawl batch whose urls must all be rejected).

    Scale shape: per-batch cost is O(batch) transform + one
    column-pruned anti-join scan of bronze's key column + the upsert
    (file-level rewrite under Delta; the parquet fallback is an
    O(layer) rewrite published by ``sources.dirswap.swap_in``, see
    ``upsert_by_key``). Bronze upserts by the unique raw key (doc_id)
    so a replayed batch lands exactly once; silver/gold upserts are
    naturally idempotent because admission makes every written key
    first-seen. A batch whose admissions come up EMPTY (a pure
    re-crawl wave) skips the silver/gold upserts outright (r14, guide
    §1.2: an upsert of zero rows rewrote the layers for nothing); its
    bronze upsert still lands LAST as the commit marker, so the crash
    contract is unchanged. The admission count
    rides the one materialization the batch already paid (the lazy
    checkpoint's first action IS the count job).
    """
    import os

    from lakehouse_to_rag_spark.sources.lakehouse import (
        read_layer,
        upsert_by_key,
    )

    ts = DETERMINISTIC_TS if deterministic else None
    paths = {k: f"{state_dir}/{k}" for k in ("bronze", "silver", "gold")}
    for raw_b in raw_batches:
        bronze_b = bronze_transform(
            raw_b,
            id_cols=("url", "source", "title", "doc_id", "lang"),
            processed_at=ts,
        )
        # first batch: no bronze dir, or one that lists no data entry
        # (every name ``_``/``.``-prefixed) and no ``_delta_log`` (a
        # delta layer does hold data). Reading a missing layer fails
        # analysis, and Spark's query listeners log that failure at
        # ERROR.
        names = (
            os.listdir(paths["bronze"])
            if os.path.isdir(paths["bronze"]) else []
        )
        first = "_delta_log" not in names and all(
            n.startswith(("_", ".")) for n in names
        )
        seen = (
            None if first
            else read_layer(spark, paths["bronze"]).select("url").distinct()
        )
        silver_b = silver_transform(
            bronze_b,
            key_col="url",
            order_cols=("processed_at", "doc_id"),
            min_content_length=min_content_length,
            silver_processed_at=ts,
        )
        fresh = (
            silver_b if seen is None
            else silver_b.join(seen, "url", "left_anti")
        )
        # materialize admissions BEFORE the upserts swap the layer
        # directories the anti-join was computed against; the count
        # rides the materialization job (lazy checkpoint + count =
        # the same one job the eager checkpoint ran)
        fresh = fresh.localCheckpoint(eager=False)
        n_admitted = fresh.count()

        # the skip only applies to layers that already exist — a
        # zero-admission FIRST batch still creates them (whatever the
        # writer does with an empty frame is the pre-skip behavior)
        if n_admitted or not (
            os.path.exists(paths["silver"]) and os.path.exists(paths["gold"])
        ):
            gold_b = gold_transform(fresh, with_index=True)
            # silver and gold upserts overlap (r13 optimization round,
            # guide §2.6): they write DISJOINT directories, both derive
            # from the materialized `fresh` (no recompute), and the crash
            # contract is unchanged — each is idempotent by first-seen key
            # and a url only becomes admitted when the bronze upsert below
            # lands, so a crash with either (or both) half-written replays
            # cleanly regardless of which finished first. Only bronze's
            # LAST position is load-bearing. Measured at sf0.1: the
            # 4-batch maintained run 7.0 s -> 5.8 s warm (the second
            # upsert's tasks back-fill the first's write/commit tail).
            concurrently(
                spark,
                lambda: upsert_by_key(spark, paths["silver"], fresh, ["url"]),
                lambda: upsert_by_key(
                    spark, paths["gold"], gold_b, ["url", "chunk_index"]
                ),
            )
        # bronze upserts LAST: admission keys on bronze, so a url only
        # becomes "seen" once its whole turn committed. A crash between
        # any two upserts replays cleanly — silver/gold upserts are
        # idempotent by key, and the half-written batch's urls are
        # still un-admitted until this line lands. Bronze-FIRST had the
        # inverse window: a crash after bronze made the batch's urls
        # seen with their silver/gold rows permanently lost
        # (crash-replay tested in tests/test_pipeline.py).
        upsert_by_key(spark, paths["bronze"], bronze_b, ["doc_id"])
    return {k: read_layer(spark, p) for k, p in paths.items()}


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Change-data-feed emission between two snapshots — the diff a
    MERGE/CDF-less lakehouse computes by hand: full outer join on the
    key, each row classified ``insert`` (key only in new), ``delete``
    (only in old), ``update`` (both sides, any compare column
    differs, NULL-safe), or ``unchanged``. This is the generic
    building block for incremental downstream refresh (ship only
    insert/update/delete rows) and snapshot reconciliation/audit.

    Scale shape: ONE shuffle per side on the key (the full outer
    join); classification is a map over the joined row — no windows,
    no collect. NULL-safe comparison via the <=> operator so a NULL
    -> value transition classifies as update, not unchanged. Returns
    key_cols + change_type + old_/new_ prefixed compare columns."""
    from pyspark.sql import functions as F

    o = old.select(
        *key_cols,
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *key_cols,
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
        F.lit(True).alias("_in_new"),
    )
    joined = o.join(n, key_cols, "full_outer")
    # lit(False) seed: an empty compare_cols list is a legitimate
    # keys-only presence diff (insert/delete/unchanged, never update)
    # — a None seed made F.when raise at plan-build time (ADVICE r9)
    differs = F.lit(False)
    for c in compare_cols:
        d = ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        differs = differs | d
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("insert"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .when(differs, F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        *key_cols,
        change.alias("change_type"),
        *[f"old_{c}" for c in compare_cols],
        *[f"new_{c}" for c in compare_cols],
    )
