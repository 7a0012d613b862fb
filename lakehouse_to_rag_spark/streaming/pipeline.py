"""Incremental (Structured Streaming) medallion pipeline.

The reference is batch-only (SURVEY.md §2.11: schedule_interval=None,
full overwrite per run — etl.py:256, 113/137/242). This module is the
idiomatic Spark upgrade: the same pure transforms applied to a
``readStream`` source, so new raw objects flow to bronze/silver/gold
continuously instead of re-processing the corpus per run.

Semantics per stage:
- bronze: stateless projection+filter — identical expression to batch.
- silver: normalization is stateless; per-key dedup becomes
  ``withWatermark + dropDuplicates([key])`` — keeps the FIRST arrival
  per key (the batch W1 keeps earliest processed_at, which for a
  stream IS arrival order), with state bounded by the watermark.
- gold: stateless chunk fan-out (same pandas_udf).
- rollups: watermarked tumbling windows; late rows beyond the
  watermark are dropped deterministically.

State-store sizing at 100 TB: dedup state is O(distinct keys within
the watermark window), not O(stream) — the watermark is the knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_to_rag_spark.functions.chunker import chunks_udf
from lakehouse_to_rag_spark.functions.text import normalize_text
from lakehouse_to_rag_spark.sources.raw_json import raw_schema


def stream_raw_json(
    spark: SparkSession,
    path_glob: str,
    selector_fields: list[str] | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of raw scraped JSON objects (the streaming
    twin of sources.raw_json.read_raw_json)."""
    reader = spark.readStream.schema(raw_schema(selector_fields))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.json(path_glob)
    return df.withColumn(
        "source", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )


def bronze_stream(raw: DataFrame, content_col: str = "content") -> DataFrame:
    """Stateless bronze: trim + non-empty filter + ingest timestamp."""
    cleaned = F.trim(F.col(content_col))
    return raw.filter(
        F.col(content_col).isNotNull() & (F.length(cleaned) > 0)
    ).select(
        "url",
        "source",
        "title",
        cleaned.alias("content"),
        F.current_timestamp().alias("processed_at"),
        F.length(cleaned).alias("content_length"),
    )


def silver_stream_dedup(
    bronze: DataFrame,
    key_col: str = "url",
    min_content_length: int = 50,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming silver: normalize + first-arrival dedup per key with
    watermark-bounded state."""
    return (
        bronze.withColumn("content", normalize_text("content"))
        .filter(F.length("content") > min_content_length)
        .withColumn("content_length", F.length("content"))
        .withWatermark("processed_at", watermark_delay)
        .dropDuplicates([key_col])
    )


def gold_stream(silver: DataFrame, chunk_size: int = 200, chunk_overlap: int = 10) -> DataFrame:
    """Stateless gold: recursive chunk fan-out with chunk index."""
    arr = chunks_udf(chunk_size, chunk_overlap)(F.col("content"))
    return silver.select("*", F.posexplode_outer(arr).alias("chunk_index", "chunk"))


def hourly_rollup_stream(
    events: DataFrame,
    ts_col: str = "ts",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window rollup — the incremental twin of
    operators.events.hourly_rollup."""
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def enrich_stream_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream–static enrichment join: every micro-batch joins against
    the (batch) dimension table with NO state store — the static side
    is re-resolved per micro-batch, so an updated dim file is picked
    up on the next trigger. This is the standard lookup-enrichment
    shape (event stream ⋈ user/product dim) and the streaming twin of
    a broadcast dim join: Spark plans the static side as a broadcast
    build when it fits, no watermark needed because no stream-stream
    state is kept."""
    return stream.join(dim, on=on, how=how)


def click_purchase_attribution_stream(
    events: DataFrame,
    watermark_delay: str = "2 hours",
    attribution_window: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join: each purchase matched
    to the same user's clicks in the preceding attribution window.

    Both sides carry a watermark plus the time-range predicate, so
    Spark bounds the join state on each side (clicks older than
    watermark + window are dropped from state). Inner join — matched
    rows emit as soon as both sides arrive; no end-of-stream
    withholding. The batch twin is the same join on static frames
    (tests assert exact equality).
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark_delay)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark_delay)
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {attribution_window}")
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        F.round("purchase_value", 4).alias("purchase_value"),
    )


def silver_stream_dedup_within_watermark(
    bronze: DataFrame,
    key_col: str = "url",
    min_content_length: int = 50,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming silver dedup via ``dropDuplicatesWithinWatermark``:
    unlike plain dropDuplicates (which keys state forever unless the
    event-time column is part of the key), this guarantees state
    eviction once the watermark passes each key's first arrival —
    the right default for unbounded keyspaces (URLs at 100 TB).
    Duplicates arriving within the watermark window are dropped;
    re-arrivals after eviction are treated as new (at-least-once
    dedup, bounded state)."""
    return (
        bronze.withColumn("content", normalize_text("content"))
        .filter(F.length("content") > min_content_length)
        .withColumn("content_length", F.length("content"))
        .withWatermark("processed_at", watermark_delay)
        .dropDuplicatesWithinWatermark([key_col])
    )


def stream_upsert_sink(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """CDC-style streaming sink: each micro-batch MERGEs into the
    target layer by key via ``foreachBatch`` + ``upsert_by_key`` —
    late re-deliveries of a key overwrite instead of duplicating, so
    the sink is idempotent per key (the exactly-once-per-key contract
    a lakehouse ingest needs; foreachBatch replays a failed batch,
    and the merge makes the replay harmless). Returns the started
    StreamingQuery.
    """
    from lakehouse_to_rag_spark.sources.lakehouse import upsert_by_key

    def _merge(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # within one batch keep a single row per key (last writer by
        # batch order is arbitrary — dedup deterministically first)
        deduped = batch.dropDuplicates(key_cols)
        upsert_by_key(batch.sparkSession, path, deduped, key_cols)

    writer = (
        df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_dedup_stream(
    incoming: DataFrame,
    snapshot_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    watermark_col: str = "processed_at",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``operators.curation.incremental_dedup``:
    continuously admit only documents whose normalized content is
    absent from the existing corpus snapshot AND not already seen on
    the stream.

    Two dedup layers, mirroring the batch operator's two steps:
    1. stream–static LEFT ANTI join against the snapshot's fingerprint
       table (fingerprints only — re-resolved per micro-batch, so a
       compaction/upsert of the fingerprint table is picked up on the
       next trigger; the static side broadcasts when it fits).
    2. ``dropDuplicatesWithinWatermark`` on the fingerprint for
       intra-stream dups (the batch keep-first-by-id window becomes
       keep-first-ARRIVAL — the only order a stream can honor).
       ``dropDuplicates`` on a non-event-time subset would grow its
       state store forever (Spark only evicts dedup state when the
       event-time column is part of the subset); the within-watermark
       variant evicts each fingerprint's state once the watermark
       passes its first arrival, so state is bounded by the dup window.

    ``snapshot_fps`` must carry a ``content_fp`` column (build it with
    ``curation.incremental_dedup``'s fingerprint: md5 of normalized
    text, e.g. via ``snapshot_fingerprints``).
    """
    from lakehouse_to_rag_spark.functions.text import normalize_text

    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        incoming.select(
            F.col(id_col),
            fp.alias("content_fp"),
            F.col(watermark_col),
        )
        .join(snapshot_fps.select("content_fp"), "content_fp", "left_anti")
        .withWatermark(watermark_col, watermark_delay)
        .dropDuplicatesWithinWatermark(["content_fp"])
    )


def snapshot_fingerprints(
    corpus: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Distinct content fingerprints of a corpus snapshot — the small
    static side of ``incremental_dedup_stream`` (maintain it
    incrementally with ``sources.lakehouse.upsert_by_key`` instead of
    re-scanning the snapshot)."""
    from lakehouse_to_rag_spark.functions.text import normalize_text

    return (
        corpus.filter(F.col(text_col).isNotNull())
        .select(F.md5(normalize_text(F.col(text_col))).alias("content_fp"))
        .distinct()
    )


def stream_index_sink(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_available_now: bool = True,
):
    """Streaming vector-index ingest: each micro-batch of documents is
    hashed-tf embedded (``text_analysis.embed_hashed_tf`` — model-free,
    so the stream needs no encoder service) and APPENDED to the
    persisted IVF layout via ``similarity.append_to_ivf_index`` — the
    streaming counterpart of the batch index-maintenance operator,
    composing the same two proven pieces inside ``foreachBatch``.

    The index at ``index_path`` must already exist (its ``_centroids``
    quantizer is the frozen assignment model; bootstrap with
    ``write_ivf_index`` on the first corpus slice). Zero vectors are
    dropped (unscoreable under cosine — the build-path rule).

    Replay idempotence (ADVICE r6): foreachBatch re-delivers a failed
    micro-batch with the SAME batch_id, and a blind append would then
    persist duplicate vec_id rows that skew the serve path. The sink
    keeps a ``{index_path}/_ledger`` of committed batch_ids
    (underscore prefix — invisible to readers of the index root, like
    ``_centroids``) and skips any batch already recorded. The ledger
    row is written AFTER the data append, so the one remaining crash
    window (data landed, ledger write lost) re-appends exactly one
    batch — which ``ivf_topk_from_index``'s candidate-level
    dropDuplicates absorbs at serve time. Returns the started
    StreamingQuery."""
    from lakehouse_to_rag_spark.operators.similarity import (
        append_to_ivf_index,
    )
    from lakehouse_to_rag_spark.operators.text_analysis import embed_hashed_tf

    def _append(batch: DataFrame, batch_id: int) -> None:
        emb = embed_hashed_tf(
            batch, dim=dim, id_col=id_col, text_col=text_col
        ).filter(
            F.aggregate(
                F.col("embedding"), F.lit(0.0), lambda a, x: a + F.abs(x)
            )
            > 0
        ).withColumnRenamed(id_col, "vec_id")
        append_to_ivf_index(batch.sparkSession, index_path, emb)

    return _ledgered_index_sink(
        docs_stream, index_path, checkpoint_dir, _append,
        trigger_available_now,
    )


def stream_medallion_sink(
    raw_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    min_content_length: int = 50,
    trigger_available_now: bool = True,
):
    """The maintained-mode medallion at STREAM cadence — the
    reference's cron-scheduled overwrite ETL re-expressed as a
    Structured Streaming sink: each micro-batch of raw rows
    (url/source/title/content/doc_id/lang) runs one turn of
    ``operators.pipeline.run_medallion_incremental`` against the
    persistent bronze/silver/gold layers under ``state_dir``. No
    ledger is needed: the incremental pipeline is replay-idempotent by
    construction (bronze upserts by the unique raw key; silver/gold
    admission anti-joins make a re-delivered batch a no-op), which is
    exactly why the batch operator was shaped that way — INCLUDING a
    crash mid-turn: bronze (the admission key layer) upserts LAST, so
    a turn that died after its silver/gold upserts has not yet marked
    its urls seen, and the replay re-admits them through the
    idempotent by-key upserts (crash-replay tested). Processing a
    corpus as a stream of batches equals one overwrite run over the
    union (the batch equality theorem, re-pinned by the streaming
    test). Returns the started StreamingQuery."""
    from lakehouse_to_rag_spark.operators.pipeline import (
        run_medallion_incremental,
    )

    def _one_turn(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        run_medallion_incremental(
            batch.sparkSession,
            [batch],
            state_dir,
            min_content_length=min_content_length,
        )

    writer = (
        raw_stream.writeStream.foreachBatch(_one_turn)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_bm25_sink(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_available_now: bool = True,
):
    """Streaming LEXICAL-index ingest — ``stream_index_sink``'s BM25
    twin, completing the symmetric story (a document stream maintains
    BOTH serving artifacts): each micro-batch appends into the
    persisted posting layout via ``retrieval.append_to_bm25_index``
    (exact additive _stats; the serve path's pruned-scan df recompute
    makes stale stored dfs unreadable). The index at ``index_path``
    must already exist (bootstrap with ``write_bm25_index``). Replay
    idempotence is the shared ledger discipline (``_ledger`` of
    committed batch_ids; see ``stream_index_sink``); unlike the IVF
    side there is no serve-time duplicate absorber for the
    data-landed/ledger-lost crash window, so ids replayed through that
    window should be deduped upstream (``incremental_dedup_stream``)
    or the index rebuilt. The sink passes ``check_disjoint=False``
    deliberately: the batch operator's fail-closed id scan is O(index)
    per call — right for a manual append, wrong as a per-micro-batch
    tax at scale — and here the ledger already absorbs re-deliveries
    while upstream admission owns true id collisions (the same
    division of labor as the medallion sink). Returns the started
    StreamingQuery."""
    from lakehouse_to_rag_spark.operators.retrieval import (
        append_to_bm25_index,
    )

    def _append(batch: DataFrame, batch_id: int) -> None:
        append_to_bm25_index(
            batch.sparkSession, index_path, batch,
            id_col=id_col, text_col=text_col, check_disjoint=False,
        )

    return _ledgered_index_sink(
        docs_stream, index_path, checkpoint_dir, _append,
        trigger_available_now,
    )


def stream_media_dedup_sink(
    media_stream: DataFrame,
    sig_table_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    media: str = "image",
    method: str = "phash",
    max_hamming: int = 6,
    num_bands: int | str = "auto",
    compact_files_threshold: int = 64,
    trigger_available_now: bool = True,
    n_buckets: int | None = None,
):
    """Streaming twin of the perceptual media-ingest loop (r12): each
    micro-batch of (id, payload) media rows runs one turn of
    ``dedup.admit_media_batch`` against the maintained signature
    ledger at ``sig_table_path`` — decode+hash one Arrow pass, banded
    dedup against every prior admission, APPEND the new signatures
    (the r12 append-only ledger: per-batch write cost flat in
    cumulative table size; since r13 the ledger is band-bucket
    partitioned, so each trigger also READS only its colliding
    ``bucket=N/`` directories — per-trigger read volume scales with
    the trigger's band rows, not the ledger's lifetime; compaction
    past ``compact_files_threshold`` files per bucket through the
    atomic swap). ``n_buckets`` is honored at ledger BOOTSTRAP only
    (afterwards the ledger's own ``_scheme`` wins); None = the
    operator default.

    No ``_ledger`` of batch ids is needed (unlike the index sinks):
    the batch operator is replay-idempotent BY CONTENT — a
    re-delivered batch's signatures match their own prior admissions
    at hamming 0 and are dropped, a batch that died mid-append
    re-admits exactly its not-yet-visible rows — so the signature
    table itself is the admission record, for crash replays and for
    consumers alike (the admitted corpus = the stream's storage
    joined to the ledger's ids; persisting admitted PAYLOADS here
    would reopen the data-landed/record-lost crash window the
    content-idempotence closes). The sink discards the returned
    DataFrame, so it reclaims each trigger's staging dir IN-BAND
    (``curation.cleanup_staging`` after the append — continuous
    operation would otherwise leak one staging dir per micro-batch
    forever; safe because the sink is the single writer and never
    holds a returned result). Returns the started StreamingQuery."""
    from lakehouse_to_rag_spark.operators.curation import cleanup_staging
    from lakehouse_to_rag_spark.operators.dedup import admit_media_batch

    def _one_turn(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        kwargs = {} if n_buckets is None else {"n_buckets": n_buckets}
        admit_media_batch(
            batch.sparkSession, sig_table_path, batch,
            id_col=id_col, payload_col=payload_col, media=media,
            method=method, max_hamming=max_hamming, num_bands=num_bands,
            compact_files_threshold=compact_files_threshold,
            **kwargs,
        )
        cleanup_staging(sig_table_path)

    writer = (
        media_stream.writeStream.foreachBatch(_one_turn)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_text_dedup_sink(
    docs_stream: DataFrame,
    fp_table_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_files_threshold: int = 64,
    trigger_available_now: bool = True,
    n_buckets: int | None = None,
):
    """Streaming twin of the TEXT exact-dedup ingest loop (r13 — the
    ``stream_media_dedup_sink`` discipline over
    ``curation.admit_batch``): each micro-batch of (id, text) rows
    runs one turn against the maintained fingerprint ledger at
    ``fp_table_path`` — normalize+md5 once, bucket-pruned anti-join
    against every prior admission (the r13 ``bucket=N/`` layout: a
    trigger reads at most min(|batch|, n_buckets) of the cumulative
    ledger's directories), APPEND the admitted fingerprints
    (per-trigger write cost flat in ledger size), compaction past
    ``compact_files_threshold`` files per bucket through the atomic
    swap. ``n_buckets`` is honored at ledger BOOTSTRAP only
    (afterwards the ledger's own ``_scheme`` wins); None = the
    operator default.

    Unlike ``incremental_dedup_stream`` (stateless screen against a
    STATIC snapshot + within-watermark stream state), this sink
    maintains the admission record itself, so intra-stream dups
    arriving ANY number of triggers apart are dropped without
    watermark state — the ledger, not the state store, is the memory,
    and it survives checkpoint loss.

    No batch-id ``_ledger`` is needed: ``admit_batch`` is
    replay-idempotent BY CONTENT (a re-delivered batch's fingerprints
    match their own prior admissions and drop in the anti-join; a
    batch that died mid-append re-admits exactly its not-yet-visible
    fingerprints), so the fingerprint table itself is the admission
    record for crash replays and consumers alike. The sink discards
    ``admit_batch``'s returned DataFrame, so it reclaims each
    trigger's staging dir IN-BAND (``curation.cleanup_staging`` after
    the ledger append completes — without this, continuous operation
    leaks one parquet staging dir per micro-batch forever; safe here
    because the sink is the single writer and never holds a returned
    result). Returns the started StreamingQuery."""
    from lakehouse_to_rag_spark.operators.curation import (
        admit_batch,
        cleanup_staging,
    )

    def _one_turn(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        kwargs = {} if n_buckets is None else {"n_buckets": n_buckets}
        admit_batch(
            batch.sparkSession, fp_table_path, batch,
            id_col=id_col, text_col=text_col,
            compact_files_threshold=compact_files_threshold,
            **kwargs,
        )
        cleanup_staging(fp_table_path)

    writer = (
        docs_stream.writeStream.foreachBatch(_one_turn)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_scd2_sink(
    events: DataFrame,
    dim_path: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    trigger_available_now: bool = True,
):
    """Streaming Type-2 dimension maintenance — the cadence twin of
    ``scd2_apply_changes`` (whose batch form is the gated
    ``scd2_incremental``): each micro-batch of change events folds
    into the persisted dimension parquet (first batch bootstraps via
    ``scd2_dimension``), so the dimension is always current without
    ever rebuilding history.

    Replay safety is STRICTER than the ledgered index sinks'
    one-batch crash window, because re-applying a batch to SCD2 is
    not absorbable (it trips the strict-suffix fail-close instead of
    duplicating rows): the applied-batch ledger lives INSIDE the
    dimension directory (``_ledger.json`` — underscore-prefixed, so
    the parquet reader ignores it) and the new dimension + updated
    ledger land in one atomic directory rename. Any crash leaves
    either the old consistent (dim, ledger) pair — replay re-applies
    — or the new one — replay skips; the one between-renames window
    where neither is at ``dim_path`` is repaired by
    ``sources.dirswap.recover`` at the start of every batch (without
    it a crash there would silently re-bootstrap from one batch); the
    new pair is published with ``swap_in``. A
    whole-stream rerun from a fresh checkpoint is likewise a no-op. The upstream contract is
    the CDC one ``scd2_apply_changes`` documents: batches arrive in
    event-time order per key. Returns the started StreamingQuery."""
    import json
    import os

    from lakehouse_to_rag_spark.operators.events import (
        scd2_apply_changes,
        scd2_dimension,
    )
    from lakehouse_to_rag_spark.sources.dirswap import (
        recover,
        staging_path,
        swap_in,
    )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        recover(dim_path)
        applied: set[int] = set()
        lpath = os.path.join(dim_path, "_ledger.json")
        if os.path.exists(lpath):
            with open(lpath) as f:
                applied = set(json.load(f))
        if int(batch_id) in applied:
            return  # replayed (or whole-stream-rerun) batch: no-op
        if os.path.exists(dim_path):
            dim = spark.read.parquet(dim_path)
            new_dim = scd2_apply_changes(
                dim, batch, key_col, attr_col, ts_col, tiebreak_col
            )
        else:
            new_dim = scd2_dimension(
                batch, key_col, attr_col, ts_col, tiebreak_col
            )
        tmp = staging_path(dim_path)
        # the write ACTION reads the old files (still in place), so
        # the read-modify-write never overlaps its own input
        new_dim.write.parquet(tmp)
        with open(os.path.join(tmp, "_ledger.json"), "w") as f:
            json.dump(sorted(applied | {int(batch_id)}), f)
        swap_in(tmp, dim_path)

    writer = (
        events.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_chunk_refresh_sink(
    docs_stream: DataFrame,
    manifest_path: str,
    work_path: str,
    checkpoint_dir: str,
    k: int = 16,
    divisor: int = 256,
    min_size: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
    trigger_available_now: bool = True,
):
    """Streaming incremental RE-EMBEDDING queue — the cadence twin of
    ``chunk_refresh_plan`` (whose batch form is the gated
    ``chunk_refresh_plan`` entry): each micro-batch of new/edited
    documents is CDC-chunked (map-only), diffed against the persisted
    chunk-hash MANIFEST, and only the actual work lands in
    ``work_path``: ``embed`` rows for chunk hashes the manifest lacks,
    ``delete`` rows for superseded manifest entries of the batch's
    docs. Because CDC boundaries realign after an edit, an edited
    document enqueues ~1 chunk of embedding work, not its whole tail
    (the measured cdc_chunks property, now on a stream).

    Replay semantics: a CHECKPOINT-RECOVERY replay (Spark re-delivers
    the last uncommitted batch) is self-absorbing — its docs' chunks
    already match the manifest, so the diff is empty and nothing is
    enqueued; the one crash window (between the work append and the
    manifest swap) re-enqueues one batch's rows, which consumers
    absorb by (doc, chunk_hash, action) idempotence — the
    `_ledgered_index_sink` contract. What this sink does NOT absorb
    is a whole-stream rerun from a FRESH checkpoint over old data:
    replaying a STALE doc version diffs against the newer manifest
    and enqueues regress-then-redo work (the manifest converges, the
    queue gets noise) — single-writer, one checkpoint per
    manifest/work pair is the operating contract, as for every
    ledgered sink here. The manifest update itself is an atomic
    directory swap (``upsert_by_key`` through ``sources.dirswap``),
    and each batch runs ``dirswap.recover`` on the manifest before
    reading it. Chunk BODIES never travel: the embed consumer
    re-reads text by (doc, chunk_index) from the current corpus;
    hashes and indexes only. Returns the started StreamingQuery."""
    import os

    from lakehouse_to_rag_spark.operators.gold import cdc_chunks
    from lakehouse_to_rag_spark.sources.lakehouse import upsert_by_key

    def _refresh(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        # Batch-INTERNAL duplicate doc ids are manifest corruption
        # (two versions of one doc in a micro-batch would both land
        # in the per-doc replacement upsert, interleaving two chunk
        # sets) — the append_to_bm25_index/_ivf_index fail-close
        # (r9), applied to the doc stream. countDistinct excludes
        # nulls so a null id trips it too. One bounded aggregate.
        card = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.col(id_col)).alias("nd"),
        ).collect()[0]
        if int(card["n"]) != int(card["nd"]):
            raise ValueError(
                f"stream_chunk_refresh_sink: batch {batch_id} has "
                f"{int(card['n'])} rows but only {int(card['nd'])} "
                f"distinct non-null {id_col} value(s) — multiple "
                "versions of one document within a micro-batch would "
                "corrupt the chunk manifest. Deliver at most one "
                "version per doc per batch (collapse upstream)."
            )
        chunks = cdc_chunks(
            batch, k, divisor, min_size, id_col, text_col, hash_fn
        ).select(id_col, "chunk_index", "chunk_hash")
        # two consumers (diff both ways + manifest update): one
        # materialization of the map-only chunking
        chunks = chunks.localCheckpoint(eager=False)
        # repair a half-finished manifest swap BEFORE the existence
        # check: in the between-renames window the path is missing,
        # this batch would treat the manifest as absent, and the fresh
        # write would orphan (then lose) every other doc's rows
        from lakehouse_to_rag_spark.sources.dirswap import recover

        recover(manifest_path)
        manifest = (
            spark.read.parquet(manifest_path)
            if os.path.isdir(manifest_path)
            else None
        )
        keys = [id_col, "chunk_hash"]
        if manifest is not None:
            batch_ids = chunks.select(id_col).distinct()
            old = manifest.join(batch_ids, id_col, "left_semi")
            embed = chunks.join(old, keys, "left_anti")
            delete = old.join(chunks, keys, "left_anti")
        else:
            embed, delete = chunks, None
        work = embed.select(
            F.lit(int(batch_id)).alias("batch_id"),
            F.col(id_col),
            F.col("chunk_index"),
            F.col("chunk_hash"),
            F.lit("embed").alias("action"),
        )
        if delete is not None:
            work = work.unionByName(
                delete.select(
                    F.lit(int(batch_id)).alias("batch_id"),
                    F.col(id_col),
                    F.col("chunk_index"),
                    F.col("chunk_hash"),
                    F.lit("delete").alias("action"),
                )
            )
        work.write.mode("append").parquet(work_path)
        # manifest: full per-doc replacement, atomic swap
        if manifest is None:
            chunks.write.parquet(manifest_path)
        else:
            upsert_by_key(spark, manifest_path, chunks, [id_col])

    writer = (
        docs_stream.writeStream.foreachBatch(_refresh)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _ledger_guard(index_path: str, append_fn):
    """The foreachBatch function of a ledgered index sink: skip empty
    batches, skip batch_ids already in ``{index_path}/_ledger``
    (foreachBatch re-delivers a failed batch under the SAME id), run
    ``append_fn(batch, batch_id)``, then record the id. The ledger is
    read from its parquet footers (``index_layout.read_rows``: no
    Spark job); no ledger dir yet means no committed batch. The ledger
    row lands AFTER the data append, so the one crash window re-appends
    exactly one batch — absorbed at serve time (IVF candidate dedup)
    or by upstream admission (BM25)."""
    import os

    from lakehouse_to_rag_spark.sources import index_layout
    from lakehouse_to_rag_spark.sources.tables import local_df

    ledger = f"{index_path}/_ledger"

    def _guarded(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        rows = index_layout.read_rows(ledger) if os.path.isdir(ledger) else []
        committed = {r["batch_id"] for r in rows}
        if batch_id in committed:
            return  # replay of an already-committed batch
        append_fn(batch, batch_id)
        index_layout.write(
            local_df(batch.sparkSession, [(int(batch_id),)], "batch_id long"),
            ledger,
            mode="append",
        )

    return _guarded


def _ledgered_index_sink(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    append_fn,
    trigger_available_now: bool,
):
    """Shared foreachBatch harness for ledgered index sinks
    (``_ledger_guard``). Returns the started StreamingQuery."""
    writer = (
        docs_stream.writeStream.foreachBatch(
            _ledger_guard(index_path, append_fn)
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
