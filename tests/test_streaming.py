"""Structured Streaming pipeline tests: file-source raw JSON through
bronze→silver→gold with availableNow trigger and memory sink."""

import json

import pytest
from pyspark.sql import functions as F

from lakehouse_to_rag_spark.streaming.pipeline import (
    bronze_stream,
    gold_stream,
    hourly_rollup_stream,
    silver_stream_dedup,
    stream_raw_json,
)

RAW_DOCS = [
    {"url": "http://a", "scraped_at": 1.0, "status_code": 200,
     "title": "A", "content": "Hello, World! " * 10, "author": None, "language": "en"},
    {"url": "http://a", "scraped_at": 2.0, "status_code": 200,
     "title": "A2", "content": "Hello again, World! " * 10, "author": None, "language": "en"},
    {"url": "http://b", "scraped_at": 3.0, "status_code": 200,
     "title": "B", "content": "Short", "author": None, "language": "en"},
    {"url": "http://c", "scraped_at": 4.0, "status_code": 200,
     "title": "C", "content": "   ", "author": None, "language": "en"},
]


@pytest.fixture()
def raw_dir(tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    for i, rec in enumerate(RAW_DOCS):
        (d / f"obj{i}.json").write_text(json.dumps(rec))
    return str(d)


def _run_to_memory(stream_df, name, output_mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_medallion(spark, tmp_path, raw_dir):
    raw = stream_raw_json(spark, raw_dir + "/*.json")
    bronze = bronze_stream(raw)
    silver = silver_stream_dedup(bronze, min_content_length=50)
    gold = gold_stream(silver)
    _run_to_memory(gold, "gold_mem")
    rows = spark.sql("SELECT * FROM gold_mem").collect()
    # url c is empty (bronze drop), url b too short (silver drop),
    # url a deduped to one version -> chunks of one doc only
    urls = {r["url"] for r in rows}
    assert urls == {"http://a"}
    assert len(rows) >= 1
    assert all(r["chunk"] is None or len(r["chunk"]) <= 200 for r in rows)
    # source tagged with object basename
    assert all(r["source"].startswith("obj") for r in rows)


def test_streaming_hourly_rollup(spark, sf_dir, tmp_path):
    from lakehouse_to_rag_spark.sources.tables import load_table

    # replay the batch events table as a file stream
    ev = load_table(spark, sf_dir, "events")
    ev_dir = str(tmp_path / "events_stream")
    ev.write.parquet(ev_dir)
    stream = spark.readStream.schema(ev.schema).parquet(ev_dir)
    rollup = hourly_rollup_stream(stream)
    _run_to_memory(rollup, "rollup_mem", output_mode="append")
    got = spark.sql(
        "SELECT hour, event_type, n_events, total_value FROM rollup_mem"
    )
    # windows still open at end-of-stream are withheld in append mode;
    # everything emitted must match the batch rollup exactly
    from lakehouse_to_rag_spark.operators.events import hourly_rollup

    batch = hourly_rollup(ev)
    extra = got.exceptAll(batch).count()
    assert extra == 0
    assert got.count() > 0


def test_stateful_sessionize_stream(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionization: closed sessions from the
    stream must match the batch gap-sessionization counts."""
    from lakehouse_to_rag_spark.sources.tables import load_table
    from lakehouse_to_rag_spark.streaming.stateful import sessionize_stateful

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    ev_dir = str(tmp_path / "events_state")
    ev.write.parquet(ev_dir)
    stream = spark.readStream.schema(ev.schema).parquet(ev_dir)
    sessions = sessionize_stateful(stream)
    _run_to_memory(sessions, "sessions_mem")
    got = spark.sql("SELECT * FROM sessions_mem")
    n_closed = got.count()

    # batch truth: sessions per user, minus the last (still-open)
    # session of each user which the stream may not have emitted
    from lakehouse_to_rag_spark.operators.events import sessionize

    batch_total = sessionize(
        load_table(spark, sf_dir, "events")
    ).agg(F.sum("n_sessions")).collect()[0][0]
    n_users = ev.select("user_id").distinct().count()
    assert batch_total - n_users <= n_closed <= batch_total
    # every emitted session respects the gap invariant
    bad = got.filter(F.col("session_end") < F.col("session_start")).count()
    assert bad == 0


def test_streaming_gold_to_parquet_sink(spark, tmp_path, raw_dir):
    """End-to-end durable streaming: raw json stream → medallion →
    checkpointed parquet sink; output readable as a layer."""
    raw = stream_raw_json(spark, raw_dir + "/*.json")
    gold = gold_stream(silver_stream_dedup(bronze_stream(raw)))
    out = str(tmp_path / "gold_out")
    q = (
        gold.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    assert back.count() >= 1
    assert "chunk" in back.columns


def test_transform_with_state_anomalies(spark, sf_dir, tmp_path):
    """transformWithStateInPandas running-stats anomaly operator:
    every event emitted once, anomalies only after min history.

    Requires protobuf (the transformWithState control channel);
    skipped in containers without it — the applyInPandasWithState
    sessionization test above covers arbitrary-stateful streaming on
    the older API."""
    pytest.importorskip("google.protobuf.descriptor")
    from lakehouse_to_rag_spark.sources.tables import load_table
    from lakehouse_to_rag_spark.streaming.anomaly import running_anomalies

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    ev_dir = str(tmp_path / "events_anom")
    ev.write.parquet(ev_dir)
    stream = spark.readStream.schema(ev.schema).parquet(ev_dir)
    out = running_anomalies(stream, z_threshold=2.5, min_history=5)
    _run_to_memory(out, "anom_mem")
    got = spark.sql("SELECT * FROM anom_mem")
    assert got.count() == ev.count()  # one output row per event
    # no anomaly can be flagged within the first min_history events
    w = got.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    assert w.count() > 0
    firsts = (
        got.orderBy("user_id", "event_id")
        .groupBy("user_id")
        .agg(F.min("event_id").alias("first_eid"))
    )
    flagged_first = got.join(firsts, "user_id").filter(
        (F.col("event_id") == F.col("first_eid")) & F.col("is_anomaly")
    )
    assert flagged_first.count() == 0


def test_stream_stream_interval_join(spark, sf_dir, tmp_path):
    """Stream-stream click->purchase join must equal the identical
    join run on the static frames (inner join: no withholding)."""
    from lakehouse_to_rag_spark.sources.tables import load_table
    from lakehouse_to_rag_spark.streaming.pipeline import (
        click_purchase_attribution_stream,
    )

    ev = load_table(spark, sf_dir, "events")
    ev_dir = str(tmp_path / "events_ssj")
    ev.write.parquet(ev_dir)
    stream = spark.readStream.schema(ev.schema).parquet(ev_dir)

    joined = click_purchase_attribution_stream(stream)
    _run_to_memory(joined, "ssj_mem", output_mode="append")
    got = spark.sql("SELECT * FROM ssj_mem")

    batch = click_purchase_attribution_stream(ev)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    assert got.count() > 0


def test_dedup_within_watermark_stream(spark, tmp_path, raw_dir):
    """dropDuplicatesWithinWatermark silver: same unique-url guarantee
    as the dropDuplicates variant for in-window duplicates."""
    from lakehouse_to_rag_spark.streaming.pipeline import (
        bronze_stream,
        silver_stream_dedup_within_watermark,
        stream_raw_json,
    )

    raw = stream_raw_json(spark, str(raw_dir))
    silver = silver_stream_dedup_within_watermark(bronze_stream(raw))
    _run_to_memory(silver, "sdw_mem")
    rows = spark.sql("SELECT url FROM sdw_mem").collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == len(set(urls))
    assert len(urls) >= 1


def test_stream_upsert_sink(spark, tmp_path):
    """foreachBatch MERGE sink: re-delivered keys overwrite, new keys
    append; the target always holds one row per key."""
    from lakehouse_to_rag_spark.streaming.pipeline import stream_upsert_sink

    src = str(tmp_path / "upsert_src")
    tgt = str(tmp_path / "upsert_tgt")
    ckpt = str(tmp_path / "upsert_ckpt")
    import os

    os.makedirs(src)
    # seed the target with keys 1,2
    spark.createDataFrame(
        [(1, "old1"), (2, "old2")], ["k", "v"]
    ).write.parquet(tgt)
    # stream delivers an update for key 2 and a new key 3
    spark.createDataFrame(
        [(2, "new2"), (3, "new3")], ["k", "v"]
    ).write.parquet(src + "/batch1")
    stream = spark.readStream.schema("k long, v string").parquet(src + "/*")
    q = stream_upsert_sink(stream, tgt, ["k"], ckpt)
    q.awaitTermination(120)

    got = {r["k"]: r["v"] for r in spark.read.parquet(tgt).collect()}
    assert got == {1: "old1", 2: "new2", 3: "new3"}


def test_streaming_observed_metrics(spark, raw_dir):
    """Named observe() on a stream surfaces per-micro-batch metrics in
    StreamingQueryProgress.observedMetrics — the streaming face of the
    batch Observation monitoring (operators/observe.py)."""
    from lakehouse_to_rag_spark.operators.observe import layer_metrics

    raw = stream_raw_json(spark, raw_dir + "/*.json")
    bronze = bronze_stream(raw).observe("bronze_metrics", *layer_metrics())
    q = _run_to_memory(bronze, "bronze_obs_mem")
    progress = q.recentProgress
    observed = [
        p["observedMetrics"]["bronze_metrics"]
        for p in progress
        if p.get("observedMetrics", {}).get("bronze_metrics")
    ]
    assert observed, f"no observedMetrics in progress: {progress}"
    total_rows = sum(m["rows"] for m in observed)
    n_direct = spark.sql("SELECT count(*) c FROM bronze_obs_mem").collect()[0]["c"]
    assert total_rows == n_direct
    assert all(m["empty_rows"] == 0 for m in observed)


def test_stream_static_enrichment_join(spark, sf_dir, tmp_path):
    """Stream–static join: per-user dim computed in batch enriches the
    event stream with zero streaming state; result must equal the
    batch join exactly."""
    from lakehouse_to_rag_spark.sources.tables import load_table
    from lakehouse_to_rag_spark.streaming.pipeline import enrich_stream_with_dim

    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_events"))
    )
    ev_dir = str(tmp_path / "events_stream")
    ev.write.parquet(ev_dir)
    stream = spark.readStream.schema(ev.schema).parquet(ev_dir)
    enriched = enrich_stream_with_dim(
        stream.select("event_id", "user_id", "value"), dim, on="user_id"
    )
    q = _run_to_memory(enriched, "enriched_mem")
    got = spark.sql("SELECT * FROM enriched_mem")
    batch = ev.select("event_id", "user_id", "value").join(dim, "user_id", "left")
    assert got.count() == batch.count() > 0
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_incremental_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming snapshot dedup must admit exactly the batch
    operator's fingerprint set: anti-join vs snapshot + intra-stream
    dedup. (Ids may differ — the stream keeps first ARRIVAL, the batch
    keeps min id — so equality is on surviving fingerprints.)"""
    from lakehouse_to_rag_spark.operators.curation import incremental_dedup
    from lakehouse_to_rag_spark.sources.tables import load_table
    from lakehouse_to_rag_spark.streaming.pipeline import (
        incremental_dedup_stream,
        snapshot_fingerprints,
    )

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    incoming = d.filter(F.col("doc_id") % 2 == 1)
    corpus = d.filter(F.col("doc_id") % 2 == 0)

    inc_dir = str(tmp_path / "incoming_stream")
    incoming.select(
        "doc_id", "text", F.current_timestamp().alias("processed_at")
    ).write.parquet(inc_dir)
    stream = (
        spark.readStream.schema(
            spark.read.parquet(inc_dir).schema
        ).parquet(inc_dir)
    )
    admitted = incremental_dedup_stream(
        stream, snapshot_fingerprints(corpus)
    )
    q = _run_to_memory(admitted, "incr_dedup_mem")
    got = {
        r["content_fp"]
        for r in spark.sql("SELECT content_fp FROM incr_dedup_mem").collect()
    }
    want = {
        r["content_fp"]
        for r in incremental_dedup(incoming, corpus).collect()
    }
    assert got == want and len(got) > 0


def test_running_stats_processor_matches_batch_no_protobuf(spark, sf_dir):
    """Unconditional evidence for the transformWithState anomaly
    operator: drive RunningStatsProcessor.handleInputRows directly
    (fake state handle, per-user micro-batch chunks — 2 calls x 2
    pandas batches each, so state must survive both the batch iterator
    and separate invocations) and require exact agreement with the
    oracle-checked batch twin. Runs everywhere; the protobuf-gated
    test above additionally exercises the real control channel."""
    import math

    from lakehouse_to_rag_spark.operators.events import running_anomalies_batch
    from lakehouse_to_rag_spark.sources.tables import load_table
    from lakehouse_to_rag_spark.streaming.anomaly import RunningStatsProcessor

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def getValueState(self, name, schema):
            return FakeValueState()

    ev = load_table(spark, sf_dir, "events")
    pdf = (
        ev.select("user_id", "event_id", "value", "ts")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )

    got = {}
    for uid, grp in pdf.groupby("user_id"):
        proc = RunningStatsProcessor(z_threshold=2.5, min_history=5)
        proc.init(FakeHandle())
        grp = grp[["event_id", "value"]].reset_index(drop=True)
        quarters = [grp.iloc[j * len(grp) // 4 : (j + 1) * len(grp) // 4]
                    for j in range(4)] if len(grp) >= 4 else [grp]
        # two handleInputRows calls, each consuming an iterator of two
        # pandas batches
        for call in range(0, len(quarters), 2):
            batches = iter(quarters[call : call + 2])
            for out in proc.handleInputRows((uid,), batches, None):
                for r in out.itertuples(index=False):
                    got[(uid, r.event_id)] = (
                        round(r.value, 4),
                        round(r.zscore, 4),
                        bool(r.is_anomaly),
                    )
        proc.close()

    want = {
        (r["user_id"], r["event_id"]): (
            r["value"], r["zscore"], bool(r["is_anomaly"])
        )
        for r in running_anomalies_batch(
            ev, z_threshold=2.5, min_history=5
        ).collect()
    }
    assert len(got) == len(want) > 0
    mism = {k for k in want if not (
        math.isclose(got[k][0], want[k][0], abs_tol=1e-9)
        and math.isclose(got[k][1], want[k][1], abs_tol=1e-9)
        and got[k][2] == want[k][2]
    )}
    assert not mism, sorted(mism)[:5]
    assert any(v[2] for v in want.values())  # the flag fires somewhere


def test_stream_index_sink_equals_batch_append(spark, sf_dir, tmp_path):
    """Streaming index ingest == the batch path: bootstrap an IVF
    index on the even-id half, stream the odd-id half through
    stream_index_sink, and the probe results must EXACTLY equal
    batch embed + append_to_ivf_index of the same rows."""
    from lakehouse_to_rag_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_topk_from_index,
        write_ivf_index,
    )
    from lakehouse_to_rag_spark.operators.text_analysis import embed_hashed_tf
    from lakehouse_to_rag_spark.streaming.pipeline import stream_index_sink

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    first = d.filter("doc_id % 2 = 0")
    second = d.filter("doc_id % 2 = 1")

    def _emb(df):
        return (
            embed_hashed_tf(df, dim=64)
            .filter(
                F.aggregate(
                    F.col("embedding"), F.lit(0.0), lambda a, x: a + F.abs(x)
                )
                > 0
            )
            .withColumnRenamed("doc_id", "vec_id")
        )

    s_path = str(tmp_path / "ivf_stream")
    b_path = str(tmp_path / "ivf_batch")
    write_ivf_index(_emb(first), s_path, num_centroids=16)
    write_ivf_index(_emb(first), b_path, num_centroids=16)

    src = str(tmp_path / "docs_src")
    second.write.parquet(src)
    stream = spark.readStream.schema(second.schema).parquet(src)
    q = stream_index_sink(
        stream, s_path, checkpoint_dir=str(tmp_path / "ckpt"), dim=64
    )
    q.awaitTermination(120)

    append_to_ivf_index(spark, b_path, _emb(second))

    queries = _emb(d.filter("doc_id < 6"))
    got = sorted(
        tuple(r)
        for r in ivf_topk_from_index(spark, s_path, queries, k=5, nprobe=4).collect()
    )
    want = sorted(
        tuple(r)
        for r in ivf_topk_from_index(spark, b_path, queries, k=5, nprobe=4).collect()
    )
    assert got == want and got


def test_stream_index_sink_replay_idempotent(spark, sf_dir, tmp_path):
    """Replay armor (ADVICE r6): re-delivering a committed micro-batch
    (same batch_id — here forced by pointing a FRESH checkpoint at the
    same source, so batch 0 is delivered twice) must not change the
    persisted index; and even when duplicate rows DO land (the
    data-landed/ledger-lost crash window, simulated by a raw double
    append), the serve path returns single-copy results."""
    from lakehouse_to_rag_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_topk_from_index,
        write_ivf_index,
    )
    from lakehouse_to_rag_spark.operators.text_analysis import embed_hashed_tf
    from lakehouse_to_rag_spark.streaming.pipeline import stream_index_sink

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )

    def _emb(df):
        return (
            embed_hashed_tf(df, dim=64)
            .filter(
                F.aggregate(
                    F.col("embedding"), F.lit(0.0), lambda a, x: a + F.abs(x)
                )
                > 0
            )
            .withColumnRenamed("doc_id", "vec_id")
        )

    first = d.filter("doc_id % 2 = 0")
    second = d.filter("doc_id % 2 = 1")
    path = str(tmp_path / "ivf")
    write_ivf_index(_emb(first), path, num_centroids=16)

    src = str(tmp_path / "docs_src")
    second.write.parquet(src)
    stream = spark.readStream.schema(second.schema).parquet(src)
    stream_index_sink(
        stream, path, checkpoint_dir=str(tmp_path / "ckpt1"), dim=64
    ).awaitTermination(120)
    queries = _emb(d.filter("doc_id < 6"))
    before = sorted(
        tuple(r)
        for r in ivf_topk_from_index(spark, path, queries, k=5, nprobe=4)
        .collect()
    )
    n_before = (
        spark.read.parquet(path).count()
    )

    # replay: fresh checkpoint, same source => batch_id 0 again
    stream2 = spark.readStream.schema(second.schema).parquet(src)
    stream_index_sink(
        stream2, path, checkpoint_dir=str(tmp_path / "ckpt2"), dim=64
    ).awaitTermination(120)
    assert spark.read.parquet(path).count() == n_before  # ledger skipped it
    after = sorted(
        tuple(r)
        for r in ivf_topk_from_index(spark, path, queries, k=5, nprobe=4)
        .collect()
    )
    assert after == before

    # crash window: duplicates physically present -> serve-side dedup
    append_to_ivf_index(spark, path, _emb(second))
    dup = sorted(
        tuple(r)
        for r in ivf_topk_from_index(spark, path, queries, k=5, nprobe=4)
        .collect()
    )
    assert dup == before


def test_ledger_replay_check_launches_no_job(spark, tmp_path):
    """With a ledger present, the index sinks' replay check reads it
    from its footers: a re-delivered batch is skipped without a job."""
    from lakehouse_to_rag_spark.sources.tables import local_df
    from lakehouse_to_rag_spark.streaming.pipeline import _ledger_guard
    from tests.conftest import jobs_between_markers

    appended = []
    guard = _ledger_guard(str(tmp_path), lambda b, i: appended.append(i))
    batch = local_df(spark, [(0, "x")], "doc_id long, text string")
    guard(batch, 7)  # first delivery: appended, then recorded
    _, launched, _ = jobs_between_markers(spark, lambda: guard(batch, 7))
    assert appended == [7] and launched == set()


def test_stream_bm25_sink_equals_batch_append_and_replays_idempotent(
    spark, sf_dir, tmp_path
):
    """The lexical streaming sink: (a) streaming the odd-id half into
    a BM25 index bootstrapped on the even-id half must serve EXACTLY
    like the batch append of the same rows; (b) re-delivering the
    committed batch (fresh checkpoint, same source => batch 0 again)
    must leave the index unchanged — the shared ledger discipline."""
    from lakehouse_to_rag_spark.operators.retrieval import (
        append_to_bm25_index,
        bm25_topk_from_index,
        write_bm25_index,
    )
    from lakehouse_to_rag_spark.streaming.pipeline import stream_bm25_sink

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    first = d.filter("doc_id % 2 = 0")
    second = d.filter("doc_id % 2 = 1")
    q = spark.createDataFrame(
        [(0, "spark table join"), (1, "fast vector scan")],
        "query_id long, query string",
    )

    s_path, b_path = str(tmp_path / "s"), str(tmp_path / "b")
    write_bm25_index(first, s_path)
    write_bm25_index(first, b_path)

    src = str(tmp_path / "src")
    second.write.parquet(src)
    stream_bm25_sink(
        spark.readStream.schema(second.schema).parquet(src),
        s_path, checkpoint_dir=str(tmp_path / "ck1"),
    ).awaitTermination(120)
    append_to_bm25_index(spark, b_path, second)

    got = sorted(
        tuple(r) for r in bm25_topk_from_index(spark, s_path, q, k=5).collect()
    )
    want = sorted(
        tuple(r) for r in bm25_topk_from_index(spark, b_path, q, k=5).collect()
    )
    assert got == want and got
    stats = spark.read.parquet(f"{s_path}/_stats").collect()
    n_rows = spark.read.parquet(s_path).count()

    # replay with a fresh checkpoint: ledger must skip batch 0
    stream_bm25_sink(
        spark.readStream.schema(second.schema).parquet(src),
        s_path, checkpoint_dir=str(tmp_path / "ck2"),
    ).awaitTermination(120)
    assert spark.read.parquet(s_path).count() == n_rows
    assert spark.read.parquet(f"{s_path}/_stats").collect() == stats
    after = sorted(
        tuple(r) for r in bm25_topk_from_index(spark, s_path, q, k=5).collect()
    )
    assert after == got


def test_stream_medallion_sink_equals_overwrite(spark, sf_dir, tmp_path):
    """The maintained medallion at stream cadence: streaming the raw
    corpus (file source, capped files per trigger => several
    micro-batches) into stream_medallion_sink must leave silver/gold
    layers row-for-row equal to one overwrite run_medallion over the
    corpus — and a full REPLAY of the same stream with a fresh
    checkpoint must change nothing (the incremental pipeline's
    idempotence, exercised through foreachBatch re-delivery)."""
    from lakehouse_to_rag_spark.operators.pipeline import (
        documents_as_raw,
        run_medallion,
    )
    from lakehouse_to_rag_spark.sources.lakehouse import read_layer
    from lakehouse_to_rag_spark.streaming.pipeline import (
        stream_medallion_sink,
    )

    raw = documents_as_raw(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    src = str(tmp_path / "raw_src")
    raw.repartition(4).write.parquet(src)
    state = str(tmp_path / "state")

    def run(ckpt):
        stream = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1)  # force several batches
            .parquet(src)
        )
        stream_medallion_sink(
            stream, state, checkpoint_dir=str(tmp_path / ckpt)
        ).awaitTermination(240)

    run("ck1")
    want = run_medallion(spark, sf_dir)
    for layer in ("silver", "gold"):
        cols = sorted(want[layer].columns)
        a = sorted(map(tuple, read_layer(spark, f"{state}/{layer}")
                       .select(*cols).collect()))
        b = sorted(map(tuple, want[layer].select(*cols).collect()))
        assert a == b and a, layer

    n = {ly: read_layer(spark, f"{state}/{ly}").count()
         for ly in ("bronze", "silver", "gold")}
    run("ck2")  # full replay, fresh checkpoint
    for ly, cnt in n.items():
        assert read_layer(spark, f"{state}/{ly}").count() == cnt, ly


def test_stream_scd2_sink_equals_batch_rebuild_and_replays_safely(
    spark, tmp_path
):
    """Streaming SCD2 maintenance: two micro-batches of change events
    fold into the persisted dimension and the result equals the batch
    scd2_dimension over the full history row for row; a whole-stream
    rerun from a FRESH checkpoint is a ledger-guarded no-op (replay
    would otherwise trip the strict-suffix fail-close, not duplicate
    silently)."""
    import os
    from datetime import datetime

    from lakehouse_to_rag_spark.operators.events import scd2_dimension
    from lakehouse_to_rag_spark.streaming.pipeline import stream_scd2_sink

    src = str(tmp_path / "scd2_src")
    dim = str(tmp_path / "scd2_dim")
    os.makedirs(src)
    t = lambda h: datetime(2024, 1, 1, h)  # noqa: E731
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    b1 = [(1, t(0), 7, "a"), (2, t(1), 7, "b"), (3, t(0), 9, "x")]
    b2 = [(4, t(2), 7, "b"), (5, t(3), 7, "c"), (6, t(2), 11, "q")]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        src + "/b1"
    )
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
        src + "/b2"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .parquet(src + "/*")
    )
    q = stream_scd2_sink(stream, dim, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    got = sorted(
        map(str, (tuple(r) for r in spark.read.parquet(dim).collect()))
    )
    full = scd2_dimension(spark.createDataFrame(b1 + b2, schema))
    want = sorted(map(str, (tuple(r) for r in full.collect())))
    assert got == want and len(got) == 5
    # fresh-checkpoint rerun: same batch ids re-delivered -> ledger
    # skips every one; the dimension is unchanged
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q2 = stream_scd2_sink(stream2, dim, str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    again = sorted(
        map(str, (tuple(r) for r in spark.read.parquet(dim).collect()))
    )
    assert again == want


def test_stream_chunk_refresh_sink_enqueues_only_changed_chunks(
    spark, tmp_path
):
    """Streaming re-embedding queue: batch 0 enqueues every chunk of
    the initial docs; batch 1 (one edited doc + one new doc) enqueues
    exactly what the batch twin chunk_refresh_plan computes for the
    same corpus transition; the manifest ends equal to cdc_chunks over
    the final corpus; a checkpoint-recovery replay of the LAST batch
    enqueues NOTHING (its chunks already match the manifest)."""
    import os

    from pyspark.sql import functions as F

    from lakehouse_to_rag_spark.operators.gold import (
        cdc_chunks,
        chunk_refresh_plan,
    )
    from lakehouse_to_rag_spark.streaming.pipeline import (
        stream_chunk_refresh_sink,
    )

    src = str(tmp_path / "crq_src")
    man = str(tmp_path / "crq_manifest")
    work = str(tmp_path / "crq_work")
    os.makedirs(src)
    body = " ".join(f"sentence {i} of the original document text." for i in range(30))
    b1 = [(0, body), (1, "a different second document " + body[:200])]
    edited = body[:100] + " INSERTED SPAN " + body[100:]
    b2 = [(0, edited), (9, "a brand new ninth document with its own words")]
    schema = "doc_id long, text string"
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(src + "/b2")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = stream_chunk_refresh_sink(stream, man, work, str(tmp_path / "ck1"))
    q.awaitTermination(120)

    w = spark.read.parquet(work)
    # batch 0: every chunk of b1 is embed work, nothing deleted
    n_b1_chunks = cdc_chunks(spark.createDataFrame(b1, schema)).count()
    w0 = w.filter("batch_id = 0")
    assert w0.filter("action = 'embed'").count() == n_b1_chunks
    assert w0.filter("action = 'delete'").count() == 0
    # batch 1 == the batch twin on the same corpus transition
    old = spark.createDataFrame(b1, schema)
    new = spark.createDataFrame([b2[0], b1[1], b2[1]], schema)
    twin = {
        (r["doc_id"], r["chunk_hash"], r["action"])
        for r in chunk_refresh_plan(old, new).collect()
    }
    got1 = {
        (r["doc_id"], r["chunk_hash"], r["action"])
        for r in w.filter("batch_id = 1").collect()
    }
    assert got1 == twin and any(a == "delete" for _, _, a in got1)
    # edit locality: the edited doc re-embeds fewer chunks than it has
    d0_chunks = cdc_chunks(spark.createDataFrame([b2[0]], schema)).count()
    d0_embeds = sum(1 for d, _, a in got1 if d == 0 and a == "embed")
    assert 0 < d0_embeds < d0_chunks
    # manifest == cdc_chunks over the final corpus
    got_man = {
        tuple(r)
        for r in spark.read.parquet(man)
        .select("doc_id", "chunk_index", "chunk_hash")
        .collect()
    }
    want_man = {
        tuple(r)
        for r in cdc_chunks(new)
        .select("doc_id", "chunk_index", "chunk_hash")
        .collect()
    }
    assert got_man == want_man
    # checkpoint-recovery replay of the LAST batch: its docs' chunks
    # already match the manifest -> empty diff, no new work rows
    n_work = w.count()
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b2")          # only the last batch replays
    )
    q2 = stream_chunk_refresh_sink(stream2, man, work, str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    assert spark.read.parquet(work).count() == n_work
    # and the manifest is unchanged by the replay
    still = {
        tuple(r)
        for r in spark.read.parquet(man)
        .select("doc_id", "chunk_index", "chunk_hash")
        .collect()
    }
    assert still == want_man


def test_stream_scd2_sink_recovers_between_renames_crash(spark, tmp_path):
    """The two-rename swap's only no-dim-at-path window: simulate a
    crash that left the dimension under ``__old_*`` (plus a dead
    ``__v_*`` partial) and verify the next run repairs it and folds
    the remaining batch — instead of silently re-bootstrapping from
    one batch and losing history."""
    import os
    import shutil
    from datetime import datetime

    from lakehouse_to_rag_spark.operators.events import scd2_dimension
    from lakehouse_to_rag_spark.streaming.pipeline import stream_scd2_sink

    src = str(tmp_path / "src")
    dim = str(tmp_path / "dim")
    os.makedirs(src)
    t = lambda h: datetime(2024, 1, 1, h)  # noqa: E731
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    b1 = [(1, t(0), 7, "a"), (2, t(1), 7, "b")]
    b2 = [(3, t(2), 7, "c"), (4, t(2), 9, "x")]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/b1")

    stream1 = spark.readStream.schema(schema).parquet(src + "/*")
    stream_scd2_sink(stream1, dim, str(tmp_path / "ck1")).awaitTermination(120)

    # simulate death between the two renames + a dead write partial
    os.rename(dim, dim + "__old_deadbeef")
    os.makedirs(dim + "__v_dead")
    with open(dim + "__v_dead/part-junk.parquet", "w") as f:
        f.write("junk")

    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(src + "/b2")
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    stream_scd2_sink(stream2, dim, str(tmp_path / "ck2")).awaitTermination(120)

    got = sorted(
        map(str, (tuple(r) for r in spark.read.parquet(dim).collect()))
    )
    want = sorted(
        map(
            str,
            (
                tuple(r)
                for r in scd2_dimension(
                    spark.createDataFrame(b1 + b2, schema)
                ).collect()
            ),
        )
    )
    assert got == want
    assert not os.path.exists(dim + "__old_deadbeef")
    assert not os.path.exists(dim + "__v_dead")
    shutil.rmtree(src)


def test_stream_chunk_refresh_sink_rejects_batch_internal_dup_ids(
    spark, tmp_path
):
    """Two versions of one doc inside a single micro-batch must
    fail-close (the r9 index-sink convention) — a per-doc manifest
    replacement would otherwise interleave both versions' chunks."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from lakehouse_to_rag_spark.streaming.pipeline import (
        stream_chunk_refresh_sink,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "doc_id long, text string"
    rows = [(1, "alpha beta gamma delta"), (1, "alpha beta gamma EDIT")]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        src + "/b1"
    )
    stream = spark.readStream.schema(schema).parquet(src + "/*")
    q = stream_chunk_refresh_sink(
        stream,
        str(tmp_path / "man"),
        str(tmp_path / "work"),
        str(tmp_path / "ck"),
    )
    with pytest.raises(StreamingQueryException, match="distinct non-null"):
        q.awaitTermination(120)


@pytest.mark.parametrize(
    "crash_point",
    [
        "bootstrap_partial_tmp",
        "partial_tmp",
        "complete_tmp_before_renames",
        "between_renames",
        "after_swap_old_remnant",
        "clean",
    ],
)
def test_stream_scd2_sink_replays_from_every_crash_boundary(
    spark, tmp_path, crash_point
):
    """EVERY boundary of the two-rename ledger swap (VERDICT r10 task
    7 — the exhaustive-crash-point discipline test_sources applies to
    layer swaps, applied to the sink that owns crash-consistent
    ledger state): reconstruct the exact post-crash filesystem state
    at each boundary, restart the stream from a fresh checkpoint over
    the full source, and require the dimension to equal the batch
    scd2_dimension over the full history with zero swap remnants —
    whether recovery must discard a partial, rename the old dim back,
    garbage-collect a stale old, or just skip via the ledger."""
    import os
    import shutil
    from datetime import datetime

    from lakehouse_to_rag_spark.operators.events import scd2_dimension
    from lakehouse_to_rag_spark.streaming.pipeline import stream_scd2_sink

    src = str(tmp_path / "src")
    dim = str(tmp_path / "dim")
    os.makedirs(src)
    t = lambda h: datetime(2024, 1, 1, h)  # noqa: E731
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    b1 = [(1, t(0), 7, "a"), (2, t(1), 7, "b"), (3, t(0), 9, "x")]
    b2 = [(4, t(2), 7, "c"), (5, t(2), 11, "q")]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(src + "/b2")

    # reference states: DIM1 = dim after batch 0 only (ledger [0]),
    # DIM2 = dim after both batches (ledger [0, 1]) — produced by the
    # sink itself so ledgers/batch-ids match what a real run writes
    def _run(ck: str) -> None:
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        stream_scd2_sink(s, dim, str(tmp_path / ck)).awaitTermination(120)

    only_b1 = str(tmp_path / "only_b1")
    os.makedirs(only_b1)
    shutil.copytree(src + "/b1", only_b1 + "/b1")
    s1 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(only_b1 + "/*")
    )
    stream_scd2_sink(s1, dim, str(tmp_path / "ck_dim1")).awaitTermination(120)
    dim1 = str(tmp_path / "snap_dim1")
    shutil.copytree(dim, dim1)
    _run("ck_dim2")  # folds b2 on top (b1 replays as ledger no-op)
    dim2 = str(tmp_path / "snap_dim2")
    shutil.copytree(dim, dim2)
    shutil.rmtree(dim)

    # reconstruct the post-crash state for this boundary
    def _junk_partial(path: str) -> None:
        os.makedirs(path)
        with open(path + "/part-junk.parquet", "w") as f:
            f.write("junk")

    if crash_point == "bootstrap_partial_tmp":
        _junk_partial(dim + "__v_dead")          # died mid-bootstrap
    elif crash_point == "partial_tmp":
        shutil.copytree(dim1, dim)               # batch-1 applied
        _junk_partial(dim + "__v_dead")          # died mid-write of b2
    elif crash_point == "complete_tmp_before_renames":
        shutil.copytree(dim1, dim)
        shutil.copytree(dim2, dim + "__v_done")  # died before rename 1
    elif crash_point == "between_renames":
        shutil.copytree(dim1, dim + "__old_dead")  # died between renames
        shutil.copytree(dim2, dim + "__v_done")
    elif crash_point == "after_swap_old_remnant":
        shutil.copytree(dim2, dim)               # died before cleanup
        shutil.copytree(dim1, dim + "__old_dead")
    elif crash_point == "clean":
        shutil.copytree(dim2, dim)

    _run("ck_replay")  # fresh checkpoint: full-source replay

    got = sorted(
        map(str, (tuple(r) for r in spark.read.parquet(dim).collect()))
    )
    want = sorted(
        map(
            str,
            (
                tuple(r)
                for r in scd2_dimension(
                    spark.createDataFrame(b1 + b2, schema)
                ).collect()
            ),
        )
    )
    assert got == want, crash_point
    import glob

    assert glob.glob(dim + "__*") == [], crash_point


def test_stream_media_dedup_sink_equals_batch_loop_and_replays(
    spark, tmp_path
):
    """r12: the streaming twin of the perceptual ingest loop. One
    availableNow pass over a media source must leave the SAME
    signature ledger as the batch admit loop over the same batches;
    re-delivering everything through a fresh checkpoint must change
    nothing (content idempotence — no batch-id ledger needed); and a
    later file arriving on the same checkpoint dedups against every
    prior admission."""
    import pandas as pd

    from lakehouse_to_rag_spark.multimodal.ops import encode_png
    from lakehouse_to_rag_spark.multimodal.phash import (
        synth_gradient_image,
    )
    from lakehouse_to_rag_spark.operators.dedup import admit_media_batch
    from lakehouse_to_rag_spark.streaming.pipeline import (
        stream_media_dedup_sink,
    )

    def _pdf(ids):
        return pd.DataFrame(
            [(i, encode_png(synth_gradient_image(i))) for i in ids],
            columns=["doc_id", "payload"],
        )

    # batch 0: bases 0..4 with planted intra-batch near-dup members
    src = str(tmp_path / "media_src")
    spark.createDataFrame(_pdf(list(range(10)))).coalesce(1).write.parquet(
        src
    )
    schema = spark.read.parquet(src).schema

    stream_path = str(tmp_path / "sigs_stream")
    ck1 = str(tmp_path / "ck1")
    stream = spark.readStream.schema(schema).parquet(src)
    stream_media_dedup_sink(stream, stream_path, ck1).awaitTermination(120)

    batch_path = str(tmp_path / "sigs_batch")
    admit_media_batch(
        spark, batch_path,
        spark.createDataFrame(_pdf(list(range(10)))),
    )
    def _ids(p):
        # r13 banded ledger: one row per (id, block) — distinct ids
        # are the admission record
        return sorted(
            r["id"]
            for r in spark.read.parquet(p).select("id").distinct().collect()
        )

    stream_ids = _ids(stream_path)
    batch_ids = _ids(batch_path)
    assert stream_ids == batch_ids == [0, 2, 4, 6, 8]

    # full replay through a FRESH checkpoint: content idempotence
    stream2 = spark.readStream.schema(schema).parquet(src)
    stream_media_dedup_sink(
        stream2, stream_path, str(tmp_path / "ck2")
    ).awaitTermination(120)
    assert _ids(stream_path) == [0, 2, 4, 6, 8]

    # a later file on the ORIGINAL checkpoint: near-dups of prior
    # admissions dropped, fresh bases admitted keep-first
    spark.createDataFrame(_pdf([1, 3, 20, 21])).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream3 = spark.readStream.schema(schema).parquet(src)
    stream_media_dedup_sink(stream3, stream_path, ck1).awaitTermination(120)
    assert _ids(stream_path) == [0, 2, 4, 6, 8, 20]
    # in-band staging reclamation (r13): the sink never holds the
    # returned DataFrame, so no per-trigger staging dir may survive
    import os

    assert not os.path.exists(f"{stream_path}__staging")


def test_stream_text_dedup_sink_equals_batch_loop_and_replays(
    spark, tmp_path
):
    """r13: the streaming twin of the TEXT fingerprint ingest loop.
    One availableNow pass must leave the SAME bucketed fingerprint
    ledger as the batch admit loop over the same rows; a full replay
    through a fresh checkpoint changes nothing (content idempotence —
    no batch-id ledger); and a later file on the original checkpoint
    dedups against every prior admission WITHOUT watermark state
    (the ledger, not the state store, is the memory — the property
    incremental_dedup_stream's within-watermark form cannot give
    across distant triggers)."""
    from lakehouse_to_rag_spark.operators.curation import admit_batch
    from lakehouse_to_rag_spark.streaming.pipeline import (
        stream_text_dedup_sink,
    )

    def _df(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    # batch 0: 1/10 share content (intra-batch dup), 2/11 normalize
    # equal (case+whitespace), 3..5 unique
    rows0 = [
        (1, "alpha beta"), (10, "alpha beta"),
        (2, "  GAMMA   delta "), (11, "gamma delta"),
        (3, "epsilon"), (4, "zeta"), (5, "eta"),
    ]
    src = str(tmp_path / "docs_src")
    _df(rows0).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream_path = str(tmp_path / "fps_stream")
    ck1 = str(tmp_path / "ck1")
    stream = spark.readStream.schema(schema).parquet(src)
    stream_text_dedup_sink(stream, stream_path, ck1).awaitTermination(120)

    batch_path = str(tmp_path / "fps_batch")
    admit_batch(spark, batch_path, _df(rows0))

    def _fps(p):
        return sorted(
            r["content_fp"]
            for r in spark.read.parquet(p)
            .select("content_fp").distinct().collect()
        )

    assert _fps(stream_path) == _fps(batch_path)
    assert len(_fps(stream_path)) == 5  # 2 dup groups collapsed

    # full replay through a FRESH checkpoint: content idempotence
    stream2 = spark.readStream.schema(schema).parquet(src)
    stream_text_dedup_sink(
        stream2, stream_path, str(tmp_path / "ck2")
    ).awaitTermination(120)
    assert _fps(stream_path) == _fps(batch_path)

    # a later file on the ORIGINAL checkpoint: dups of trigger-1
    # admissions dropped (cross-trigger, no watermark involved),
    # fresh content admitted
    _df([(20, "ALPHA   beta"), (21, "theta")]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream3 = spark.readStream.schema(schema).parquet(src)
    stream_text_dedup_sink(stream3, stream_path, ck1).awaitTermination(120)
    fps = _fps(stream_path)
    assert len(fps) == 6  # only "theta" is new
    assert set(_fps(batch_path)) < set(fps)  # prior admissions intact
    # the ledger stayed bucketed through the stream writes
    import os
    import pathlib

    assert list(pathlib.Path(stream_path).glob("bucket=*"))
    # in-band staging reclamation: the sink discards admit_batch's
    # returned DataFrame, so continuous operation must not leak one
    # staging dir per micro-batch
    assert not os.path.exists(f"{stream_path}__staging")
