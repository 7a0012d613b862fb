"""Corpus-assembly operators for large-scale training pipelines:
bloom-filter decontamination, deterministic global shuffle, domain
mixing, and incremental (new-batch-vs-corpus) dedup.

These are the steps BETWEEN per-document scoring (text_analysis.py)
and training: decide what may enter the corpus (decontaminate),
in what proportions (domain mix), without re-admitting what a prior
snapshot already holds (incremental dedup), and in what order
(training shuffle). Reference parity: the reference engine stops at
per-table analytics (src/analysis/duckdb_queries.py); these extend
the same documents data model to the curation surface a 100 TB
pipeline needs.

All hashing here is md5-derived (not xxhash64): every operator's
output must be reproducible by ANY engine that stores the corpus —
split/sample/shuffle decisions are part of the dataset contract, not
engine internals — and md5 is the hash both Spark and the DuckDB
oracles evaluate bit-identically (same rationale as
text_analysis.train_split_assign).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_to_rag_spark.functions.text import normalize_text
from lakehouse_to_rag_spark.sources.tables import local_df


def md5_bucket(col: Column, salt: str, m: int) -> Column:
    """Deterministic uniform bucket in [0, m): first 15 hex chars of
    md5(salt || value) = 60 unsigned bits (fits a signed long), mod m.
    Portable: DuckDB spells it ('0x' || substr(md5(...),1,15))::BIGINT.
    """
    h = F.md5(F.concat(F.lit(salt), col.cast("string")))
    return F.conv(h.substr(1, 15), 16, 10).cast("long") % m


def _bloom_positions(col: Column, m_bits: int, k: int) -> list[Column]:
    return [md5_bucket(col, f"bloom{i}:", m_bits) for i in range(k)]


def bloom_decontaminate(
    df: DataFrame,
    holdout: DataFrame,
    m_bits: int = 1 << 20,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    holdout_text_col: str | None = None,
) -> DataFrame:
    """Flag documents whose text collides with a held-out set in a
    Bloom filter — the scale-safe benchmark-decontamination primitive.

    Why a Bloom filter and not an exact semi-join on content hashes:
    the filter's size is FIXED at ``m_bits`` bits no matter how large
    the holdout grows, so the broadcast side is bounded by contract
    (≤ m_bits distinct bit positions; 2^20 bits ≈ 128 KiB of state vs
    an unbounded hash set of holdout fingerprints). The cost is a
    tunable false-positive rate ≈ (set_bits/m)^k — acceptable for
    decontamination, where flagged docs are dropped or reviewed, never
    kept on the filter's word alone.

    Spark-first physical shape: the "filter" is the DISTINCT set of
    bit positions the holdout sets (one partial-aggregatable explode +
    distinct, ≤ m_bits rows), and membership is a broadcast join of
    each probe doc's k positions against it — the same physical
    operator a JVM bitmap literal would compile to, with zero Python
    and no driver materialization. A doc is flagged iff ALL k of its
    probe bits are set, exactly the classic Bloom contract (false
    positives occur when other keys set all k bits — the DuckDB oracle
    reproduces them bit-for-bit, since the position set, not the
    bitmap encoding, is the filter's entire state).

    Output: (id, n_hit_bits, is_flagged) for every input doc.
    """
    probe_text = F.col(text_col)
    ho_text = F.col(holdout_text_col or text_col)

    bits = (
        holdout.select(
            F.explode(F.array(*_bloom_positions(ho_text, m_bits, k))).alias(
                "pos"
            )
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probes = df.select(
        F.col(id_col),
        F.explode(F.array(*_bloom_positions(probe_text, m_bits, k))).alias(
            "pos"
        ),
    )
    return (
        probes.join(F.broadcast(bits), "pos", "left")
        .groupBy(id_col)
        .agg(F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hit_bits"))
        .select(
            F.col(id_col),
            F.col("n_hit_bits").cast("long").alias("n_hit_bits"),
            (F.col("n_hit_bits") >= k).alias("is_flagged"),
        )
    )


def _shuffle_key_col(id_col: str, seed: str):
    """The deterministic epoch-permutation sort key (md5 of seed+id) —
    shared by training_shuffle and write_pretrain_corpus so the two
    can never disagree on an epoch's order."""
    return F.md5(
        F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
    ).alias("shuffle_key")


def _shard_col(id_col: str, seed: str, n_shards: int):
    return (
        md5_bucket(F.col(id_col), f"{seed}/shard:", n_shards)
        .cast("int")
        .alias("shard")
    )


def training_shuffle(
    df: DataFrame,
    n_shards: int = 64,
    id_col: str = "doc_id",
    seed: str = "shuffle0",
) -> DataFrame:
    """Deterministic global shuffle for training order: every doc gets
    a reproducible pseudo-random sort key (md5 of seed+id) and a shard
    assignment, and rows come back hash-partitioned by shard and
    sorted by key WITHIN each shard.

    The 100 TB shape is the point: a true global ORDER BY would funnel
    the corpus through a range exchange and a total sort; training
    ingestion doesn't need it — readers consume shards independently,
    so one hash exchange on ``shard`` plus a local sort (both shown in
    the plan) delivers a reproducible shuffle with per-shard
    sequential I/O. Changing ``seed`` is a fresh epoch permutation;
    no RNG state, any engine recomputes the same order from the ids.
    """
    keyed = df.select(
        F.col(id_col),
        _shard_col(id_col, seed, n_shards),
        _shuffle_key_col(id_col, seed),
    )
    return keyed.repartition(n_shards, "shard").sortWithinPartitions(
        "shard", "shuffle_key"
    )


def domain_mix_sample(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    group_col: str = "source",
    precision: int = 1_000_000,
) -> DataFrame:
    """Deterministic domain-mixing sample: draw the LARGEST corpus in
    which each listed group holds exactly its target weight share
    (groups absent from ``weights`` are dropped). The binding group is
    the one with the least data relative to its target — its rate is
    1.0 and every other group downsamples proportionally:
    N_max = min_g(n_g / w_g), rate_g = N_max · w_g / n_g.

    Two passes, both scale-flat: a per-group count (partial-aggregated,
    |groups| rows) joined BROADCAST back onto the corpus, then a
    per-row keep decision by md5 bucket < rate·precision — no RNG, no
    sort, reproducible by any engine. The float expression for rate is
    written identically in the DuckDB oracle so the cast-to-long
    threshold matches bit-for-bit.
    """
    spark = df.sparkSession
    wdf = F.broadcast(
        local_df(
            spark,
            [(g, float(w)) for g, w in weights.items()],
            f"{group_col} string, w double",
        )
    )
    counts = (
        df.join(wdf, group_col)
        .groupBy(group_col, "w")
        .agg(F.count(F.lit(1)).cast("double").alias("n_g"))
    )
    # global min over the |groups|-row counts frame (single-partition
    # window is fine at that size; the corpus never takes this path)
    n_max = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rates = counts.withColumn(
        "rate",
        F.least(
            F.lit(1.0),
            F.min(F.col("n_g") / F.col("w")).over(n_max)
            * F.col("w")
            / F.col("n_g"),
        ),
    ).select(group_col, "rate")
    bucket = md5_bucket(F.col(id_col), "mix:", precision)
    # explicit floor: Spark's double->long cast truncates while other
    # engines round, so the threshold must be floored BEFORE comparing
    # for the kept set to be engine-portable
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(bucket < F.floor(F.col("rate") * precision).cast("long"))
        .select(
            F.col(id_col),
            F.col(group_col),
            F.round("rate", 6).alias("sample_rate"),
        )
    )


def temperature_mix_sample(
    df: DataFrame,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    group_col: str = "source",
    precision: int = 1_000_000,
) -> DataFrame:
    """Temperature-scaled mixing (the multilingual-corpus standard,
    cf. multilingual-BERT / XLM-R exponential smoothing): target
    shares proportional to n_g^alpha instead of fixed weights, so
    alpha=1 keeps natural proportions, alpha->0 approaches uniform,
    and 0<alpha<1 boosts small groups without starving big ones.
    Draws the LARGEST corpus achieving those shares exactly: the
    binding group gets rate 1.0 (for alpha<=1 that is always the
    SMALLEST group: rate_g ∝ (n_b/n_g)^(1-alpha) ≤ 1), every other
    group downsamples by md5 bucket — the same two-pass
    count+broadcast-join shape as ``domain_mix_sample``, no RNG.

    Engine-portable discipline: the rate is rounded to 9dp BEFORE the
    floor(rate·precision) threshold in both engines, so a last-ulp
    pow() difference cannot flip a keep decision."""
    counts = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("n_g")
    )
    n_max = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # rate_g = min_h(n_h / n_h^alpha) * n_g^alpha / n_g
    rates = counts.withColumn(
        "rate",
        F.round(
            F.least(
                F.lit(1.0),
                F.min(F.col("n_g") / F.pow("n_g", F.lit(alpha))).over(n_max)
                * F.pow("n_g", F.lit(alpha))
                / F.col("n_g"),
            ),
            9,
        ),
    ).select(group_col, "rate")
    bucket = md5_bucket(F.col(id_col), "tmix:", precision)
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(bucket < F.floor(F.col("rate") * precision).cast("long"))
        .select(
            F.col(id_col),
            F.col(group_col),
            F.round("rate", 6).alias("sample_rate"),
        )
    )


def incremental_dedup(
    incoming: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_text_col: str | None = None,
) -> DataFrame:
    """Admit only the incoming documents whose normalized content is
    new — the continuous-ingest companion to the whole-corpus dedup
    family: a nightly batch dedups against yesterday's 100 TB snapshot
    without ever re-clustering the snapshot.

    Content identity is md5(normalize(text)) — the same normalization
    as the exact-dedup operators. Two pruning steps, both shuffle-lean:
    a LEFT ANTI join against the corpus's distinct fingerprints
    (fingerprints only — the corpus's text never moves; at 100 TB the
    fingerprint table is the thing you maintain incrementally as a
    lakehouse table, cf. sources/lakehouse.py upsert_by_key), then a
    keep-first-by-id window WITHIN the incoming batch for dups that
    arrive together. Output: surviving (id, content_fp) rows.
    """
    fp_in = F.md5(normalize_text(F.col(text_col)))
    fp_corp = F.md5(normalize_text(F.col(corpus_text_col or text_col)))

    seen = corpus.select(fp_corp.alias("content_fp")).distinct()
    fresh = (
        incoming.select(F.col(id_col), fp_in.alias("content_fp"))
        .join(seen, "content_fp", "left_anti")
    )
    w = Window.partitionBy("content_fp").orderBy(F.col(id_col))
    return (
        fresh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col(id_col), F.col("content_fp"))
    )


def _keep_first_fresh(
    keyed: DataFrame, snapshot_fps: DataFrame, id_col: str
) -> DataFrame:
    """Shared core of the fingerprint ingest loop: drop keyed rows
    whose ``content_fp`` is already in the snapshot, then keep-first
    (smallest id) within each surviving fingerprint group."""
    fresh = keyed.join(
        snapshot_fps.select("content_fp"), "content_fp", "left_anti"
    )
    w = Window.partitionBy("content_fp").orderBy(F.col(id_col))
    return (
        fresh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col(id_col), F.col("content_fp"))
    )


def incremental_dedup_fps(
    incoming: DataFrame,
    snapshot_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``incremental_dedup`` against a MAINTAINED fingerprint table
    instead of the raw corpus — the shape the 100 TB story actually
    runs: the snapshot's text is never re-read, only its (small)
    distinct-fingerprint table, which ``admit_batch`` below keeps
    current after every batch.

    ``snapshot_fps`` needs one column: ``content_fp``.
    """
    fp_in = F.md5(normalize_text(F.col(text_col)))
    keyed = incoming.select(F.col(id_col), fp_in.alias("content_fp"))
    return _keep_first_fresh(keyed, snapshot_fps, id_col)


# Storage bucket count for the fingerprint ledger (r13 — the media-
# ledger read-side discipline applied to the TEXT loop): exact-dup
# admission needs only the snapshot fingerprints whose md5 the batch
# itself produces, and those hash to a bounded bucket set.
_FP_LEDGER_BUCKETS = 256


def _fp_bucketed(fps: DataFrame, n_buckets: int) -> DataFrame:
    return fps.withColumn(
        "bucket",
        F.pmod(F.xxhash64("content_fp"), F.lit(n_buckets)).cast("int"),
    )


def _read_fp_scheme(spark: SparkSession, path: str) -> int | None:
    """n_buckets from ``{path}/_scheme``; None for a pre-r13 flat
    fingerprint table AND for an unreadable record (torn write) —
    both heal through ``migrate_fp_table`` (see ``_ledger``)."""
    from lakehouse_to_rag_spark.operators._ledger import read_scheme

    got = read_scheme(spark, path, ("n_buckets",))
    return None if got is None else got["n_buckets"]


def _write_fp_scheme(
    spark: SparkSession, path: str, n_buckets: int
) -> None:
    from lakehouse_to_rag_spark.operators._ledger import write_scheme

    write_scheme(spark, path, {"n_buckets": n_buckets})


def migrate_fp_table(
    spark: SparkSession, path: str, n_buckets: int = _FP_LEDGER_BUCKETS
) -> None:
    """One-time migration of a fingerprint table to the bucketed
    append-only layout (r13): distinct content_fp rows rewritten
    under ``bucket=N/`` with a ``_scheme`` record, atomic swap — the
    shared ``_ledger.migrate_ledger`` discipline. The distinct also
    heals a crashed bootstrap that wrote data but died before its
    scheme."""
    from lakehouse_to_rag_spark.operators._ledger import migrate_ledger

    migrate_ledger(
        spark, path,
        lambda rows: _fp_bucketed(
            rows.select("content_fp").distinct(), n_buckets
        ),
        {"n_buckets": n_buckets},
    )


def compact_fp_table(spark: SparkSession, fp_table_path: str) -> int:
    """Maintenance-window compaction of the bucketed fingerprint
    ledger — the manual form of the per-bucket-depth trigger inside
    ``admit_batch``. Same shared ``index_layout.compact`` swap,
    ``_scheme`` carried verbatim; run with the ingest loop QUIESCED.
    Returns the data file count written."""
    from lakehouse_to_rag_spark.operators._ledger import compact_ledger

    return compact_ledger(spark, fp_table_path, split_col="content_fp")


def admit_batch(
    spark: SparkSession,
    fp_table_path: str,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_files_threshold: int = 64,
    n_buckets: int = _FP_LEDGER_BUCKETS,
) -> DataFrame:
    """One turn of the continuous-ingest dedup loop: dedup ``incoming``
    against the fingerprint table at ``fp_table_path``, then record the
    admitted fingerprints so the NEXT batch excludes this batch's
    admissions. First call bootstraps the table.

    The fingerprint ledger follows the media-ledger discipline (r13 —
    both O(cumulative)-per-batch patterns removed in one move):

    - APPEND-ONLY writes: admitted fingerprints are all-new BY
      CONSTRUCTION (anything already tabled was dropped by the
      anti-join), so they append as new files instead of the previous
      ``upsert_by_key`` full-table rewrite — which under the parquet
      fallback cost O(cumulative) write I/O per batch, O(n²) over an
      ingest lifetime.
    - BUCKET-PRUNED reads: the ledger is partitioned by
      ``bucket=N/`` (``pmod(xxhash64(content_fp), n_buckets)``); the
      batch computes its own fingerprints once (checkpointed),
      collects their distinct buckets (a driver list bounded by
      ``min(batch, n_buckets)``), and anti-joins against ONLY those
      directories — exact, since equal fingerprints hash to equal
      buckets. Scheme recorded in ``{path}/_scheme``; a pre-r13 flat
      table migrates once, atomically (``migrate_fp_table``).
    - compaction on per-bucket file depth through the shared
      ``index_layout.compact`` swap (``_scheme`` carried verbatim).
      Each call first runs ``sources.dirswap.recover`` on the table,
      so a migration or compaction swap that died mid-way is healed
      before the table is read.

    Replay semantics match the media ledger: a batch that died
    mid-append re-admits exactly its not-yet-visible fingerprints on
    replay; a fully-committed batch replays to zero admissions and
    appends nothing.

    Returns the admitted (id, content_fp) rows, materialized to a
    UNIQUE per-batch staging dir under ``{fp_table_path}__staging/``
    (never collect(): an ingest batch at 100 TB must not round-trip
    through the driver; and not localCheckpoint for the RETURNED
    rows: the result outlives this call, and executor-memory blocks
    are unrecoverable after executor loss, while a parquet staging
    write survives anything. The batch's own keyed fingerprints ARE
    pinned with ``localCheckpoint(eager=True)`` — a strictly
    narrower, intra-call use: losing those blocks just fails THIS
    batch's job, and the replay contract above makes the retry
    exact, so durable staging there would be wasted I/O). Staging
    dirs accumulate;
    reclaim with :func:`cleanup_staging` once every returned
    DataFrame has been consumed."""
    import os
    import uuid

    from lakehouse_to_rag_spark.sources.dirswap import recover
    from lakehouse_to_rag_spark.sources.lakehouse import (
        read_layer,
        write_layer,
    )

    recover(fp_table_path)
    exists = os.path.exists(fp_table_path)
    if exists:
        stored = _read_fp_scheme(spark, fp_table_path)
        if stored is None:
            migrate_fp_table(spark, fp_table_path, n_buckets)
            stored = n_buckets
        n_buckets = stored
    fp_in = F.md5(normalize_text(F.col(text_col)))
    # fingerprint/normalize ONCE: the bucket probe, the anti-join,
    # and the keep-first window all reuse the keyed rows. NULL text
    # drops here, matching incremental_dedup's convention (r13
    # property-test find): a null fingerprint can never match an
    # anti-join key, so a null-text doc would be "admitted" again on
    # EVERY replay and append a junk ledger row each time — breaking
    # the replay-to-zero contract this loop is built on.
    keyed = _fp_bucketed(
        incoming.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col), fp_in.alias("content_fp")
        ),
        n_buckets,
    ).localCheckpoint(eager=True)
    if exists:
        in_buckets = sorted(
            r["bucket"]
            for r in keyed.select("bucket").distinct().collect()
        )
        # partition pruning at file-listing time; the explicit schema
        # skips planning-time footer sampling of cold buckets
        snapshot = (
            spark.read.schema("content_fp string, bucket int")
            .parquet(fp_table_path)
            .filter(F.col("bucket").isin(in_buckets))
            .select("content_fp")
        )
    else:
        snapshot = local_df(spark, [], "content_fp string")
    admitted = _keep_first_fresh(keyed, snapshot, id_col)
    staging = os.path.join(f"{fp_table_path}__staging", uuid.uuid4().hex)
    write_layer(admitted, staging)
    out = read_layer(spark, staging)
    out_fps = _fp_bucketed(
        out.select("content_fp").distinct(), n_buckets
    )
    nonempty = out.limit(1).count() > 0
    if not exists and nonempty:
        # bootstrap only when something was ADMITTED (r13 property-
        # test find): a zero-admission first batch (e.g. all-null
        # text) used to create a ledger with a _scheme but ZERO data
        # files — semantically fine for this loop's own explicit-
        # schema reads, but unreadable by any plain
        # spark.read.parquet consumer until real data lands. Leaving
        # 'not exists' standing defers the bootstrap to the first
        # batch with content.
        write_layer(
            out_fps, fp_table_path, partition_by=["bucket"],
            fmt="parquet",
        )
        _write_fp_scheme(spark, fp_table_path, n_buckets)
    elif exists and nonempty:
        write_layer(
            out_fps, fp_table_path, partition_by=["bucket"],
            mode="append", fmt="parquet",
        )
    from lakehouse_to_rag_spark.operators._ledger import compact_if_deep

    compact_if_deep(
        spark, fp_table_path, compact_files_threshold,
        split_col="content_fp",
    )
    return out


def cleanup_staging(fp_table_path: str) -> int:
    """Remove every per-batch staging directory ``admit_batch`` left
    under ``{fp_table_path}__staging/``. Call once the ingest loop is
    done and all returned DataFrames have been consumed — any
    still-unread admit_batch result becomes invalid. Returns the
    number of batch directories removed."""
    import os
    import shutil

    root = f"{fp_table_path}__staging"
    if not os.path.isdir(root):
        return 0
    n = len(os.listdir(root))
    shutil.rmtree(root)
    return n


# ----------------------------------------------------- DSIR resampling

def _hashed_token_buckets(
    df: DataFrame, id_col: str, text_col: str, num_buckets: int
) -> DataFrame:
    """(id, bucket) per token occurrence — the hashed bag-of-words
    featurization both DSIR bag models share. md5-derived buckets keep
    it engine-portable (module hashing contract above)."""
    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    toks = maybe_parallelize(
        df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            F.explode(
                F.split(F.lower(F.col(text_col)), " ", -1)
            ).alias("word"),
        )
    )
    return toks.select(
        "id", md5_bucket(F.col("word"), "dsir:", num_buckets).alias("bucket")
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 1024,
    target_within_raw: bool = False,
) -> DataFrame:
    """Per-document log importance weight ln(p_target(x)/p_raw(x))
    under hashed bag-of-words models with add-1 smoothing — the DSIR
    estimator (Xie et al. 2023, "Data Selection for Language Models
    via Importance Resampling"). Both bag models are ONE aggregation
    over token buckets; scoring is an equi-join of documents' bucket
    counts against the (num_buckets-row, broadcastable) log-ratio
    table, so the whole estimator is two shuffles regardless of
    corpus size.

    Float discipline: per-bucket log-ratios are quantized to INTEGER
    micro-units (floor(x*1e6 + 0.5) — the ln is transcendental and
    must be pinned before any sum), the per-document reduction is an
    exact BIGINT sum (order-independent, so partition count and
    shuffle order cannot flip a 4dp boundary — a plain double SUM
    measurably did, flipping -4.11075 between 8- and 32-slot
    sessions), and the final weight divides back and rounds to 4dp.
    Returns (id, log_weight).

    ``target_within_raw=True`` asserts every target row's (id, text)
    also appears VERBATIM in ``raw`` (the registry shape: target = a
    source filter of the raw corpus). The target bag model is then a
    column-pruned id semi-join over the raw side's ALREADY
    materialized token table instead of a second tokenize+md5 pass
    over the target slice (guide §1.2) — bit-identical counts, since
    the semi-join selects exactly the rows the re-hash would have
    produced. Leave False when target text can diverge from raw's."""
    # tb_r feeds cr + doc_buckets, tb_t feeds ct: checkpoint so the
    # tokenize+hash pipeline runs once per corpus, not once per
    # consumer; totals derive from the <=num_buckets-row count tables
    # (same value as counting the token table, zero extra corpus scans)
    tb_r = _hashed_token_buckets(
        raw, id_col, text_col, num_buckets
    ).localCheckpoint(eager=False)
    if target_within_raw:
        tb_t = tb_r.join(
            target.select(F.col(id_col).alias("id")), "id", "left_semi"
        )
    else:
        tb_t = _hashed_token_buckets(
            target, id_col, text_col, num_buckets
        ).localCheckpoint(eager=False)
    ct = tb_t.groupBy("bucket").agg(F.count(F.lit(1)).alias("ct"))
    cr = tb_r.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    tot_t = ct.agg(F.sum("ct").alias("tt"))
    tot_r = cr.agg(F.sum("cr").alias("tr"))
    ratio = (
        ct.join(cr, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cr", F.lit(0)).alias("cr"),
        )
        .crossJoin(F.broadcast(tot_t))
        .crossJoin(F.broadcast(tot_r))
        .select(
            "bucket",
            F.floor(
                (
                    F.log(
                        (F.col("ct") + F.lit(1.0))
                        / (F.col("tt") + F.lit(float(num_buckets)))
                    )
                    - F.log(
                        (F.col("cr") + F.lit(1.0))
                        / (F.col("tr") + F.lit(float(num_buckets)))
                    )
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            ).cast("long").alias("lr_micro"),
        )
    )
    doc_buckets = tb_r.groupBy("id", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        doc_buckets.join(F.broadcast(ratio), "bucket")
        .groupBy("id")
        .agg(
            # 4dp via FLOOR((micro)/100 + 0.5)/1e4: an integer micro
            # sum divided by 1e6 lands on exact .xxxx5 boundaries,
            # where engine ROUND implementations disagree on the same
            # double — the floor form is pure IEEE, identical anywhere
            (
                F.floor(
                    F.sum(F.col("n") * F.col("lr_micro")) / F.lit(100.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("log_weight")
        )
        .select(F.col("id").alias(id_col), "log_weight")
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 1024,
    target_within_raw: bool = False,
) -> DataFrame:
    """Deterministic DSIR selection: sample ``n`` documents from
    ``raw`` with probability proportional to their importance weight,
    WITHOUT replacement, via the Gumbel-top-k trick — key =
    log_weight + Gumbel(md5(id)), take the n largest. The Gumbel
    noise is a pure function of the document id (u from 60 md5 bits),
    so the 'sample' is a dataset-contract decision any engine can
    reproduce, like train_split_assign. Returns (id, log_weight,
    sel_key, rank) for the selected docs.

    Scale shape: the weight estimator's two shuffles plus ONE
    global top-n (TakeOrderedAndProject-sized: n rows).
    ``target_within_raw`` passes through to ``dsir_log_weights``."""
    w = dsir_log_weights(
        raw, target, id_col, text_col, num_buckets,
        target_within_raw=target_within_raw,
    )
    # u in (0,1): 60 md5 bits + 0.5, over 2^60; g = -ln(-ln(u))
    u = (
        md5_bucket(F.col(id_col), "dsirg:", 2**60).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**60))
    g = F.round(-F.log(-F.log(u)), 6)
    keyed = w.select(
        id_col,
        "log_weight",
        F.round(F.col("log_weight") + g, 6).alias("sel_key"),
    )
    # distributed top-n (TakeOrderedAndProject — per-partition heads,
    # n-row merge on the driver side of the exchange), THEN rank the
    # n-row result; a global un-partitioned Window here would drag the
    # whole corpus through one partition
    top = keyed.orderBy(F.desc("sel_key"), F.asc(id_col)).limit(n)
    win = Window.orderBy(F.desc("sel_key"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(win).cast("long"))


# ------------------------------------------------- diversity selection


def prototype_scores(
    embeddings: DataFrame,
    num_clusters: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector PROTOTYPICALITY (D4, Tirumala et al. 2023,
    "D4: Improving LLM Pretraining via Document De-Duplication and
    Diversification"): train the deterministic Lloyd quantizer, assign
    each vector to its nearest centroid, and emit the cosine to that
    centroid. D4's diversification step DROPS the most prototypical
    tail of each cluster (vectors nearest the centroid are the most
    redundant) after semantic dedup removed the near-duplicates —
    this operator supplies the score; the drop policy (a per-cluster
    rank filter) stays with the caller.

    Training reuses ``kmeans_centroids`` (12dp-rounded Lloyd, the
    SQL-replayable quantizer), so the FULL path is oracle-checkable.
    Assignment argmax uses 12dp-rounded sims with smallest-centroid-id
    ties; the emitted score is the RAW cosine rounded half-away to
    4dp. Returns (id_col, cluster, proto_sim).

    Scale shape: training is the shared distributed Lloyd (one
    partial-agg shuffle per iteration); scoring is ONE Arrow GEMM pass
    against the broadcast (k × dim) centroid matrix — no join, no
    shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from lakehouse_to_rag_spark.operators.similarity import (
        _batch_cosines,
        _round_away,
        kmeans_centroids,
    )

    cent_rows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in kmeans_centroids(
            embeddings, num_clusters, iterations, id_col, vec_col
        ).collect()
    )
    cids = np.array([c[0] for c in cent_rows], dtype=np.int64)
    cmat = np.array([c[1] for c in cent_rows], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = np.nan

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("cluster", LongType()),
            StructField("proto_sim", DoubleType()),
        ]
    )

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            raw = _batch_cosines(m, cmat, cnorm)
            sel = _round_away(raw, 12)
            sel = np.where(np.isnan(sel), -np.inf, sel)
            best = np.argmax(sel, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    "cluster": cids[best],
                    "proto_sim": _round_away(
                        raw[np.arange(len(best)), best], 4
                    ),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        _score, schema=schema
    )


def kcenter_select(
    embeddings: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stop_on_covered: bool = True,
) -> DataFrame:
    """Greedy k-center (farthest-point) selection over cosine
    distance — the classic 2-approximation coreset/diversity picker
    (Gonzalez 1985; used for training-data selection and as the
    k-means++ -style spread seed). Deterministic: the first center is
    the smallest id; each next center is the point FARTHEST from its
    nearest already-selected center (12dp-rounded distance,
    smallest-id ties). Zero-norm vectors (undefined cosine) are
    excluded.

    Returns (rank, id_col, radius): selection order 1..k and the
    point's min-distance-to-prior-centers at selection time — a
    decreasing sequence whose last value is the covering radius of
    the selected set.

    ``stop_on_covered`` (default) ends selection early when the
    covering radius hits zero (every point coincides with a selected
    center — also the k > n case); ``False`` keeps emitting the
    textbook k rows even when they repeat covered points, which is
    the fixed-k unrolled-SQL semantics the registry oracle replays.

    Scale shape: STATELESS rounds — each of the k-1 rounds is one
    Arrow pass computing every point's min distance to ALL centers
    selected so far (one GEMM against the (r × dim) center matrix
    riding the closure) plus one TakeOrderedAndProject top-1, always
    reading the SAME once-checkpointed corpus. Total GEMM work is
    O(n·k²·dim) instead of the stateful form's O(n·k·dim), but a
    stateful running-dmin column would need a NEW full-corpus
    checkpoint per round — and a localCheckpoint's storage blocks
    cannot be freed through DataFrame.unpersist (the SQL CacheManager
    never tracks them), so k rounds would pin k corpus copies in
    executor memory until driver GC. For the k this selector targets
    (≲64), k extra GEMM columns are far cheaper than k pinned corpus
    copies. The corpus is never collected; only the k centers are."""
    import numpy as np

    from lakehouse_to_rag_spark.operators.similarity import (
        _batch_cosines,
        _round_away,
    )

    pts = (
        embeddings.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "v"
            ),
        )
        .filter(
            F.aggregate(
                F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x
            )
            > 0
        )
    )

    pts = pts.localCheckpoint(eager=False)  # the ONE materialization
    first = pts.orderBy(F.asc(id_col)).limit(1).collect()
    if not first:
        raise ValueError("kcenter_select: no nonzero vectors")
    centers = [(1, int(first[0][0]), 0.0, [float(x) for x in first[0][1]])]

    from pyspark.sql.types import DoubleType, StructField, StructType

    # fresh StructType: .add() MUTATES the receiver, which is pts's
    # cached schema object — pts would then claim a dmin column its
    # plan does not have
    schema = StructType(
        list(pts.schema.fields) + [StructField("dmin", DoubleType())]
    )

    for rank in range(2, k + 1):
        cmat = np.array([c[3] for c in centers], dtype=np.float64)
        cns = np.linalg.norm(cmat, axis=1)
        cns[cns == 0] = np.nan

        def _dmin(batches, cmat=cmat, cns=cns):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.array(list(pdf["v"]), dtype=np.float64)
                # per-center 12dp-rounded distances, then min — the
                # same values the running-min form produces, so the
                # unrolled LEAST(...) oracle replays unchanged
                d = _round_away(1.0 - _batch_cosines(m, cmat, cns), 12)
                out = pdf.copy()
                out["dmin"] = np.nanmin(
                    np.where(np.isnan(d), np.inf, d), axis=1
                )
                yield out

        state = pts.mapInPandas(_dmin, schema=schema)
        far = (
            state.orderBy(F.desc("dmin"), F.asc(id_col)).limit(1).collect()
        )
        if not far:
            break
        if stop_on_covered and float(far[0]["dmin"]) == 0.0:
            # max min-distance 0 means every point coincides with a
            # selected center — the set is fully covered; further
            # "centers" would repeat existing points (also the k > n
            # case). Return the genuinely distinct selection.
            break
        r = far[0]
        centers.append(
            (rank, int(r[id_col]), float(r["dmin"]), [float(x) for x in r["v"]])
        )

    spark = embeddings.sparkSession
    return local_df(
        spark,
        [(c[0], c[1], c[2]) for c in centers],
        f"rank long, {id_col} long, radius double",
    )


def write_pretrain_corpus(
    docs: DataFrame,
    path: str,
    n_shards: int = 64,
    seed: str = "epoch0",
    id_col: str = "doc_id",
) -> str:
    """Materialize a curated corpus as the TRAINING-SHARD layout — the
    artifact a data loader actually consumes: ``{path}/shard=N/``
    directories, rows inside each shard file sorted by the
    deterministic ``training_shuffle`` key. Readers stream shards
    independently (sequential I/O, no global order needed); a new
    ``seed`` is a fresh epoch permutation of the same corpus.

    Scale shape: ONE hash exchange on shard + per-partition sort —
    identical to ``training_shuffle``, whose key/shard EXPRESSIONS are
    computed inline on the corpus (they are pure md5 functions of the
    id, so joining against a separately-shuffled key table would add
    two full-corpus exchanges for columns a projection provides).
    All input columns pass through unchanged. Returns the format
    written."""
    from lakehouse_to_rag_spark.sources.lakehouse import write_layer

    keyed = docs.select(
        "*",
        _shard_col(id_col, seed, n_shards),
        _shuffle_key_col(id_col, seed),
    )
    sharded = keyed.repartition(n_shards, "shard").sortWithinPartitions(
        "shard", "shuffle_key"
    )
    return write_layer(sharded, path, partition_by=["shard"])


def training_shards_assign(
    df: DataFrame,
    token_budget: int = 100_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "shards0",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic TOKEN-BUDGETED shard assignment (r12 — VERDICT
    r11 task 7): the artifact a trainer consumes is not a hash-bucket
    split but shards of ~equal TOKEN mass cut from one deterministic
    global order. Every doc gets the epoch permutation key
    (``_shuffle_key_col`` — the training_shuffle discipline, so the
    shard order IS the training order), a whitespace token count (the
    ``token_counts``/``sequence_pack`` estimator, so budgets agree
    across the family), and shard = floor(cum_start / token_budget)
    over the (shuffle_key, id) total order — assignment by FIRST
    token, the sequence_pack convention, so a doc spanning a budget
    boundary belongs to the shard it starts in.

    Scale shape — the global cumulative sum WITHOUT a global sort
    funnel: range-partition by the order key, pin partition ids with
    an eager checkpoint (spark_partition_id is not stable across
    re-evaluation), per-partition window cumsum, then add each
    partition's prefix offset (one |partitions|-row collect + a
    broadcast join — bounded by the partition count, never the
    corpus). The result is partition-layout-independent (prefix sums
    over a total order), which is what makes the simple
    SUM() OVER (ORDER BY ...) oracle exact. Returns
    (id_col, shuffle_key, n_tokens, shard)."""
    from lakehouse_to_rag_spark.functions.text import ws_token_count

    if token_budget < 1:
        raise ValueError(
            f"training_shards_assign: token_budget >= 1, {token_budget}"
        )
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    toks = ws_token_count(F.col(text_col)).cast("long")
    keyed = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        _shuffle_key_col(id_col, seed),
        toks.alias("n_tokens"),
    )
    ranged = keyed.repartitionByRange(
        num_partitions, "shuffle_key", id_col
    ).withColumn("_pid", F.spark_partition_id())
    # EAGER: _pid must be pinned before two consumers read it — lazy
    # re-evaluation could re-plan the exchange and renumber partitions
    ranged = ranged.localCheckpoint(eager=True)
    totals = (
        ranged.groupBy("_pid")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    )
    per_pid = {int(r["_pid"]): int(r["t"]) for r in totals}
    offsets, acc = [], 0
    for pid in sorted(per_pid):  # range partitions ascend with the key
        offsets.append((pid, acc))
        acc += per_pid[pid]
    off_df = F.broadcast(
        local_df(spark, offsets or [(0, 0)], "_pid int, _off long")
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy("shuffle_key", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.col("_off") + F.sum("n_tokens").over(w)
    # ALL-INTEGER shard arithmetic (ADVICE r12): cum_start and the
    # budget are non-negative longs, so `div` (integral division) IS
    # floor division — the earlier double-precision FLOOR(x / float)
    # could flip a boundary doc's shard once cumulative token counts
    # approach 2^53 (~9 petatokens — reachable in a 100 TB corpus
    # lifetime), and the DuckDB oracle shared the same float form so
    # the gate could never catch it. Oracle now uses DuckDB's integer
    # `//` on the same longs; both engines divide exactly.
    return (
        ranged.join(off_df, "_pid")
        .select(
            F.col(id_col),
            "shuffle_key",
            "n_tokens",
            (cum - F.col("n_tokens")).alias("_start"),
        )
        .select(
            F.col(id_col),
            "shuffle_key",
            "n_tokens",
            F.expr(f"_start div {int(token_budget)}")
            .cast("long")
            .alias("shard"),
        )
    )


def write_training_shards(
    docs: DataFrame,
    path: str,
    token_budget: int = 100_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "shards0",
) -> DataFrame:
    """The WRITE half of the shard capstone: assign token-budgeted
    shards (``training_shards_assign``), write the corpus partitioned
    by ``shard=N/`` with rows sorted by the epoch key inside each
    shard (a trainer reads shard directories independently, each in
    training order — the write_pretrain_corpus layout under a token
    budget instead of a hash bucket), and publish a MANIFEST read
    BACK from the written files (counts + hashes, the
    rag_index_manifest convention: the manifest proves the write, not
    the plan). Crash-safe: everything — data AND its ``_manifest`` —
    builds in a staging dir and lands via ``sources.dirswap.swap_in``,
    so a visible layer always carries the manifest that describes it;
    remnants of a crashed swap are healed by ``recover`` on the next
    call. Returns the manifest: (shard, n_docs, n_tokens, id_hash)."""
    from lakehouse_to_rag_spark.sources.dirswap import (
        recover,
        staging_path,
        swap_in,
    )
    from lakehouse_to_rag_spark.sources.lakehouse import (
        read_layer,
        write_layer,
    )

    spark = docs.sparkSession
    recover(path)
    assigned = training_shards_assign(
        docs, token_budget, id_col, text_col, seed
    )
    data = docs.join(assigned, id_col).select(
        F.col(id_col), "shard", "shuffle_key", "n_tokens", F.col(text_col)
    )
    tmp = staging_path(path)
    write_layer(
        data.repartition("shard").sortWithinPartitions(
            "shard", "shuffle_key"
        ),
        tmp,
        partition_by=["shard"],
        fmt="parquet",
    )
    manifest = (
        read_layer(spark, tmp, fmt="parquet")  # read BACK: proves the write
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.expr(f"bit_xor(xxhash64(cast({id_col} as string)))")
            .alias("id_hash"),
        )
        # the manifest names the id column it hashed (ADVICE r12): a
        # layer written with a non-default id_col was previously
        # unverifiable — verify_training_shards hardcoded doc_id and
        # failed on read-back
        .withColumn("id_col", F.lit(id_col))
    )
    write_layer(manifest, f"{tmp}/_manifest", fmt="parquet")
    swap_in(tmp, path)
    return read_layer(spark, f"{path}/_manifest", fmt="parquet")


def verify_training_shards(
    spark: SparkSession, path: str, id_col: str | None = None
) -> DataFrame:
    """Fail-closed shard verification: recompute every shard's doc
    count, token sum, and id hash FROM THE DATA FILES and compare to
    the published ``_manifest`` — any divergence (a lost file, a
    partial shard, a foreign row) raises on the mismatching row.

    The check is a FILTER predicate, not a projected column (ADVICE
    r12, medium): the previous form routed the raise through the
    ``n_docs`` output column only, and Catalyst prunes an unconsumed
    projection — ``verify(...).count()`` (the exact form the
    round-trip test used) and any projection that skipped n_docs
    reported green on a divergent layer. A filter's predicate affects
    cardinality, so EVERY consumption path — count(), any column
    subset — must evaluate it for every joined row; it references
    both join sides, so it cannot be pushed below the join either.

    ``id_col`` defaults to the column name the manifest itself
    records (written since r13; ADVICE r12 — a layer written with a
    non-default id column was unverifiable because doc_id was
    hardcoded here). Pass it explicitly only for pre-r13 manifests of
    non-default layers. Returns the verified manifest rows."""
    from lakehouse_to_rag_spark.sources.lakehouse import read_layer

    manifest = read_layer(spark, f"{path}/_manifest", fmt="parquet")
    if id_col is None:
        if "id_col" in manifest.columns:
            # distinct BEFORE collect: the writer stamps a single
            # literal (asserted here), so this ships one row to the
            # driver instead of |shards|
            names = {
                r["id_col"]
                for r in manifest.select("id_col").distinct().collect()
            }
            if len(names) > 1:
                raise ValueError(
                    f"verify_training_shards: manifest names multiple "
                    f"id columns {sorted(names)} — corrupt manifest"
                )
            id_col = names.pop() if names else "doc_id"
        else:
            id_col = "doc_id"  # pre-r13 manifest, default layer
    actual = (
        read_layer(spark, path, fmt="parquet")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("a_docs"),
            F.sum("n_tokens").cast("long").alias("a_tokens"),
            F.expr(f"bit_xor(xxhash64(cast({id_col} as string)))")
            .alias("a_hash"),
        )
    )
    ok = (
        (F.col("n_docs") == F.col("a_docs"))
        & (F.col("n_tokens") == F.col("a_tokens"))
        & (F.col("id_hash") == F.col("a_hash"))
        & F.col("n_docs").isNotNull()
        & F.col("a_docs").isNotNull()
    )
    gate = F.when(ok, F.lit(True)).otherwise(
        F.raise_error(
            F.concat(
                F.lit("verify_training_shards: shard "),
                F.coalesce(F.col("shard").cast("string"), F.lit("?")),
                F.lit(" diverges from its manifest (docs "),
                F.coalesce(F.col("a_docs").cast("string"), F.lit("missing")),
                F.lit(" vs "),
                F.coalesce(F.col("n_docs").cast("string"), F.lit("missing")),
                F.lit(")"),
            )
        ).cast("boolean")
    )
    return (
        manifest.join(actual, "shard", "full_outer")
        .where(gate)
        .select("shard", "n_docs", "n_tokens", "id_hash")
    )


def quality_calibrated_select(
    df: DataFrame,
    frac: float = 0.2,
    score_col: str = "quality_score",
    group_col: str = "source",
    id_col: str = "doc_id",
    exact: bool = True,
) -> DataFrame:
    """Cross-source quality calibration for selection budgets: keep
    the top ``frac`` of each SOURCE by score, not of the pooled
    corpus. Heuristic quality scores are not comparable across
    sources (a web crawl's median differs from curated text's for
    reasons that aren't quality), so a single pooled threshold
    silently reallocates the whole token budget toward whichever
    source's score distribution sits higher — per-source ranking is
    the standard mixing-safe form (the domain_mix_sample discipline
    applied to quality selection).

    Two forms, one contract. ``exact=True`` (the gated, SQL-replayable
    default): per-group row_number over (score DESC, id ASC) kept
    while rank <= ceil(frac * group size) — deterministic to the row.
    The window funnels each source through one task, which is exactly
    wrong for a 100 TB source, so ``exact=False`` is the scale form:
    one partial-aggregated pass computes each group's (1-frac)
    score quantile (approx_percentile — mergeable sketch state, no
    row funnel), broadcast back, then a MAP-ONLY filter keeps rows
    at-or-above their source's threshold. Boundary ties make its kept
    set a superset of exact's at the same threshold (property-tested
    against exact); row counts differ only by the tie mass + sketch
    rank error. Returns the selected rows + per-source rank (exact)
    or the applied threshold (scale form)."""
    if not 0 < frac <= 1:
        raise ValueError(f"quality_calibrated_select: 0 < frac <= 1, {frac}")
    if exact:
        w = Window.partitionBy(group_col).orderBy(
            F.desc(score_col), F.asc(id_col)
        )
        n = Window.partitionBy(group_col)
        return (
            df.withColumn("_rk", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(n))
            .filter(
                F.col("_rk")
                <= F.ceil(F.lit(frac) * F.col("_n")).cast("int")
            )
            .select(
                id_col,
                group_col,
                score_col,
                F.col("_rk").cast("long").alias("source_rank"),
            )
        )
    thresholds = df.groupBy(group_col).agg(
        F.percentile_approx(score_col, 1.0 - frac, 10000).alias("_thr")
    )
    return (
        df.join(F.broadcast(thresholds), group_col)
        .filter(F.col(score_col) >= F.col("_thr"))
        .select(
            id_col,
            group_col,
            score_col,
            F.col("_thr").alias("threshold"),
        )
    )


def deterministic_sample(
    df: DataFrame,
    n: int,
    id_col: str = "doc_id",
    seed: str = "s0",
) -> DataFrame:
    """Deterministic uniform n-sample without an RNG: rank every row
    by md5(seed || id) and keep the lowest ``n`` — the hash is a
    fixed pseudo-random permutation of the ids, so the sample is
    uniform over any id structure, REPRODUCIBLE across engines and
    runs (no sample()/rand() nondeterminism), and a different
    ``seed`` is an independent redraw. The plan is the top-k shape
    (TakeOrderedAndProject: per-partition partial top-n, single
    bounded merge — never a global sort), so it scales like every
    top-k here while ``df.sample()`` would scan-and-keep
    probabilistically without an exact count. Returns the sampled
    rows + the rank key for downstream determinism."""
    if n < 1:
        raise ValueError(f"deterministic_sample: n >= 1, got {n}")
    key = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    return (
        df.withColumn("_sk", key)
        .orderBy("_sk")
        .limit(n)
        .withColumnRenamed("_sk", "sample_key")
    )


def oov_rate(
    df: DataFrame,
    vocab_size: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document OUT-OF-VOCABULARY rate against the corpus's own
    top-``vocab_size`` token vocabulary — the drift/gibberish signal a
    tokenizer-bound pipeline wants before paying for subword encoding:
    documents whose token mass falls outside the corpus head are
    foreign-language, encoding-mangled, or template noise, and the
    rate is the standard feature for routing them (compare
    ``lang_id``'s n-gram heuristic, which this complements with a
    vocabulary-relative measure).

    Vocabulary selection is deterministic: frequency DESC, token ASC
    on ties — reproducible across engines, the property every corpus
    artifact here pins. Scale shape: one token explode feeding a
    partial-agg vocab count whose top-k is the TakeOrdered shape,
    broadcast of the bounded vocab back onto the token stream (never
    a shuffle of the corpus against itself), one groupBy(id). Integer
    flag sums, one final IEEE division, 4dp — bit-stable. Documents
    with no non-empty tokens are absent (the word_freq convention).

    Returns (id_col, n_tokens, n_oov, oov_rate 0..1)."""
    if vocab_size < 1:
        raise ValueError(f"oov_rate: vocab_size >= 1, got {vocab_size}")
    toks = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), " ", -1)).alias("word"),
        )
        .filter(F.length("word") > 0)
    )
    vocab = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .orderBy(F.desc("_cnt"), F.asc("word"))
        .limit(vocab_size)
        .select("word", F.lit(True).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "word", "left")
        .groupBy(F.col(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.col("_in_vocab").isNull().cast("long"))
            .cast("long")
            .alias("n_oov"),
            F.round(
                F.sum(F.col("_in_vocab").isNull().cast("long"))
                / F.count(F.lit(1)),
                4,
            ).alias("oov_rate"),
        )
    )
