"""Similarity search over an embedding column (SURVEY.md §2.13).

Brute-force cosine top-k is the exact baseline; the scale paths are
(1) a two-phase top-k that cuts shuffle volume from O(corpus × queries)
to O(partitions × queries × k), and (2) IVF-style cluster-bucketed
search that prunes the corpus before scoring. All scoring is JVM-side
double math (functions.vectors)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_to_rag_spark.functions.vectors import cosine_similarity
from lakehouse_to_rag_spark.sources import index_layout
from lakehouse_to_rag_spark.sources.tables import local_df


def _wide(df: DataFrame) -> DataFrame:
    """Re-widen a corpus projection before an Arrow/Python compute
    stage (r13 optimization round, guide §4). AQE sizes post-shuffle
    partitions for JVM byte costs, so a small-by-bytes embedding
    exchange coalesces to ONE partition — and the downstream GEMM,
    whose per-row cost is orders of magnitude above a JVM scan's,
    then runs on a single core (measured: doc_pagerank's 5000x5000
    self-kNN scan arrived in 1 partition; one task computed for
    3-6 s while 31 cores idled). ``maybe_parallelize`` repartitions
    only when the incoming partition count is below the session
    parallelism, so at cluster scale (partitions >= cores by
    construction) this is a no-op; every op it guards is
    partition-layout-invariant (batch-local candidates are a superset
    of global winners; partial aggregates commute)."""
    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    return maybe_parallelize(df)


def _round_away(x, decimals: int):
    """Round half AWAY from zero — the semantics of DuckDB's ROUND
    (std::round) and Spark's F.round (HALF_UP), and therefore the one
    rounding every oracle-parity site in this module must use.
    np.round is half-EVEN: on decimal-aligned inputs (e.g. a mean of
    12dp-rounded values) exact .5 boundaries are common, and the two
    conventions then disagree by one ulp-of-decimal — a real hash
    mismatch, observed on trained-centroid means. The multiply/floor
    form reproduces std::round(x * 10^d) / 10^d bit-for-bit for the
    magnitudes this module sees (|x| <= ~4, d <= 12)."""
    import numpy as np

    p = 10.0 ** decimals
    return np.copysign(np.floor(np.abs(x) * p + 0.5), x) / p


def _batch_cosines(m, cmat, cnorm):
    """Raw cosine matrix of an Arrow batch (rows) against a
    centroid/center matrix — the ONE canonical op order every
    oracle-parity GEMM site shares: dot / |row| / |center| (matching
    DuckDB's list_cosine_similarity evaluation shape; normalizing
    before the matmul would reorder float ops and risk 12dp-boundary
    drift), zero row-norms mapped to NaN. Callers apply their own
    rounding/argmax discipline on the returned raw matrix."""
    import numpy as np

    n = np.linalg.norm(m, axis=1)
    n[n == 0] = np.nan
    return (m @ cmat.T) / n[:, None] / cnorm[None, :]


def _ranked_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Deterministic top-k per query: rank by (rounded sim desc, id asc)."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    two_phase: bool = True,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    The query side is broadcast (queries << corpus always); the corpus
    is scanned once with no shuffle for scoring. With ``two_phase``,
    each input partition first reduces to its local top-k per query
    (groupBy(query, partition) with map-side combine), then the global
    top-k ranks only partitions×queries×k rows — this is what survives
    a 1000-executor corpus; a single window over all pairs would
    shuffle the whole cross product.

    Self-matches (same id on both sides) are excluded.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    sim = F.round(cosine_similarity(F.col("qvec"), F.col("nvec")), 4)
    pairs = (
        c.join(q, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    if two_phase:
        local_w = Window.partitionBy("query_id", "pid").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        pairs = (
            pairs.withColumn("pid", F.spark_partition_id())
            .withColumn("lrank", F.row_number().over(local_w))
            .filter(F.col("lrank") <= k)
            .drop("pid", "lrank")
        )
    return _ranked_topk(pairs, k)


def _assert_nonzero_centroids(
    cent_rows: list[tuple[int, list[float]]], where: str
) -> None:
    """Engine/oracle parity guard: ``_gemm_assign`` maps a zero-norm
    centroid's NaN similarity to -inf (never selected), while a DuckDB
    ``ORDER BY ROUND(sim, 12) DESC`` sorts NaN FIRST (always
    selected). Rather than silently diverge if a centroid ever
    degenerates to the zero vector, refuse loudly at the one place
    both engines share — the materialized centroid list."""
    zero = [cid for cid, vec in cent_rows if not any(x != 0.0 for x in vec)]
    if zero:
        raise ValueError(
            f"{where}: centroid(s) {zero} are the zero vector; cosine "
            "assignment is undefined for them and Spark (-inf) and SQL "
            "oracles (NaN-first) would resolve it differently. Remove "
            "zero-norm vectors from the corpus or lower num_centroids."
        )


def _gemm_assign(
    corpus: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Nearest-centroid (max cosine) assignment as ONE Arrow pass:
    each batch GEMMs against the (k × dim) centroid matrix riding the
    task closure. Shared by the trained and untrained IVF quantizers —
    the crossJoin × zip_with/aggregate form it replaces evaluates
    interpreted (never codegen'd), paying k interpreted dots per row.
    Ties resolve to the smallest centroid id (rows are cid-ascending
    and argmax keeps the first maximum), matching the previous
    max_by(struct(csim, -centroid_id)) semantics."""
    import numpy as np

    cent_rows = sorted(cent_rows)
    cids = np.array([c[0] for c in cent_rows], dtype=np.int64)
    cmat = np.array([c[1] for c in cent_rows], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = np.nan

    schema = corpus.select(F.col(id_col), F.col(vec_col)).schema.add(
        "cluster", "long"
    )

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            sims = _batch_cosines(m, cmat, cnorm)
            # round to 12dp before the argmax so a near-tie (last-ulp
            # summation-order gap between engines) collapses to an
            # exact tie that the smallest-centroid-id rule resolves
            # identically everywhere — the oracle rounds the same way
            sims = _round_away(sims, 12)
            # zero-norm rows (or centroids) produce NaN sims; map NaN
            # to -inf so an all-undefined row assigns deterministically
            # to the lowest centroid id instead of nanargmax raising
            # on the whole Arrow batch
            sims = np.where(np.isnan(sims), -np.inf, sims)
            out = pdf[[id_col, vec_col]].copy()
            out["cluster"] = cids[np.argmax(sims, axis=1)]
            yield out

    return corpus.select(id_col, vec_col).mapInPandas(_assign, schema=schema)


def ivf_assign(
    corpus: DataFrame,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer without iterative training: centroids are
    the first ``num_centroids`` vectors by id (deterministic; real
    k-means would refine them — the *plumbing* is identical). Returns
    (centroids, corpus tagged with nearest-centroid cluster id).

    The seed rows are collected once (one orderBy+limit over
    ``corpus``) and the returned centroid frame is built from those
    collected rows — a driver-local ``LocalRelation`` with the
    (centroid_id, cvec) schema of the seed query — so neither a probe
    broadcast nor a ``_centroids`` write re-runs the orderBy+limit
    over the corpus. The assignment itself stays lazy over
    ``corpus``: a caller that consumes it after this function returns
    evaluates ``corpus`` a second time unless it passed a
    materialized frame (``write_ivf_index`` does).

    Caveat on duplicated corpora: raw first-k-rows seeds can repeat a
    vector, collapsing effective cluster count (correctness holds,
    partition balance degrades). The trained quantizer
    (``kmeans_centroids``) seeds from the first k DISTINCT vectors
    and is the production path for such data.
    """
    cent_src = (
        corpus.orderBy(F.col(id_col)).limit(num_centroids).select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec")
        )
    )
    seeds = cent_src.collect()
    cent_rows = [(int(r[0]), [float(x) for x in r[1]]) for r in seeds]
    _assert_nonzero_centroids(cent_rows, "ivf_assign")
    cent = local_df(corpus.sparkSession, seeds, cent_src.schema)
    assigned = _gemm_assign(corpus, cent_rows, id_col, vec_col)
    return cent, assigned


def _query_probes(
    queries: DataFrame,
    cent: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, qvec, cluster) rows for each query's ``nprobe``
    nearest centroids — the tiny side of every IVF probe (queries ×
    centroids rows, both small by contract)."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("qcsim"), F.asc("centroid_id")
    )
    return (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "qvec",
            "centroid_id",
            # 12dp tolerance: near-tie probe selection must resolve by
            # centroid_id identically in every engine (oracle matches)
            F.round(
                cosine_similarity(F.col("qvec"), F.col("cvec")), 12
            ).alias("qcsim"),
        )
        .withColumn("pr", F.row_number().over(probe_w))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "qvec", F.col("centroid_id").alias("cluster"))
    )


def _score_probed(
    assigned: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    dedupe_candidates: bool = False,
) -> DataFrame:
    """Equi-join probed clusters onto the assigned corpus and rank.

    ``dedupe_candidates`` is the persisted-layout serve path's replay
    armor (ADVICE r6): a crashed-then-replayed streaming append can
    leave duplicate vec_id rows in ``cluster=N/`` files, and without
    dedup each duplicate occupies its own rank slot, skewing top-k.
    Duplicates are bit-identical (frozen quantizer => deterministic
    assignment => same cluster, same cosine), so a dropDuplicates on
    (query_id, neighbor_id) restores exact single-copy results. Cost:
    one partial-aggregatable dedup over the candidate set — the same
    rows the rank window already shuffles, not the corpus."""
    sim = F.round(cosine_similarity(F.col("qvec"), F.col(vec_col)), 4)
    pairs = (
        assigned.join(F.broadcast(probes), "cluster")
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id", F.col(id_col).alias("neighbor_id"), sim.alias("cosine")
        )
    )
    if dedupe_candidates:
        pairs = pairs.dropDuplicates(["query_id", "neighbor_id"])
    return _ranked_topk(pairs, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors in the ``nprobe`` clusters
    nearest to each query. At scale the assigned corpus is written
    partitioned by ``cluster`` so a probe reads only matching
    partitions (see ``write_ivf_index``/``ivf_topk_from_index``, with
    a scan-metrics test proving the pruning); here the pruning happens
    via the equi-join on cluster id."""
    cent, assigned = ivf_assign(corpus, num_centroids, id_col, vec_col)
    probes = _query_probes(queries, cent, nprobe, id_col, vec_col)
    return _score_probed(assigned, probes, k, id_col, vec_col)


def _is_checkpoint(df: DataFrame) -> bool:
    """True when ``df`` is a (lazy or eager) checkpoint: its plan is a
    bare ``LogicalRDD`` over a persisted RDD, so reading it again
    recomputes nothing upstream of it."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return False
    level = plan.rdd().getStorageLevel()
    return level.useMemory() or level.useDisk()


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trained: bool = False,
    iterations: int = 3,
) -> str:
    """Persist the IVF index as a cluster-partitioned lakehouse layer:
    ``{path}/cluster=N/`` holds each cluster's vectors and
    ``{path}/_centroids`` the quantizer (underscore prefix = invisible
    to readers of the corpus root, the same convention parquet uses
    for ``_SUCCESS``). This is the 100 TB layout the probe path needs:
    directory-level partition pruning means a probe LISTS (not just
    skips) only nprobe of num_centroids directories, so scan cost
    scales with probed fraction, not corpus size. Returns the format
    written.

    ``trained=True`` refines the quantizer with ``kmeans_centroids``
    before assignment (the production layout — better-balanced
    ``cluster=N/`` directories and higher recall at equal nprobe; the
    probe path ``ivf_topk_from_index`` reads either layout unchanged
    because the quantizer is just the persisted ``_centroids``
    table).

    The untrained path evaluates ``corpus`` exactly once: its
    (id, vector) projection is materialized by one eager
    ``localCheckpoint`` (skipped when ``corpus`` already is a
    checkpoint — ``_is_checkpoint``), the quantizer seeds and the
    cluster assignment both read that checkpoint, and ``_centroids``
    is written from the seed rows already on the driver (one file, as
    the orderBy+limit it replaces wrote). The layout is
    ``sources.index_layout``'s: plain parquet."""
    if trained:
        cent = kmeans_centroids(
            corpus, num_centroids, iterations, id_col, vec_col
        )
        cent_rows = [
            (int(r[0]), [float(x) for x in r[1]]) for r in cent.collect()
        ]
        assigned = _gemm_assign(corpus, cent_rows, id_col, vec_col)
    else:
        if not _is_checkpoint(corpus):
            corpus = corpus.select(id_col, vec_col).localCheckpoint(
                eager=True
            )
        cent, assigned = ivf_assign(corpus, num_centroids, id_col, vec_col)
        cent = cent.coalesce(1)
    fmt = index_layout.write(assigned, path, "cluster")
    index_layout.write(
        cent.select("centroid_id", "cvec"), f"{path}/_centroids"
    )
    return fmt


def append_to_ivf_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    check_disjoint: bool = False,
) -> int:
    """Incremental index maintenance: assign a new batch against the
    PERSISTED quantizer (``{path}/_centroids`` — never retrained here)
    and append the assigned rows into the existing ``cluster=N/``
    directories. At 100 TB this is the operation that matters: a new
    crawl batch lands as one bounded write of batch-sized data; the
    index is never rebuilt, and the probe path reads old + new rows
    through the identical layout (append == rebuild for serving,
    pinned by test). The known trade-off of frozen-quantizer appends —
    centroid drift as the distribution shifts — is the documented
    reason ``write_ivf_index(trained=True)`` exists for periodic
    re-optimization; this function deliberately leaves the quantizer
    untouched so appends are idempotent-shaped and cheap.

    ``check_disjoint=True`` fail-closes on duplicate ids WITHIN the
    batch (count vs countDistinct — the .distinct() would otherwise
    mask them) and then on batch ids already present in the index
    (one column-pruned id scan semi-joined against the broadcast,
    batch-bounded new ids, before anything is written) —
    the same knob as ``append_to_bm25_index``, but default OFF here
    because the IVF serve path already absorbs duplicate ids
    (``_score_probed(dedupe_candidates=True)``) where BM25 serving
    has no absorber. Returns the number of vectors appended."""
    if check_disjoint:
        # Also fail-closed on batch-INTERNAL duplicate ids — the
        # .distinct() below would mask them, and while IVF serving
        # absorbs duplicates (dedupe_candidates=True), a caller who
        # asked for the disjointness guarantee wants the index free of
        # them, not merely tolerable. One batch-bounded aggregate;
        # countDistinct excludes nulls so a null id also trips it.
        card = new_vectors.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.col(id_col)).alias("nd"),
        ).collect()[0]
        if int(card["n"]) != int(card["nd"]):
            raise ValueError(
                f"append_to_ivf_index: batch has {int(card['n'])} rows "
                f"but only {int(card['nd'])} distinct non-null "
                f"{id_col} value(s) — duplicate ids within one batch "
                "violate the disjointness this check guarantees. "
                "Dedup the batch upstream, or pass "
                "check_disjoint=False to rely on serve-time "
                "duplicate absorption."
            )
        new_ids = new_vectors.select(F.col(id_col).alias("id")).distinct()
        n_dup = (
            index_layout.read(spark, path)
            .select(F.col(id_col).alias("id"))
            .join(F.broadcast(new_ids), "id", "left_semi")
            .select(F.countDistinct("id").alias("n"))
            .collect()[0]["n"]
        )
        if n_dup:
            raise ValueError(
                f"append_to_ivf_index: {n_dup} vec id(s) in the batch "
                "already exist in the index. Dedup/admit upstream, or "
                "pass check_disjoint=False (the default) if duplicate "
                "absorption at serve time is acceptable."
            )
    cent_rows = index_layout.centroid_rows(path)
    _assert_nonzero_centroids(cent_rows, "append_to_ivf_index")
    assigned = _gemm_assign(new_vectors, cent_rows, id_col, vec_col)
    # count + write in ONE pass via an observed metric (r13
    # optimization round, guide §1.2 — the append_to_bm25_index
    # precedent): the separate count() executed the batch GEMM
    # assignment twice per append
    from pyspark.sql import Observation

    obs = Observation()
    assigned = assigned.observe(obs, F.count(F.lit(1)).alias("n"))
    index_layout.write(assigned, path, "cluster", mode="append")
    return int(obs.get["n"])


def compact_ivf_index(
    spark, path: str, target_rows_per_file: int | None = None
) -> int:
    """Small-file compaction for the persisted IVF layout — the
    maintenance pass the incremental story needs: every
    ``append_to_ivf_index`` / ``stream_index_sink`` batch adds one
    file per touched ``cluster=N/`` directory, so a long-running
    ingest accretes thousands of tiny files and probes pay per-file
    open cost with row groups too small to prune (measured 1.9x at
    39 batches, SCALE.md r7). ``_centroids`` carries verbatim (written
    once); the sink's ``_ledger`` rewrites to one file. Probe results
    are bit-equal before/after (compact-then-serve equality test).
    ``target_rows_per_file`` opts into multi-file directories for hot
    clusters (see ``index_layout.compact``'s file-count policy).
    Returns the data file count written."""
    return index_layout.compact(
        spark, path, "cluster",
        carry_dirs=("_centroids",), rewrite_dirs=("_ledger",),
        target_rows_per_file=target_rows_per_file, split_col="vec_id",
    )


def _rank_probes(scored: list[tuple], nprobe: int) -> list[tuple]:
    """``_query_probes``' ranking rule on driver rows: ``scored`` holds
    (query_id, centroid_id, qcsim, ...) rows; per query_id the first
    ``nprobe`` rows by qcsim descending — NaN first and null last, as
    a Spark descending sort places them — then centroid_id ascending."""
    import math

    def key(r):
        s = r[2]
        nan = s is not None and math.isnan(s)
        return (s is None, not nan, 0.0 if s is None or nan else -s, r[1])

    by_query: dict = {}
    for r in scored:
        by_query.setdefault(r[0], []).append(r)
    return [r for rs in by_query.values() for r in sorted(rs, key=key)[:nprobe]]


def _driver_probes(
    spark,
    queries: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, list[int]]:
    """``_query_probes`` evaluated on the driver: the (query_id, qvec,
    cluster) probe rows as a driver-local frame (``local_df``), and the
    sorted probed cluster ids. The query frame is collected once; the
    12dp query-centroid cosines are Spark's own
    ``round(cosine_similarity(qvec, cvec), 12)`` evaluated as a
    projection of a driver-local frame of the (query, centroid) pairs,
    which Catalyst folds into the ``LocalRelation``, so that collect
    launches no job; the ranking is ``_rank_probes``."""
    from pyspark.sql import types as T

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    qrows = q.collect()
    qid = T.StructField("query_id", q.schema["query_id"].dataType)
    qvec = T.StructField("qvec", q.schema["qvec"].dataType)
    pairs = [
        (i, qv, cid, cv)
        for i, (_, qv) in enumerate(qrows)
        for cid, cv in cent_rows
    ]
    pair_df = local_df(
        spark,
        pairs,
        T.StructType(
            [
                T.StructField("i", T.LongType()),
                qvec,
                T.StructField("centroid_id", T.LongType()),
                T.StructField("cvec", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    sims = pair_df.select(
        "i",
        "centroid_id",
        F.round(cosine_similarity(F.col("qvec"), F.col("cvec")), 12),
    ).collect()
    picked = _rank_probes(
        [(qrows[i][0], cid, s, i) for i, cid, s in sims], nprobe
    )
    probes = local_df(
        spark,
        [(qi, qrows[i][1], cid) for qi, cid, _, i in picked],
        T.StructType([qid, qvec, T.StructField("cluster", T.LongType())]),
    )
    return probes, sorted({cid for _, cid, _, _ in picked})


def ivf_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted ``write_ivf_index`` layout. The quantizer is
    read from ``_centroids``' parquet footers and the probes are ranked
    on the driver (``_driver_probes`` — the same 12dp cosine and
    tie rule as ``_query_probes``), so with a driver-local ``queries``
    frame nothing launches a job before the final plan. Only the
    probed ``cluster=N`` dirs are read, by path, from the plain-parquet
    index tree (``index_layout.read_partitions``) — the executed scan's
    ``numPartitions`` metric equals the probed-cluster count, not
    num_centroids (asserted in tests/test_sources.py)."""
    probes, clusters = _driver_probes(
        spark, queries, index_layout.centroid_rows(path), nprobe,
        id_col, vec_col,
    )
    assigned = index_layout.read_partitions(
        spark, path, "cluster", clusters
    )
    return _score_probed(
        assigned, probes, k, id_col, vec_col, dedupe_candidates=True
    )


def knn_bruteforce_numpy(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy GEMM — the fast path
    when the per-pair arithmetic dominates (wide vectors / many
    queries). Per corpus batch: one float64 matmul against the
    broadcast query matrix, batch-local top-k, then a global rank over
    the reduced candidate set. Same shuffle shape as the two-phase JVM
    path (partitions x queries x k rows), ~10-50x less scoring CPU;
    values can differ from the sequential-sum JVM path only in the
    last float ulp (SIMD pairwise summation), so results are rounded
    to 4dp like every similarity operator here.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_norm[q_norm == 0] = np.nan

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(mat) == 0:
                continue
            # batch-local order MUST match the global tie-break
            # (cosine desc, id asc). Pre-sorting rows by id makes ONE
            # stable argsort per matrix equivalent to a per-query
            # lexsort((ids, -col)) — provably: stable sort on -col
            # preserves the id-ascending input order on exact ties.
            # The former per-query Python loop (5000 lexsorts + 5000
            # one-query DataFrames per batch) dominated doc_pagerank's
            # all-docs self-kNN at sf0.1 (~26s of its 31s).
            o = np.argsort(ids, kind="stable")
            ids, mat = ids[o], mat[o]
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = np.nan
            sims = (mat @ q_mat.T) / norms[:, None] / q_norm[None, :]
            sims = _round_away(sims, 4)
            top = min(k + 1, len(ids))  # +1 to survive self-match removal
            order = np.argsort(-sims, axis=0, kind="stable")[:top]
            nbr = ids[order]                                 # (top, Q)
            cos = np.take_along_axis(sims, order, axis=0)    # (top, Q)
            qid = np.broadcast_to(q_ids[None, :], nbr.shape)
            keep = (nbr != qid).T                            # (Q, top)
            yield pd.DataFrame(
                {
                    "query_id": qid.T[keep],
                    "neighbor_id": nbr.T[keep],
                    "cosine": cos.T[keep],
                }
            )

    # Re-widen the corpus scan ONLY when the query matrix is wide
    # (self-kNN regime): per corpus row the batch does O(|Q| * dim)
    # flops plus an O(|Q| log) partial sort, so at |Q| in the
    # thousands a byte-small AQE-coalesced input (measured: ONE
    # partition for the 5000-doc embedding exchange) serializes
    # seconds of GEMM on a single core. At small |Q| the same
    # repartition is pure overhead (one extra exchange + a worker
    # fan-out for sub-ms batches) — measured +0.3-1.4 s on the
    # centroid-assign/encode stages before this became conditional.
    corpus_sel = corpus.select(id_col, vec_col)
    if len(q_rows) >= 1024:
        corpus_sel = _wide(corpus_sel)
    pairs = corpus_sel.mapInPandas(score, out_schema)
    return _ranked_topk(pairs, k)


def kmeans_centroids(
    corpus: DataFrame,
    num_centroids: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd's k-means for the IVF coarse quantizer:
    init = first ``num_centroids`` DISTINCT vectors (each labeled by
    its smallest id — the same first-k-distinct discipline as the
    numpy ``_lloyd``; raw first-k-rows init collapses on duplicated
    corpora: k copies of one vector seed one effective centroid, and
    the cluster structure degenerates to quadratic blocks), then a
    few assign/recompute rounds, all as DataFrame ops.

    Per iteration: one broadcast crossJoin + max_by for assignment
    (no shuffle of the corpus), then one posexplode+groupBy to average
    per-cluster per-dimension (shuffle of corpus×dim rows, the
    unavoidable reduction). Centroid vectors are re-assembled with
    array_agg sorted by dimension. Iterations are a driver-side loop
    over small materialized centroid tables — the corpus is never
    collected.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    cent_rows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in corpus.groupBy(F.col(vec_col))
        .agg(F.min(F.col(id_col)).alias("_cid"))
        .orderBy(F.col("_cid"))
        .limit(num_centroids)
        .select(F.col("_cid"), F.col(vec_col))
        .collect()
    )
    _assert_nonzero_centroids(cent_rows, "kmeans_centroids (seed)")
    v = corpus.select(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")
    ).localCheckpoint(eager=False)

    # Per iteration: ONE Arrow pass over the corpus — each batch GEMMs
    # against the (k × dim) centroid matrix riding the closure, and
    # emits per-partition PARTIAL (cluster, dim, sum, cnt) rows; the
    # recompute shuffle is k × dim × partitions rows, independent of
    # corpus size. A previous form crossJoined every row against every
    # centroid and scored with zip_with/aggregate lambdas, which never
    # enter codegen (interpreted ~10 µs/dot — the same trap as the
    # embedding pair join), then shuffled corpus × dim posexploded
    # rows per iteration.
    part_schema = StructType(
        [
            StructField("cluster", LongType()),
            StructField("dim", LongType()),
            StructField("s", DoubleType()),
            StructField("cnt", LongType()),
        ]
    )

    def _partials(cmat, cnorm, cids):
        def run(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.array(list(pdf["v"]), dtype=np.float64)
                sims = _batch_cosines(m, cmat, cnorm)
                # 12dp round before argmax: a last-ulp summation-order
                # gap between engines collapses to an exact tie that
                # the smallest-centroid-id rule resolves identically —
                # this is what lets a SQL oracle replay the training
                sims = _round_away(sims, 12)
                # NaN (zero-norm row/centroid) -> -inf: deterministic
                # lowest-id assignment instead of a nanargmax crash
                sims = np.where(np.isnan(sims), -np.inf, sims)
                # argmax = first max → smallest centroid id on ties
                # (cmat rows are cid-ascending), matching
                # max_by(struct(csim, -centroid_id))
                best = np.argmax(sims, axis=1)
                k, dim = cmat.shape
                sums = np.zeros((k, dim))
                np.add.at(sums, best, m)
                cnts = np.bincount(best, minlength=k)
                nz = np.nonzero(cnts)[0]
                yield pd.DataFrame(
                    {
                        "cluster": np.repeat(cids[nz], dim),
                        "dim": np.tile(np.arange(dim), len(nz)),
                        "s": sums[nz].ravel(),
                        "cnt": np.repeat(cnts[nz], dim),
                    }
                )

        return run

    for _ in range(iterations):
        cids = np.array([c[0] for c in cent_rows], dtype=np.int64)
        cmat = np.array([c[1] for c in cent_rows], dtype=np.float64)
        cnorm = np.linalg.norm(cmat, axis=1)
        cnorm[cnorm == 0] = np.nan
        # ONE shuffle per iteration: reduce partials to k x dim rows,
        # round the mean 12dp JVM-side (F.round half-away matches the
        # oracle's ROUND — rounding must NOT move to Python, whose
        # round() is banker's), and assemble the centroid arrays on
        # the driver from the k x dim = bounded-model-state result.
        # A previous form ran a second groupBy + array_sort/transform
        # shuffle just to reassemble arrays distributedly.
        merged_rows = (
            v.mapInPandas(_partials(cmat, cnorm, cids), schema=part_schema)
            .groupBy("cluster", "dim")
            .agg(F.round(F.sum("s") / F.sum("cnt"), 12).alias("mu"))
            .collect()
        )
        acc: dict[int, dict[int, float]] = {}
        for r in merged_rows:
            acc.setdefault(int(r["cluster"]), {})[int(r["dim"])] = float(r["mu"])
        cent_rows = sorted(
            (cid, [dims[d] for d in sorted(dims)]) for cid, dims in acc.items()
        )
        _assert_nonzero_centroids(cent_rows, "kmeans_centroids")

    spark = corpus.sparkSession
    return local_df(
        spark,
        [(cid, vec) for cid, vec in cent_rows],
        StructType(
            [
                StructField("centroid_id", LongType()),
                StructField("cvec", ArrayType(DoubleType())),
            ]
        ),
    )


def ivf_topk_kmeans(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search over k-means-refined centroids (higher recall than
    the untrained quantizer at the same nprobe)."""
    cent = kmeans_centroids(corpus, num_centroids, iterations, id_col, vec_col)
    cent_rows = [(int(r[0]), [float(x) for x in r[1]]) for r in cent.collect()]
    assigned = _gemm_assign(corpus, cent_rows, id_col, vec_col)
    probes = _query_probes(queries, cent, nprobe, id_col, vec_col)
    return _score_probed(assigned, probes, k, id_col, vec_col)


def knn_self_ivf(
    corpus: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt_cap: int = 200_000,
    gemm_block_elems: int = 50_000_000,
) -> DataFrame:
    """Self-kNN over a trained IVF quantizer — the SUB-QUADRATIC graph
    builder for corpus-scale kNN graphs (doc_pagerank's edge list,
    SemDeDup-style neighborhood graphs). ``ivf_topk_kmeans`` cannot
    serve this role at scale: its probe table is BROADCAST, which is
    correct for a handful of queries but is the whole corpus × nprobe
    here. This form computes assignment AND probe lists in ONE Arrow
    GEMM pass (top-nprobe clusters per row cost nothing beyond the
    argmax the assignment already does), then candidates are scored
    by a cluster-COGROUPED Arrow GEMM (one queries×members matmul per
    cluster, local top-k inside the group) — the shuffle is one
    exchange on cluster id, both sides corpus-sized, nothing
    broadcast, and only n·nprobe·k candidate rows leave Python. Work
    is O(n² · nprobe / C), so C ~ √n gives O(n^1.5) total (measured
    sub-quadratic at 400k rows, SCALE.md r8).

    SKEW GUARD (``salt_cap``): identical vectors all assign to the
    same centroid, so a duplicate-heavy corpus collapses into one
    mega-cluster and the cogroup hands ONE task an O(cluster²) GEMM —
    the same failure mode the stop-shingle caps and the
    exact-dedup-first MinHash form guard against. Clusters whose
    member count exceeds ``salt_cap`` are split into
    ceil(size/salt_cap) salt shards by member-id hash; every prober
    of a salted cluster fans out to ALL its shards, so the candidate
    SET is exactly the unsalted one and results are bit-identical
    (each member still appears in exactly one (cluster, salt) group;
    per-shard top-k is a superset-preserving prefilter of the same
    total order the global rank applies — salted-vs-unsalted equality
    tested on a 90%-duplicate corpus). Cost: per-shard probe
    duplication, bounding every task at salt_cap members. The cluster
    size table is one partial-aggregated groupBy over the checkpointed
    assignment (C rows collected — the legitimately tiny list).

    Every numeric convention matches ``ivf_topk_kmeans`` exactly —
    same deterministic k-means, 12dp half-away rounding before the
    probe/assign argsort with ties to the smallest centroid id, 4dp
    rounded cosine ranked by (cosine DESC, neighbor_id ASC); GEMM
    sums can differ from the JVM sequential dot only in the last ulp
    (the ``knn_bruteforce_numpy`` parity class, absorbed by the 4dp
    round) — so for the same (k, C, nprobe, iterations) the result
    equals ``ivf_topk_kmeans(corpus, corpus, ...)`` row-for-row
    (equality-tested) on corpora with no zero-norm vectors. On
    zero-norm-BEARING corpora the forms deliberately differ:
    ``ivf_topk_kmeans`` emits NaN-cosine pairs (which Spark's desc
    rank treats as greatest), while this form drops every non-finite
    candidate before emitting (isfinite guard in ``_score_cluster``)
    — undefined similarity is no candidate, never the top one.
    Self-matches excluded. Returns
    (query_id, neighbor_id, cosine, rank 1..k); rows may have fewer
    than k neighbors when the probed clusters run dry (the standard
    IVF recall trade)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    if not 1 <= nprobe <= num_centroids:
        raise ValueError(
            f"knn_self_ivf: need 1 <= nprobe={nprobe} <= "
            f"num_centroids={num_centroids}"
        )
    cent_df = kmeans_centroids(
        corpus, num_centroids, iterations, id_col, vec_col
    )
    cent_rows = sorted(
        (int(r[0]), [float(x) for x in r[1]]) for r in cent_df.collect()
    )
    _assert_nonzero_centroids(cent_rows, "knn_self_ivf")
    cids = np.array([c[0] for c in cent_rows], dtype=np.int64)
    cmat = np.array([c[1] for c in cent_rows], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = np.nan
    np_eff = min(nprobe, len(cent_rows))

    schema = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .schema.add("cluster", "long")
        .add("probes", ArrayType(LongType()))
    )

    def _assign_probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            # 12dp half-away before the sort: near-ties collapse to
            # exact ties resolved by ascending centroid id (stable
            # argsort over cid-ascending columns) — the _gemm_assign
            # convention, so column 0 IS the _gemm_assign cluster
            sims = _round_away(_batch_cosines(m, cmat, cnorm), 12)
            sims = np.where(np.isnan(sims), -np.inf, sims)
            order = np.argsort(-sims, axis=1, kind="stable")[:, :np_eff]
            out = pdf[[id_col, vec_col]].copy()
            out["cluster"] = cids[order[:, 0]]
            out["probes"] = [cids[row].tolist() for row in order]
            yield out

    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    assigned = (
        corpus.select(id_col, vec_col)
        .mapInPandas(_assign_probe, schema=schema)
        # two consumers (neighbor side + exploded query side) — one
        # Arrow pass instead of two
        .localCheckpoint(eager=False)
    )
    if salt_cap < 1:
        raise ValueError(f"knn_self_ivf: salt_cap >= 1, got {salt_cap}")
    hot = {
        int(r["cluster"]): -(-int(r["n"]) // salt_cap)  # ceil div
        for r in assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if int(r["n"]) > salt_cap
    }
    nbr = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        "cluster",
    )
    qry = assigned.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode("probes").alias("cluster"),
    )
    if hot:
        ns_map = F.create_map(
            *[F.lit(x) for kv in hot.items() for x in kv]
        )
        ns = F.coalesce(ns_map[F.col("cluster")], F.lit(1))
        nbr = nbr.withColumn(
            "salt", F.pmod(F.xxhash64(F.col("neighbor_id")), ns)
        )
        qry = qry.withColumn(
            "salt", F.explode(F.sequence(F.lit(0).cast("long"), ns - 1))
        )
    else:
        nbr = nbr.withColumn("salt", F.lit(0).cast("long"))
        qry = qry.withColumn("salt", F.lit(0).cast("long"))

    pair_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    # Candidate scoring is the O(n²·nprobe/C) term, and a JVM
    # zip_with/aggregate cosine evaluates INTERPRETED (~10 µs/dot —
    # the knn_bruteforce_numpy rationale at n·nprobe·n/C pairs).
    # Cogrouped-by-cluster Arrow GEMM instead: per cluster ONE
    # queries×members matmul + per-query local top-k, so only
    # n·nprobe·k candidate rows ever leave Python. Each neighbor
    # lives in exactly ONE cluster, so (query, neighbor) candidates
    # are unique by construction. Pre-sorting members by id makes the
    # stable argsort resolve exact 4dp ties by ascending neighbor_id
    # (the knn_bruteforce_numpy proof), matching the JVM/SQL
    # tie-break; NaN sims (zero-norm rows) sort last and never enter
    # the top-k while real candidates remain — also the GEMM-twin
    # convention.
    def _score_cluster(qpdf, npdf):
        if len(qpdf) == 0 or len(npdf) == 0:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            )
        import numpy as np

        ids = npdf["neighbor_id"].to_numpy(dtype=np.int64)
        o = np.argsort(ids, kind="stable")
        ids = ids[o]
        mat = np.array(list(npdf["nvec"]), dtype=np.float64)[o]
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = np.nan
        q_ids_all = qpdf["query_id"].to_numpy(dtype=np.int64)
        q_mat_all = np.array(list(qpdf["qvec"]), dtype=np.float64)
        # QUERY-CHUNKED GEMM: the full members×probers sims matrix is
        # memory-QUADRATIC in the group (a salt_cap-member shard
        # probed by the whole mega-cluster would allocate tens of GB
        # in one task). Blocks bound the live matrix at
        # gemm_block_elems doubles (~400 MB at the default) regardless
        # of prober count; per-query top-k is independent, so chunking
        # is exact (chunked==unchunked equality-tested).
        qblock = max(1, gemm_block_elems // max(1, len(ids)))
        outs = []
        for s in range(0, len(q_ids_all), qblock):
            q_ids = q_ids_all[s:s + qblock]
            q_mat = q_mat_all[s:s + qblock]
            q_norm = np.linalg.norm(q_mat, axis=1)
            q_norm[q_norm == 0] = np.nan
            sims = (mat @ q_mat.T) / norms[:, None] / q_norm[None, :]
            sims = _round_away(sims, 4)
            top = min(k + 1, len(ids))  # +1: survive self-match removal
            order = np.argsort(-sims, axis=0, kind="stable")[:top]
            nbr_ids = ids[order]                              # (top, Q)
            cos = np.take_along_axis(sims, order, axis=0)     # (top, Q)
            qid = np.broadcast_to(q_ids[None, :], nbr_ids.shape)
            # isfinite guard (the semantic_decontaminate convention):
            # NaN sims sort LAST in numpy but GREATEST in Spark's
            # desc rank, so a shard with < k+1 finite members would
            # otherwise emit a zero-norm neighbor that _ranked_topk
            # promotes to rank 1. Dropping non-finite candidates here
            # keeps cosine semantics honest (undefined similarity is
            # no candidate, not the best candidate).
            keep = (nbr_ids != qid).T & np.isfinite(cos.T)    # (Q, top)
            outs.append(
                pd.DataFrame(
                    {
                        "query_id": qid.T[keep],
                        "neighbor_id": nbr_ids.T[keep],
                        "cosine": cos.T[keep],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    pairs = (
        qry.groupBy("cluster", "salt")
        .cogroup(nbr.groupBy("cluster", "salt"))
        .applyInPandas(_score_cluster, schema=pair_schema)
    )
    return _ranked_topk(pairs, k)


def knn_edges_auto(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cutover_rows: int = 10_000,
    num_centroids: int | None = None,
    nprobe: int = 8,
    iterations: int = 3,
) -> DataFrame:
    """kNN-graph edge builder that PICKS its algorithm from the corpus
    size — the ``minhash_lsh_pairs_auto`` precedent applied to the one
    remaining all-pairs composition (doc_pagerank's edge list): one
    count (cheap when the caller checkpoints, which doc_pagerank
    does), then ≤ ``cutover_rows`` dispatches to the EXACT GEMM
    ``knn_bruteforce_numpy`` and beyond it to ``knn_self_ivf`` with
    C = max(16, √n) trained centroids — O(n^1.5) work, shuffle-join
    only, nothing corpus-sized broadcast.

    The default cutover is set by MEASUREMENT, not preference
    (SCALE.md r8 probe): brute is cheaper below ~6-8k rows (no
    k-means training to amortize — 0.3 s vs 1.9 s at the 2.5k gate
    corpus), the forms cross in the high-single-digit thousands, and
    by 16k self-IVF already wins 9.8x (58.6 s vs 6.0 s) with the gap
    growing quadratically. 10k keeps every corpus below it on the
    exact, oracle-replayable form at a bounded worst-case cost
    (~25 s) while everything above gets the sub-quadratic plan.
    Below the cutover the dispatch can never change results vs the
    brute-force form; above it, edges are the standard IVF
    approximation, with ``knn_self_ivf``'s salt shards bounding the
    per-task GEMM on duplicate-heavy corpora.

    Recall in the ANN regime is MEASURED, not assumed (SCALE.md r9,
    sampled ground truth at 100k-400k rows): on clustered embedding
    spaces — near-dup families, topic mixtures, i.e. every
    document-embedding corpus this graph build exists for — recall@5
    is 1.000 at the default nprobe=8, flat from 100k to 400k. The
    pessimistic floor is a structure-free uniform space: 0.24 at
    nprobe=8 / 400k, scaling near-linearly with nprobe (0.36 at 16)
    at proportional cost — if the corpus embeds near-uniformly, raise
    ``nprobe`` (exposed here end to end) or pin ``cutover_rows`` high
    to force the exact form. Unit tripwires: recall >= 0.5 vs brute
    at nprobe=4 and >= 0.8 at the default nprobe=8 on real
    embeddings. Returns (src, dst)."""
    import math

    n = corpus.count()
    if n <= cutover_rows:
        knn = knn_bruteforce_numpy(
            corpus, corpus, k=k, id_col=id_col, vec_col=vec_col
        )
    else:
        c = num_centroids or max(16, math.isqrt(n))
        knn = knn_self_ivf(
            corpus,
            k=k,
            num_centroids=c,
            nprobe=min(nprobe, c),
            iterations=iterations,
            id_col=id_col,
            vec_col=vec_col,
        )
    return knn.select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = 127/max|v_i|,
    q_i = round(v_i · scale) ∈ [-127, 127], stored as array<tinyint>.

    The 100 TB story is storage and shuffle bandwidth: a 4-byte-float
    embedding column shrinks 4× (8× vs double), which is usually the
    difference between an ANN corpus that fits executor memory and one
    that spills. Quantization error only perturbs cosine ~1e-2 at
    64-dim — the recall test quantifies it against the exact path.

    Engine-portable by construction: every step (float→double widen,
    one double multiply, round-half-away-from-zero) evaluates
    identically in Spark and DuckDB, so quantized vectors — and
    everything computed from their exact integer dots — oracle-match
    bit-for-bit.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    s = F.lit(127.0) / F.nullif(maxabs, F.lit(0.0))
    qv = F.transform(v, lambda x: F.round(x * s).cast("tinyint"))
    return df.select(
        F.col(id_col),
        qv.alias("qvec"),
        F.round(s, 6).alias("qscale"),
    )


def knn_int8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized vectors — the
    memory-bound regime's ANN baseline (scales cancel in cosine, so
    the quantized similarity needs no dequantization at all).

    Same distributed shape as ``knn_bruteforce`` (broadcast queries,
    two-phase top-k); the scoring arithmetic is exact 64-bit integer
    dots over the tinyint arrays (every sum < 2^53, so the double
    division + round is bit-deterministic on any engine — unlike
    float-vector cosine, whose summation order varies). norm² is
    precomputed per side once, and cosine divides by sqrt(na·nb) in
    one operation, the same expression the oracle evaluates.
    """
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cz = quantize_int8(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("nv"),
        dot(F.col("qvec"), F.col("qvec")).alias("nn2"),
    )
    qz = F.broadcast(
        quantize_int8(queries, id_col, vec_col).select(
            F.col(id_col).alias("query_id"),
            F.col("qvec").alias("qv"),
            dot(F.col("qvec"), F.col("qvec")).alias("qn2"),
        )
    )
    sim = F.round(
        dot(F.col("qv"), F.col("nv")).cast("double")
        / F.sqrt(
            (F.col("qn2") * F.col("nn2")).cast("double")
        ),
        4,
    )
    pairs = (
        cz.join(qz, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    local_w = Window.partitionBy("query_id", "pid").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    pairs = (
        pairs.withColumn("pid", F.spark_partition_id())
        .withColumn("lrank", F.row_number().over(local_w))
        .filter(F.col("lrank") <= k)
        .drop("pid", "lrank")
    )
    return _ranked_topk(pairs, k)


# =====================================================================
# Product quantization (PQ) ANN
# =====================================================================
# The storage tier below int8: a D-dim float vector becomes m CODE
# BYTES (m subspaces, each quantized to one of k codebook centroids —
# 64-dim float32 = 256 B -> 8 B at m=8, a 32x shrink), and query
# scoring never touches vectors at all: per query, one (m x k) lookup
# table of query-subvector -> centroid distances is built ONCE, then
# every corpus vector scores as m table lookups (asymmetric distance
# computation, Jegou et al. TPAMI 2011). At 100 TB the encoded corpus
# is what you store and shuffle; codebooks are (m*k*D/m) floats of
# broadcast model state, same contract as kmeans centroids.


def _subspace_codebooks_from_rows(
    rows: list[list[float]], m: int
) -> "np.ndarray":
    """(m, n_rows, d_sub) subvector tensor from collected vectors."""
    import numpy as np

    mat = np.asarray(rows, dtype=np.float64)
    n, dim = mat.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    return mat.reshape(n, m, dim // m).transpose(1, 0, 2)


def _maybe_unit(mat: "np.ndarray", normalize: bool) -> "np.ndarray":
    """Unit-normalize rows — the oracle-parity anchor for every
    trained-quantizer path. The norm is the one summation whose order
    differs between numpy and a SQL engine (~1-ulp gaps), so the norm
    itself is quantized to 6dp BEFORE dividing: with a 1e-6 grid the
    odds of an ulp-perturbed norm straddling a rounding boundary are
    ~1e-10 (at 12dp they were ~1e-4 per component — observed flipping
    a component on real data). After that, the division is the same
    IEEE op on bit-identical inputs in both engines, and the final
    12dp component round is deterministic. A 1e-6 norm quantization
    costs nothing downstream: these vectors feed approximate
    structures (coarse clusters, PQ codes) whose only requirement is
    that both engines build the SAME one; exact ranking always
    happens on raw vectors at rerank."""
    import numpy as np

    if not normalize:
        return mat
    n = _round_away(np.linalg.norm(mat, axis=1, keepdims=True), 6)
    n[n == 0] = 1.0
    return _round_away(mat / n, 12)


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 256,
    sample_rows: int = 16384,
    iters: int = 10,
    vec_col: str = "embedding",
    normalize: bool = True,
    id_col: str = "vec_id",
) -> "np.ndarray":
    """Train per-subspace codebooks with numpy Lloyd iterations on a
    bounded, deterministic sample (first ``sample_rows`` vectors by
    ``id_col`` — FAISS-style sample training; the full corpus never
    reaches the driver). Deterministic: init is the first k distinct
    sample subvectors, iteration count is fixed, no RNG. Returns
    (m, k, d_sub) float64 codebooks — broadcastable model state."""
    import numpy as np

    sample = [
        [float(x) for x in r[0]]
        for r in corpus.select(vec_col)
        .orderBy(F.col(id_col))
        .limit(sample_rows)
        .collect()
    ]
    import numpy as np

    arr = _maybe_unit(np.asarray(sample, dtype=np.float64), normalize)
    return _train_subspace_books(arr, m, k, iters)


def _lloyd(pts: "np.ndarray", k: int, iters: int) -> "np.ndarray":
    """Deterministic k-means: init is the first k DISTINCT rows in
    INPUT order (not lexicographic — input order is id order, the
    same duplicate-proof discipline as ``kmeans_centroids``, and it
    replays in SQL as GROUP BY vector / MIN(position) without any
    float sort), fixed iteration count, no RNG. Distances round to
    12dp before the argmin (ties -> lowest centroid index). Means
    recompute in EXACT INTEGER MICROS: components are 12dp-aligned
    (callers pass ``_maybe_unit`` output or differences of it), so
    x*1e12 rounds to an exact integer double, the per-cluster sum of
    those integers is exact in ANY summation order (a plain float
    mean picks up engine-order ulps — and a mean of 12dp-aligned
    decimals lands EXACTLY on a .5e-12 boundary often, where the ulp
    decides the rounding: observed flipping trained centroids on
    real data), and the single IEEE division + half-away floor is
    then bit-deterministic in every engine. Empty clusters keep
    their previous centroid. Returns (k', dim) with k' <= k."""
    import numpy as np

    _, first = np.unique(pts, axis=0, return_index=True)
    cent = pts[np.sort(first)[: min(k, len(first))]].copy()
    # exact int64 micros: summing as float64 stops being exact past
    # 2^53, which a 16k-row cluster of ±2e12 components can exceed —
    # int64 sums stay exact to ±9.2e18, and the final int->double
    # conversion before the division rounds nearest-even on both
    # engines (DuckDB SUMs BIGINTs exactly too), so parity holds
    micros = _round_away(pts * 1e12, 0).astype(np.int64)
    for _ in range(iters):
        d2 = (
            (pts * pts).sum(1)[:, None]
            - 2.0 * (pts @ cent.T)
            + (cent * cent).sum(1)[None, :]
        )
        asg = _round_away(d2, 12).argmin(1)
        for c in range(len(cent)):
            mask = asg == c
            if mask.any():
                q = micros[mask].sum(0, dtype=np.int64) / mask.sum()
                cent[c] = np.copysign(np.floor(np.abs(q) + 0.5), q) / 1e12
    return cent


def _train_subspace_books(
    arr: "np.ndarray", m: int, k: int, iters: int
) -> "np.ndarray":
    import numpy as np

    subs = _subspace_codebooks_from_rows([list(r) for r in arr], m)
    books = []
    for j in range(m):
        cent = _lloyd(subs[j], k, iters)
        if len(cent) < k:  # pad so every subspace has k rows (unused tail)
            cent = np.vstack([cent, np.repeat(cent[:1], k - len(cent), axis=0)])
        books.append(cent)
    return np.stack(books)  # (m, k, d_sub)


def pq_encode(
    corpus: DataFrame,
    codebooks: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Encode each vector as m code bytes (binary column): per
    subspace, nearest codebook centroid by squared L2 — one GEMM per
    Arrow batch against the broadcast codebooks, argmin ties to the
    lowest code (centroid rows are code-ordered)."""
    import numpy as np

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    m, k, d_sub = codebooks.shape
    cb = codebooks
    cb_n2 = (cb * cb).sum(2)  # (m, k)
    schema = StructType(
        [StructField(id_col, LongType()), StructField("codes", BinaryType())]
    )

    def _enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _maybe_unit(
                np.array(list(pdf[vec_col]), dtype=np.float64), normalize
            )
            n = len(mat)
            sub = mat.reshape(n, m, d_sub)
            codes = np.empty((n, m), dtype=np.uint8)
            for j in range(m):
                d2 = (
                    (sub[:, j] * sub[:, j]).sum(1)[:, None]
                    - 2.0 * (sub[:, j] @ cb[j].T)
                    + cb_n2[j][None, :]
                )
                codes[:, j] = _round_away(d2, 12).argmin(1)
            yield __import__("pandas").DataFrame(
                {id_col: pdf[id_col], "codes": [c.tobytes() for c in codes]}
            )

    return corpus.select(id_col, vec_col).mapInPandas(_enc, schema=schema)


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: "np.ndarray",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """ADC top-k over PQ codes: broadcast the (small) query set +
    codebooks, build each query's (m x k_codes) distance lookup table
    once per task, score every corpus code with m table lookups, and
    rank with the standard two-phase top-k (per-partition prune, then
    one global window over <= partitions x k rows per query). Returns
    (query_id, neighbor_id, adc_dist, rank) — ascending approximate
    squared L2."""
    import numpy as np

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    m, kc, d_sub = codebooks.shape
    q_rows = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in queries.select(id_col, vec_col).collect()
    ]
    q_rows.sort()
    qids = np.array([q[0] for q in q_rows], dtype=np.int64)
    qsub = _maybe_unit(
        np.array([q[1] for q in q_rows], dtype=np.float64), normalize
    ).reshape(len(q_rows), m, d_sub)
    cb = codebooks
    # LUT[q, j, c] = squared L2 between query q's subvector j and code c
    lut = (
        (qsub * qsub).sum(2)[:, :, None]
        - 2.0 * np.einsum("qjd,jcd->qjc", qsub, cb)
        + (cb * cb).sum(2)[None, :, :]
    )

    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("adc_dist", DoubleType()),
        ]
    )

    def _score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.frombuffer(
                b"".join(pdf["codes"]), dtype=np.uint8
            ).reshape(len(pdf), m)
            nids = pdf[id_col].to_numpy(dtype=np.int64)
            outs = []
            for qi in range(len(qids)):
                # m gathers + one sum: the ADC hot loop
                d = lut[qi][np.arange(m)[None, :], codes].sum(1)
                mask = nids != qids[qi]
                nloc = nids[mask]
                dloc = _round_away(d[mask], 4)
                take = min(k, len(nloc))
                if take == 0:
                    continue
                part = np.lexsort((nloc, dloc))[:take]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[qi],
                            "neighbor_id": nloc[part],
                            "adc_dist": dloc[part],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    pairs = codes_df.mapInPandas(_score, schema=schema)
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    num_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Untrained-codebook PQ — the oracle-checkable twin (cf.
    ``ivf_topk``'s untrained quantizer): codebooks are the subvectors
    of the first ``num_codes`` vectors by id, assignment rounds to
    12dp before argmin (code ties to the lowest id) and ADC scores
    round to 4dp before ranking, so the full encode -> LUT -> rank
    pipeline is reproduced exactly by a DuckDB oracle. Real
    deployments use ``pq_train`` + ``pq_encode`` + ``pq_topk``."""
    import numpy as np

    cent_rows = [
        [float(x) for x in r[0]]
        for r in corpus.select(vec_col)
        .orderBy(F.col(id_col))
        .limit(num_codes)
        .collect()
    ]
    codebooks = _subspace_codebooks_from_rows(cent_rows, m)  # (m, k, d_sub)
    codes = pq_encode(corpus, codebooks, id_col, vec_col, normalize=False)
    return pq_topk(
        codes, queries, codebooks, k, id_col, vec_col, normalize=False
    )


def knn_pq_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: "np.ndarray",
    k: int = 5,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """PQ shortlist + exact re-rank — the production ANN shape (cf.
    IVF-PQ + refinement in Jegou et al. / FAISS): ADC over the code
    column selects ``rerank`` candidates per query (cheap: m byte
    lookups per vector, the full-precision corpus never scanned), then
    ONE equi-join pulls true vectors for only queries x rerank rows
    and exact rounded cosine ranks the final top-k. Quantization error
    moves the shortlist boundary, not the returned ranking — recall
    is tunable with ``rerank`` at fixed storage cost.

    Returns (query_id, neighbor_id, cosine, rank) — same contract as
    ``knn_bruteforce``, so the two are drop-in interchangeable."""
    codes = pq_encode(corpus, codebooks, id_col, vec_col, normalize)
    shortlist = pq_topk(
        codes, queries, codebooks, rerank, id_col, vec_col, normalize
    ).select("query_id", "neighbor_id")
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    qvec = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
    )
    sim = F.round(cosine_similarity(F.col("qvec"), F.col("nvec")), 4)
    pairs = (
        shortlist.join(nvec, "neighbor_id")
        .join(qvec, "query_id")
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    return _ranked_topk(pairs, k)


# =====================================================================
# IVF-PQ: coarse cluster pruning x residual product quantization
# =====================================================================
# The canonical billion-scale ANN index (FAISS IVFPQ): a coarse
# quantizer prunes the corpus to nprobe clusters per query, and within
# clusters vectors exist only as m RESIDUAL code bytes (residual =
# vector - its coarse centroid; residuals are small, so the same
# codebook budget quantizes them far more precisely than raw vectors).
# At 100 TB: the (cluster, codes) table is the stored index —
# partition it by cluster (write_ivf_index layout) and a probe reads
# nprobe partitions of 8-byte codes; coarse centroids + codebooks are
# tiny broadcast model state.


def ivfpq_train(
    corpus: DataFrame,
    num_centroids: int = 16,
    m: int = 8,
    k: int = 64,
    sample_rows: int = 16384,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple["np.ndarray", "np.ndarray"]:
    """Train (coarse_centroids (C, dim), residual codebooks (m, k,
    d_sub)) on a bounded deterministic sample of unit-normalized
    vectors — same no-RNG discipline as ``pq_train``."""
    import numpy as np

    sample = [
        [float(x) for x in r[0]]
        for r in corpus.select(vec_col)
        .orderBy(F.col(id_col))
        .limit(sample_rows)
        .collect()
    ]
    arr = _maybe_unit(np.asarray(sample, dtype=np.float64), True)
    coarse = _lloyd(arr, num_centroids, iters)
    d2 = (
        (arr * arr).sum(1)[:, None]
        - 2.0 * (arr @ coarse.T)
        + (coarse * coarse).sum(1)[None, :]
    )
    # 12dp before argmin (SQL-replay discipline, cf. _lloyd); the
    # residual subtraction itself is elementwise IEEE on 12dp-rounded
    # inputs, so it stays bit-identical across engines unrounded
    resid = arr - coarse[_round_away(d2, 12).argmin(1)]
    return coarse, _train_subspace_books(resid, m, k, iters)


def ivfpq_encode(
    corpus: DataFrame,
    coarse: "np.ndarray",
    codebooks: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, codes) — each vector's coarse cluster plus its
    m-byte residual code. One Arrow pass, two GEMMs per batch."""
    import numpy as np

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    m, kc, d_sub = codebooks.shape
    cb, co = codebooks, coarse
    co_n2 = (co * co).sum(1)
    cb_n2 = (cb * cb).sum(2)
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("cluster", LongType()),
            StructField("codes", BinaryType()),
        ]
    )

    def _enc(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _maybe_unit(
                np.array(list(pdf[vec_col]), dtype=np.float64), True
            )
            n = len(mat)
            d2 = (mat * mat).sum(1)[:, None] - 2.0 * (mat @ co.T) + co_n2[None, :]
            # 12dp before argmin: coarse assignment must replay in SQL
            cl = _round_away(d2, 12).argmin(1)
            resid = (mat - co[cl]).reshape(n, m, d_sub)
            codes = np.empty((n, m), dtype=np.uint8)
            for j in range(m):
                dj = (
                    (resid[:, j] * resid[:, j]).sum(1)[:, None]
                    - 2.0 * (resid[:, j] @ cb[j].T)
                    + cb_n2[j][None, :]
                )
                codes[:, j] = _round_away(dj, 12).argmin(1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cluster": cl.astype(np.int64),
                    "codes": [c.tobytes() for c in codes],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(_enc, schema=schema)


def ivfpq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    coarse: "np.ndarray",
    codebooks: "np.ndarray",
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over the IVF-PQ index: each query probes its
    ``nprobe`` nearest coarse clusters (pruning via the cluster
    equi-join — only probed partitions of the code table are read in
    the persisted layout), and scores rows with a per-(query, cluster)
    residual lookup table: dist ~= || (q - c) - codebook[code] ||²
    summed over subspaces. Output ascending approximate squared L2
    over unit vectors (= cosine ranking)."""
    import numpy as np

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    m, kc, d_sub = codebooks.shape
    cb, co = codebooks, coarse
    q_rows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in queries.select(id_col, vec_col).collect()
    )
    qids = np.array([q[0] for q in q_rows], dtype=np.int64)
    qmat = _maybe_unit(
        np.array([q[1] for q in q_rows], dtype=np.float64), True
    )
    qd2 = (
        (qmat * qmat).sum(1)[:, None]
        - 2.0 * (qmat @ co.T)
        + (co * co).sum(1)[None, :]
    )
    probe_clusters = np.argsort(_round_away(qd2, 12), axis=1, kind="stable")[
        :, :nprobe
    ]
    probes = [
        (int(qids[qi]), int(c))
        for qi in range(len(qids))
        for c in probe_clusters[qi]
    ]
    spark = codes_df.sparkSession
    probes_df = F.broadcast(
        local_df(spark, probes, "query_id long, cluster long")
    )

    qidx = {int(q): i for i, q in enumerate(qids)}
    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("adc_dist", DoubleType()),
        ]
    )

    def _score(batches):
        import pandas as pd

        luts: dict[tuple[int, int], np.ndarray] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = []
            for (qid, cl), grp in pdf.groupby(["query_id", "cluster"]):
                key = (int(qid), int(cl))
                if key not in luts:
                    qres = (qmat[qidx[key[0]]] - co[key[1]]).reshape(m, d_sub)
                    luts[key] = (
                        (qres * qres).sum(1)[:, None]
                        - 2.0 * np.einsum("jd,jcd->jc", qres, cb)
                        + (cb * cb).sum(2)
                    )
                lut = luts[key]
                codes = np.frombuffer(
                    b"".join(grp["codes"]), dtype=np.uint8
                ).reshape(len(grp), m)
                nids = grp[id_col].to_numpy(dtype=np.int64)
                d = lut[np.arange(m)[None, :], codes].sum(1)
                mask = nids != key[0]
                nloc, dloc = nids[mask], _round_away(d[mask], 4)
                take = min(k, len(nloc))
                if take == 0:
                    continue
                part = np.lexsort((nloc, dloc))[:take]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": key[0],
                            "neighbor_id": nloc[part],
                            "adc_dist": dloc[part],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    pairs = codes_df.join(probes_df, "cluster").mapInPandas(
        _score, schema=schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def knn_ivfpq_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    pq_k: int = 64,
    rerank: int = 50,
    sample_rows: int = 16384,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """End-to-end IVF-PQ with exact re-ranking: train on a bounded
    sample, encode the corpus to (cluster, 8-byte residual code),
    ADC-shortlist ``rerank`` candidates from ``nprobe`` probed
    clusters, then exact rounded-cosine rank of the shortlist. Same
    output contract as ``knn_bruteforce``. The whole pipeline —
    sample training included — replays in a SQL oracle via the 12dp
    rounding discipline (``_maybe_unit``/``_lloyd``); ``iters`` is
    exposed so a contract run can pin a small unrollable iteration
    count."""
    coarse, books = ivfpq_train(
        corpus, num_centroids, m, pq_k, sample_rows, iters,
        id_col=id_col, vec_col=vec_col,
    )
    codes = ivfpq_encode(corpus, coarse, books, id_col, vec_col)
    shortlist = ivfpq_topk(
        codes, queries, coarse, books, rerank, nprobe, id_col, vec_col
    ).select("query_id", "neighbor_id")
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    qvec = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
    )
    sim = F.round(cosine_similarity(F.col("qvec"), F.col("nvec")), 4)
    pairs = (
        shortlist.join(nvec, "neighbor_id")
        .join(qvec, "query_id")
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    return _ranked_topk(pairs, k)


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    num_centroids: int = 16,
    m: int = 8,
    pq_k: int = 64,
    sample_rows: int = 16384,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Persist the IVF-PQ index: ``{path}/cluster=N/`` holds each
    cluster's (id, codes) rows — the SAME directory-pruned layout as
    ``write_ivf_index`` but storing m code bytes per vector instead of
    the full vector (the layout a 100 TB ANN corpus actually ships);
    ``{path}/_coarse`` and ``{path}/_codebooks`` hold the model state
    as flattened float rows. The layout is ``sources.index_layout``'s:
    plain parquet. Returns the format written."""
    spark = corpus.sparkSession
    coarse, books = ivfpq_train(
        corpus, num_centroids, m, pq_k, sample_rows,
        id_col=id_col, vec_col=vec_col,
    )
    codes = ivfpq_encode(corpus, coarse, books, id_col, vec_col)
    fmt = index_layout.write(codes, path, "cluster")
    index_layout.write(
        local_df(
            spark,
            [(i, [float(x) for x in row]) for i, row in enumerate(coarse)],
            "centroid_id long, cvec array<double>",
        ),
        f"{path}/_coarse",
    )
    m_, k_, d_ = books.shape
    index_layout.write(
        local_df(
            spark,
            [
                (j, c, [float(x) for x in books[j, c]])
                for j in range(m_)
                for c in range(k_)
            ],
            "subspace long, code long, cvec array<double>",
        ),
        f"{path}/_codebooks",
    )
    return fmt


def ivfpq_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted IVF-PQ index: rebuild the (tiny) model state
    from the footers of the plain-parquet ``_coarse``/``_codebooks``
    tables (``index_layout.read_rows``), then score exactly like the
    in-memory path — the cluster equi-join prunes to the probed
    ``cluster=N/`` directories."""
    import numpy as np

    coarse_rows = sorted(
        (int(r["centroid_id"]), [float(x) for x in r["cvec"]])
        for r in index_layout.read_rows(f"{path}/_coarse")
    )
    coarse = np.array([r[1] for r in coarse_rows], dtype=np.float64)
    book_rows = sorted(
        (int(r["subspace"]), int(r["code"]), [float(x) for x in r["cvec"]])
        for r in index_layout.read_rows(f"{path}/_codebooks")
    )
    m = 1 + max(r[0] for r in book_rows)
    kc = 1 + max(r[1] for r in book_rows)
    d_sub = len(book_rows[0][2])
    books = np.zeros((m, kc, d_sub), dtype=np.float64)
    for j, c, v in book_rows:
        books[j, c] = v
    index_layout.partitions(path, "cluster")  # refuse a foreign tree
    codes = index_layout.read(spark, path)
    return ivfpq_topk(
        codes, queries, coarse, books, k, nprobe, id_col, vec_col
    )


def ann_recall(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one —
    the standard ANN quality gauge you run before trading the linear
    scan for an index (IVF/PQ nprobe tuning at scale is exactly this
    measurement on a held-out query sample).

    Both inputs follow the family contract (query_id, neighbor_id,
    ... rank<=k); output is one row per exact-side query:
    (query_id, n_hits BIGINT, recall DOUBLE 4dp). Queries missing from
    the approximate side (e.g. empty probe sets) score 0, not NULL —
    a left join from the exact side, so the gauge cannot silently
    drop bad queries. Inputs are queries x k rows, so the join and
    the per-query count are trivially small at any corpus scale."""
    e = exact.select("query_id", "neighbor_id")
    a = approx.select(
        F.col("query_id").alias("a_qid"),
        F.col("neighbor_id").alias("a_id"),
    )
    hits = e.join(
        a,
        (e["query_id"] == a["a_qid"]) & (e["neighbor_id"] == a["a_id"]),
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.count("a_id").alias("n_hits"),
        F.round(F.count("a_id") / F.lit(float(k)), 4).alias("recall"),
    ).select(
        "query_id", F.col("n_hits").cast("long").alias("n_hits"), "recall"
    )


# =====================================================================
# Binary (sign-bit) quantization ANN
# =====================================================================
# The storage tier below PQ: one BIT per dimension (64-dim float32 =
# 256 B -> 8 B, a 32x shrink with zero model state — no codebooks, no
# training pass). Hamming distance over the packed words approximates
# angular distance (Charikar 2002 SimHash bound: P[bit differs] =
# theta/pi per hyperplane; the identity basis is the hyperplane set
# here, valid because the corpus is ~zero-centered per dimension).
# Scoring is pure JVM codegen: XOR + popcount per word — no Arrow, no
# floats, no summation-order concerns anywhere, so the whole family
# oracles exactly at full precision.


def quantize_binary(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pack per-dimension sign bits (x > 0) into ``ceil(dim/64)``
    longs: word ``w`` holds dims ``[64w, 64w+63]``, dim ``i`` at bit
    ``i % 64`` (bit 63 is the long's sign bit — two's-complement
    addition of disjoint masks is bitwise OR, so the packing stays
    exact integer arithmetic). Dims past ``dim`` in the last word are
    zero on every row and cancel in XOR. Contract: every vector has
    length >= ``dim`` — a shorter vector's missing entries read as
    NULL and pack as 0-bits here, while a SQL replay's NULL
    comparisons DROP those positions, so ragged inputs would silently
    diverge (the corpus tables are fixed-width).

    The 0.0 threshold is deterministic on any engine (no mean/median
    training pass whose float reduction could drift) and is the right
    cut for zero-centered embedding spaces; a biased corpus should be
    centered upstream (pca_project / jl_project both produce centered
    outputs). Returns (id, words array<long>)."""
    if dim < 1:
        raise ValueError(f"quantize_binary: need dim >= 1, got {dim}")
    n_words = (dim + 63) // 64
    vec = F.col(vec_col)
    words = []
    for w in range(n_words):
        bits = []
        for j in range(64):
            i = w * 64 + j
            if i >= dim:
                break
            mask = (1 << j) if j < 63 else -(1 << 63)
            bits.append(
                F.when(vec.getItem(i) > F.lit(0.0), F.lit(mask).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )
        acc = bits[0]
        for b in bits[1:]:
            acc = acc + b
        words.append(acc)
    return df.select(F.col(id_col).alias(id_col), F.array(*words).alias("words"))


def _hamming(a, b):
    """Popcount of XOR across the packed word arrays — exact integer
    arithmetic, whole-stage codegen end to end."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def knn_binary(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate nearest neighbors by Hamming distance over sign-bit
    signatures — the memory floor of the ANN family (32x smaller than
    float32, 4x smaller than PQ-8, zero trained state).

    Same distributed shape as ``knn_bruteforce`` (queries broadcast,
    one corpus scan, two-phase top-k so the global rank sees only
    partitions x queries x k rows); ties break on smallest
    neighbor_id. Self-matches excluded. Returns (query_id,
    neighbor_id, hamming BIGINT, rank 1..k)."""
    c = quantize_binary(corpus, dim, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("words").alias("nw")
    )
    q = F.broadcast(
        quantize_binary(queries, dim, id_col, vec_col).select(
            F.col(id_col).alias("query_id"), F.col("words").alias("qw")
        )
    )
    pairs = c.join(q, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        _hamming(F.col("qw"), F.col("nw")).alias("hamming"),
    )
    local_w = Window.partitionBy("query_id", "pid").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    pairs = (
        pairs.withColumn("pid", F.spark_partition_id())
        .withColumn("lrank", F.row_number().over(local_w))
        .filter(F.col("lrank") <= k)
        .drop("pid", "lrank")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def knn_binary_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary shortlist + exact re-rank — the two-tier read path the
    bit signatures exist for (store/scan 1 bit per dim; touch float
    vectors for only queries x rerank rows): Hamming top-``rerank``
    per query, then ONE equi-join pulls true vectors for the shortlist
    and exact rounded cosine ranks the final top-k. Quantization error
    moves the shortlist boundary, not the returned ranking.

    Returns (query_id, neighbor_id, cosine, rank) — the
    ``knn_bruteforce`` contract, drop-in interchangeable."""
    if not 1 <= k <= rerank:
        raise ValueError(f"knn_binary_rerank: need 1 <= k={k} <= rerank={rerank}")
    shortlist = knn_binary(
        corpus, queries, dim, k=rerank, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    qvec = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
    )
    sim = F.round(cosine_similarity(F.col("qvec"), F.col("nvec")), 4)
    pairs = (
        shortlist.join(nvec, "neighbor_id")
        .join(qvec, "query_id")
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    return _ranked_topk(pairs, k)


def knn_binary_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary IVF — coarse Hamming-space pruning over the sign-bit
    signatures (cf. FAISS's binary IVF, the billion-scale recipe for
    1-bit vectors): centroids are the first ``num_centroids``
    signatures by id (the untrained-quantizer convention of
    ``ivf_assign``), every signature buckets to its Hamming-nearest
    centroid (ties to the smallest centroid id), and a query scans
    only its ``nprobe`` nearest buckets. Completes the quantized-ANN
    matrix: float has IVF, PQ has IVF-PQ, and the 1-bit tier now has
    its inverted file too.

    EVERYTHING is integer arithmetic — packing, XOR, popcount,
    argmin, ranking — so unlike float IVF there is no rounding
    discipline anywhere and the SQL replay is exact by construction.
    Scale shape: one groupBy-free assignment scan (centroid list is
    broadcast closure state), the probe filter prunes the corpus scan
    to the probed buckets, then the two-phase Hamming top-k. Returns
    (query_id, neighbor_id, hamming BIGINT, rank 1..k)."""
    if not 1 <= nprobe <= num_centroids:
        raise ValueError(
            f"knn_binary_ivf: need 1 <= nprobe={nprobe} <= num_centroids={num_centroids}"
        )
    sigs = quantize_binary(corpus, dim, id_col, vec_col)
    cent = (
        sigs.orderBy(F.col(id_col))
        .limit(num_centroids)
        .select(
            F.col(id_col).alias("centroid_id"), F.col("words").alias("cw")
        )
    )
    bcent = F.broadcast(cent)

    def _assign(frame: DataFrame, idc: str) -> DataFrame:
        ham = _hamming(F.col("words"), F.col("cw"))
        w = Window.partitionBy(idc).orderBy(
            F.asc("h"), F.asc("centroid_id")
        )
        return (
            frame.crossJoin(bcent)
            .select(idc, "words", "centroid_id", ham.alias("h"))
            .withColumn("rn", F.row_number().over(w))
        )

    assigned = (
        _assign(sigs, id_col)
        .filter(F.col("rn") == 1)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col("words").alias("nw"),
            F.col("centroid_id").alias("cluster"),
        )
    )
    qsigs = quantize_binary(queries, dim, id_col, vec_col)
    probes = (
        _assign(qsigs, id_col)
        .filter(F.col("rn") <= nprobe)
        .select(
            F.col(id_col).alias("query_id"),
            F.col("words").alias("qw"),
            F.col("centroid_id").alias("cluster"),
        )
    )
    pairs = (
        assigned.join(F.broadcast(probes), "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _hamming(F.col("qw"), F.col("nw")).alias("hamming"),
        )
    )
    local_w = Window.partitionBy("query_id", "pid").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    pairs = (
        pairs.withColumn("pid", F.spark_partition_id())
        .withColumn("lrank", F.row_number().over(local_w))
        .filter(F.col("lrank") <= k)
        .drop("pid", "lrank")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def knn_hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """Hard-negative mining for embedding/retriever training: for each
    query, the top-k most-similar corpus vectors with a DIFFERENT
    label — the highest-loss negatives a contrastive objective can be
    fed (same-label neighbors are positives and are masked out before
    the top-k, not filtered after, so the k slots are always spent on
    true negatives).

    Engine shape = ``knn_bruteforce_numpy`` with a label mask: the
    query matrix AND its label vector ride the broadcast; per corpus
    batch one Arrow GEMM, same-label pairs set to -inf pre-argsort,
    batch-local top-k, global rank over partitions x queries x k
    candidates. Same rounding/tie-break discipline (4dp half-away,
    neighbor_id asc), non-finite cosines dropped (the
    ``knn_self_ivf`` isfinite convention), self-matches excluded by
    the label mask itself. For corpus-scale query sets compose with
    the IVF family instead — this is the exact, oracle-replayable
    form, and the broadcast-queries assumption is GUARDED by the
    ``semantic_decontaminate`` convention: a fail-closed raise past
    ``max_broadcast_rows`` (a stated bound instead of a silent driver
    or executor OOM when a caller passes a corpus-sized query table).
    Returns (query_id, neighbor_id, cosine, rank 1..k)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    # bound check BEFORE the eager checkpoint (ADVICE r11): the
    # limit(N+1).count() probe stops scanning past the bound, so an
    # over-bound corpus-sized query table is refused without first
    # materializing it to executor storage — the expensive work the
    # guard exists to avoid
    q_plain = queries.select(id_col, vec_col, label_col)
    probe = q_plain.limit(max_broadcast_rows + 1).count()
    if probe > max_broadcast_rows:
        raise ValueError(
            f"knn_hard_negatives: query set has > "
            f"max_broadcast_rows={max_broadcast_rows} rows; the "
            "broadcast-queries GEMM contract is bounded. Use the IVF "
            "family for corpus-scale query sets or raise the bound "
            "deliberately."
        )
    q_narrow = q_plain.localCheckpoint(eager=True)
    q_rows = q_narrow.collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    # object dtype: labels may be ints OR strings — elementwise ==
    # broadcasting works for both (an int64 cast would reject string
    # labels outright)
    q_lab = np.array([r[2] for r in q_rows], dtype=object)
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_norm[q_norm == 0] = np.nan

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            labs = pdf[label_col].to_numpy(dtype=object)
            o = np.argsort(ids, kind="stable")  # id-asc tie-break
            ids, labs = ids[o], labs[o]
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)[o]
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = np.nan
            sims = (mat @ q_mat.T) / norms[:, None] / q_norm[None, :]
            sims = _round_away(sims, 4)
            # the mask IS the negative-definition: same-label pairs
            # (incl. self) can never enter the top-k
            sims = np.where(labs[:, None] == q_lab[None, :], -np.inf, sims)
            top = min(k, len(ids))
            order = np.argsort(-sims, axis=0, kind="stable")[:top]
            nbr = ids[order]
            cos = np.take_along_axis(sims, order, axis=0)
            qid = np.broadcast_to(q_ids[None, :], nbr.shape)
            keep = np.isfinite(cos.T)
            yield pd.DataFrame(
                {
                    "query_id": qid.T[keep],
                    "neighbor_id": nbr.T[keep],
                    "cosine": cos.T[keep],
                }
            )

    pairs = corpus.select(id_col, vec_col, label_col).mapInPandas(
        score, out_schema
    )
    return _ranked_topk(pairs, k)


def embedding_diversity(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus diversity metric WITHOUT pairs: the mean pairwise cosine
    within each group via the resultant-vector identity — for unit
    vectors u_i, ||Σu||² = n + Σ_{i≠j} u_i·u_j, so

        mean_{i≠j} cos = (||Σu||² − n) / (n·(n−1))

    — the O(n²) statistic every curation report wants ("how redundant
    is this source/cluster?") computed in ONE partial-aggregatable
    pass: normalize, per-dimension sums, one closed-form. At 100 TB
    this is the difference between a groupBy and an impossible
    self-join; it is also the SemDeDup-style redundancy signal at
    corpus granularity.

    Determinism discipline (the IVF-PQ parity-anchor scheme, taken
    one step further): raw components quantize FIRST to exact 6dp
    integer micros, the squared norm is then an exact BIGINT sum of
    their squares (order-free), its sqrt is one IEEE double from one
    exact integer — identical on any engine — and the unit components
    re-quantize to micros from that. Per-dimension sums of those are
    again exact BIGINTs in any summation order; the squares
    accumulate in exact DECIMAL/HUGEINT micros², and only the final
    exact integer converts to double. No step anywhere depends on
    float summation order. Zero vectors are excluded (undefined
    direction); groups with n < 2 report NULL. Returns (group_col,
    n_vectors, mean_pairwise_cosine 4dp)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q = F.transform(
        v, lambda x: F.floor(x * 1e6 + F.lit(0.5)).cast("long")
    )
    # q and ss BIND TO COLUMNS before the unit transform references
    # them: an inlined aggregate() inside the transform lambda
    # re-evaluates the whole O(dim) fold PER ELEMENT (O(dim²)/row —
    # the winnowing-draft pitfall; measured 11.7s -> sub-second at
    # sf0.1 when bound)
    # zero-vector exclusion happens HERE on the raw column, not as a
    # filter(_ss > 0) downstream: that filter pushes into the scan
    # with the q-transform AND the whole norm fold inlined, doubling
    # the map pass that IS this operator's 100 TB cost. The old
    # _ss > 0 filter was true iff (a) some component quantizes
    # non-zero AND (b) no component is NULL (a NULL element nulls the
    # fold, and a NULL predicate drops the row) — so the equivalent
    # early-exit form is exists(quantizes-nonzero) AND
    # forall(isNotNull); both are cheap per-element short-circuit
    # predicates, no O(dim) fold reaches the scan filter. (ADVICE r10:
    # exists() alone kept mixed null/non-zero vectors the old filter
    # dropped, corrupting the group mean via null micros.)
    nonzero = F.exists(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * 1e6 + F.lit(0.5)) != 0,
    ) & F.forall(F.col(vec_col), lambda x: x.isNotNull())
    bound = (
        df.filter(nonzero)
        .select(F.col(group_col), q.alias("_q"))
        .withColumn(
            "_ss",
            F.aggregate(
                F.col("_q"), F.lit(0).cast("long"), lambda a, x: a + x * x
            ),
        )
    )
    micros = F.transform(
        F.col("_q"),
        lambda x: F.floor(
            x / F.sqrt(F.col("_ss").cast("double")) * 1e6 + F.lit(0.5)
        ).cast("long"),
    )
    rows = (
        bound
        .select(F.col(group_col), F.posexplode(micros).alias("dim", "u"))
        .groupBy(group_col, "dim")
        .agg(F.sum("u").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    s_dec = F.col("s").cast("decimal(38,0)")
    per_group = rows.groupBy(group_col).agg(
        F.max("n").alias("n_vectors"),  # identical across dims
        F.sum(s_dec * s_dec).alias("r2i"),  # exact integer micros²
    )
    n = F.col("n_vectors")
    r2 = F.col("r2i").cast("double") / F.lit(1e12)
    mean_cos = (r2 - n) / (n * (n - F.lit(1)))
    return per_group.select(
        group_col,
        n.cast("long").alias("n_vectors"),
        F.when(
            n >= 2, F.floor(mean_cos * 1e4 + F.lit(0.5)) / 1e4
        ).alias("mean_pairwise_cosine"),
    )
