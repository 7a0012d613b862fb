"""Lexical and hybrid retrieval: BM25 ranking and reciprocal-rank
fusion — the serving-side complement to the vector kNN family in
``operators/similarity.py`` for a lakehouse-to-RAG read path
(reference scope: the RAG corpus the medallion pipeline feeds;
retrieval itself composes engine operators, cf. duckdb result fetch
src/helpers/duckdb_queries.py and the embeddings table).

Scale shape: BM25 is ONE inverted-index equi-join on `word` between
the (small, broadcast) query-term list and the per-document term
frequencies — the same shuffle discipline as the Jaccard/minhash
family: nothing is ever all-pairs, corpus statistics (df, avgdl) are
partial-aggregatable, and the final top-k is a two-phase
ROW_NUMBER-bounded rank. At 100 TB the tf table is the posting list
you would persist bucketed by word.

Float discipline (same as tfidf_top_terms / bigram_lm_scores): idf is
transcendental, so it is rounded to 6dp before use; per-term
contributions round to 6dp before the sum and final scores to 4dp, so
cross-engine libm/summation-order ulps cannot flip a rank tie-break.
b=0.75 is exactly representable; k1 parses to the same double in
every engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_to_rag_spark.session import concurrently
from lakehouse_to_rag_spark.sources.tables import local_df


def _doc_terms(
    docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """((id, word, tf), (id, dl)) from whitespace tokenization —
    lowercased, same convention as tfidf_top_terms. dl counts ALL
    tokens (BM25's |d|), tf counts per-term occurrences."""
    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    narrow = maybe_parallelize(
        docs.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            F.split(F.lower(F.col(text_col)), " ", -1).alias("_toks"),
        )
    ).localCheckpoint(eager=False)
    dl = narrow.select("id", F.size("_toks").alias("dl"))
    tf = (
        narrow.select("id", F.explode("_toks").alias("word"))
        .groupBy("id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf, dl


def _query_terms(
    queries: DataFrame, query_id_col: str, query_text_col: str
) -> DataFrame:
    """DISTINCT (query_id, word) — duplicate query words do not
    double-count (documented simplification; classic BM25's qtf
    weighting is rarely material for short queries)."""
    return (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(
                F.split(F.lower(F.col(query_text_col)), " ", -1)
            ).alias("word"),
        )
        .distinct()
    )


def _local_query_terms(
    queries: DataFrame, query_id_col: str, query_text_col: str
) -> DataFrame:
    """``_query_terms`` as a driver-local frame (``local_df``): the
    query frame is collected once with Spark's own
    ``split(lower(text), " ", -1)`` applied — a projection, which
    Catalyst folds into a driver-local ``queries``, so the collect then
    launches no job — and the (query_id, word) pairs are deduplicated
    in Python; a null text has no terms."""
    split = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.split(F.lower(F.col(query_text_col)), " ", -1).alias("words"),
    )
    terms = dict.fromkeys(
        (qid, w) for qid, words in split.collect() for w in words or ()
    )
    return local_df(
        queries.sparkSession,
        list(terms),
        T.StructType(
            [
                T.StructField("query_id", split.schema["query_id"].dataType),
                T.StructField("word", T.StringType()),
            ]
        ),
    )


def _score_hits(hits: DataFrame, k: int, k1: float, b: float) -> DataFrame:
    """Shared BM25 scoring tail for the in-memory and persisted-index
    paths — ONE implementation so the two can never drift. ``hits``
    carries (query_id, id, tf, dl, df, n_docs, avgdl): one posting
    row per matched (query term, doc).

    Float discipline: idf quantized 6dp (ln() is transcendental —
    libm vs JVM last-ulp); per-term contribution quantized to INTEGER
    micro-units, summed exactly, floor-rounded once to 4dp — micro-grid
    float sums land on exact .xxxx5 boundaries where engine ROUND
    implementations disagree; the all-integer + FLOOR pipeline cannot
    (same discipline as dsir_log_weights / nb_quality_scores)."""
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
        6,
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    contrib_micro = F.floor(
        idf * F.col("tf") * F.lit(k1 + 1.0) / denom * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    scored = (
        hits.select("query_id", "id", contrib_micro.alias("c"))
        .groupBy("query_id", "id")
        .agg(
            (
                F.floor(F.sum("c") / F.lit(100.0) + F.lit(0.5))
                / F.lit(10000.0)
            ).alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("id").alias("doc_id"),
            "score",
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
) -> DataFrame:
    """Top-k documents per query by BM25 (Robertson/Spärck Jones;
    the Lucene ``ln(1 + (N - df + .5)/(df + .5))`` idf variant, which
    is always positive).

    Returns (query_id, rank, doc_id, score): rank 1..k by score desc,
    doc id asc on ties."""
    tf, dl = _doc_terms(docs, id_col, text_col)
    # corpus stats in ONE partial-aggregatable job (a previous form
    # ran two separate aggs + two broadcasts over the same dl table)
    stats_df = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    qterms = _query_terms(queries, query_id_col, query_text_col)
    # the ONE corpus-sized join: query terms (broadcast) onto the
    # posting list, then per-(query, doc) sum
    hits = (
        tf.join(F.broadcast(qterms), "word")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats_df))
        .join(df_, "word")
    )
    return _score_hits(hits, k, k1, b)


def write_bm25_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Persist the BM25 posting list as a bucket-partitioned lakehouse
    layer — the serving-side artifact a real RAG deployment reads,
    mirroring ``similarity.write_ivf_index``'s layout discipline:
    ``{path}/bucket=N/`` holds the postings whose word hashes to
    bucket N (``pmod(xxhash64(word), n_buckets)``) and
    ``{path}/_stats`` the one-row corpus statistics
    (n_docs, avgdl, n_buckets). Directory-level partition pruning
    means a query LISTS only the buckets its terms hash to, so scan
    cost scales with query-term count, not corpus size (a metastore
    ``bucketBy`` would pin the same shape but not survive a fresh
    session on a bare path).

    Postings are denormalized — (word, id, tf, dl, df) — the classic
    search-engine layout (Lucene stores per-doc norms alongside
    postings): scoring then needs NO corpus-sized join at query time,
    only the pruned scan + a broadcast of the query terms. The dl/df
    joins are paid ONCE at build time. Returns the format written."""
    from lakehouse_to_rag_spark.sources.lakehouse import write_layer

    tf, dl = _doc_terms(docs, id_col, text_col)
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    # sum_dl is the EXACT integer the incremental path needs: appends
    # update (n_docs, sum_dl) additively and re-derive avgdl with the
    # same single sum/count division a full rebuild performs — a
    # rolling avgdl*n reconstruction would drift by ulps and flip
    # 4dp-rounded scores at boundaries
    stats_df = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
        F.lit(n_buckets).cast("long").alias("n_buckets"),
    )
    postings = (
        tf.join(dl, "id")
        .join(df_, "word")
        .withColumn(
            "bucket", F.pmod(F.xxhash64(F.col("word")), F.lit(n_buckets))
        )
        .select("bucket", "word", "id", "tf", "dl", "df")
    )
    fmt = write_layer(postings, path, partition_by=["bucket"])
    # `_ids` sidecar (r14, guide §5/§1.2): the DISTINCT indexed doc-id
    # set — exactly the docs `_doc_terms` admits (non-null text), so
    # its row count equals `_stats.n_docs` when the two are in sync.
    # `append_to_bm25_index`'s fail-closed disjointness check probes
    # THIS column-pruned O(n_docs) table instead of scanning the full
    # O(total postings) bucket layout per append. Derived straight
    # from the source scan (no tokenization), one narrow column. Both
    # one-task control writes overlap (guide §2.6 — disjoint aux dirs,
    # no ordering constraint inside a fresh build; the postings write
    # above already materialized the `narrow` checkpoint both ride).
    ids_df = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id")
    )
    concurrently(
        docs.sparkSession,
        lambda: write_layer(stats_df, f"{path}/_stats"),
        lambda: write_layer(ids_df, f"{path}/_ids"),
    )
    return fmt


def _data_names(dirpath: str) -> list[str] | None:
    """Names of a layer dir's data entries — everything but the
    ``_``/``.``-prefixed ones Spark skips (``_SUCCESS``, ``.crc``
    sidecars, ``_stats``-style control tables) — or None when the dir
    is missing or is a delta layer: a delta layer's live file set is
    the LOG's, not the dir listing's (tombstoned files linger), so
    footers can't be trusted and callers fall back to the format-aware
    Spark read."""
    import os

    try:
        names = os.listdir(dirpath)
    except OSError:
        return None
    if "_delta_log" in names:
        return None
    return [n for n in names if not n.startswith(("_", "."))]


def _parquet_files(dirpath: str) -> list[str] | None:
    """Data files of a plain-parquet layer dir, or None when the dir
    is missing or holds anything but parquet (e.g. a delta layer) —
    callers then fall back to a Spark read."""
    import os

    names = _data_names(dirpath)
    if not names or not all(n.endswith((".parquet", ".crc")) for n in names):
        return None
    files = [os.path.join(dirpath, n) for n in names if n.endswith(".parquet")]
    return files or None


def _read_control_rows(spark, sdir: str) -> list[dict]:
    """Every row of a small index control table (``_stats``,
    ``_centroids``) as dicts, read via parquet footers on the driver
    when the layer is plain parquet (r14, guide §5: the rows are a few
    hundred bytes of control state — a Spark read plus collect cost a
    schema-inference job and a collect job per append/serve).
    Value-exact: the parquet doubles/longs/float arrays decode to the
    same Python values a ``collect()`` returns. Falls back to the Spark
    read for any other layout (delta, mixed dirs)."""
    files = _parquet_files(sdir)
    if files is not None:
        try:
            import pyarrow.parquet as pq

            rows: list[dict] = []
            for f in sorted(files):
                rows += pq.read_table(f).to_pylist()
            return rows
        except Exception:
            pass  # unreadable footer: let Spark produce the real error
    from lakehouse_to_rag_spark.sources.lakehouse import read_layer

    return [r.asDict() for r in read_layer(spark, sdir).collect()]


def _partition_value(name: str, col: str) -> int | None:
    """N for a ``{col}=N`` partition dir name, else None."""
    key, sep, val = name.partition("=")
    if key != col or not sep or not val.lstrip("-").isdecimal():
        return None
    return int(val)


def _read_partitions(
    spark, root: str, col: str, values: list[int]
) -> DataFrame:
    """The rows of ``root``'s ``{col}=N`` partitions for N in
    ``values``, read by path: only those dirs are handed to Spark (with
    ``basePath``, so ``col`` is still a column). Partition discovery
    over the root lists every partition dir, with a distributed job
    past 32 paths, and infers the schema with another job; here the
    schema comes from a data file's footer, where Spark stores its
    StructType, and ``col`` is added as the ``int`` discovery infers.
    Values without a dir contribute no rows. Falls back to the
    discovery read plus a literal ``isin`` filter whenever the layout
    is not plain parquet (``_data_names``/``_parquet_files``' rule: a
    ``_delta_log``, a stray file, a missing dir) or the footer carries
    no Spark schema."""
    import os

    from lakehouse_to_rag_spark.sources.lakehouse import read_layer
    names = _data_names(root)
    parts = {_partition_value(n, col): n for n in names or ()}
    wanted = sorted(set(values))
    if parts and None not in parts:
        dirs = [os.path.join(root, parts[v]) for v in wanted if v in parts]
        files = [
            _parquet_files(d) for d in dirs or [os.path.join(root, names[0])]
        ]
        schema = _spark_footer_schema(files[0][0]) if all(files) else None
        if schema is not None:
            schema = schema.add(col, T.IntegerType())
            if not dirs:
                return local_df(spark, [], schema)
            return (
                spark.read.schema(schema).option("basePath", root).parquet(*dirs)
            )
    return read_layer(spark, root).filter(F.col(col).isin(wanted))


def _spark_footer_schema(path: str) -> T.StructType | None:
    """The StructType Spark stores in the footer of each parquet file
    it writes, or None when the file carries none or is unreadable."""
    import json

    import pyarrow.parquet as pq

    try:
        meta = pq.read_schema(path).metadata or {}
        row_meta = meta[b"org.apache.spark.sql.parquet.row.metadata"]
        return T.StructType.fromJson(json.loads(row_meta))
    except (OSError, KeyError, ValueError):
        return None


def _parquet_rowcount(dirpath: str) -> int | None:
    """Total row count of a plain-parquet dir from file footers (no
    Spark job, no data read) — None when the dir isn't plain parquet."""
    files = _parquet_files(dirpath)
    if files is None:
        return None
    try:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


def append_to_bm25_index(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    check_disjoint: bool = True,
) -> int:
    """Incremental BM25 index maintenance — the lexical twin of
    ``append_to_ivf_index``: a new crawl batch lands as one bounded
    posting append into the existing ``bucket=N/`` directories plus an
    exact additive update of the one-row ``_stats`` (n_docs and the
    integer sum_dl accumulate; avgdl re-derives by the same single
    division a rebuild performs). The corpus-global term statistics
    that make naive BM25 appends wrong are handled on the SERVE side:
    ``bm25_topk_from_index`` recomputes df from the pruned scan, so
    stale denormalized df values in previously-written rows are never
    read — append == rebuild EXACTLY (equality-tested).

    Caveats, stated: new doc ids must be disjoint from the indexed
    corpus (a re-sent id would double its tf rows). This is now
    FAIL-CLOSED by default: ``check_disjoint=True`` first raises on
    duplicate (or null) ids WITHIN the batch (count vs countDistinct,
    one batch-bounded aggregate — a doc sent twice in one batch is
    the same tf-doubling corruption as an index overlap), then runs
    one column-pruned id scan of the index semi-joined against the
    (broadcast, batch-bounded) new ids and raises on any overlap,
    BEFORE anything is written — since r14 that membership scan reads
    the O(n_docs) ``_ids`` sidecar when it provably covers the index
    (row count >= ``_stats.n_docs``; see the trust-rule comment at
    the check site) instead of the O(index) posting layout. Pass
    ``check_disjoint=False`` only
    when an upstream admission anti-join (the ``incremental_dedup_fps``
    pattern) already guarantees disjointness. A crashed-then-replayed
    batch still appends twice (wrap with the stream sink's ledger
    pattern if driving this from foreachBatch).

    Commit discipline: the postings append lands first, then the
    updated one-row ``_stats`` is written to a sibling tmp dir and
    swapped in by ``sources.dirswap.swap_in`` — ``_stats`` is
    therefore never torn by a mid-overwrite crash, and ``recover``
    repairs any remnant of an interrupted swap on the next append.
    The remaining HALF-COMMIT window, stated: a crash after the
    postings append but before the swap leaves ``_stats`` excluding
    the already-appended docs (served avgdl/N silently stale) — on
    any append failure run ``rebuild_bm25_stats`` (one scan of the
    postings, from which the stats are fully derivable) to reconcile,
    or rebuild the index.
    Returns the number of posting rows appended."""
    import os

    from lakehouse_to_rag_spark.sources.dirswap import (
        recover,
        staging_path,
        swap_in,
    )
    from lakehouse_to_rag_spark.sources.lakehouse import (
        read_layer,
        write_layer,
    )

    recover(os.path.join(path, "_stats"))
    recover(os.path.join(path, "_ids"))
    stats = _read_control_rows(spark, os.path.join(path, "_stats"))[0]
    if "sum_dl" not in stats:
        raise ValueError(
            "append_to_bm25_index: index _stats lacks sum_dl (written "
            "by an older layout) — rebuild with write_bm25_index first"
        )
    n_buckets = int(stats["n_buckets"])
    # ONE batch-bounded pre-pass (r13 optimization round, guide §1.2
    # "don't compute things twice": this used to be THREE separate
    # batch scans — the dup-check aggregate, the (nb, sb) stats
    # aggregate after the postings checkpoint, and the tokenization
    # both rode on): cardinality for the fail-closed duplicate check
    # plus the additive _stats deltas, in one aggregate. nb/sb use
    # the exact _doc_terms convention (non-null text; dl counts ALL
    # split tokens of the lowercased text — lowercase cannot change
    # the token count but is kept for byte-parity of intent).
    pre = new_docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__t")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.col("id")).alias("nd"),
        F.count(F.when(F.col("__t").isNotNull(), 1)).alias("nb"),
        F.sum(
            F.when(
                F.col("__t").isNotNull(),
                F.size(F.split(F.lower(F.col("__t")), " ", -1)),
            )
        ).alias("sb"),
    ).collect()[0]
    if check_disjoint:
        # Batch-INTERNAL duplicates are the same corruption as
        # batch-vs-index overlap (a doc id sent twice in one batch
        # doubles its tf rows, and BM25 serving has no duplicate
        # absorber) — the .distinct() on new_ids would silently pass
        # them, so check count vs countDistinct first. countDistinct
        # excludes nulls, so a null id also trips the check (a null
        # doc id is index corruption either way).
        if int(pre["n"]) != int(pre["nd"]):
            raise ValueError(
                f"append_to_bm25_index: batch has {int(pre['n'])} rows "
                f"but only {int(pre['nd'])} distinct non-null "
                f"{id_col} value(s) — duplicate (or null) ids within "
                "one batch would double their tf rows just like an "
                "index overlap. Dedup the batch upstream, or pass "
                "check_disjoint=False if uniqueness is guaranteed."
            )
        new_ids = new_docs.select(F.col(id_col).alias("id")).distinct()
        # Membership source (r14, guide §5 — VERDICT r13 task 4): the
        # `_ids` sidecar is the column-pruned O(n_docs) id set, vs the
        # O(total postings) full bucket-layout scan (every word of
        # every doc, one directory per bucket) this check used to pay
        # per append. TRUST RULE, fail-closed: the sidecar is used
        # only when its row count >= _stats.n_docs — by the write
        # ordering below it is then a SUPERSET of the indexed ids (a
        # crash between the ids-append and the postings-append leaves
        # extra ids, which can only cause a false REJECTION, never a
        # false pass). A sidecar that has FEWER rows than n_docs
        # (pre-sidecar index, or postings appended by older code) is
        # stale-low and is NOT trusted: fall back to the full scan,
        # exactly the pre-r14 check. `rebuild_bm25_stats` reconciles
        # both sidecars from the postings.
        ids_dir = os.path.join(path, "_ids")
        # coverage gate from parquet FOOTERS (driver-side metadata, no
        # Spark job): the sidecar is trusted only when it provably
        # covers the index. Non-parquet layouts return None and take
        # the full-scan fallback.
        n_side = _parquet_rowcount(ids_dir)
        if n_side is not None and n_side >= int(stats["n_docs"]):
            membership = read_layer(spark, ids_dir)
        else:  # sidecar absent or stale-low: full scan (pre-r14 path)
            membership = read_layer(spark, path).select("id")
        n_dup = (
            membership
            .join(F.broadcast(new_ids), "id", "left_semi")
            .select(F.countDistinct("id").alias("n"))
            .collect()[0]["n"]
        )
        if n_dup:
            raise ValueError(
                f"append_to_bm25_index: {n_dup} doc id(s) in the batch "
                "already exist in the index — appending would double "
                "their tf rows. Dedup/admit upstream, or pass "
                "check_disjoint=False if disjointness is guaranteed."
            )
    # `_ids` append FIRST (r14): the sidecar must stay a SUPERSET of
    # the indexed ids across any crash, so the batch's admitted ids
    # (non-null text — the exact `_doc_terms` admission rule, keeping
    # row count == n_docs when in sync) land before the postings do.
    # A crash here leaves extra sidecar ids: the next append of those
    # ids is REJECTED (fail-closed; reconcile with rebuild_bm25_stats)
    # rather than silently double-appended. Appended even with
    # check_disjoint=False — skipping it would leave the sidecar
    # stale-low and silently demote every later append to the full
    # scan.
    write_layer(
        new_docs.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id")
        ),
        os.path.join(path, "_ids"),
        mode="append",
    )
    tf, dl = _doc_terms(new_docs, id_col, text_col)
    postings = (
        tf.join(dl, "id")
        # df = -1 SENTINEL, schema parity only: the serve path drops
        # and recomputes df from the pruned scan (appends invalidate
        # any stored value), and rebuild_bm25_stats derives from
        # (id, dl) — nothing ever reads a stored df. The batch-local
        # groupBy+join that used to fill it was pure throwaway work on
        # every append (r13 optimization round, guide §1.2: one
        # exchange + one join removed; measured 2.1 s -> 1.3 s warm
        # for the odd-half batch write at sf0.1). A visibly-invalid
        # constant beats a plausible-but-wrong batch-local count.
        .withColumn("df", F.lit(-1).cast("long"))
        .withColumn(
            "bucket", F.pmod(F.xxhash64(F.col("word")), F.lit(n_buckets))
        )
        .select("bucket", "word", "id", "tf", "dl", "df")
    )
    # count + write in ONE pass via an observed metric (r13: the
    # previous form eagerly localCheckpointed the postings and then
    # ran count() + write as two more jobs — three materializations
    # of batch-sized data, plus block-manager residency the 100 TB
    # append never wants; an Observation rides the write action
    # itself, so the postings plan executes exactly once)
    from pyspark.sql import Observation

    obs = Observation()
    postings = postings.observe(obs, F.count(F.lit(1)).alias("n"))
    batch = {"nb": pre["nb"], "sb": pre["sb"]}
    write_layer(postings, path, partition_by=["bucket"], mode="append")
    n = int(obs.get["n"])
    n_docs = int(stats["n_docs"]) + int(batch["nb"] or 0)
    sum_dl = int(stats["sum_dl"]) + int(batch["sb"] or 0)
    new_stats = local_df(
        spark,
        [(n_docs, sum_dl, sum_dl / n_docs, n_buckets)],
        "n_docs long, sum_dl long, avgdl double, n_buckets long",
    )
    # staged write + swap: _stats is replaced whole, never
    # overwritten in place, so a crash can leave it STALE (see the
    # half-commit caveat above) but never TORN.
    sdir = os.path.join(path, "_stats")
    tmp = staging_path(sdir)
    write_layer(new_stats, tmp)
    swap_in(tmp, sdir)
    return n


def rebuild_bm25_stats(spark, path: str) -> None:
    """Reconcile ``_stats`` AND the ``_ids`` sidecar from the postings
    alone — the recovery tool for ``append_to_bm25_index``'s
    documented half-commit windows (postings appended but the stats
    swap never landed; or sidecar ids appended but the postings never
    did). Every stat is fully derivable from the posting rows: dl
    repeats on each of a doc's rows, so one distinct over the
    column-pruned (id, dl) pair gives exact n_docs and the integer
    sum_dl, and avgdl re-derives by the same single division a build
    performs — rebuilt ``_stats`` is bit-equal to an uninterrupted
    append's (equality-tested). ``_ids`` rebuilds to exactly the
    distinct indexed ids (r14: the membership sidecar the append's
    fail-closed check probes instead of a full-index scan), restoring
    the ids-superset invariant after the ids-append crash window left
    orphan ids. One pruned scan feeds both via a lazy checkpoint; each
    is published with ``sources.dirswap.swap_in``, like the append
    path's ``_stats``."""
    import os

    from lakehouse_to_rag_spark.sources.dirswap import (
        recover,
        staging_path,
        swap_in,
    )
    from lakehouse_to_rag_spark.sources.lakehouse import (
        read_layer,
        write_layer,
    )

    sdir = os.path.join(path, "_stats")
    recover(sdir)
    idir = os.path.join(path, "_ids")
    recover(idir)
    n_buckets = int(_read_control_rows(spark, sdir)[0]["n_buckets"])
    id_dl = (
        read_layer(spark, path)
        .select("id", "dl")
        .distinct()
        .localCheckpoint(eager=False)
    )
    stats_df = id_dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
        F.lit(n_buckets).cast("long").alias("n_buckets"),
    )
    tmp = staging_path(sdir)
    write_layer(stats_df.coalesce(1), tmp)
    swap_in(tmp, sdir)
    itmp = staging_path(idir)
    write_layer(id_dl.select("id"), itmp)
    swap_in(itmp, idir)


def compact_bm25_index(
    spark, path: str, target_rows_per_file: int | None = None
) -> int:
    """Small-file compaction for the persisted BM25 posting layout —
    ``append_to_bm25_index`` adds one file per touched ``bucket=N/``
    directory per batch, the same accretion as the IVF appends (the
    shared ``similarity._compact_index_layout`` core; measured 1.9x
    serve overhead at 39 batches on the IVF twin, SCALE.md r7).
    ``_stats`` is rewritten to one file, and so is the ``_ledger`` that
    ``stream_bm25_sink`` keeps under the same root — dropping it across
    the swap would make a post-compaction foreachBatch re-delivery
    re-append postings the ledger had already absorbed, and the BM25
    side has no serve-time duplicate absorber. Serve results are
    bit-equal before/after (compact-then-serve equality test). Must be
    run with any ingest stream quiesced (see ``_compact_index_layout``,
    which also documents the ``target_rows_per_file`` multi-file
    policy for hot buckets). Returns the data file count written."""
    from lakehouse_to_rag_spark.operators.similarity import (
        _compact_index_layout,
    )

    return _compact_index_layout(
        spark, path, "bucket",
        carry_dirs=(), rewrite_dirs=("_stats", "_ledger", "_ids"),
        target_rows_per_file=target_rows_per_file, split_col="id",
    )


def bm25_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_text_col: str = "query",
) -> DataFrame:
    """Serve BM25 top-k from a ``write_bm25_index`` layout. The query
    side is evaluated once on the driver: the distinct (query_id, word)
    terms become a driver-local frame (``_local_query_terms``) and
    their buckets are Spark's own ``pmod(xxhash64(word), n_buckets)``
    projected over it, so when ``queries`` is driver-local nothing
    launches a job before the final plan. Only the matching
    ``bucket=N`` dirs are then read, by path (``_read_partitions``; a
    layout that is not plain parquet falls back to the discovery read
    with a literal ``isin`` filter); the scoring tail is
    byte-identical to ``bm25_topk`` (shared ``_score_hits``), so
    persisted == in-memory exactly."""
    import os

    # one-row control state via parquet footers (r14, guide §5): the
    # Spark read + collect + broadcast of a 40-byte row cost a
    # scheduler round-trip and a BroadcastExchange per serve call;
    # the values are embedded as literals instead (bit-identical
    # doubles — the decoded parquet value IS the stored double)
    srow = _read_control_rows(spark, os.path.join(path, "_stats"))[0]
    n_buckets = int(srow["n_buckets"])
    qterms = _local_query_terms(queries, query_id_col, query_text_col)
    buckets = sorted(
        {
            r[0]
            for r in qterms.select(
                F.pmod(F.xxhash64(F.col("word")), F.lit(n_buckets))
            ).collect()
        }
    )
    postings = _read_partitions(spark, path, "bucket", buckets)
    # df is recomputed from the pruned scan, never trusted from the
    # stored column: appends (append_to_bm25_index) change every
    # term's document frequency but cannot rewrite existing posting
    # rows' denormalized df. The recompute is complete because word
    # hashing puts ALL of a term's postings in one bucket (which the
    # query scan reads anyway), and postings hold one row per
    # (word, id), so a plain COUNT over a word-partitioned window IS
    # the document frequency — on a fresh index it reproduces the
    # stored integer exactly, keeping persisted == in-memory
    # bit-equal. The window runs BEFORE the query-term join (after it
    # the per-query duplication would inflate the count) and keeps
    # the plan a single FileScan of the layout (a groupBy+self-join
    # df was measured as 2 scans; the bucket-pruning metrics test
    # watches this scan).
    wdf = Window.partitionBy("word")
    hits = (
        postings.drop("df")
        .withColumn("df", F.count(F.lit(1)).over(wdf))
        .join(F.broadcast(qterms), "word")
        .withColumn("n_docs", F.lit(int(srow["n_docs"])))
        .withColumn("avgdl", F.lit(float(srow["avgdl"])))
    )
    return _score_hits(hits, k, k1, b)


def _rrf_score(c: int):
    """The RRF score of a (rank_a, rank_b) row, either rank null when
    the document is missing from that list: the one definition behind
    ``rrf_fuse`` and the driver fusion (``_fuse_rows``)."""

    def term(rank: str):
        return F.when(
            F.col(rank).isNotNull(), F.lit(1.0) / (F.lit(c) + F.col(rank))
        ).otherwise(F.lit(0.0))

    return F.round(term("rank_a") + term("rank_b"), 6)


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 5,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009): fused(d) =
    sum over sources of 1/(c + rank_src(d)), over the union of both
    candidate lists. Inputs need (query_id, rank, doc_id). Terms
    1/(c+r) are exact-double quotients of small ints summed over <= 2
    values (order-independent in IEEE), rounded 6dp.

    Returns (query_id, rank, doc_id, rrf_score)."""
    a = ranked_a.select("query_id", "doc_id", F.col("rank").alias("rank_a"))
    b = ranked_b.select("query_id", "doc_id", F.col("rank").alias("rank_b"))
    union = a.join(b, ["query_id", "doc_id"], "full_outer")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        union.select("query_id", "doc_id", _rrf_score(c).alias("rrf_score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "doc_id",
            "rrf_score",
        )
    )


def hybrid_retrieval_rrf(
    docs: DataFrame,
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    candidates: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    vector_topk=None,
    lexical_topk=None,
) -> DataFrame:
    """Hybrid lexical+vector retrieval: for each query id (a document
    that has both text and an embedding), fuse BM25 over the corpus
    text with cosine kNN over the embeddings via RRF. The query
    document itself is excluded from both sides (kNN already excludes
    self; BM25 filters it).

    ``lexical_topk`` selects the lexical backend: a callable
    ``(docs, queries_txt, k, id_col, text_col) -> DataFrame`` with
    ``bm25_topk``'s contract — the default, or a closure over
    ``bm25_topk_from_index`` to serve from the persisted posting-list
    layout (byte-identical scoring tail, so in-memory == served).

    ``vector_topk`` selects the vector backend: a callable
    ``(embeddings, query_embeddings, k) -> DataFrame`` returning
    (query_id, rank, neighbor_id) — the shared contract of the whole
    kNN family in ``operators/similarity.py``, so any of
    ``knn_bruteforce`` (default: exact linear scan), ``ivf_topk`` /
    ``ivf_topk_kmeans`` (cluster-pruned), ``knn_pq`` / ``knn_ivfpq``
    (quantized) plugs in directly, e.g.
    ``vector_topk=lambda e, q, k: ivf_topk(e, q, k, num_centroids=64,
    nprobe=8)``. At full nprobe IVF degenerates to the exact scan and
    the fused output is identical to the default (equivalence test in
    tests/test_retrieval.py).

    The backends rank in Spark: the two query frames (texts and
    embeddings of ``query_ids``) are collected concurrently into
    driver-local frames, and the two backend top-lists are built and
    collected concurrently (``_fuse_hybrid``). The fusion is bounded
    by queries x candidates rows and runs on the driver, so the result
    is a driver-local frame (``local_df``) that launches no job when
    collected."""
    queries_txt = docs.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(text_col).alias("query")
    )
    qe = embeddings.filter(F.col("vec_id").isin(query_ids))
    spark = docs.sparkSession
    txt_rows, qe_rows = concurrently(
        spark, queries_txt.collect, qe.collect
    )
    rows, schema = _fuse_hybrid(
        docs,
        embeddings,
        local_df(spark, txt_rows, queries_txt.schema),
        local_df(spark, qe_rows, qe.schema),
        k,
        candidates,
        c,
        id_col,
        text_col,
        vector_topk,
        lexical_topk,
    )
    return local_df(spark, rows, schema)


def _local_eval(spark, rows: list, schema: T.StructType, *cols) -> list:
    """``cols`` evaluated over driver ``rows``: a projection of a
    driver-local frame, which Catalyst folds into the
    ``LocalRelation`` (the ``similarity._driver_probes`` precedent),
    so Spark's own expression semantics hold and no job launches."""
    if not rows:
        return []
    return local_df(spark, rows, schema).select(*cols).collect()


def _fuse_rows(
    spark,
    lex: list,
    vec: list,
    k: int,
    candidates: int,
    c: int,
    id_type: T.DataType,
) -> list[tuple]:
    """``_fuse_hybrid``'s fusion on collected (query_id, rank, doc_id)
    top-lists: the lexical self-hit drop and re-rank to
    1..``candidates``, then ``rrf_fuse`` — its full outer join, with
    the join's multiplicity for duplicate (query_id, doc_id) keys; the
    score is ``_rrf_score`` evaluated by ``_local_eval``; the rank is
    its window's order (score desc, doc_id asc). Ids are non-null:
    the backends drop null ids in their joins and self-hit filters.
    Returns (query_id, rank, doc_id, rrf_score) rows."""
    by_query: dict = {}
    for q, r, d in lex:
        if q != d:
            by_query.setdefault(q, []).append((r, d))
    lex = [
        (q, i, d)
        for q, hits in by_query.items()
        for i, (_, d) in enumerate(sorted(hits), 1)
        if i <= candidates
    ]
    vec_ranks: dict = {}
    for q, r, d in vec:
        vec_ranks.setdefault((q, d), []).append(r)
    lex_keys = {(q, d) for q, _, d in lex}
    union = [
        (q, d, r, rb) for q, r, d in lex for rb in vec_ranks.get((q, d), [None])
    ]
    union += [(q, d, None, r) for q, r, d in vec if (q, d) not in lex_keys]
    scored = _local_eval(
        spark,
        union,
        T.StructType(
            [
                T.StructField("query_id", id_type),
                T.StructField("doc_id", id_type),
                T.StructField("rank_a", T.LongType()),
                T.StructField("rank_b", T.LongType()),
            ]
        ),
        "query_id",
        "doc_id",
        _rrf_score(c),
    )
    by_query = {}
    for q, d, s in scored:
        by_query.setdefault(q, []).append((d, s))
    return [
        (q, i, d, s)
        for q, hits in by_query.items()
        for i, (d, s) in enumerate(
            sorted(hits, key=lambda h: (-h[1], h[0])), 1
        )
        if i <= k
    ]


def _fuse_hybrid(
    docs: DataFrame,
    embeddings: DataFrame,
    queries_txt: DataFrame,
    qe: DataFrame,
    k: int,
    candidates: int,
    c: int,
    id_col: str,
    text_col: str,
    vector_topk,
    lexical_topk,
) -> tuple[list[tuple], T.StructType]:
    """``hybrid_retrieval_rrf``'s fusion over given query frames:
    (query_id, query) texts and query embeddings. Spark computes the
    two backend top-lists, each built and collected in its own pool
    thread (``session.concurrently``) so their jobs overlap; the
    fusion of the at most queries x (candidates+1) rows they return
    runs on the driver (``_fuse_rows``). Returns the fused (query_id, rank,
    doc_id, rrf_score) rows and their schema (the id columns take the
    lexical top-list's type)."""
    from lakehouse_to_rag_spark.operators.similarity import knn_bruteforce

    if vector_topk is None:
        vector_topk = knn_bruteforce
    if lexical_topk is None:
        lexical_topk = bm25_topk

    # candidates+1 so the list is still `candidates` deep after the
    # self-hit (always rank 1 for a query drawn from the corpus) drops
    def lexical():
        df = lexical_topk(
            docs, queries_txt, k=candidates + 1, id_col=id_col,
            text_col=text_col,
        ).select("query_id", "rank", "doc_id")
        return df.schema["doc_id"].dataType, df.collect()

    def vector():
        return vector_topk(embeddings, qe, candidates).select(
            "query_id", "rank", "neighbor_id"
        ).collect()

    (id_type, lex), vec = concurrently(docs.sparkSession, lexical, vector)
    rows = _fuse_rows(docs.sparkSession, lex, vec, k, candidates, c, id_type)
    return rows, T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("rank", T.LongType()),
            T.StructField("doc_id", id_type),
            T.StructField("rrf_score", T.DoubleType()),
        ]
    )


def _mmr_select(pdf, k: int, lam: float):
    """Greedy MMR for ONE query: ``pdf`` holds the query's candidate
    rows (query_id, neighbor_id, rel, nv); ``k`` selection steps
    maximize ``lam * rel - (1 - lam) * max_sim(d, selected)`` over
    them. ONE implementation: ``_mmr_greedy`` applies it per query
    group in Spark, ``rag_read_path`` calls it on the driver.

    Determinism/oracle parity: candidate-pair similarities round to
    4dp (canonical dot/|a|/|b| op order); the greedy argmax breaks
    score ties on smallest neighbor_id. ``1 - lam`` is computed ONCE
    here and its exact double is embedded in the oracle literal
    (1 - 0.7 in binary is 0.30000000000000004, not the SQL literal
    0.3). Returns a pandas frame (query_id, neighbor_id, mmr_score 4dp,
    mmr_rank 1..k)."""
    import numpy as np
    import pandas as pd

    from lakehouse_to_rag_spark.operators.similarity import (
        _batch_cosines,
        _round_away,
    )

    onemlam = 1.0 - lam
    pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
    m = np.array(list(pdf["nv"]), dtype=np.float64)
    norms = np.linalg.norm(m, axis=1)
    norms[norms == 0] = np.nan
    psim = _round_away(_batch_cosines(m, m, norms), 4)
    rel = pdf["rel"].to_numpy(dtype=np.float64)
    n = len(pdf)
    sel: list[int] = []
    ids, scores_out, ranks = [], [], []
    for step in range(1, min(k, n) + 1):
        if sel:
            pen = psim[:, sel].max(axis=1)
            scores = lam * rel - onemlam * pen
        else:
            scores = lam * rel
        scores = scores.copy()
        scores[sel] = -np.inf
        best = int(np.argmax(scores))  # first max = smallest id on ties
        sel.append(best)
        ids.append(int(pdf["neighbor_id"].iloc[best]))
        scores_out.append(float(_round_away(scores[best], 4)))
        ranks.append(step)
    return pd.DataFrame(
        {
            "query_id": np.full(len(ids), pdf["query_id"].iloc[0], dtype=np.int64),
            "neighbor_id": ids,
            "mmr_score": scores_out,
            "mmr_rank": ranks,
        }
    )


def _mmr_greedy(cv: DataFrame, k: int, lam: float) -> DataFrame:
    """``_mmr_select`` per query over ``cv`` = (query_id, neighbor_id,
    rel, nv), Arrow-grouped: ONE implementation serves both the
    cosine-relevance form (``mmr_rerank``) and the pre-scored form
    (``mmr_rerank_scored``), so the two can never drift.

    Scale shape: the greedy stage shuffles only queries x n_candidates
    rows and runs per-query on the bounded candidate set (O(k * n) per
    query) — nothing corpus-sized. Returns (query_id, neighbor_id,
    mmr_score 4dp, mmr_rank 1..k)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("mmr_score", DoubleType()),
            StructField("mmr_rank", LongType()),
        ]
    )
    return cv.groupBy("query_id").applyInPandas(
        lambda _key, pdf: _mmr_select(pdf, k, lam), out_schema
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k_candidates: int = 20,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): fetch ``k_candidates`` exact-cosine candidates per query,
    then greedily select ``k`` of them — the standard diversity-aware
    final stage of a RAG read path (top-k by raw similarity returns
    near-duplicate passages; MMR trades relevance against redundancy).

    Scale shape: the candidate fetch is the two-phase broadcast kNN
    (no all-pairs, no corpus shuffle); candidate vectors ride a
    broadcast hash join back onto the corpus scan. Relevance is the
    kNN's 4dp cosine; greedy mechanics in ``_mmr_select``."""
    from lakehouse_to_rag_spark.operators.similarity import knn_bruteforce

    if not 1 <= k <= k_candidates:
        raise ValueError(f"mmr_rerank: need 1 <= k={k} <= k_candidates={k_candidates}")

    cand = knn_bruteforce(
        corpus, queries, k=k_candidates, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id", F.col("cosine").alias("rel"))
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("nv"),
    ).join(F.broadcast(cand), "neighbor_id")
    return _mmr_greedy(cv, k, lam)


def mmr_rerank_scored(
    candidates: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MMR over PRE-SCORED candidates: ``candidates`` carries
    (query_id, neighbor_id, rel) from any upstream ranker — an RRF
    fusion, a cross-encoder, a calibrated BM25 — and ``vectors``
    supplies the embeddings used for the pairwise-redundancy penalty.
    This is the form a production read path actually needs: relevance
    comes from the fused ranker, diversity from the vector space.

    The caller guarantees every candidate id resolves in ``vectors``
    (the join is inner). ``rel`` should be scaled
    commensurate with cosine similarity (e.g. min-max normalized to
    [0, 1]) or the lam trade-off is meaningless. Greedy mechanics and
    determinism contract are ``_mmr_select``'s, the output schema
    ``_mmr_greedy``'s."""
    if k < 1:
        raise ValueError(f"mmr_rerank_scored: need k >= 1, got {k}")
    cv = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("nv"),
    ).join(
        F.broadcast(candidates.select("query_id", "neighbor_id", "rel")),
        "neighbor_id",
    )
    return _mmr_greedy(cv, k, lam)


def rag_store(
    docs: DataFrame,
    embeddings: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """The embedded-corpus store: (store, emb_store) where store =
    documents with non-null text AND a vector, and emb_store = the
    matching vectors (normalized to vec_id/embedding names). ONE
    definition shared by the in-memory read path and the index-build/
    serve entries — if the store rule ever changes, the persisted
    indexes and the queried corpus move together (review finding: a
    hand-copied derivation could drift and silently break the served
    path's verbatim-oracle identity)."""
    emb = embeddings.select(
        F.col(vec_id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    store = docs.filter(F.col(text_col).isNotNull()).join(
        emb.select(F.col("vec_id").alias(id_col)), id_col, "left_semi"
    )
    emb_store = emb.join(
        store.select(F.col(id_col).alias("vec_id")), "vec_id", "left_semi"
    )
    return store, emb_store


def rag_read_path(
    docs: DataFrame,
    embeddings: DataFrame,
    query_ids: list[int],
    candidates: int = 10,
    kc: int = 8,
    k: int = 4,
    lam: float = 0.7,
    c: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    vector_topk=None,
    lexical_topk=None,
) -> DataFrame:
    """The full RAG serving read path. Spark ranks; the driver does
    everything bounded by queries x candidates:

    1. store   — the embedded corpus: documents with non-null text AND
                 a vector (you only serve what is in the vector store;
                 also what makes every downstream id vector-resolvable).
    2. lexical — BM25 top-``candidates`` per query over the store.
    3. vector  — exact-cosine kNN top-``candidates`` over the store.
    4. fusion  — reciprocal-rank fusion, keep top-``kc``.
    5. rel     — per-query min-max normalization of the RRF score to
                 [0, 1] (FLOOR(x*1e4+.5)/1e4 — the engine-agnostic
                 round; constant lists map to rel=1.0), so the MMR
                 lambda trades fused relevance against redundancy on a
                 cosine-commensurate scale.
    6. MMR     — greedy diversity selection of ``k`` (``_mmr_select``).
    7. serve   — join document metadata (source, content_length).

    Scale shape (the distributed top-k shape of REPOSE, PAPERS.md:
    bounded top-k lists computed on the workers, merged at the
    coordinator): Spark runs three rounds of two concurrent collects
    (``session.concurrently``). (a) The query side — the query texts
    from ``docs`` and the query vectors from ``embeddings``, one
    single-scan collect each; the store rule (the id has both) is
    applied on the driver and the backends get driver-local frames
    (``local_df``), so a served backend derives its terms, buckets and
    probes without a job. (b) Stages 2-3, the backend top-lists (query
    terms / query vectors broadcast onto one corpus or index scan
    each), fused on the driver (``_fuse_hybrid``). (c) The candidates'
    vectors from ``embeddings`` and their metadata from the non-null
    ``docs``, filtered to the fused ids: the candidates are ids of the
    store, and an inner join onto each of the store's two sides yields
    the rows the store itself would, duplicate ids included, without
    re-deriving its semi-joins per query. Stages 4-7 run on the
    driver; the RRF score and the rel floor are Spark's own
    expressions over driver-local frames (``_local_eval``), so they
    launch no job. The in-memory backends still rank over the store
    (``rag_store``: shuffle-free semi-joins that broadcast the smaller
    embedding-id side).

    Returns a driver-local frame (query_id, mmr_rank, doc_id,
    rrf_score, rel, mmr_score, source, content_length); collecting it
    launches no job."""
    import pandas as pd

    if not 1 <= k <= kc:
        raise ValueError(f"rag_read_path: need 1 <= k={k} <= kc={kc}")

    store, emb_store = rag_store(
        docs, embeddings, id_col, text_col, vec_id_col, vec_col
    )
    # (a) the query side: one single-scan collect per input, the store
    # rule (the id has both a text and a vector) applied on the driver
    texts = docs.filter(
        F.col(text_col).isNotNull() & F.col(id_col).isin(query_ids)
    ).select(F.col(id_col).alias("query_id"), F.col(text_col).alias("query"))
    emb = embeddings.select(
        F.col(vec_id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    vecs = emb.filter(F.col("vec_id").isin(query_ids))
    spark = docs.sparkSession
    text_rows, vec_rows = concurrently(spark, texts.collect, vecs.collect)
    text_ids, vec_ids = {r[0] for r in text_rows}, {r[0] for r in vec_rows}

    # (b) stages 2-4 ARE hybrid_retrieval_rrf's fusion over the
    # embedded store — one implementation, so the self-hit/rank-
    # contiguity discipline and any future vector-backend swap cannot
    # drift between the standalone operator and this composition
    fused, _ = _fuse_hybrid(
        store,
        emb_store,
        local_df(
            spark, [r for r in text_rows if r[0] in vec_ids], texts.schema
        ),
        local_df(
            spark, [r for r in vec_rows if r[0] in text_ids], vecs.schema
        ),
        kc,
        candidates,
        c,
        id_col,
        text_col,
        vector_topk,
        lexical_topk,
    )
    # stage 5: min-max over each query's kc-deep fused list
    bounds: dict = {}
    for q, _, _, s in fused:
        lo, hi = bounds.get(q, (s, s))
        bounds[q] = (min(lo, s), max(hi, s))
    mn, mx = F.col("mn"), F.col("mx")
    rel = F.when(mx == mn, F.lit(1.0)).otherwise(
        F.floor(
            (F.col("rrf_score") - mn) / (mx - mn) * F.lit(10000.0) + F.lit(0.5)
        )
        / F.lit(10000.0)
    )
    cand = _local_eval(
        spark,
        [(q, d, s, *bounds[q]) for q, _, d, s in fused],
        T.StructType.fromDDL(
            "query_id long, doc_id long, rrf_score double, mn double, "
            "mx double"
        ),
        "query_id",
        "doc_id",
        "rrf_score",
        rel,
    )

    # (c) the candidates' vectors and metadata
    ids = sorted({r[1] for r in cand})
    cand_vecs = emb.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("nv"),
    )
    meta = docs.filter(
        F.col(text_col).isNotNull() & F.col(id_col).isin(ids)
    ).select(
        F.col(id_col).alias("neighbor_id"),
        "source",
        F.length(text_col).cast("long").alias("content_length"),
    )
    vec_by_id: dict = {}
    meta_by_id: dict = {}
    if ids:
        vec_hits, meta_hits = concurrently(
            spark, cand_vecs.collect, meta.collect
        )
        for i, nv in vec_hits:
            vec_by_id.setdefault(i, []).append(nv)
        for i, *m in meta_hits:
            meta_by_id.setdefault(i, []).append(m)

    # stages 6-7, with the inner joins' multiplicity: every vector row
    # of a candidate enters MMR, and a pick joins back every fused row
    # of its (query, id) and every metadata row of its id
    cand_by_query: dict = {}
    for q, d, s, r in cand:
        cand_by_query.setdefault(q, []).append((d, s, r))
    out = []
    for q, rows in cand_by_query.items():
        cv = [(q, d, r, nv) for d, _, r in rows for nv in vec_by_id.get(d, [])]
        if not cv:
            continue
        picked = _mmr_select(
            pd.DataFrame(cv, columns=["query_id", "neighbor_id", "rel", "nv"]),
            k,
            lam,
        )
        for _, d, score, rank in picked.itertuples(index=False):
            out += [
                (q, int(rank), d, s, r, float(score), *m)
                for dd, s, r in rows
                if dd == d
                for m in meta_by_id.get(d, [])
            ]
    return local_df(
        spark,
        out,
        T.StructType(
            [
                T.StructField("query_id", T.LongType()),
                T.StructField("mmr_rank", T.LongType()),
                T.StructField("doc_id", T.LongType()),
                T.StructField("rrf_score", T.DoubleType()),
                T.StructField("rel", T.DoubleType()),
                T.StructField("mmr_score", T.DoubleType()),
                meta.schema["source"],
                T.StructField("content_length", T.LongType()),
            ]
        ),
    )


def build_rag_indexes(
    docs: DataFrame,
    base_path: str,
    dim: int = 64,
    num_centroids: int = 16,
    n_buckets: int = 64,
    chunk_size: int = 200,
    chunk_overlap: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The RAG WRITE path — ``rag_read_path``'s build-time counterpart,
    one composed plan from raw documents to the two persisted serving
    artifacts:

    1. chunk   — fixed-stride chunking (the SQL-exact chunker);
                 chunk_id = doc_id * 1e6 + chunk_index, exact 64-bit
                 arithmetic (the video-keyframe composite-id
                 discipline; 1e6 chunks = a ~190 MB single document,
                 far past any sane row size).
    2. embed   — feature-hashing chunk embeddings (model-free signed
                 tf; zero-vector chunks are dropped — cosine is
                 undefined for them and you don't index what can't be
                 scored).
    3. lexical — ``write_bm25_index`` over the chunks: the
                 bucket-partitioned posting list + _stats.
    4. vector  — ``write_ivf_index`` over the chunk embeddings: the
                 cluster-partitioned IVF layout + _centroids.
    5. manifest — read BACK from the written layouts (never from the
                 in-memory frames, so the manifest proves the write):
                 one row per (index, part) with its row count, plus
                 the bm25 _stats row — the registrable, oracle-able
                 summary of a correct build. The counts are summed
                 from the written files' parquet footers on the
                 driver and n_docs is the _stats row
                 (``_index_manifest``), so the read-back launches no
                 Spark job; a layout that is not plain parquet
                 (delta, a stray file) falls back to a Spark read of
                 the same layer.

    Returns the manifest DataFrame: (index STRING, part BIGINT,
    n_rows BIGINT). Parts: ivf cluster ids; bm25 part -1 = total
    postings (per-bucket splits are xxhash64-placed — layout-verified
    in tests, structurally not SQL-replayable); stats part -1 with
    n_rows = n_docs and avgdl folded into the serve-path tests."""
    from lakehouse_to_rag_spark.functions.chunker import fixed_stride_chunks
    from lakehouse_to_rag_spark.operators.similarity import write_ivf_index
    from lakehouse_to_rag_spark.operators.text_analysis import embed_hashed_tf

    spark = docs.sparkSession
    base = docs.filter(F.col(text_col).isNotNull())
    composite = (
        F.col(id_col).cast("long") * F.lit(1_000_000).cast("long")
        + F.col("chunk_index").cast("long")
    )
    # fail-closed, not documented-away: a >= 1e6-chunk document (a
    # ~190 MB text cell) or a doc id past 2^63/1e6 would silently
    # collide/overflow composite ids across documents — refuse the row
    # instead (the expression IS the id, so Catalyst cannot prune it)
    chunk_id = F.when(
        (F.col("chunk_index") < 1_000_000)
        & (F.abs(F.col(id_col).cast("long")) <= 9_223_372_036_853),
        composite,
    ).otherwise(
        F.raise_error(
            F.lit(
                "build_rag_indexes: chunk_index >= 1e6 or |doc_id| > "
                "9.2e12 would collide/overflow the composite chunk_id; "
                "re-chunk with a larger stride or re-key the documents"
            )
        )
    )
    chunks = base.select(
        F.col(id_col),
        F.posexplode(
            fixed_stride_chunks(F.col(text_col), chunk_size, chunk_overlap)
        ).alias("chunk_index", "chunk"),
    ).select(chunk_id.alias("chunk_id"), F.col("chunk"))
    # the chunk set feeds both indexes; materialize it once
    chunks = chunks.localCheckpoint(eager=True)

    emb = embed_hashed_tf(
        chunks, dim=dim, id_col="chunk_id", text_col="chunk"
    ).filter(
        F.aggregate(
            F.col("embedding"), F.lit(0.0), lambda a, x: a + F.abs(x)
        )
        > 0
    )
    # The two serving layouts derive from the SAME materialized chunk
    # set and write to DISJOINT subtrees — independent job chains, so
    # submit them from a 2-thread pool (guide §2.6: actions are only
    # sequential because driver code calls them sequentially; the
    # second index's tasks back-fill executors idled by the first's
    # stage tails and single-task stats/centroid writes). Each build's
    # exceptions surface from ``concurrently``, which keeps the
    # caller's job group on the pool's jobs.
    concurrently(
        spark,
        lambda: write_bm25_index(
            chunks,
            f"{base_path}/bm25",
            n_buckets=n_buckets,
            id_col="chunk_id",
            text_col="chunk",
        ),
        lambda: write_ivf_index(
            emb,
            f"{base_path}/ivf",
            num_centroids=num_centroids,
            id_col="chunk_id",
            vec_col="embedding",
        ),
    )
    return _index_manifest(spark, base_path)


_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("index", T.StringType(), False),
        T.StructField("part", T.LongType()),
        T.StructField("n_rows", T.LongType()),
    ]
)


def _partition_rowcounts(root: str, col: str) -> dict[int, int] | None:
    """Row count per ``{col}=N/`` partition dir of a plain-parquet
    layout, summed from file footers on the driver (no Spark job).
    Empty partitions are omitted, as a groupBy over the rows would.
    None when ``root`` or any partition dir is not plain parquet
    (``_data_names``/``_parquet_files``' rule: a ``_delta_log``, a
    stray file) or a data entry is not a ``{col}=N`` dir."""
    import os

    names = _data_names(root)
    if names is None:
        return None
    counts: dict[int, int] = {}
    for n in names:
        val = _partition_value(n, col)
        if val is None:
            return None
        rows = _parquet_rowcount(os.path.join(root, n))
        if rows is None:
            return None
        if rows:
            counts[val] = rows
    return counts


def _index_manifest(spark, base_path: str) -> DataFrame:
    """``build_rag_indexes``' manifest, read back from the written
    layouts: ivf per-cluster counts and the bm25 posting total are
    summed from parquet footers, n_docs comes from the ``_stats`` row
    (``_read_control_rows``). A layout that is not plain parquet falls
    back to the Spark read-back it replaces (groupBy/count over the
    layer). The result is a driver-local frame, so collecting it
    launches no job."""
    from lakehouse_to_rag_spark.sources.lakehouse import read_layer
    ivf_dir, bm25_dir = f"{base_path}/ivf", f"{base_path}/bm25"
    ivf = _partition_rowcounts(ivf_dir, "cluster")
    if ivf is None:
        ivf = {
            int(r[0]): int(r[1])
            for r in read_layer(spark, ivf_dir)
            .groupBy("cluster")
            .agg(F.count(F.lit(1)))
            .collect()
        }
    bm25 = _partition_rowcounts(bm25_dir, "bucket")
    n_post = (
        sum(bm25.values())
        if bm25 is not None
        else read_layer(spark, bm25_dir).count()
    )
    n_docs = _read_control_rows(spark, f"{bm25_dir}/_stats")[0]["n_docs"]
    rows = [("ivf", c, n) for c, n in sorted(ivf.items())]
    rows += [("bm25", -1, n_post), ("stats", -1, n_docs)]
    return local_df(spark, rows, _MANIFEST_SCHEMA)


def retrieval_metrics(
    runs: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query IR evaluation at cutoff ``k`` — the measurement half
    a retrieval stack needs next to the serving half (BM25/kNN/RRF/
    MMR all produce ``runs``-shaped output here): binary-relevance
    recall@k, MRR@k, and nDCG@k against a ``qrels`` table of
    (query, relevant doc) pairs. trec_eval conventions: only queries
    PRESENT in qrels are scored (a query with no relevant docs has no
    defined recall), a scored query with zero hits gets 0.0 on every
    metric, and ranks past ``k`` are ignored.

    Determinism at hash-gate standard: recall and MRR are single
    integer divisions; DCG and IDCG are folds over SORTED rank lists
    (collect the <= k hit ranks per query, sort, fold 1/log2(r+1)
    left-to-right) so double summation ORDER is fixed — a plain
    SUM() over hit rows would be partition-order-dependent in the
    last ulp. Per-query hit lists are bounded by ``k``, so the
    collect_list is O(k) per row, never corpus-shaped.

    Scale shape: one exchange on the query for the rank filter +
    hit join (qrels broadcast when bounded — Catalyst's choice), one
    partial-agg groupBy per side; the duplicate-qrels fail-close is a
    LAZY raise_error riding the n_rel aggregate (count vs distinct-doc
    count per query — no driver-side collect, no extra evaluation of
    the qrels lineage; fires at first execution like the SCD2
    builders' guards). Returns (query_col, n_rel, n_hits, recall_at_k,
    mrr_at_k, ndcg_at_k), all 4dp."""
    if k < 1:
        raise ValueError(f"retrieval_metrics: k >= 1, got {k}")
    hits = (
        runs.filter(F.col(rank_col) <= k)
        .join(qrels.select(query_col, doc_col), [query_col, doc_col])
        .groupBy(query_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.min(rank_col).cast("long").alias("_first"),
            F.sort_array(F.collect_list(F.col(rank_col).cast("long")))
            .alias("_ranks"),
        )
    )
    # qrels must be a SET of (query, doc) — a duplicated judgment row
    # silently inflates n_rel, n_hits AND the DCG (the hit join
    # multiplies run rows), so fail closed rather than dedup silently
    # (the index-sink convention; trec_eval treats dup qrels lines as
    # malformed input too). LAZY per the SCD2 builders' pattern
    # (ADVICE r10: the previous eager .collect() made the operator a
    # non-transform, evaluated the qrels lineage an extra time per
    # call, and broke plan_audit's plans-only-build invariant): the
    # raise_error rides the n_rel aggregate itself — count vs
    # count(distinct doc) per query inside the groupBy the operator
    # already pays for, firing at first execution. Every output row
    # flows through nrel, so malformed qrels can never yield metrics.
    # `runs` need no guard — rank uniqueness per query is the
    # producer's contract (every serving operator here emits
    # row_number output).
    nrel = qrels.groupBy(query_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.countDistinct(doc_col).cast("long").alias("_nd"),
    ).select(
        F.col(query_col),
        F.when(F.col("_n") == F.col("_nd"), F.col("_n"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "retrieval_metrics: duplicate judgments — "
                        f"qrels has repeated ({query_col}, {doc_col}) "
                        "rows for query "
                    ),
                    F.col(query_col).cast("string"),
                )
            ).cast("long")
        )
        .alias("n_rel"),
    )
    dcg = F.expr(
        "aggregate(_ranks, 0D, (a, r) -> a + 1D / log2(r + 1D))"
    )
    idcg = F.expr(
        f"aggregate(sequence(1, least(n_rel, {k})), 0D,"
        " (a, i) -> a + 1D / log2(i + 1D))"
    )
    return (
        nrel.join(hits, query_col, "left")
        .select(
            F.col(query_col),
            F.col("n_rel"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("n_rel"), 4
            ).alias("recall_at_k"),
            F.round(
                F.coalesce(F.lit(1.0) / F.col("_first"), F.lit(0.0)), 4
            ).alias("mrr_at_k"),
            F.round(
                F.coalesce(dcg, F.lit(0.0)) / idcg, 4
            ).alias("ndcg_at_k"),
        )
    )
