"""Text-analysis operators for training-data curation (SURVEY.md §2.13):
language ID, quality scoring, token counting, document fingerprinting.
All pure JVM expressions (regexp/split/array built-ins) — these run at
full codegen speed over 100 TB of text with zero Python overhead, and
each has an exact SQL oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_to_rag_spark.functions.text import (
    ENGLISH_STOPWORDS,
    STOPWORDS,
    WS_CLASS,
    normalize_text,
    ws_token_count,
)

# BPE-ish token pattern: letter runs, digit runs, single punctuation.
# BPE-ish pre-tokenizer: letter runs | digit runs | single symbol.
# The symbol branch is written [\W&&\S]|_ instead of the equivalent
# [^A-Za-z0-9\s]: a Java regex class unioning 3+ named/range
# predicates degrades to single-thread throughput under concurrent
# executors (Pattern$BmpCharPredicate.union lambda chains — see
# functions/text.py), while the 2-predicate intersection scales
# (measured 2.6s -> 0.45s on 160k docs x 32 threads, identical
# counts). `_` is re-added as its own branch because \W excludes it.
# DuckDB oracles keep the portable [^A-Za-z0-9\s] form (RE2 has no
# && intersection; RE2 doesn't have the union pathology either).
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[\W&&\S]|_"


def language_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Cheap stopword-overlap language ID (the classic closed-class-word
    baseline). Score per language = |distinct tokens ∩ stopwords(lang)|;
    prediction = argmax score with alphabetical tie-break.

    Shape: ONE scan, zero shuffles — all 5 language scores are columns
    of the same projection (the token array is split once), and the
    argmax is a per-row array_max over (score, -lang_rank, lang)
    structs: largest score wins, ties fall to the alphabetically
    first language (the -rank field inverts struct ordering so the
    lexicographic max realizes the asc tie-break). The previous form
    (5 projections unioned + a row_number window) read the text 5×
    and shuffled on id — at 100 TB that is 5 table scans and an
    exchange for what is a row-local decision.
    """
    words_col = F.split(F.col(text_col), " ", -1)
    base = df.select(F.col(id_col), words_col.alias("_w"))
    candidates = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(
                        F.col("_w"),
                        F.array(*[F.lit(w) for w in STOPWORDS[lang]]),
                    )
                ).cast("long").alias("score"),
                F.lit(-i).alias("neg_rank"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(sorted(STOPWORDS))
        ]
    )
    best = F.array_max(candidates)
    return base.select(
        F.col(id_col),
        best["lang"].alias("pred_lang"),
        best["score"].alias("score"),
    )


def quality_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Heuristic document-quality signals: length, token stats,
    punctuation ratio, stopword ratio, and a composite score — the
    standard cheap pre-filters before expensive model-based scoring.
    ``carry_cols`` pass through unchanged (cheaper than a join-back
    when a consumer needs e.g. the grouping column)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    words = F.split(t, " ", -1)
    n_tokens = F.size(words)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[.,!?;:]", ""))
    sw = F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS])
    n_stop = F.size(F.array_intersect(words, sw))
    # unrounded intermediates feed the composite so the arithmetic is
    # bit-identical to a double-precision SQL oracle; round only outputs
    punct_ratio = n_punct.cast("double") / n_chars
    stop_ratio = n_stop.cast("double") / n_tokens
    avg_word_len = (n_chars - (n_tokens - 1)).cast("double") / n_tokens

    # 4dp rounding via FLOOR(x*1e4 + 0.5)/1e4 — pure IEEE ops, not the
    # engine's ROUND. These outputs are RATIONAL ratios with small
    # denominators (k/64 etc.), which land on EXACT .xxxx5 boundaries
    # where Spark's BigDecimal HALF_UP and DuckDB's multiply-based
    # ROUND disagree on the same double (observed at sf0.1:
    # quality_score 0.48125 -> 0.4812 vs 0.4813). The floor form
    # evaluates identically in both engines by construction.
    def _r4(c):
        return F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)

    # composite: reward moderate length + stopword presence, punish
    # punctuation soup (weights are convention, deterministic rational)
    score = _r4(
        F.least(n_chars.cast("double") / 500.0, F.lit(1.0)) * 0.5
        + stop_ratio * 0.4
        + (1.0 - F.least(punct_ratio * 10.0, F.lit(1.0))) * 0.1
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols or []],
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        _r4(avg_word_len).alias("avg_word_len"),
        _r4(punct_ratio).alias("punct_ratio"),
        _r4(stop_ratio).alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def token_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish regex tokens, and the
    chars/4 heuristic — the three standard LLM budget estimators."""
    t = F.col(text_col)
    ws = ws_token_count(t)
    bpe = F.regexp_count(t, F.lit(BPE_TOKEN_RE))
    est = F.ceil(F.length(t) / 4.0)
    return df.select(
        F.col(id_col),
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
        est.cast("long").alias("est_tokens_chars4"),
    )


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic document fingerprints on *normalized* text: md5 hex
    (exact-dup key across formatting variants) + xxhash64 (cheap 64-bit
    join key). Normalization = the silver P5 pipeline, so trivial
    formatting differences collapse to one fingerprint."""
    norm = normalize_text(text_col)
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fingerprint_md5"),
        F.xxhash64(norm).alias("fingerprint_xx64"),
        F.length(norm).cast("long").alias("norm_length"),
    )


# PII patterns (portable across Java regex and RE2: no backrefs or
# lookaround). The classic pre-training scrub set.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def redact_pii(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token: str = "[REDACTED]",
) -> DataFrame:
    """PII scrubbing: replace email/phone/SSN patterns and count the
    redactions per category — one pass of chained regexp_replace /
    regexp_count, all codegen (the shape that scrubs 100 TB without a
    Python worker in sight)."""
    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    redacted = t
    for pat in PII_PATTERNS.values():
        redacted = F.regexp_replace(redacted, pat, token)
    return df.select(F.col(id_col), redacted.alias("redacted_text"), *counts)


def contamination_check(
    df: DataFrame,
    benchmark_ngrams: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag documents sharing any word
    n-gram with a benchmark set (the standard train/eval overlap
    check). The benchmark set is a broadcast literal array; the
    per-doc check is one array_intersect over the doc's shingle
    array — no join, no shuffle."""
    from lakehouse_to_rag_spark.operators.dedup import _shingle_expr, _with_words

    bench = F.array(*[F.lit(g) for g in benchmark_ngrams])
    hits = F.array_intersect(_shingle_expr(n), bench)
    return _with_words(df, id_col, text_col).select(
        F.col("id").alias(id_col),
        F.size(hits).cast("long").alias("n_contaminated_ngrams"),
        (F.size(hits) > 0).alias("is_contaminated"),
    )


def repetition_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021
    §A1.1: high duplicate-n-gram fraction marks low-quality text):
    word count, top-word fraction, top-bigram fraction, and the
    is_repetitive flag (top word > 20% or top bigram > 18% of the doc).

    Shape: one explode + two-level groupBy per n-gram order — both
    aggregations are partial-aggregatable (map-side combine), so the
    shuffle carries one row per (doc, gram), never raw text. The
    bigram array is built from two shifted slices (zip_with), all
    codegen'd JVM expressions.
    """
    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    base = maybe_parallelize(
        df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col), F.col(text_col)
        )
    )
    # both n-gram branches consume this — materialize the split once
    # (without the checkpoint each branch re-scans and re-splits)
    words = base.select(
        F.col(id_col),
        F.filter(
            F.split(F.col(text_col), " ", -1), lambda w: F.length(w) > 0
        ).alias("ws"),
    ).localCheckpoint(eager=False)

    unigram = (
        words.select(F.col(id_col), F.explode("ws").alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("max_uni"), F.sum("c").alias("n_words"))
    )

    sz = F.size("ws")
    bigrams = words.select(
        F.col(id_col),
        F.zip_with(
            F.slice(F.col("ws"), 1, sz - 1),
            F.slice(F.col("ws"), 2, sz - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ).alias("bg"),
    )
    bigram = (
        bigrams.select(F.col(id_col), F.explode("bg").alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("max_bi"), F.sum("c").alias("n_bigrams"))
    )

    top_word_frac = F.round(F.col("max_uni") / F.col("n_words"), 4)
    top_bigram_frac = F.coalesce(
        F.round(F.col("max_bi") / F.col("n_bigrams"), 4), F.lit(0.0)
    )
    return (
        unigram.join(bigram, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_words").cast("long").alias("n_words"),
            top_word_frac.alias("top_word_frac"),
            top_bigram_frac.alias("top_bigram_frac"),
            (
                (F.col("max_uni") / F.col("n_words") > 0.2)
                | (
                    F.coalesce(
                        F.col("max_bi") / F.col("n_bigrams"), F.lit(0.0)
                    )
                    > 0.18
                )
            ).alias("is_repetitive"),
        )
    )


def train_split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Deterministic hash-bucket train/val/test assignment — the
    reproducible way to split a 100 TB corpus (no RNG state, no
    sampling pass; any engine recomputes the same split from the id).
    bucket = first 32 bits of md5(id) mod 100; split boundaries at
    train_pct / train_pct+val_pct.

    md5 (not xxhash64) so the assignment is portable across engines —
    the DuckDB oracle reproduces it bit-for-bit.
    """
    bucket = (
        F.conv(F.md5(F.col(id_col).cast("string")).substr(1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return df.select(
        F.col(id_col),
        bucket.alias("bucket"),
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
        .alias("split"),
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """CONTENT-keyed train/val/test assignment — the leakage-safe form
    of ``train_split_assign``: hashing the row id splits exact
    duplicates of one document across train and test (the classic
    eval-leakage failure — the test set "generalization" was
    memorizable from an identical train copy). Here every document
    inherits its split from its CONTENT ROOT: the smallest id among
    all rows sharing the same normalized-text fingerprint (the
    ``incremental_dedup`` md5 convention), so identical content
    always co-locates in one split, before or instead of dedup.

    NULL-text rows carry no content and become their own singleton
    roots (an id-keyed sentinel fingerprint), so they split exactly
    like ``train_split_assign`` would.

    Scale shape: one partial-aggregatable groupBy(min) on the
    fingerprint plus one equi-join back on it — both shuffles keyed
    on md5 output, uniformly distributed by construction (no skew
    beyond true duplicate mass, which is the thing being co-located).
    Same md5 bucket arithmetic as ``train_split_assign`` so both
    replay in any engine. Returns (id_col, root_id, bucket, split)."""
    from lakehouse_to_rag_spark.functions.text import normalize_text

    fp = F.when(
        F.col(text_col).isNotNull(),
        F.md5(normalize_text(F.col(text_col))),
    ).otherwise(F.concat(F.lit("null:"), F.col(id_col).cast("string")))
    keyed = df.select(
        F.col(id_col).alias("id"), fp.alias("content_fp")
    ).localCheckpoint(eager=False)  # two consumers, one normalize pass
    roots = keyed.groupBy("content_fp").agg(F.min("id").alias("root_id"))
    bucket = (
        F.conv(F.md5(F.col("root_id").cast("string")).substr(1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return keyed.join(roots, "content_fp").select(
        F.col("id").alias(id_col),
        "root_id",
        bucket.alias("bucket"),
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
        .alias("split"),
    )


def vocab_builder(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Corpus vocabulary with frequency-ranked ids (the tokenizer-prep
    step of a training pipeline). The corpus-wide count is a
    partial-aggregatable groupBy; the ranking window runs over the
    post-filter vocabulary only — bounded (~1e6 rows after min_count
    at any corpus size), so the single-partition window sort is safe
    by construction, never over raw tokens."""
    from pyspark.sql import Window

    words = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(F.split(F.col(text_col), " ", -1)).alias("word"))
        .filter(F.length("word") > 0)
    )
    counts = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    rank = F.row_number().over(
        Window.orderBy(F.desc("n"), F.asc("word"))
    )
    return counts.select(
        "word", F.col("n").cast("long").alias("n"),
        (rank - 1).cast("long").alias("token_id"),
    )


def _positional_char_grams(base: DataFrame, n: int) -> DataFrame:
    """(id, pos, gram) char n-grams with GLOBAL 1-based positions from
    a (id, t) frame — the char-unit gram miner shared by the span
    detection and removal operators (VERDICT r11 task 3). Chunked per
    the r12 shingling discipline: the text explodes into 4 KB slices
    with n-1 overlap FIRST (posexplode carries the slice index, so
    global pos = slice_idx * slice_len + local_pos), and the per-slice
    gram array is O(slice), never O(document). Positions are covered
    exactly once (the _char_slices_expr pigeonhole); repeats inside a
    doc are PRESERVED (no distinct — occurrence counts matter to the
    span semantics). Same substring/code-point semantics as the
    char-shingle family, so the DuckDB oracle holds beyond ASCII."""
    from lakehouse_to_rag_spark.operators.dedup import (
        _CHAR_SLICE_LEN,
        _char_slices_expr,
    )

    S = _CHAR_SLICE_LEN
    sliced = (
        base.select(F.col("id"), F.col("t").alias("_text"))
        .select(
            "id",
            F.posexplode_outer(_char_slices_expr(n, S)).alias("_k", "_slice"),
        )
        .filter(F.col("_slice").isNotNull())
    )
    gram_structs = F.when(
        F.length("_slice") >= n,
        F.transform(
            F.sequence(F.lit(1), F.length("_slice") - (n - 1)),
            lambda i: F.struct(
                (F.col("_k") * S + i).cast("int").alias("pos"),
                F.col("_slice").substr(i, F.lit(n)).alias("gram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,gram:string>>"))
    return (
        sliced.select("id", F.explode_outer(gram_structs).alias("g"))
        .filter(F.col("g").isNotNull())
        .select("id", "g.pos", "g.gram")
    )


def duplicate_ngram_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
    unit: str = "word",
) -> DataFrame:
    """Sequence-level duplicate spans (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): word n-grams (with
    positions, NOT distinct — repeats inside a doc count) that occur
    in >= min_docs distinct documents. The shuffle carries one row per
    (gram, doc) after map-side combine; grams are the join currency,
    never full texts. ``unit="char"`` (r12 — VERDICT r11 task 3) mines
    character n-grams instead: the whitespace split gives an
    unsegmented-script (CJK/Thai) document ONE giant token, so word
    mode sees no n-grams at all and duplicated spans in those
    documents are invisible — the same hole the shingle family closed
    in r11, now closed for the last word-only member of the dedup
    family."""
    from lakehouse_to_rag_spark.operators.dedup import _shingle_unit
    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    _shingle_unit(unit, "duplicate_ngram_spans")
    base = maybe_parallelize(
        df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id"), F.col(text_col).alias("t")
        )
    )
    if unit == "char":
        grams = _positional_char_grams(base, n).select("id", "gram")
    else:
        words = base.select(
            "id",
            F.filter(
                F.split(F.col("t"), " ", -1), lambda w: F.length(w) > 0
            ).alias("ws"),
        )
        grams = words.select(
            "id",
            F.explode(
                # sequence(1, stop) runs DESCENDING when stop < 1, so docs
                # shorter than n must take the empty-array branch explicitly
                F.when(
                    F.size("ws") >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.size("ws") - (n - 1)),
                        lambda i: F.array_join(F.slice(F.col("ws"), i, n), " "),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram"),
        )
    per_gram_doc = grams.groupBy("gram", "id").agg(
        F.count(F.lit(1)).alias("occ")
    )
    return (
        per_gram_doc.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("occ").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select(
            "gram",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
        )
    )


def stratified_sample_by_hash(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff
    md5(stratum:id) mod 10000 falls under the stratum's fraction.
    Unlike ``sampleBy`` (whose per-row RNG stream depends on partition
    layout, so the sample changes under repartition/AQE), the hash
    sample is a pure row function — reproducible on any cluster
    layout, joinable across tables, and portable across engines."""
    bucket = (
        F.conv(
            F.md5(
                F.concat(
                    F.col(strata_col), F.lit(":"), F.col(id_col).cast("string")
                )
            ).substr(1, 8),
            16,
            10,
        ).cast("long")
        % 10000
    )
    frac = F.lit(default_fraction)
    for value, f in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == value, F.lit(f)).otherwise(frac)
    return df.filter(bucket < frac * 10000)


def sequence_pack(
    df: DataFrame,
    seq_tokens: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    order_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the step between curated
    documents and fixed-length training batches: documents concatenate
    in deterministic (group, id) order and the stream is cut every
    ``seq_tokens`` tokens, so each doc gets the training-sequence id
    its first token lands in plus a flag for straddling a cut (where a
    real pipeline inserts the EOS/BOS boundary handling). This is the
    packing shape LLM pipelines actually use (greedy first-fit bin
    packing is inherently sequential state; concatenation is not).

    Scale shape: packing runs PER GROUP (source/shard), so the cumsum
    window parallelizes across groups — one exchange on ``group_col``,
    no global ordering bottleneck. At 100 TB the group key is the
    shard assignment (e.g. train_split_assign's bucket), giving
    arbitrarily many independent packing streams. Token counts are the
    whitespace estimator from ``token_counts`` (same expression, so
    budgets agree across the two operators).

    ``order_col`` overrides the within-group packing order (default:
    the id) — the pretraining capstone packs each shard in its
    deterministic ``training_shuffle`` key order so the packed
    sequences ARE the epoch's training order.
    """
    from pyspark.sql import Window

    t = F.col(text_col)
    toks = ws_token_count(t).cast("long")
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(order_col or id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = cum - F.col("n_tokens")  # first-token offset in the stream
    end = cum - F.lit(1)  # last-token offset
    keep = [F.col(id_col), F.col(group_col)]
    if order_col and order_col != id_col:
        keep.append(F.col(order_col))  # window sort key must survive
    out = (
        df.select(*keep, toks.alias("n_tokens"))
        .withColumn("seq_id", (start / seq_tokens).cast("long"))
        .withColumn(
            "straddles_boundary",
            ((end / seq_tokens).cast("long") > (start / seq_tokens).cast("long")),
        )
    )
    if order_col and order_col != id_col:
        out = out.drop(order_col)
    return out


def quality_prune(
    df: DataFrame,
    keep_fraction: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Percentile quality pruning — keep each group's top
    ``keep_fraction`` of documents by composite quality score (the
    curation step between cheap scoring and training: relative-rank
    pruning adapts to per-source score distributions where a global
    threshold over- or under-prunes a whole source).

    percent_rank over (score desc, id) inside each group is one
    exchange on ``group_col`` (same scale shape as sequence_pack:
    groups bound the window, no global sort); ties break on the id so
    the kept set is deterministic across engines. Scores are the
    ROUNDED composite from ``quality_scores`` so rank order matches
    any 4dp-rounding oracle bit-for-bit.
    """
    from pyspark.sql import Window

    scored = quality_scores(
        df, id_col=id_col, text_col=text_col, carry_cols=[group_col]
    ).select(id_col, group_col, "quality_score")
    w = Window.partitionBy(group_col).orderBy(
        F.desc("quality_score"), F.asc(id_col)
    )
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") < keep_fraction)
        .select(
            id_col,
            group_col,
            "quality_score",
            # floor-form 4dp: percent_rank is k/(n-1), rational with a
            # small denominator — same exact-half hazard as the score
            (
                F.floor(F.col("pr") * F.lit(10000.0) + F.lit(0.5))
                / F.lit(10000.0)
            ).alias("quality_pct_rank"),
        )
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document perplexity proxy from a corpus-trained bigram LM —
    the CCNet-style (Wenzek et al. 2020) quality signal: documents
    whose word transitions are improbable under the corpus's own
    statistics are boilerplate/gibberish candidates. No external model:
    the LM is add-alpha-smoothed bigram MLE,
    p(w2|w1) = (c(w1,w2) + α) / (c(w1) + α·V), with c(w1) the context
    count (Σ_w2 c(w1,w2)) and V the distinct-context count.

    Scale shape: bigram extraction is two shifted array slices zipped
    per doc (zero joins); the count model is vocab²-bounded partial
    aggs; scoring is ONE corpus-sized join of bigram rows onto the
    enriched count table keyed (w1, w2) — AQE broadcasts it when the
    vocabulary is small, shuffle-hash joins it when not. The bigram
    rows are lazily checkpointed because both the model build and the
    scoring pass read them.

    Output: (id, n_bigrams, avg_logprob, pseudo_ppl = e^(-avg)); both
    doubles rounded 4dp — every count is exact, so cross-engine drift
    is confined to ln/avg ulps that a 4dp round absorbs.
    """
    words = F.filter(
        F.split(F.col(text_col), " ", -1), lambda x: F.length(x) > 0
    )
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), words.alias("_w"))
        .filter(F.size("_w") >= 2)
    )
    w1s = F.slice(F.col("_w"), 1, F.size("_w") - 1)
    w2s = F.slice(F.col("_w"), 2, F.size("_w") - 1)
    pairs = F.zip_with(w1s, w2s, lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    bg = (
        base.select("id", F.explode(pairs).alias("p"))
        .select("id", "p.w1", "p.w2")
        .localCheckpoint(eager=False)  # feeds model build AND scoring
    )
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    cw = cb.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vv = cb.select(F.countDistinct("w1").alias("v"))
    model = cb.join(cw, "w1").crossJoin(F.broadcast(vv))
    lp = F.log(
        (F.col("c2") + F.lit(alpha)) / (F.col("c1") + F.lit(alpha) * F.col("v"))
    )
    return (
        bg.join(model, ["w1", "w2"])
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg(lp), 4).alias("avg_logprob"),
            F.round(F.exp(-F.avg(lp)), 4).alias("pseudo_ppl"),
        )
        .select(
            F.col("id").alias(id_col), "n_bigrams", "avg_logprob", "pseudo_ppl"
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
    unit: str = "word",
) -> DataFrame:
    """The removal half of Lee et al. 2021 exact-substring dedup (the
    detection half is ``duplicate_ngram_spans``): excise every word
    covered by an n-gram that occurs in >= ``min_docs`` distinct
    documents, and return the rewritten text. Word-granular
    approximation of ExactSubstr — span boundaries snap to whitespace
    tokens, which is what a distributed engine can do without a global
    suffix array.

    Scale shape: grams (with 1-based start positions) are the join
    currency — the corpus-wide duplicated-gram table comes from the
    same two-level partial agg as the detection op, and marking a
    doc's covered words is one join on the gram string followed by
    per-doc ARRAY algebra (sequence/flatten/array_distinct — no
    per-word explode, no window): the covered-index set rides a single
    groupBy(id). Rebuild is a JVM (x, i) -> filter lambda over the
    original word array; docs with no duplicated span never shuffle
    text at all (left join keeps them with a NULL covered set).

    ``unit="char"`` (r12 — VERDICT r11 task 3) excises COVERED
    CHARACTERS instead: character n-grams with global positions (the
    chunked miner — per-row memory O(slice)), the same
    duplicated-gram join, then a per-doc covered-index set over CHAR
    positions. The rebuild does NOT build a per-char array (that
    would be the O(len)-strings-in-one-row shape task 5 removed):
    the kept text is the concatenation of the GAPS between covered
    runs — bounds = 0 ++ covered ++ len+1, one substr per gap,
    array_join. Columns become (id, clean_text, n_removed_chars);
    unsegmented-script documents — invisible to word mode, which
    sees their whole text as one token — get real span surgery."""
    from lakehouse_to_rag_spark.operators.dedup import _shingle_unit
    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    _shingle_unit(unit, "remove_duplicate_spans")
    base = maybe_parallelize(
        df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id"), F.col(text_col).alias("t")
        )
    ).localCheckpoint(eager=False)  # feeds gram mining AND rebuild
    if unit == "char":
        grams = _positional_char_grams(base, n)
        dup = (
            grams.groupBy("gram", "id")
            .agg(F.count(F.lit(1)).alias("occ"))
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") >= min_docs)
            .select("gram")
        )
        covered = (
            grams.join(dup, "gram")
            .groupBy("id")
            .agg(
                F.array_sort(
                    F.array_distinct(
                        F.flatten(
                            F.collect_list(
                                F.sequence(
                                    F.col("pos"), F.col("pos") + (n - 1)
                                )
                            )
                        )
                    )
                ).alias("cov")
            )
        )
        # bounds bound as a REAL column before the transform — an
        # expression referenced inside a transform lambda re-evaluates
        # per element (the fold-inlining rule), which would make the
        # gap rebuild O(cov^2)
        with_bounds = (
            base.join(covered, "id", "left")
            .select(
                "id",
                "t",
                F.coalesce(F.col("cov"), F.array().cast("array<int>"))
                .alias("cov"),
            )
            .select(
                "id",
                "t",
                F.size("cov").alias("n_cov"),
                F.concat(
                    F.array(F.lit(0)),
                    F.col("cov"),
                    F.array(F.length("t") + 1),
                ).alias("bounds"),
            )
        )
        t = F.col("t")
        b = F.col("bounds")
        gaps = F.transform(
            F.sequence(F.lit(1), F.size(b) - 1),
            lambda j: t.substr(
                F.element_at(b, j) + 1,
                F.element_at(b, j + 1) - F.element_at(b, j) - 1,
            ),
        )
        return with_bounds.select(
            F.col("id").alias(id_col),
            F.array_join(gaps, "").alias("clean_text"),
            F.col("n_cov").cast("long").alias("n_removed_chars"),
        )
    words = base.select(
        "id",
        F.filter(
            F.split(F.col("t"), " ", -1), lambda w: F.length(w) > 0
        ).alias("ws"),
    ).localCheckpoint(eager=False)

    gram_at = lambda i: F.array_join(  # noqa: E731
        F.slice(F.col("ws"), i, n), " "
    )
    grams = words.select(
        "id",
        F.explode(
            F.when(
                F.size("ws") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - (n - 1)),
                    lambda i: F.struct(i.alias("pos"), gram_at(i).alias("gram")),
                ),
            ).otherwise(
                F.array().cast("array<struct<pos:int,gram:string>>")
            )
        ).alias("g"),
    ).select("id", "g.pos", "g.gram")

    dup = (
        grams.groupBy("gram", "id")
        .agg(F.count(F.lit(1)).alias("occ"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gram")
    )
    covered = (
        grams.join(dup, "gram")
        .groupBy("id")
        .agg(
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            F.sequence(F.col("pos"), F.col("pos") + (n - 1))
                        )
                    )
                )
            ).alias("cov")
        )
    )
    kept = F.filter(
        F.col("ws"),
        lambda w, i: F.col("cov").isNull()
        | ~F.array_contains(F.col("cov"), i + 1),  # cov is 1-based
    )
    return (
        words.join(covered, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.array_join(kept, " ").alias("clean_text"),
            (F.size("ws") - F.size(kept)).cast("long").alias("n_removed_words"),
        )
    )


def remove_duplicate_spans_auto_unit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_word: int = 5,
    n_char: int = 7,
    min_docs: int = 2,
    cutoff: float | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Exact-substring span removal over a MIXED-SCRIPT corpus with
    per-document unit dispatch (r13 — VERDICT r12 task 6): the dedup
    family gained word/char/auto routing in r12 but span SURGERY
    still required manual pre-splitting — a mixed corpus run in word
    mode leaves every unsegmented document untouched (its whole text
    is one token), and run in char mode pays char-gram mining over
    prose where word grams are the right currency. Same
    ``split_by_script`` predicate (one SQL-replayable row expression,
    so the entry keeps a full oracle); each regime mines its
    duplicated-gram table from ITS OWN documents only — word grams
    and char grams are different currencies, so there is no shared
    universe to pool across regimes (the auto-unit dedup contract) —
    and excises with its own unit. Returns the union
    (id_col, clean_text, n_removed, unit) where ``n_removed`` counts
    the regime's own units (words resp. characters).

    Determinism (ADVICE r12): the dispatch evaluates ``df`` once per
    regime — see ``split_by_script``'s contract; a non-deterministic
    lineage fails closed there, and ``materialize=True`` pins one
    evaluation."""
    from lakehouse_to_rag_spark.operators.dedup import (
        _AVG_TOKEN_LEN_CUTOFF,
        split_by_script,
    )

    if cutoff is None:
        cutoff = _AVG_TOKEN_LEN_CUTOFF
    word_df, char_df = split_by_script(
        df, id_col, text_col, cutoff, materialize=materialize
    )
    w = remove_duplicate_spans(
        word_df, id_col, text_col, n_word, min_docs, unit="word"
    )
    c = remove_duplicate_spans(
        char_df, id_col, text_col, n_char, min_docs, unit="char"
    )
    return (
        w.select(
            id_col,
            "clean_text",
            F.col("n_removed_words").alias("n_removed"),
            F.lit("word").alias("unit"),
        ).unionByName(
            c.select(
                id_col,
                "clean_text",
                F.col("n_removed_chars").alias("n_removed"),
                F.lit("char").alias("unit"),
            )
        )
    )


def per_group_cap(
    df: DataFrame,
    cap: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Absolute per-group document cap — the crawl-curation companion
    to ``quality_prune``'s relative-fraction pruning: no group (domain,
    feed, shard) may contribute more than ``cap`` documents, and the
    kept ones are its highest-quality. Protects the mixture from a
    single exploding source where a fraction-based rule would still
    let it dominate.

    Same one-exchange shape as quality_prune: rank by the ROUNDED
    composite quality score (id tie-break → deterministic across
    engines) inside each group, keep rank <= cap.
    """
    from pyspark.sql import Window

    scored = quality_scores(
        df, id_col=id_col, text_col=text_col, carry_cols=[group_col]
    ).select(id_col, group_col, "quality_score")
    w = Window.partitionBy(group_col).orderBy(
        F.desc("quality_score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= cap)
        .select(
            id_col,
            group_col,
            "quality_score",
            F.col("rnk").cast("long").alias("quality_rank"),
        )
    )


def tokenize_to_ids(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    oov_id: int = -1,
) -> DataFrame:
    """Map each document to its token-id sequence under the corpus
    vocabulary (``vocab_builder``'s frequency-ranked ids) — the step
    between vocabulary induction and ``sequence_pack``: what a
    training pipeline materializes as its tokenized shards.

    Shape: posexplode to (doc, pos, word) — the corpus-sized relation
    tokenization inherently is — one BROADCAST join against the
    bounded vocabulary (~1e6 rows post-min_count at any corpus size),
    unknown words → ``oov_id``, then one groupBy(doc) reassembles the
    sequence via sort_array(struct(pos, tid)) with no window and no
    second exchange. Output carries the sequence as a space-joined
    string (engine-portable value equality) plus token/OOV counts.
    """
    vocab = vocab_builder(df, text_col=text_col, min_count=min_count)
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.filter(
                    F.split(F.col(text_col), " ", -1),
                    lambda w: F.length(w) > 0,
                )
            ).alias("pos", "word"),
        )
        .join(F.broadcast(vocab.select("word", "token_id")), "word", "left")
        .select(
            "id",
            "pos",
            F.coalesce(F.col("token_id"), F.lit(oov_id)).alias("tid"),
        )
    )
    seq = F.transform(
        F.sort_array(F.collect_list(F.struct("pos", "tid"))),
        lambda s: s["tid"].cast("string"),
    )
    return (
        toks.groupBy("id")
        .agg(
            F.array_join(seq, " ").alias("token_ids"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum((F.col("tid") == oov_id).cast("long"))
            .cast("long")
            .alias("n_oov"),
        )
        .select(F.col("id").alias(id_col), "token_ids", "n_tokens", "n_oov")
    )


def trigram_backoff_scores(
    df: DataFrame,
    model_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
) -> DataFrame:
    """Stupid-Backoff trigram scoring (Brants et al. 2007 — the
    large-LM scheme built for exactly this setting: counts are exact,
    no discounting to tune) of ``df`` under n-gram tables trained on
    ``model_df``. Unlike the self-trained bigram scorer, the model
    corpus is a SEPARATE split, so backoff genuinely fires on unseen
    trigrams:

        S(w3|w1w2) = c3/c2                 if the trigram was seen
                   = α · c(w2w3)/c(w2)     else if the bigram was
                   = α² · (c(w3)+1)/(N+V)  else (add-1 unigram floor)

    Scale shape: n-gram tables are model-corpus-bounded partial aggs;
    scoring is three LEFT equi-joins of the doc trigram rows onto
    them — AQE broadcasts small tables, shuffle-hash joins big ones.
    Every count is an exact integer, so cross-engine drift is confined
    to ln/avg ulps absorbed by the 4dp round.

    Output: (id, n_trigrams, avg_logscore, backoff_rate) — the rate
    of non-top-level matches is itself a novelty signal (how much of
    the doc is phrasing the model corpus never saw).
    """
    words = F.filter(
        F.split(F.col(text_col), " ", -1), lambda x: F.length(x) > 0
    )

    def words_of(src: DataFrame) -> DataFrame:
        # ONE scan + split per side, checkpointed: the model side feeds
        # three gram extractions and the scored side feeds the join —
        # without this the plan re-scans the table per n-gram order
        # (measured: 14 scans -> 2)
        return (
            src.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id"), words.alias("_w"))
            .localCheckpoint(eager=False)
        )

    def grams(base: DataFrame, n: int, *names: str) -> DataFrame:
        t = F.transform(
            F.sequence(F.lit(1), F.size("_w") - (n - 1)),
            lambda i: F.struct(
                *[
                    F.element_at(F.col("_w"), i + j).alias(names[j])
                    for j in range(n)
                ]
            ),
        )
        return (
            base.filter(F.size("_w") >= n)
            .select("id", F.explode(t).alias("g"))
            .select("id", *[f"g.{nm}" for nm in names])
        )

    mwords = words_of(model_df)
    c3 = (
        grams(mwords, 3, "w1", "w2", "w3")
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c3"))
    )
    c2 = (
        grams(mwords, 2, "w1", "w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    c1 = (
        grams(mwords, 1, "w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    totals = F.broadcast(
        c1.agg(
            F.sum("c1").alias("n_total"),
            F.count(F.lit(1)).alias("v_total"),
        )
    )

    tg = grams(words_of(df), 3, "w1", "w2", "w3")
    scored = (
        tg.join(c3, ["w1", "w2", "w3"], "left")
        .join(c2, ["w1", "w2"], "left")
        .join(
            c2.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("c2").alias("cb2"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(c1.select(F.col("w").alias("w2"), F.col("c1").alias("c1w2")), ["w2"], "left")
        .join(c1.select(F.col("w").alias("w3"), F.col("c1").alias("c1w3")), ["w3"], "left")
        .crossJoin(totals)
    )
    a = F.lit(alpha)
    s = (
        F.when(F.col("c3").isNotNull(), F.col("c3") / F.col("c2"))
        .when(F.col("cb2").isNotNull(), a * F.col("cb2") / F.col("c1w2"))
        .otherwise(
            a * a * (F.coalesce(F.col("c1w3"), F.lit(0)) + F.lit(1))
            / (F.col("n_total") + F.col("v_total"))
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams"),
            F.round(F.avg(F.log(s)), 4).alias("avg_logscore"),
            F.round(
                F.avg(F.when(F.col("c3").isNotNull(), 0.0).otherwise(1.0)), 4
            ).alias("backoff_rate"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_trigrams",
            "avg_logscore",
            "backoff_rate",
        )
    )


# ------------------------------------------- Naive Bayes quality filter

def nb_quality_scores(
    train: DataFrame,
    apply: DataFrame,
    label_col: str = "is_hq",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 1024,
    train_within_apply: bool = False,
) -> DataFrame:
    """Multinomial Naive Bayes quality classifier over hashed
    bag-of-words features — the fastText-style quality filter every
    production corpus pipeline runs (CCNet / GPT-3 style: train
    'looks like the high-quality slice' vs 'everything else', keep
    docs the model scores positive). ``train`` needs a boolean
    ``label_col``; ``apply`` docs get (id, logit, pred_hq).

    Training is two aggregations (per-class bucket counts + class
    priors); scoring joins each document's bucket counts against the
    broadcastable 2 x num_buckets log-likelihood-ratio table — the
    same two-shuffle shape as curation.dsir_log_weights, and the same
    determinism discipline: per-bucket log-ratios AND the prior
    quantize to integer micro-units so the whole logit is one exact
    BIGINT (partition-order-proof) before a single floor-form 4dp
    rounding (FLOOR(x+0.5) — engine ROUND implementations disagree on
    the exact .xxxx5 boundaries micro sums produce). Hashing is md5
    (module contract in curation.py) so any engine reproduces the
    decision.

    ``train_within_apply=True`` asserts that every train row's
    (id, text) also appears VERBATIM in ``apply`` (the pretrain
    capstone shape: train = a labeled filter of the apply corpus).
    The train half's bucket counts are then derived from the apply
    side's tokenization by an id join — guide §1.2 "don't compute
    things you throw away": the default path hashes the train half's
    text a second time even though the apply pass already produced
    exactly those (id, bucket) rows. The per-(id, bucket) aggregate
    ``doc_buckets`` is shared between scoring and training (identical
    exchange subtree, so Spark's ReuseExchange materializes the
    tokenization once), and the class counts re-weight it by ``n`` —
    the same integers as counting raw token occurrences. Callers
    whose train text can diverge from apply's must leave this False;
    the flag changes the plan, never the result (subset-equivalence
    test in tests/test_text_analysis.py)."""
    from lakehouse_to_rag_spark.operators.curation import (
        _hashed_token_buckets,
        md5_bucket,  # noqa: F401  (re-exported convention anchor)
    )

    # NULL labels are REJECTED, not coerced: when(y).otherwise
    # would silently route them into the negative class counts
    labels = train.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(label_col).cast("boolean").alias("y")
    )
    tb_apply = _hashed_token_buckets(apply, id_col, text_col, num_buckets)
    doc_buckets = tb_apply.groupBy("id", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    if train_within_apply:
        # the shared aggregate feeds FOUR subtrees (class counts,
        # their two broadcast totals, and scoring): lazily checkpoint
        # it so the tokenize+md5 pipeline materializes once — without
        # the barrier, the ratio table's isnotnull(bucket) pushes all
        # the way down INTO the md5 bucket projection as a Filter
        # (the plan_audit double-eval class: every token pays the md5
        # twice) and each consumer re-runs the whole chain (measured
        # slower than the re-hash path it replaces)
        doc_buckets = doc_buckets.localCheckpoint(eager=False)
        # class counts from the SHARED per-(id, bucket) aggregate:
        # sum of n over a train doc's buckets == its raw token count
        # per bucket, so c1/c0 are bit-identical to the re-hash path
        counts = (
            doc_buckets.join(labels, "id")
            .groupBy("bucket")
            .agg(
                F.sum(F.when(F.col("y"), F.col("n")).otherwise(0)).alias("c1"),
                F.sum(F.when(F.col("y"), 0).otherwise(F.col("n"))).alias("c0"),
            )
        )
    else:
        tb_train = _hashed_token_buckets(
            train.select(F.col(id_col), F.col(text_col), F.col(label_col)),
            id_col,
            text_col,
            num_buckets,
        )
        # token-label table: re-join the label by id (tb drops extra cols)
        tok = tb_train.join(labels, "id")
        counts = (
            tok.groupBy("bucket")
            .agg(
                F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("c1"),
                F.sum(F.when(F.col("y"), 0).otherwise(1)).alias("c0"),
            )
        )
    tots = counts.agg(
        F.sum("c1").alias("t1"), F.sum("c0").alias("t0")
    )
    prior = labels.agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("y"), 0).otherwise(1)).alias("n0"),
    )
    # log P(b|c1) - log P(b|c0), add-1 smoothed, integer micro-units
    ratio = (
        counts.crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            F.floor(
                (
                    F.log(
                        (F.col("c1") + F.lit(1.0))
                        / (F.col("t1") + F.lit(float(num_buckets)))
                    )
                    - F.log(
                        (F.col("c0") + F.lit(1.0))
                        / (F.col("t0") + F.lit(float(num_buckets)))
                    )
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            ).cast("long").alias("llr_micro"),
        )
    )
    # NOTE: buckets unseen in training get llr of ln((0+1)/(t1+B)) -
    # ln((0+1)/(t0+B)) — expressible, but such buckets are absent from
    # `counts`; an inner join would silently drop them. Compute the
    # unseen-bucket constant once and coalesce.
    unseen = tots.select(
        F.floor(
            (
                F.log(F.lit(1.0) / (F.col("t1") + F.lit(float(num_buckets))))
                - F.log(F.lit(1.0) / (F.col("t0") + F.lit(float(num_buckets))))
            )
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("long").alias("unseen_micro")
    )
    # prior in the SAME integer micro-units as the llr table, so the
    # whole logit is one exact BIGINT before the single 4dp rounding —
    # and that rounding is FLOOR(x*… + 0.5) (pure IEEE), not the
    # engine's ROUND, which disagrees across engines on the exact
    # .xxxx5 boundaries integer micro-sums produce (observed at sf0.1:
    # -2.15615 -> -2.1562 vs -2.1561)
    prior_term = prior.select(
        F.floor(
            F.log((F.col("n1") + F.lit(1.0)) / (F.col("n0") + F.lit(1.0)))
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("long").alias("prior_micro")
    )
    scored = (
        doc_buckets.join(F.broadcast(ratio), "bucket", "left")
        .crossJoin(F.broadcast(unseen))
        .select(
            "id",
            (
                F.col("n")
                * F.coalesce(F.col("llr_micro"), F.col("unseen_micro"))
            ).alias("contrib"),
        )
        .groupBy("id")
        .agg(F.sum("contrib").alias("sum_micro"))
        .crossJoin(F.broadcast(prior_term))
        .select(
            F.col("id").alias(id_col),
            (
                F.floor(
                    (F.col("sum_micro") + F.col("prior_micro"))
                    / F.lit(100.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("logit"),
        )
        .withColumn("pred_hq", F.col("logit") > F.lit(0.0))
    )
    return scored


# ------------------------------------------------ line-level dedup

def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Exact line-level dedup across the corpus (the RefinedWeb /
    CCNet pre-filter): split every document on ``sep``, keep only the
    FIRST occurrence of each distinct line corpus-wide (first = lowest
    (doc_id, line index) — the same keep-first convention as the
    exact-dedup family), and reassemble documents from their surviving
    lines in original order. Boilerplate lines (headers, nav, license
    stubs) repeated across pages vanish from every copy but one.

    Shuffle shape: one exchange on the line hash for the
    first-occurrence window + one on id for reassembly — both keyed,
    never all-pairs; the md5 shrinks arbitrary lines to fixed-width
    keys pre-shuffle. Emits (id, text_clean, n_lines, n_removed);
    docs whose every line was seen elsewhere first come back with
    empty text_clean (kept as rows — dropping is the caller's policy
    decision, cf. remove_duplicate_spans)."""
    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    # F.split takes a Java REGEX but array_join re-joins with the
    # LITERAL separator — \Q...\E-quote the split so metacharacter
    # separators ("|", ".") split literally and the roundtrip holds
    lines = maybe_parallelize(
        df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.split(F.col(text_col), "\\Q" + sep + "\\E", -1)
            ).alias("idx", "line"),
        )
    )
    w = Window.partitionBy(F.md5(F.col("line"))).orderBy(
        F.asc("id"), F.asc("idx")
    )
    kept = (
        lines.withColumn("rn", F.row_number().over(w))
        .withColumn("is_first", F.col("rn") == 1)
        .drop("rn")
    )
    packed = (
        kept.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("is_first"), 0).otherwise(1)).alias(
                "n_removed"
            ),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("is_first"), F.struct("idx", "line")
                    )
                )
            ).alias("keep"),
        )
        .select(
            F.col("id").alias(id_col),
            F.array_join(
                F.transform(F.col("keep"), lambda e: e["line"]), sep
            ).alias("text_clean"),
            F.col("n_lines").cast("long").alias("n_lines"),
            F.col("n_removed").cast("long").alias("n_removed"),
        )
    )
    return packed


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stop_words: int = 2,
) -> DataFrame:
    """The Gopher document-quality rules (Rae et al. 2021, "Scaling
    Language Models: Methods, Analysis & Insights from Training
    Gopher", Appendix A1.1) as one JVM-side projection: word-count
    bounds, mean word length window, symbol-to-word ratio (# and
    ellipsis), bullet-line and ellipsis-line ratios, the
    ≥80%-words-contain-a-letter rule, and the ≥2-of-8 stop-word
    presence test. Emits every signal plus the composite ``keep`` so
    callers can audit WHICH rule fired instead of getting a bare
    boolean — the filter itself is ``.filter("keep")``.

    Scale shape: pure per-row expressions (split/filter/aggregate
    lambdas on the word and line arrays) — no shuffle, no UDF, whole
    row-batch stays in codegen; ratios are exact integer quotients so
    a SQL oracle replays them bit-identically.

    Words split on RUNS OF WHITESPACE (``\\s+``), not single spaces —
    Rae et al.'s rules are whitespace-word rules, and a single-space
    split would glue newline-adjacent words together on exactly the
    multi-line documents the bullet/ellipsis rules target (inflating
    mean_word_len and deflating n_words)."""
    t = F.col(text_col)
    # explicit class, not \s: Java's \s+ includes \x0B (vertical
    # tab) while RE2's (the oracle engine's) does not — the explicit
    # list is identical in both
    words = F.filter(
        F.split(t, WS_CLASS, -1),
        lambda w: w != F.lit(""),
    )
    n_words = F.size(words)
    nw = F.nullif(n_words.cast("double"), F.lit(0.0))
    total_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_hash = F.length(t) - F.length(F.regexp_replace(t, "#", ""))
    n_ellipsis_sym = (
        F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))
    ) / F.lit(3)
    lines = F.split(t, "\n", -1)
    n_lines = F.nullif(F.size(lines).cast("double"), F.lit(0.0))
    n_bullet = F.size(
        F.filter(lines, lambda ln: F.ltrim(ln).rlike(r"^[-*•]"))
    )
    n_ell_lines = F.size(
        F.filter(
            lines,
            lambda ln: F.rtrim(ln).rlike(r"(\.\.\.|…)$"),
        )
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    lw = F.transform(words, F.lower)
    n_stop = sum(
        (F.array_contains(lw, s).cast("int") for s in GOPHER_STOPWORDS),
        start=F.lit(0),
    )

    mean_word_len = total_chars.cast("double") / nw
    symbol_ratio = (n_hash + n_ellipsis_sym).cast("double") / nw
    bullet_ratio = n_bullet.cast("double") / n_lines
    ellipsis_ratio = n_ell_lines.cast("double") / n_lines
    alpha_ratio = n_alpha.cast("double") / nw

    def _r4(c):
        return F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)

    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len)
        & (symbol_ratio <= max_symbol_ratio)
        & (bullet_ratio <= max_bullet_ratio)
        & (ellipsis_ratio <= max_ellipsis_ratio)
        & (alpha_ratio >= min_alpha_word_ratio)
        & (n_stop >= min_stop_words)
    )
    return df.filter(t.isNotNull()).select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        _r4(mean_word_len).alias("mean_word_len"),
        _r4(symbol_ratio).alias("symbol_ratio"),
        _r4(bullet_ratio).alias("bullet_ratio"),
        _r4(ellipsis_ratio).alias("ellipsis_ratio"),
        _r4(alpha_ratio).alias("alpha_word_ratio"),
        n_stop.cast("long").alias("n_stop_present"),
        F.coalesce(keep, F.lit(False)).alias("keep"),
    )


def c4_line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
    sep: str = "\n",
) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning with a Unified Text-to-Text
    Transformer", §2.2) as one JVM-side projection: keep only lines
    that end in terminal punctuation AND carry at least
    ``min_words_per_line`` words; drop whole documents that contain
    "lorem ipsum" or a curly brace, or retain fewer than
    ``min_kept_lines`` lines. Emits (id, n_lines, n_kept, dropped,
    text_clean) with text_clean NULL for dropped docs — row-preserving
    like ``line_dedup``; the hard filter is ``.filter("NOT
    dropped")``.

    Scale shape: per-row array lambdas only — no shuffle, no UDF;
    the one subtlety is that ``F.split`` takes a regex, so the
    separator is \\Q-quoted (same contract as line_dedup)."""
    t = F.col(text_col)
    lines = F.split(t, "\\Q" + sep + "\\E", -1)
    kept = F.filter(
        lines,
        lambda ln: F.rtrim(ln).rlike(r"[.!?]$")
        & (
            F.size(F.filter(F.split(ln, " ", -1), lambda w: w != F.lit("")))
            >= F.lit(min_words_per_line)
        ),
    )
    n_kept = F.size(kept)
    dropped = (
        F.lower(t).contains("lorem ipsum")
        | t.contains("{")
        | (n_kept < min_kept_lines)
    )
    return df.filter(t.isNotNull()).select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept"),
        dropped.alias("dropped"),
        F.when(~dropped, F.array_join(kept, sep)).alias("text_clean"),
    )


def compression_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """zlib-compressibility quality signal (the CCNet/RedPajama-family
    heuristic): boilerplate and template text DEFLATEs far below
    natural prose, so ratio = compressed_bytes / raw_bytes separates
    repetitive machine-generated pages from real documents (low ratio
    = repetitive; typical prose lands ~0.4-0.7; filters usually drop
    both extremes). Emits (id, n_bytes, ratio) with ratio 4dp.

    Arrow-batched pandas_udf over stdlib zlib — DEFLATE is a
    stateful LZ77+Huffman coder, NOT expressible in SQL, so this is a
    documented rows-only registry entry (same structural class as the
    BPE merge loop); determinism is pinned by golden tests instead
    (CPython's zlib is madler zlib with stable output for a fixed
    level). Python-side cost is ~linear in bytes and embarrassingly
    parallel; no shuffle anywhere."""
    import pandas as pd

    def _ratio_fn(s):
        import zlib

        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return None
            # floor-form 4dp like every rational score in this module
            return (
                int(len(zlib.compress(b, level)) / len(b) * 10000 + 0.5)
                / 10000.0
            )

        return s.map(one)

    # type hints resolve against the function's globals, where the
    # lazy function-local `import pandas as pd` is invisible — attach
    # the already-resolved objects directly instead of string hints
    _ratio_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _ratio = F.pandas_udf(_ratio_fn, "double")

    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.octet_length(t).cast("long").alias("n_bytes"),
        _ratio(t).alias("ratio"),
    )


def blocklist_filter(
    df: DataFrame,
    blocklist: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hits: int = 0,
) -> DataFrame:
    """Word-blocklist filtering (the C4 §2.2 "bad words" step — C4
    drops any page containing a word from a public blocklist; Dolma
    and FineWeb carry the same stage with tuned lists): count
    blocklist occurrences as WHOLE whitespace words (case-insensitive;
    substring matches do NOT count — 'grass' never hits 'ass') and
    flag documents exceeding ``max_hits`` (default 0 = C4's
    any-occurrence drop). The list itself is a parameter: the operator
    ships no embedded vocabulary.

    Returns (id, n_blocked_words, flagged) for every doc — row-
    preserving like the other quality signals; the hard filter is
    ``.filter("NOT flagged")``.

    Scale shape: pure per-row array expressions — the blocklist rides
    the plan as an array literal (bounded by contract: blocklists are
    thousands of words, far under broadcast scale), words split on the
    cross-engine WS_CLASS; no shuffle, no UDF."""
    bl = F.array(*[F.lit(w.lower()) for w in blocklist])
    words = F.filter(
        F.transform(F.split(F.col(text_col), WS_CLASS, -1), F.lower),
        lambda w: w != F.lit(""),
    )
    n_blocked = F.size(
        F.filter(words, lambda w: F.array_contains(bl, w))
    )
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        n_blocked.cast("long").alias("n_blocked_words"),
        (n_blocked > max_hits).alias("flagged"),
    )


# =====================================================================
# CCNet-style perplexity bucketing (Wenzek et al. 2020, CCNet §3)
# =====================================================================


def global_rank(
    df: DataFrame, order_cols: list, rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based global rank under a TOTAL order, distributed:
    range-repartition on the order columns, count rows per partition
    (one tiny collect, bounded by the partition count), then
    row_number WITHIN each partition plus the partition's prefix
    offset. No single-partition Window anywhere — the classic
    scalable substitute for ``row_number() OVER (ORDER BY ...)``,
    which at 100 TB would funnel the corpus through one task.

    ``order_cols`` must define a total order (add a unique id as the
    last key); pass Column expressions (e.g. ``F.desc("score")``).
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "32"
        )
        num_partitions = int(num_partitions)
    ranged = df.repartitionByRange(num_partitions, *order_cols)
    ranged = ranged.withColumn("_pid", F.spark_partition_id())
    ranged = ranged.localCheckpoint(eager=False)  # one exchange, two uses
    sizes = {
        r["_pid"]: r["n"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        ranged.withColumn(
            rank_col,
            (F.row_number().over(w) + off[F.col("_pid")]).cast("long"),
        )
        .drop("_pid")
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm): hash every character k-gram, slide a
    window of ``w`` consecutive hashes, keep each window's MINIMUM,
    and emit the distinct selected hashes per document. The guarantee
    that makes this the standard position-aware near-dup/plagiarism
    sketch: any shared substring of length >= k + w - 1 contributes at
    least one IDENTICAL fingerprint to both documents, while the
    sketch is ~2/(w+1) the size of the full k-gram set.

    Engine shape: per-row JVM array lambdas only — one transform for
    the hash sequence, one transform+array_min for the window minima,
    array_distinct, explode. No shuffle before the final explode, no
    Python.

    ``hash_fn`` picks the k-gram hash: ``"md5"`` (default) is the
    engine-portable 60-bit md5 (``simhash_md5``'s convention) so the
    whole sketch replays in SQL and stays the oracle form;
    ``"xxhash64"`` is the drop-in PRODUCTION knob when cross-engine
    replay is not needed — the identical plan with the JVM's native
    64-bit hash in place of the md5+conv chain (~10x cheaper per
    gram; benched side by side in bench.py). The winnowing guarantee
    (any shared substring of length >= k + w - 1 contributes at least
    one shared fingerprint) is hash-agnostic — it depends only on
    both documents hashing a gram identically — and is
    property-tested for BOTH functions.

    Returns (id_col, fp BIGINT), distinct per document; documents
    shorter than k + w - 1 characters emit no rows (no full window
    exists — the paper's boundary)."""
    if k < 1 or w < 1:
        raise ValueError(f"winnow_fingerprints: k, w >= 1, got k={k} w={w}")
    t = f"`{text_col}`"
    if hash_fn == "md5":
        gram = (
            f"cast(conv(substr(md5(substring({t}, i, {k})), 1, 15), 16, 10) "
            f"as bigint)"
        )
    elif hash_fn == "xxhash64":
        gram = f"xxhash64(substring({t}, i, {k}))"
    else:
        raise ValueError(
            f"winnow_fingerprints: hash_fn must be 'md5' (SQL-replayable "
            f"oracle form) or 'xxhash64' (production form), got {hash_fn!r}"
        )
    # the hash sequence binds to a COLUMN first: inlining it in the
    # window lambda would re-evaluate every hash per window (O(n*w)
    # hashes per doc instead of O(n))
    # NB: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty — a
    # doc shorter than k would hash two garbage grams without the case
    hashes = (
        f"case when length({t}) >= {k} then "
        f"transform(sequence(1, length({t}) - {k - 1}), i -> {gram}) "
        f"else cast(array() as array<bigint>) end"
    )
    mins = (
        f"case when size(_h) >= {w} then "
        f"array_distinct(transform(sequence(1, size(_h) - {w - 1}), "
        f"j -> array_min(slice(_h, j, {w})))) "
        f"else array() end"
    )
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.expr(hashes).alias("_h"))
        .select(F.col(id_col), F.explode(F.expr(mins)).alias("fp"))
    )


def winnow_matches(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int | str = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """Cross-document matches over winnowing fingerprints — the MOSS
    report stage: pairs of documents sharing >= ``min_shared``
    selected fingerprints, i.e. likely copied spans (each shared
    fingerprint witnesses a shared substring of >= k chars; two of
    them witness either one long or two separate copied regions).

    Scale shape: one equi-join on the fingerprint value — shuffle is
    O(docs x sketch), pair output bounded by true matches — with the
    stop-shingle discipline: fingerprints present in more than
    ``max_fp_df`` documents are dropped BEFORE the self-join
    (boilerplate headers/footers would otherwise contribute
    O(df²) pairs each; same justification as the Jaccard prefix
    filter's stop-shingle DF cap, and MOSS itself culls
    over-frequent fingerprints).

    The cap and corpus growth, stated precisely: with an ABSOLUTE cap
    each admitted fingerprint contributes <= C(cap, 2) pairs and the
    number of admitted fingerprints grows LINEARLY with the corpus, so
    total pair output is linear — never quadratic (a fingerprint is a
    literal >= k-char substring; one shared by 1000 documents is
    boilerplate at ANY corpus size, which is why an absolute cap is
    the faithful MOSS semantic). What an absolute cap cannot shrink is
    the CONSTANT: a near-cap fingerprint still contributes ~cap²/2
    pairs (~500k at 1000). ``max_fp_df="auto"`` derives a
    corpus-calibrated cap instead: clamp(ceil(1% of the non-null doc
    count), 16, 1000) — MOSS's own cull is stated as a FRACTION of
    submissions ("ignore matches appearing in more than N% of the
    corpus"), and a fraction rule is robust where a df-quantile is
    not (on a boilerplate-heavy corpus the quantile lands ON the
    boilerplate mass — measured while building this knob: a footer in
    100% of a 30-doc corpus sits exactly at p99 of the df
    distribution and survives; 1%-of-corpus culls it). The floor
    keeps genuinely-copied spans on small corpora; the ceiling is the
    absolute linear-output bound above. One extra count; "auto" is
    the production knob — the gated oracle entry keeps the explicit
    1000 so the SQL replay is parameter-stable.

    ``hash_fn`` passes through to ``winnow_fingerprints`` (pair sets
    from the two hashes agree except on hash collisions —
    astronomically rare at 60/64 bits). Returns (id_a, id_b,
    n_shared)."""
    fps = winnow_fingerprints(
        df, k, w, id_col, text_col, hash_fn
    ).localCheckpoint(eager=False)
    fp_df = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
    if max_fp_df == "auto":
        n_docs = df.filter(F.col(text_col).isNotNull()).count()
        cap = int(min(1000, max(16, -(-n_docs // 100))))
    elif isinstance(max_fp_df, int):
        cap = max_fp_df
    else:
        raise ValueError(
            f"winnow_matches: max_fp_df must be an int or 'auto', "
            f"got {max_fp_df!r}"
        )
    rare = fp_df.filter(F.col("_df") <= cap).select("fp")
    kept = fps.join(rare, "fp")
    # Pair generation as ONE fp-partitioned aggregate (r13 optimization
    # round, guide §2.3/§2.4): the previous form self-joined `kept`
    # against itself on fp, which re-computed the rare-cap join twice
    # and exchanged the fingerprint table twice more (a-side + b-side)
    # before the pair aggregate. Collecting each admitted fingerprint's
    # member list instead reuses the fp partitioning the rare join
    # already established, and the nested explode streams the i<j
    # combinations without materializing a cross product. Memory is
    # bounded BY CONSTRUCTION: the cap filter runs before collect_list,
    # so no group exceeds `cap` ids (8 KB per in-flight slice at the
    # 1000 ceiling). (id, fp) is distinct per document — the ascending
    # sort makes every emitted pair strictly id_a < id_b, exactly the
    # old filter. Output is row-identical (oracle-gated three ways:
    # winnow_matches, winnow_matches_topm, winnow_matches_topm_auto).
    ids = (
        kept.groupBy("fp")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    pairs = (
        ids.select(F.posexplode("_ids").alias("_i", "id_a"), "_ids")
        .select(
            "id_a",
            F.explode(
                F.expr("slice(_ids, _i + 2, size(_ids))")
            ).alias("id_b"),
        )
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_matches_topm(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int | str = 1000,
    m: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """BOUNDED MOSS report: each document's top-``m`` strongest
    matches by shared-fingerprint count — the form the report stage
    wants on a dup-saturated corpus, where the exhaustive
    ``winnow_matches`` is OUTPUT-bound (9.68M true pairs at the sf0.1
    harness corpus, VERDICT r8): emitted rows are O(docs · m) no
    matter how saturated the corpus, while the candidate/verify
    stages keep the exhaustive form's plan (fp equi-join under the
    stop-fp cap — the intermediate pair aggregate is unavoidable for
    an exact per-doc ranking; what this bounds is everything
    DOWNSTREAM of the report).

    Pairs are symmetrized first (a match is reported from BOTH ends —
    each doc gets its own strongest-matches list), then ranked per
    doc by (n_shared DESC, match_id ASC) — the deterministic
    tie-break, so the output is stable and SQL-replayable. The window
    partitions by doc_id: no global sort, partial aggregation
    upstream, the standard top-k-per-group shape.

    Returns (doc_id, match_id, n_shared, rank 1..m)."""
    if m < 1:
        raise ValueError(f"winnow_matches_topm: m >= 1, got {m}")
    # two consumers (both union branches of the symmetrize) — one
    # materialization of the bounded pair table instead of leaving
    # the whole candidate join's re-execution to AQE's runtime
    # exchange reuse
    pairs = winnow_matches(
        df, k, w, min_shared, max_fp_df, id_col, text_col, hash_fn
    ).localCheckpoint(eager=False)
    sym = pairs.select(
        F.col("id_a").alias("doc_id"),
        F.col("id_b").alias("match_id"),
        "n_shared",
    ).unionAll(
        pairs.select(
            F.col("id_b").alias("doc_id"),
            F.col("id_a").alias("match_id"),
            "n_shared",
        )
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.desc("n_shared"), F.asc("match_id")
    )
    return (
        sym.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= m)
    )


def global_cumsum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact INCLUSIVE running total under a TOTAL order, distributed —
    the prefix-sum twin of ``global_rank``: range-repartition on the
    order columns, one bounded collect of per-partition value totals,
    then a within-partition running sum plus the partition's prefix
    offset. No single-partition Window anywhere — the scalable
    substitute for ``SUM(v) OVER (ORDER BY ...)``, which at 100 TB
    funnels the corpus through one task.

    ``order_cols`` must define a total order (add a unique id as the
    last key). NULL values count as 0. Sums are exact for integral
    ``value_col`` (BIGINT end to end)."""
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    v = F.coalesce(F.col(value_col), F.lit(0))
    ranged = df.repartitionByRange(num_partitions, *order_cols)
    ranged = ranged.withColumn("_pid", F.spark_partition_id())
    ranged = ranged.localCheckpoint(eager=False)  # one exchange, two uses
    totals = {
        r["_pid"]: r["s"]
        for r in ranged.groupBy("_pid").agg(F.sum(v).alias("s")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += int(totals[pid] or 0)
    off = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        ranged.withColumn(
            out_col,
            (F.sum(v).over(w) + off[F.col("_pid")]).cast("long"),
        )
        .drop("_pid")
    )


def token_budget_select(
    df: DataFrame,
    budget_tokens: int,
    order_cols: list,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget corpus selection — the release-cut operator every
    pretraining run ends with ("take the best documents until N
    tokens"): order the corpus by ``order_cols`` (quality descending
    with a unique tie-break, typically) and keep the maximal prefix
    whose INCLUSIVE cumulative whitespace-token count stays within
    ``budget_tokens``. The running total is ``global_cumsum`` — the
    distributed two-phase prefix sum, no single-partition Window (the
    same discipline as ``global_rank``/``perplexity_buckets``,
    plan-asserted). Token counts use the package WS_CLASS convention
    (``token_counts``' ws_tokens — exact cross-engine).

    Returns (id_col, n_tokens, cum_tokens) for the selected prefix.
    A single document larger than the whole budget is excluded, like
    every prefix rule."""
    if budget_tokens < 0:
        raise ValueError(
            f"token_budget_select: budget_tokens >= 0, got {budget_tokens}"
        )
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        ws_token_count(F.col(text_col))
        .cast("long")
        .alias("n_tokens"),
        *[c for c in df.columns if c not in (id_col, text_col)],
    )
    cum = global_cumsum(base, order_cols, "n_tokens", out_col="cum_tokens")
    return cum.filter(F.col("cum_tokens") <= budget_tokens).select(
        id_col, "n_tokens", "cum_tokens"
    )


def perplexity_buckets(
    df: DataFrame,
    model_df: DataFrame,
    n_buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet's corpus partitioning (Wenzek et al. 2020 §3): score
    every document with a language model trained on a reference
    corpus, order by score, and cut into equal thirds — ``head``
    (closest to the reference distribution), ``middle``, ``tail``.
    Downstream pretraining recipes then sample the buckets at
    different rates (or drop the tail outright).

    The scorer is the package's held-out Stupid-Backoff trigram LM
    (``trigram_backoff_scores``; CCNet itself uses a KenLM 5-gram —
    same shape, exact integer counts here so the whole chain replays
    in SQL). Higher ``avg_logscore`` = lower perplexity = head.

    Bucket boundaries follow NTILE semantics exactly (bucket sizes
    differ by at most one, larger buckets first), computed from the
    distributed ``global_rank`` — NOT a single-partition NTILE
    window; the oracle's ``NTILE(3) OVER (ORDER BY ...)`` replays it
    bit-for-bit because both sides implement the same standard
    definition over the same total order (score desc, id asc).

    Output: (id, n_trigrams, avg_logscore, lm_rank, bucket) where
    bucket is 'head' / 'middle' / 'tail' for n_buckets=3, else
    'b1'..'bN'. Documents with no scorable trigram are absent (same
    contract as the underlying scorer).
    """
    s = trigram_backoff_scores(df, model_df, id_col=id_col,
                               text_col=text_col)
    ranked = global_rank(
        s, [F.desc("avg_logscore"), F.asc(id_col)], rank_col="lm_rank"
    )
    n = ranked.count()
    q, r = divmod(n, n_buckets)
    # NTILE(B): the first r buckets hold q+1 rows, the rest q
    bounds = []
    acc = 0
    for b in range(1, n_buckets + 1):
        acc += q + (1 if b <= r else 0)
        bounds.append(acc)
    bucket_idx = F.lit(n_buckets)
    for b in range(n_buckets - 1, 0, -1):
        bucket_idx = F.when(
            F.col("lm_rank") <= bounds[b - 1], F.lit(b)
        ).otherwise(bucket_idx)
    names = (
        {1: "head", 2: "middle", 3: "tail"}
        if n_buckets == 3
        else {b: f"b{b}" for b in range(1, n_buckets + 1)}
    )
    name_expr = F.lit(names[n_buckets])
    for b in range(n_buckets - 1, 0, -1):
        name_expr = F.when(
            bucket_idx == F.lit(b), F.lit(names[b])
        ).otherwise(name_expr)
    return ranked.withColumn("bucket", name_expr)


def embed_hashed_tf(
    df: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashing document embedder (the hashing trick,
    Weinberger et al. 2009): each word occurrence hashes to a bucket
    ``h % dim`` with a sign from an independent hash bit, and the
    document vector is the signed term-frequency sum per bucket —
    text -> fixed-dim vector with NO trained model state at all,
    which is what makes embedding-based ops (kNN, cosine dedup,
    clustering) runnable on a corpus before any encoder exists.

    Exactness: the word hash is the engine-portable 60-bit md5
    (simhash_md5's convention — non-negative in a signed long, so
    ``%``/``>>`` agree across engines), the vector entries are exact
    integer sums represented in doubles, and downstream cosines over
    these vectors are exact integer dots (< 2^53) + one sqrt+divide —
    bit-deterministic on any engine, like knn_int8's arithmetic.

    Scale shape: one explode + one (id, bucket) partial-aggregatable
    groupBy + one map assembly per doc — no model broadcast, no
    driver state, no Python. Docs whose text splits to no words keep
    a zero vector: explode_outer keeps them as one null-word row, the
    map assembly skips the null entry and the transform coalesces
    every missing bucket to 0 (r13 optimization round, guide §2.4 —
    the previous form resurrected them with a LEFT JOIN back onto the
    corpus id set, which re-scanned the corpus and shuffled its id
    column just to re-attach rows the pipeline could have kept;
    output proven identical against the unchanged SQL oracle at both
    gate scales). Returns (id_col, embedding array<double> of length
    ``dim``)."""
    if not 1 <= dim <= 1 << 30:
        raise ValueError(f"embed_hashed_tf: need 1 <= dim <= 2^30, got {dim}")
    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    base = maybe_parallelize(
        df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col), F.col(text_col)
        )
    )
    words = base.select(
        F.col(id_col).alias("__emb_id"),
        F.explode_outer(
            F.filter(
                F.split(F.col(text_col), " ", -1),
                lambda w: F.length(w) > 0,
            )
        ).alias("word"),
    ).select(
        "__emb_id",
        # null word (wordless doc) -> null h -> null bucket; the row
        # survives both groupBys so the doc keeps its zero vector
        F.conv(F.md5(F.col("word")).substr(1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    sums = (
        words.select(
            "__emb_id",
            (F.col("h") % dim).cast("int").alias("bucket"),
            F.when(
                F.shiftright(F.col("h"), 59).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .alias("sgn"),
        )
        .groupBy("__emb_id", "bucket")
        .agg(F.sum("sgn").alias("v"))
    )
    vecs = sums.groupBy("__emb_id").agg(
        F.map_from_entries(
            # collect_list drops nulls: the null-bucket entry of a
            # wordless doc vanishes here, leaving its map empty
            F.collect_list(
                F.when(
                    F.col("bucket").isNotNull(),
                    F.struct(F.col("bucket"), F.col("v")),
                )
            )
        ).alias("m")
    )
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("m"), i.cast("int")), F.lit(0)
        ).cast("double"),
    )
    return vecs.select(
        F.col("__emb_id").alias(id_col), emb.alias("embedding")
    )


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Shannon entropy of the character stream (bits per
    char) — the gibberish / low-diversity signal complementing
    `compression_ratio` (reference quality intent:
    /root/reference/airflow/dags/etl.py silver filters): key-mash and
    single-char spam land near 0, base64/random noise near log2(64),
    English prose ~4.1-4.4.  Emits (id, n_chars, entropy_bits).

    H = log2(n) - (Σ_c cnt_c·log2(cnt_c)) / n over per-doc char counts.

    Shape: MAP-ONLY — sort the char array per row and fold run-lengths
    with `F.aggregate`, so there is no explode, no shuffle, and no
    aggregation state beyond one row: the 100 TB cost is one linear
    pass per document (same plan class as cdc_chunks).

    Float discipline: log2(cnt) is quantized to integer MICRO-BITS
    (cast(round(log2(cnt)·1e6) as bigint) — verified bit-identical
    Spark vs DuckDB for cnt 1..200000 in tests), so the per-class sum
    is exact BIGINT arithmetic in any order and the oracle may use a
    plain SQL SUM over an explode+groupBy replay. The final expression
    is one exact BIGINT numerator (n·micro(n) − Σ cnt·micro(cnt)) and
    ONE IEEE division, rounded to 4dp.  Empty/NULL text → NULL
    entropy (and n_chars 0), kept so the operator is a projection.

    Character unit: Spark's split(text, "") yields UNICODE CODE
    POINTS, so a combining-mark sequence or emoji ZWJ cluster counts
    one unit per code point — a reasonable entropy alphabet, but NOT
    what DuckDB's string_split(text, '') produces (grapheme
    clusters). The gated oracle (docs_char_entropy) therefore holds
    only for text where the two coincide — ASCII and any
    precomposed-only text — and the gate fixture asserts that
    property (the bigram_pmi chr(30)-separator convention). Entropy
    on combining-heavy corpora is still well-defined here, just
    measured in code points."""
    t = F.col(text_col)
    # split('') yields [''] for the empty string — filter the empties
    # so n == length(text) exactly and runs never see the sentinel
    cs = F.array_sort(F.filter(F.split(t, ""), lambda x: x != F.lit("")))

    def _micro(run):
        return F.round(F.log2(run.cast("double")) * F.lit(1000000.0)) \
            .cast("long")

    def _close(acc):
        # contribution of the open run; 0 while no run is open
        return F.when(acc["run"] == 0, F.lit(0).cast("long")).otherwise(
            acc["run"] * _micro(acc["run"])
        )

    def _merge(acc, ch):
        same = ch == acc["prev"]
        return F.struct(
            ch.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(same, acc["s"]).otherwise(acc["s"] + _close(acc))
            .alias("s"),
        )

    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("s"),
    )
    tot = F.aggregate(cs, init, _merge, lambda acc: acc["s"] + _close(acc))
    n = F.size(cs).cast("long")
    ent = F.when(
        n > 0,
        F.round(
            (n * _micro(n) - tot).cast("double") / (F.lit(1000000.0) * n), 4
        ),
    )
    return df.select(
        F.col(id_col),
        F.coalesce(n, F.lit(0).cast("long")).alias("n_chars"),
        ent.alias("entropy_bits"),
    )


def bigram_pmi(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Corpus-level collocation extraction: pointwise mutual
    information over adjacent word bigrams (Church & Hanks 1990) —
    the "which word pairs travel together" report behind phrase
    mining, tokenizer-merge candidates, and boilerplate discovery.
    Emits the top_k (w1, w2, pair_count, pmi) with deterministic
    (pmi DESC, w1, w2) order.

    PMI(x,y) = log2( c_xy·N / (c_x·c_y) ) with counts over the whole
    corpus; pairs below min_count are dropped first (PMI's classic
    small-count instability).

    Shape: bigrams are built PER ROW with JVM array lambdas (slice +
    transform — no self-join, no posexplode join), then ONE groupBy
    for pair counts and one for unigram counts; N rides a 1-row
    broadcast cross join. Everything partial-aggregates map-side, so
    the 100 TB cost is two token-keyed exchanges — the same shape as
    word_freq. Two shuffle joins stitch c_x/c_y back (token-keyed,
    AQE-handled; the unigram side is Zipf-skewed but the bigram side
    arrives pre-aggregated so no row explosion).

    Float discipline: the log2 argument is computed with one fixed
    parenthesization ((c_xy·N) / (c_x·c_y), all four casts explicit)
    and the transcendental result is rounded to 6dp, the tfidf/idf
    convention, so libm-vs-JVM last-ulp drift cannot reach the hash."""
    words = df.select(
        F.filter(
            F.split(F.lower(F.col(text_col)), " ", -1),
            lambda x: x != F.lit(""),
        ).alias("ws")
    )
    # uni feeds THREE consumers (the N scalar and both count-stitch
    # joins); without materialization each consumer would re-tokenize
    # the whole corpus (4 scan+split passes incl. the bigram pass).
    # The checkpoint is vocab-sized — tiny next to the corpus — and
    # caps the plan at two corpus passes (unigram agg, bigram agg),
    # the minhash `sets` precedent.
    uni = (
        words.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    n_tok = uni.agg(F.sum("c").alias("n_tok"))
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(slice(ws, 1, greatest(size(ws) - 1, 0)),"
                " (x, i) -> struct(x AS w1, ws[i + 1] AS w2))"
            )
        ).alias("bg")
    )
    big = (
        pairs.select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    scored = (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_tok))
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("long").alias("pair_count"),
            F.round(
                F.log2(
                    (F.col("c_xy").cast("double")
                     * F.col("n_tok").cast("double"))
                    / (F.col("c_x").cast("double")
                       * F.col("c_y").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1"), F.col("w2")
    ).limit(top_k)
