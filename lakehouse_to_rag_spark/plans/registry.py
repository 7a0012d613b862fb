"""Query registry: every implemented operator as a named
(spark, sf_dir) -> DataFrame callable, with a matching DuckDB-runnable
oracle SQL where the semantics are SQL-expressible.

Contract (driver): column names must match between the Spark result
and the oracle result (the compare sorts columns by name, then
value-hashes); integer outputs are cast to BIGINT on both sides;
doubles are rounded to 4dp on both sides; top-k queries carry
deterministic tie-breaks.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from lakehouse_to_rag_spark.functions.text import ENGLISH_STOPWORDS, STOPWORDS
from lakehouse_to_rag_spark.operators import analytics
from lakehouse_to_rag_spark.operators import curation as cu
from lakehouse_to_rag_spark.operators import dedup as dd
from lakehouse_to_rag_spark.operators import events as ev
from lakehouse_to_rag_spark.operators import similarity as simi
from lakehouse_to_rag_spark.operators import text_analysis as ta
from lakehouse_to_rag_spark.operators import tpch
from lakehouse_to_rag_spark.operators.gold import gold_transform_fixed_stride
from lakehouse_to_rag_spark.operators.pipeline import run_medallion
from lakehouse_to_rag_spark.sources.tables import load_table, local_df

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join("'" + w + "'" for w in words) + "]"


# =====================================================================
# Medallion pipeline (reference parity: bronze P1-P2, silver P3-P5+W1,
# gold F1/T2)
# =====================================================================

_BRONZE_ORACLE = """
SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
       source,
       'doc ' || CAST(doc_id AS VARCHAR) AS title,
       TRIM(text) AS content,
       CAST(LENGTH(TRIM(text)) AS BIGINT) AS content_length
FROM documents
WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0
"""


@_q("bronze_docs", _BRONZE_ORACLE)
def bronze_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = run_medallion(spark, sf_dir)["bronze"]
    return b.select(
        "url", "source", "title", "content",
        F.col("content_length").cast("long").alias("content_length"),
    )


_SILVER_ORACLE = r"""
WITH cleaned AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
         source,
         'doc ' || CAST(doc_id AS VARCHAR) AS title,
         doc_id, lang,
         TRIM(REGEXP_REPLACE(LOWER(REGEXP_REPLACE(TRIM(text), '[^\w\d\s\.,!?;:\-\(\)]', ' ', 'g')), '\s+', ' ', 'g')) AS content
  FROM documents
  WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY doc_id) AS rn
  FROM cleaned
)
SELECT url, source, title, doc_id, lang, content,
       CAST(LENGTH(content) AS BIGINT) AS content_length
FROM ranked
WHERE rn = 1 AND LENGTH(content) > 50
"""


@_q("silver_docs", _SILVER_ORACLE)
def silver_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = run_medallion(spark, sf_dir)["silver"]
    return s.select(
        "url", "source", "title", "doc_id", "lang", "content",
        F.col("content_length").cast("long").alias("content_length"),
    )


@_q("medallion_incremental", _SILVER_ORACLE)
def medallion_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAINTAINED-mode medallion (url-keyed upserts, never a corpus
    overwrite — the reference's etl.py:179-198 intent): the corpus is
    fed as three disjoint batches plus a RE-CRAWL batch that resends
    the first 100 urls with altered content and bumped doc_ids; the
    url-keyed admission must reject every re-crawled row, leaving the
    final silver layer row-for-row equal to the overwrite pipeline's —
    so this entry shares ``silver_docs``' oracle, and any admission or
    upsert defect diverges the hash. Write-path staging follows the
    capstone convention: /tmp uuid layers, read back, collected
    eagerly, staging removed before return."""
    import shutil
    import uuid

    from lakehouse_to_rag_spark.operators.pipeline import (
        documents_as_raw,
        run_medallion_incremental,
    )

    raw = documents_as_raw(load_table(spark, sf_dir, "documents"))
    batches = [raw.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i) for i in range(3)]
    recrawl = (
        raw.filter(F.col("doc_id") < 200)
        .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
        .withColumn("content", F.concat(F.lit("RECRAWLED COPY "), F.col("content")))
    )
    state = f"/tmp/medallion_inc_{uuid.uuid4().hex[:12]}"
    try:
        layers = run_medallion_incremental(
            spark, batches + [recrawl], state
        )
        rows = (
            layers["silver"]
            .select(
                "url", "source", "title", "doc_id", "lang", "content",
                F.col("content_length").cast("long").alias("content_length"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(state, ignore_errors=True)
    return local_df(
        spark,
        rows,
        "url string, source string, title string, doc_id bigint, "
        "lang string, content string, content_length bigint",
    )


_GOLD_FIXED_ORACLE = """
SELECT doc_id,
       CAST((s - 1) // 190 AS BIGINT) AS chunk_index,
       substring(text, CAST(s AS INTEGER), 200) AS chunk
FROM (
  SELECT doc_id, text,
         unnest(range(1, GREATEST(LENGTH(text), 1) + 1, 190)) AS s
  FROM documents
  WHERE text IS NOT NULL
) t
"""


@_q("gold_chunks_fixed", _GOLD_FIXED_ORACLE)
def gold_chunks_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return gold_transform_fixed_stride(docs, "text").select(
        "doc_id",
        F.col("chunk_index").cast("long").alias("chunk_index"),
        "chunk",
    )


# The recursive splitter's merge loop is a sequential fold with a
# LIST-valued accumulator — replayable by a RECURSIVE CTE stepping one
# piece per iteration. The separator CASCADE never engages here by
# CONSTRUCTION: silver normalization collapses every whitespace run to
# a single space, so chunking input contains no '\n\n'/'\n' and the
# splitter reduces to split-on-space + ONE greedy merge (overlap
# carry = the longest suffix with joined length <= chunk_overlap that
# still fits). The one residual precondition — no single word >=
# chunk_size, which WOULD recurse to character level — is guarded by a
# poison row: if it ever breaks, the gate fails loudly instead of
# silently comparing wrong semantics.
_GOLD_RECURSIVE_ORACLE = r"""
WITH RECURSIVE cleaned AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, doc_id,
         TRIM(REGEXP_REPLACE(LOWER(REGEXP_REPLACE(TRIM(text), '[^\w\d\s\.,!?;:\-\(\)]', ' ', 'g')), '\s+', ' ', 'g')) AS content
  FROM documents
  WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0
), silver AS (
  SELECT doc_id, content FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY doc_id) AS rn
    FROM cleaned
  ) WHERE rn = 1 AND LENGTH(content) > 50
), pieces AS (
  SELECT doc_id, string_split(content, ' ') AS ps FROM silver
), walk AS (
  SELECT doc_id, ps, 0 AS i,
         CAST([] AS VARCHAR[]) AS cur,
         CAST([] AS VARCHAR[]) AS chunks
  FROM pieces
  UNION ALL
  SELECT doc_id, ps, i + 1,
         list_append(list_slice(cur, k + 1, len(cur)), p) AS cur,
         CASE WHEN emit THEN list_append(chunks, array_to_string(cur, ' '))
              ELSE chunks END AS chunks
  FROM (
    SELECT doc_id, ps, i, cur, chunks, p, pl,
      (len(cur) > 0 AND tot + 1 + pl > 200) AS emit,
      CASE WHEN (len(cur) > 0 AND tot + 1 + pl > 200) THEN
        list_min(list_filter(range(0, len(cur) + 1),
          k -> (CASE WHEN k = len(cur) THEN 0
                ELSE length(array_to_string(list_slice(cur, k + 1, len(cur)), ' ')) END) <= 10
           AND ((CASE WHEN k = len(cur) THEN 0
                 ELSE length(array_to_string(list_slice(cur, k + 1, len(cur)), ' ')) END) = 0
             OR (CASE WHEN k = len(cur) THEN 0
                 ELSE length(array_to_string(list_slice(cur, k + 1, len(cur)), ' ')) END) + 1 + pl <= 200)))
      ELSE 0 END AS k
    FROM (
      SELECT doc_id, ps, i, cur, chunks,
             ps[i + 1] AS p, length(ps[i + 1]) AS pl,
             CASE WHEN len(cur) = 0 THEN 0
                  ELSE length(array_to_string(cur, ' ')) END AS tot
      FROM walk WHERE i < len(ps)
    )
  )
), done AS (
  SELECT doc_id,
         CASE WHEN len(cur) > 0 AND TRIM(array_to_string(cur, ' ')) <> ''
              THEN list_append(chunks, TRIM(array_to_string(cur, ' ')))
              ELSE chunks END AS chunks
  FROM walk WHERE i = len(ps)
)
SELECT doc_id,
       CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS chunk_index,
       unnest(chunks) AS chunk
FROM done
UNION ALL
SELECT doc_id, CAST(-1 AS BIGINT) AS chunk_index,
       'ORACLE-PRECONDITION-VIOLATED: word >= chunk_size' AS chunk
FROM pieces WHERE len(list_filter(ps, w -> length(w) >= 200)) > 0
"""


@_q("gold_chunks_recursive", _GOLD_RECURSIVE_ORACLE)
def gold_chunks_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The medallion gold layer's RECURSIVE chunker, upgraded from
    rows-only to a full value hash: the greedy merge-with-overlap fold
    replays as a DuckDB recursive CTE (one piece per step, list-state
    accumulator), fused onto the silver-normalization oracle. Silver's
    whitespace collapse guarantees the splitter's single-separator
    path; the only other escape (a word >= chunk_size) emits a poison
    row so a precondition break fails the gate loudly."""
    g = run_medallion(spark, sf_dir)["gold"]
    return g.select(
        "doc_id",
        F.col("chunk_index").cast("long").alias("chunk_index"),
        "chunk",
    )


# =====================================================================
# Reference analytics library (A1-A7, D1, T1, O1-O2, U1)
# =====================================================================

_ROW_COUNTS_ORACLE = """
SELECT 'documents' AS table_name, CAST(COUNT(*) AS BIGINT) AS row_count FROM documents
UNION ALL
SELECT 'events' AS table_name, CAST(COUNT(*) AS BIGINT) AS row_count FROM events
UNION ALL
SELECT 'orders' AS table_name, CAST(COUNT(*) AS BIGINT) AS row_count FROM orders
"""


@_q("row_counts", _ROW_COUNTS_ORACLE)
def row_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = {
        n: load_table(spark, sf_dir, n) for n in ["documents", "events", "orders"]
    }
    return analytics.table_row_counts(tables)


_DOC_STATS_ORACLE = """
SELECT 'documents' AS table_name,
       CAST(COUNT(*) AS BIGINT) AS row_count,
       ROUND(AVG(LENGTH(text)), 4) AS avg_length,
       CAST(MIN(LENGTH(text)) AS BIGINT) AS min_length,
       CAST(MAX(LENGTH(text)) AS BIGINT) AS max_length
FROM documents
"""


@_q("doc_stats", _DOC_STATS_ORACLE)
def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    length = F.length("text")
    return d.agg(
        F.lit("documents").alias("table_name"),
        F.count(F.lit(1)).alias("row_count"),
        F.round(F.avg(length), 4).alias("avg_length"),
        F.min(length).cast("long").alias("min_length"),
        F.max(length).cast("long").alias("max_length"),
    )


_MISSING_ORACLE = """
SELECT 'documents' AS table_name,
       CAST(COUNT(*) - COUNT(text) AS BIGINT) AS missing_text,
       CAST(COUNT(*) - COUNT(lang) AS BIGINT) AS missing_lang
FROM documents
"""


@_q("missing_values_docs", _MISSING_ORACLE)
def missing_values_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.lit("documents").alias("table_name"),
        (F.count(F.lit(1)) - F.count("text")).alias("missing_text"),
        (F.count(F.lit(1)) - F.count("lang")).alias("missing_lang"),
    )


_WORD_FREQ_ORACLE = """
SELECT word, CAST(COUNT(*) AS BIGINT) AS frequency
FROM (SELECT unnest(string_split(LOWER(text), ' ')) AS word FROM documents) t
WHERE LENGTH(word) > 3
GROUP BY word
ORDER BY frequency DESC, word ASC
LIMIT 10
"""


@_q("word_freq_top10", _WORD_FREQ_ORACLE)
def word_freq_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return analytics.word_frequency(d, content_col="text", min_word_length=3, k=10)


_DUP_ANALYSIS_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS unique_values,
       CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS duplicate_rows
FROM documents
"""


@_q("duplicate_analysis_docs", _DUP_ANALYSIS_ORACLE)
def duplicate_analysis_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return analytics.duplicate_analysis(d, col="text")


_AVG_BY_SOURCE_ORACLE = """
SELECT source, ROUND(AVG(LENGTH(text)), 4) AS avg_length
FROM documents
GROUP BY source
ORDER BY avg_length DESC, source ASC
LIMIT 5
"""


@_q("avg_length_by_source_top5", _AVG_BY_SOURCE_ORACLE)
def avg_length_by_source_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return analytics.avg_length_by_group_topk(
        d, group_col="source", content_col="text", k=5
    )


_SOURCE_VOCAB_OVERLAP_ORACLE = """
WITH w AS (
  SELECT DISTINCT src, word FROM (
    SELECT source AS src,
           unnest(string_split(LOWER(text), ' ')) AS word
    FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
  ) WHERE LENGTH(word) > 0
), s AS (
  SELECT src, COUNT(*) AS n_vocab FROM w GROUP BY src
), i AS (
  SELECT a.src AS source_a, b.src AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM w a JOIN w b USING (word)
  WHERE a.src <= b.src
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared,
       ROUND(CAST(n_shared AS DOUBLE)
             / (sa.n_vocab + sb.n_vocab - n_shared), 4) AS jaccard
FROM i
JOIN s sa ON sa.src = source_a
JOIN s sb ON sb.src = source_b
"""


@_q("source_vocab_overlap", _SOURCE_VOCAB_OVERLAP_ORACLE)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap matrix (pairs a <= b, diagonal
    = own vocabulary size): the lexical-diversity input to mixing
    decisions. Corpus reduces to distinct (source, word) FIRST, so
    the self-join's per-word fan-out is bounded by the source count
    squared — an inverted-index join whose skew is structurally
    capped."""
    d = load_table(spark, sf_dir, "documents")
    return analytics.source_vocab_overlap(d)


_DUP_ROWS_ORACLE = """
SELECT event_id, user_id, event_type
FROM (
  SELECT event_id, user_id, event_type,
         COUNT(*) OVER (PARTITION BY user_id, event_type) AS cnt
  FROM events
) t
WHERE cnt > 1
"""


@_q("duplicate_rows_events", _DUP_ROWS_ORACLE)
def duplicate_rows_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    return analytics.duplicate_rows(e, ["user_id", "event_type"])


# =====================================================================
# Star-schema / TPC-H-style joins & aggregations
# =====================================================================

_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

QUERIES["q1_pricing_summary"] = tpch.q1_pricing_summary
ORACLES["q1_pricing_summary"] = _Q1_ORACLE

_Q3_ORACLE = """
SELECT l.l_orderkey AS orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority AS orderpriority,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, orderkey ASC
LIMIT 10
"""

QUERIES["q3_shipping_priority"] = tpch.q3_shipping_priority
ORACLES["q3_shipping_priority"] = _Q3_ORACLE

_Q4_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
)
GROUP BY o_orderpriority
"""

QUERIES["q4_order_priority"] = tpch.q4_order_priority
ORACLES["q4_order_priority"] = _Q4_ORACLE

_Q5_ORACLE = """
SELECT n.n_name, ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n.n_name
"""

QUERIES["q5_regional_revenue"] = tpch.q5_regional_revenue
ORACLES["q5_regional_revenue"] = _Q5_ORACLE

_TOP_SUPPLIERS_ORACLE = """
SELECT s.s_suppkey AS suppkey, s.s_name AS supplier_name, a.total_revenue
FROM (
  SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
  FROM lineitem GROUP BY l_suppkey
) a
JOIN supplier s ON a.l_suppkey = s.s_suppkey
ORDER BY a.total_revenue DESC, suppkey ASC
LIMIT 5
"""

QUERIES["top_suppliers"] = tpch.top_suppliers
ORACLES["top_suppliers"] = _TOP_SUPPLIERS_ORACLE

_SEGMENT_ORACLE = """
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(AVG(o.o_totalprice), 4) AS avg_price,
       ROUND(SUM(o.o_totalprice), 4) AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""

QUERIES["segment_order_stats"] = tpch.segment_order_stats
ORACLES["segment_order_stats"] = _SEGMENT_ORACLE

_PART_TYPE_ORACLE = """
SELECT p.p_type,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(SUM(l.l_quantity), 4) AS total_qty,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_type
"""

QUERIES["part_type_stats"] = tpch.part_type_stats
ORACLES["part_type_stats"] = _PART_TYPE_ORACLE


# =====================================================================
# Events analytics
# =====================================================================

_HOURLY_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY 1, 2
"""


@_q("events_hourly", _HOURLY_ORACLE)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.hourly_rollup(load_table(spark, sf_dir, "events"))


_SESSIONIZE_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
)
SELECT user_id,
       CAST(SUM(CASE WHEN prev_ts IS NULL
                     OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM g
GROUP BY user_id
"""


@_q("events_sessionize", _SESSIONIZE_ORACLE)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.sessionize(load_table(spark, sf_dir, "events"))


_TOP_USERS_ORACLE = """
SELECT user_id,
       ROUND(SUM(value), 4) AS total_value,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
WHERE event_type = 'purchase'
GROUP BY user_id
ORDER BY total_value DESC, user_id ASC
LIMIT 10
"""


@_q("events_top_users", _TOP_USERS_ORACLE)
def events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.top_users_by_value(load_table(spark, sf_dir, "events"))


_PROPS_ORACLE = """
SELECT event_type,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_with_k
FROM events
GROUP BY event_type
"""


@_q("events_props_rollup", _PROPS_ORACLE)
def events_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.props_rollup(load_table(spark, sf_dir, "events"))


_VARIANT_PROPS_ORACLE = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(value), 4) AS avg_value,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY 1
"""


@_q("events_variant_props", _VARIANT_PROPS_ORACLE)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VariantType semi-structured rollup (Spark 4 parse_json /
    try_variant_get) — one parse, typed binary field probes. The
    oracle re-derives the same grouping from DuckDB's JSON parser,
    value-gating the variant encode/decode path."""
    return ev.variant_props_rollup(load_table(spark, sf_dir, "events"))


_PIVOT_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events
GROUP BY 1
"""


@_q("events_type_pivot", _PIVOT_ORACLE)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.type_pivot_daily(load_table(spark, sf_dir, "events"))


# =====================================================================
# Dedup extensions (SURVEY.md §2.13)
# =====================================================================

_EXACT_DEDUP_ORACLE = """
SELECT md5(text) AS content_hash,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY md5(text)
"""


@_q("dedup_exact_groups", _EXACT_DEDUP_ORACLE)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.exact_dup_groups(d, "doc_id", "text")


_NGRAM_JACCARD_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, GREATEST(len(words) - 1, 1)),
                               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
  FROM w
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
"""


@_q("dedup_ngram_jaccard", _NGRAM_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # the oracle models UNCAPPED jaccard, so pin max_shingle_df=None:
    # the gate must never depend on "no shingle happens to exceed the
    # default cap" at whatever scale it runs (the capped skew guard is
    # library default + separately tested for equality-under-the-cap)
    return dd.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_shingle_df=None
    )


# The r10 "auto" DEFAULT's own gate (the winnow_matches_topm_auto
# precedent): the fraction-of-corpus stop-shingle cap is SQL-computable
# — clamp(ceil(1% of non-null docs), 16, 1000) — so the filtered-
# universe Jaccard the library now runs by default faces an external
# hash with the cap DERIVED, not pinned. Both intersections and set
# sizes use the capped universe (the documented semantics).
_NGRAM_JACCARD_AUTO_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), sh0 AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, GREATEST(len(words) - 1, 1)),
                               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
  FROM w
), cap AS MATERIALIZED (
  SELECT CAST(LEAST(1000, GREATEST(16, CEIL(COUNT(*) / 100.0))) AS BIGINT)
         AS cap
  FROM documents WHERE text IS NOT NULL
), sh AS MATERIALIZED (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS dfc
    FROM sh0
  ) WHERE dfc <= (SELECT cap FROM cap)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
"""


@_q("dedup_ngram_jaccard_auto", _NGRAM_JACCARD_AUTO_ORACLE)
def dedup_ngram_jaccard_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The library DEFAULT form of ngram_jaccard_pairs since r10
    (max_shingle_df="auto"): Jaccard over the stop-shingle-filtered
    universe, cap = clamp(ceil(1% of docs), 16, 1000) derived in the
    oracle SQL itself — gating the parameterization a 100 TB corpus
    actually runs (the uncapped pin above stays for whole-corpus
    semantics continuity)."""
    d = load_table(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)


# r11 (VERDICT r10 task 4): the CHARACTER-shingle unit — near-dup
# detection for unsegmented scripts (CJK/Thai), where the whitespace
# split yields one giant token, word mode produces zero shingles, and
# duplicates silently escape every word-shingle operator. Char k-grams
# are built by substring sequence; substring/length count CODE POINTS
# in both Spark and DuckDB (unlike split('')), so this oracle holds
# beyond ASCII. Same auto cap (derived in SQL), same banding
# downstream; only the shingle universe changes.
_NGRAM_JACCARD_CHAR_ORACLE = """
WITH sh0 AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, GREATEST(length(text) - 3, 1)),
                               i -> substring(text, i, 5))) AS shingle
  FROM documents
), cap AS MATERIALIZED (
  SELECT CAST(LEAST(1000, GREATEST(16, CEIL(COUNT(*) / 100.0))) AS BIGINT)
         AS cap
  FROM documents WHERE text IS NOT NULL
), sh AS MATERIALIZED (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS dfc
    FROM sh0
  ) WHERE dfc <= (SELECT cap FROM cap)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
"""


@_q("dedup_ngram_jaccard_char", _NGRAM_JACCARD_CHAR_ORACLE)
def dedup_ngram_jaccard_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-5-gram Jaccard near-dup pairs under the library-default
    auto cap (r11) — the unit="char" mode that closes the
    unsegmented-script gap (VERDICT r10 'What's missing'). The planted
    CJK-dup test (tests/test_dedup_quality.py) proves word mode
    misses what this catches; this entry pins the char universe's
    exact filtered-space Jaccard against SQL."""
    d = load_table(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(
        d, "doc_id", "text", n=5, threshold=0.5, unit="char"
    )


# r12 (VERDICT r11 task 4): per-document AUTO unit dispatch — a real
# multilingual corpus is mixed, so the operator classifies each doc by
# the avg-whitespace-token-length heuristic (>= 20 code points/token =
# unsegmented -> char unit, else word unit), finds pairs WITHIN each
# regime, and returns the union tagged by unit. The gate corpus is the
# documents table (all word-regime at every sf) PLUS three planted
# unsegmented CJK docs appended as literal rows in BOTH engines — so
# the driver hash proves the dispatch rule AND both planted pairs (one
# per script) in one entry. Uncapped Jaccard (the dedup_ngram_jaccard
# exactness-pin convention).
_CJK_A = "深度学习模型训练需要大量高质量语料数据支撑实验结论"
_CJK_B = "深度学习模型训练需要大量高质量语料数据支撑实验结果"
_CJK_C = "完全不同的另一段文字内容与前两者毫无相似之处没有重复"

_JACCARD_AUTO_UNIT_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES
    (CAST(900001 AS BIGINT), '{_CJK_A}'),
    (CAST(900002 AS BIGINT), '{_CJK_B}'),
    (CAST(900003 AS BIGINT), '{_CJK_C}')
  ) AS v(doc_id, text)
), cls AS MATERIALIZED (
  SELECT doc_id, text,
         COALESCE(CAST(LENGTH(text) AS DOUBLE) /
                  GREATEST(len(list_filter(string_split(text, ' '),
                                           x -> LENGTH(x) > 0)), 1)
                  >= 20.0, FALSE) AS is_char
  FROM docs
), wsh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, GREATEST(len(words) - 1, 1)),
                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
           AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS words
        FROM cls WHERE NOT is_char)
), csh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, GREATEST(LENGTH(text) - 3, 1)),
                i -> substring(text, i, 5))) AS shingle
  FROM cls WHERE is_char
), wsz AS (SELECT doc_id, COUNT(*) AS n FROM wsh GROUP BY doc_id),
csz AS (SELECT doc_id, COUNT(*) AS n FROM csh GROUP BY doc_id),
wint AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM wsh a JOIN wsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), cint AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM csh a JOIN csh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard,
       'word' AS unit
FROM wint JOIN wsz sa ON id_a = sa.doc_id JOIN wsz sb ON id_b = sb.doc_id
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
UNION ALL
SELECT id_a, id_b,
       ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard,
       'char' AS unit
FROM cint JOIN csz sa ON id_a = sa.doc_id JOIN csz sb ON id_b = sb.doc_id
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
"""


@_q("dedup_jaccard_auto_unit", _JACCARD_AUTO_UNIT_ORACLE)
def dedup_jaccard_auto_unit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-script Jaccard dedup with per-document unit dispatch
    (r12 — VERDICT r11 task 4): the documents table plus three
    planted unsegmented CJK docs (a near-dup pair and a distinct
    control — appended as the same literal rows in the oracle SQL),
    word pairs from the space-delimited regime, char pairs from the
    unsegmented regime, one union tagged by unit. The hash match
    proves the SQL-replayed dispatch rule and both planted regimes'
    pairs at once."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    extra = local_df(
        spark,
        [(900001, _CJK_A), (900002, _CJK_B), (900003, _CJK_C)],
        "doc_id long, text string",
    )
    return dd.ngram_jaccard_pairs_auto_unit(
        d.unionByName(extra), "doc_id", "text",
        n_word=3, n_char=5, threshold=0.5, max_shingle_df=None,
    )


@_q("dedup_minhash_auto_unit", _JACCARD_AUTO_UNIT_ORACLE)
def dedup_minhash_auto_unit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash with per-document unit dispatch (r12) — the
    SCALE form of the mixed-script dedup: word-regime documents band
    over word 3-grams (background Jaccard ~0 -> banding prunes),
    unsegmented documents over char 5-grams. This routing is the fix
    for the r12 probe find that char-5 banding on space-delimited
    prose is an all-pairs scan in disguise (69% candidate rate at
    sf0.1). Same mixed fixture and exact-Jaccard oracle as the
    jaccard twin (banding miss < 1e-4 at the gate thresholds)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    extra = local_df(
        spark,
        [(900001, _CJK_A), (900002, _CJK_B), (900003, _CJK_C)],
        "doc_id long, text string",
    )
    return dd.minhash_lsh_pairs_auto_unit(
        d.unionByName(extra), "doc_id", "text",
        n_word=3, n_char=5, threshold=0.5,
    )


_TF_COSINE_ORACLE = """
WITH tf AS (
  SELECT doc_id AS id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE LENGTH(word) > 0 GROUP BY doc_id, word
), norms AS (
  SELECT id, SUM(tf*tf) AS norm2 FROM tf GROUP BY id
), dots AS (
  SELECT a.id AS id_a, b.id AS id_b, SUM(a.tf*b.tf) AS dot
  FROM tf a JOIN tf b ON a.word = b.word AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(dot / SQRT(na.norm2 * nb.norm2), 4) AS cosine
FROM dots
JOIN norms na ON id_a = na.id
JOIN norms nb ON id_b = nb.id
WHERE dot / SQRT(na.norm2 * nb.norm2) >= 0.95
"""


@_q("dedup_tf_cosine", _TF_COSINE_ORACLE)
def dedup_tf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-vector cosine all-pairs join (inverted-index
    self-join with integer dot products — exact cross-engine parity
    because every sum is an integer until the final division)."""
    d = load_table(spark, sf_dir, "documents")
    return dd.tf_cosine_pairs(d, "doc_id", "text", threshold=0.95)


# MinHash output gets the EXACT-jaccard oracle: verification is exact
# (array_intersect on candidates), and at b=32/r=2 the probability of
# missing a j>=0.5 pair is ~(1-j^2)^32 < 1e-4 — verified equal to the
# exact pair set at sf 0.001/0.01/0.1.
@_q("dedup_minhash", _NGRAM_JACCARD_ORACLE)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(d, "doc_id", "text", n=3, threshold=0.5)


# Uncapped exact char-5-gram Jaccard: the oracle for the banded char
# path (minhash has no shingle cap; the capped char oracle above
# belongs to the exact pair operator's auto default).
_NGRAM_JACCARD_CHAR_UNCAPPED_ORACLE = """
WITH sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, GREATEST(length(text) - 3, 1)),
                               i -> substring(text, i, 5))) AS shingle
  FROM documents
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
"""


@_q("dedup_minhash_char", _NGRAM_JACCARD_CHAR_UNCAPPED_ORACLE)
def dedup_minhash_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash over CHARACTER 5-gram shingles (r11) — the
    scale path for unsegmented-script (CJK/Thai) near-dup detection,
    gated end-to-end: signatures/banding/exact-verification are
    unit-agnostic, and the oracle is the uncapped exact char Jaccard
    (the dedup_minhash convention — at b=32/r=2 the miss probability
    for j>=0.5 is ~(1-j^2)^32 < 1e-4; verified equal to the exact
    pair set at sf0.001/sf0.01).

    preflight=None is REQUIRED here, not an oversight: this entry is
    the documented correctness-gate-only pin of char-5 banding on
    prose (candidate rate ~0.69 — exactly what the preflight exists
    to refuse). With the default preflight="auto" the gate would
    abort by design at any corpus past the 10k-doc probe floor
    (sf0.1 documents holds 5k rows; sf1 would raise), making the
    gated plan scale-DEpendent. The production char path is
    dedup_minhash_auto_unit; this pin accepts the cost deliberately
    and only ever runs at gate scale."""
    d = load_table(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(
        d, "doc_id", "text", n=5, threshold=0.5, unit="char",
        preflight=None,
    )


@_q("dedup_minhash_distinct", _NGRAM_JACCARD_ORACLE)
def dedup_minhash_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup-first MinHash: signatures/banding/verification run
    once per DISTINCT text, pairs expand to members — provably the
    direct operator's exact pair set (equality-tested), at O(distinct
    texts) banding cost instead of O(docs) (212s -> 27.5s at the 100x
    replica-clique probe). Same oracle as dedup_minhash verbatim."""
    d = load_table(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs_distinct(
        d, "doc_id", "text", n=3, threshold=0.5
    )


@_q("dedup_minhash_auto", _NGRAM_JACCARD_ORACLE)
def dedup_minhash_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-dispatched MinHash: a text-hash-sampled duplication-ratio
    probe (one count + approx_count_distinct job) picks the direct or
    the exact-dedup-first factoring (crossover measured at dup ratio
    ~0.8, SCALE.md r7). Both branches emit the identical pair set, so
    this shares the exact-jaccard oracle verbatim — the gate proves
    the dispatch machinery never perturbs results."""
    d = load_table(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs_auto(
        d, "doc_id", "text", n=3, threshold=0.5
    )


_FUZZY_DECONTAM_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, GREATEST(len(words) - 1, 1)),
                               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
  FROM w
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS bench_id, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.doc_id % 17 <> 0 AND b.doc_id % 17 = 0
  GROUP BY 1, 2
)
SELECT i.doc_id, i.bench_id,
       ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_id
JOIN sizes sb ON sb.doc_id = i.bench_id
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
"""


_FUZZY_DECONTAM_AUTO_UNIT_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES
    (CAST(910001 AS BIGINT), '{_CJK_A}'),
    (CAST(910010 AS BIGINT), '{_CJK_B}')
  ) AS v(doc_id, text)
), cls AS MATERIALIZED (
  SELECT doc_id, text,
         COALESCE(CAST(LENGTH(text) AS DOUBLE) /
                  GREATEST(len(list_filter(string_split(text, ' '),
                                           x -> LENGTH(x) > 0)), 1)
                  >= 20.0, FALSE) AS is_char
  FROM docs
), wsh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, GREATEST(len(words) - 1, 1)),
                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
           AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS words
        FROM cls WHERE NOT is_char)
), csh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, GREATEST(LENGTH(text) - 3, 1)),
                i -> substring(text, i, 5))) AS shingle
  FROM cls WHERE is_char
), wsz AS (SELECT doc_id, COUNT(*) AS n FROM wsh GROUP BY doc_id),
csz AS (SELECT doc_id, COUNT(*) AS n FROM csh GROUP BY doc_id),
wint AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS bench_id, COUNT(*) AS c
  FROM wsh a JOIN wsh b ON a.shingle = b.shingle
  WHERE a.doc_id % 17 <> 0 AND b.doc_id % 17 = 0
  GROUP BY 1, 2
), cint AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS bench_id, COUNT(*) AS c
  FROM csh a JOIN csh b ON a.shingle = b.shingle
  WHERE a.doc_id % 17 <> 0 AND b.doc_id % 17 = 0
  GROUP BY 1, 2
)
SELECT i.doc_id, i.bench_id,
       ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard,
       'word' AS unit
FROM wint i
JOIN wsz sa ON sa.doc_id = i.doc_id JOIN wsz sb ON sb.doc_id = i.bench_id
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
UNION ALL
SELECT i.doc_id, i.bench_id,
       ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard,
       'char' AS unit
FROM cint i
JOIN csz sa ON sa.doc_id = i.doc_id JOIN csz sb ON sb.doc_id = i.bench_id
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
"""


@_q("decontaminate_fuzzy_auto_unit", _FUZZY_DECONTAM_AUTO_UNIT_ORACLE)
def decontaminate_fuzzy_auto_unit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mixed-script fuzzy decontamination with per-document unit
    dispatch (r12): the % 17 train/bench split over the documents
    table PLUS a planted CJK training doc (910001, % 17 = 8) whose
    1-char-edited twin sits in the benchmark (910010, % 17 = 0) —
    invisible to word-mode decontamination, caught by the char
    regime, while the word regime's hits stay identical to
    ``decontaminate_fuzzy``. One hash proves the SQL-replayed
    dispatch and both regimes' screens."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    extra = local_df(
        spark,
        [(910001, _CJK_A), (910010, _CJK_B)],
        "doc_id long, text string",
    )
    mixed = d.unionByName(extra)
    return dd.fuzzy_decontaminate_auto_unit(
        mixed.filter("doc_id % 17 != 0"),
        mixed.filter("doc_id % 17 = 0"),
        n_word=3, n_char=5, threshold=0.5,
    )


@_q("decontaminate_fuzzy", _FUZZY_DECONTAM_ORACLE)
def decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate train/benchmark decontamination — the fuzzy form
    of ``bloom_decontaminate``: training docs (doc_id % 17 != 0)
    whose 3-gram shingle Jaccard with ANY benchmark doc (% 17 == 0)
    reaches 0.5, found by the two-table banded MinHash join with the
    benchmark side broadcast and exact-Jaccard verification (no false
    positives; the dedup_minhash recall argument carries over — the
    oracle is the exact two-table Jaccard join)."""
    d = load_table(spark, sf_dir, "documents")
    return dd.fuzzy_decontaminate(
        d.filter("doc_id % 17 != 0"),
        d.filter("doc_id % 17 = 0"),
        n=3,
        threshold=0.5,
    )


_SEMANTIC_DECONTAM_ORACLE = """
WITH t AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 17 <> 0
), b AS (
  SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 17 = 0
), p AS (
  SELECT t.vec_id, b.bench_id,
         ROUND(list_cosine_similarity(t.v, b.v), 4) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY t.vec_id
           ORDER BY ROUND(list_cosine_similarity(t.v, b.v), 4) DESC,
                    b.bench_id ASC) AS rn
  FROM t CROSS JOIN b
)
SELECT vec_id, bench_id, cosine FROM p WHERE rn = 1
"""


@_q("decontaminate_semantic", _SEMANTIC_DECONTAM_ORACLE)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space train/benchmark decontamination — the third
    rung after exact n-gram (bloom) and fuzzy MinHash: every training
    vector's best 4dp cosine against the benchmark set with the
    witnessing bench id (ties to the smallest id). Gate runs the
    threshold-free audit form so EVERY train row faces the hash; the
    engine is one Arrow map-only GEMM scan against the closure-borne
    bench matrix (fail-closed past max_broadcast_rows), replayed in
    SQL by the cross join + ROW_NUMBER argmax."""
    e = load_table(spark, sf_dir, "embeddings")
    return dd.semantic_decontaminate(
        e.filter("vec_id % 17 != 0"),
        e.filter("vec_id % 17 = 0"),
        threshold=None,
    )


@_q("dedup_simhash")  # bit-bucket candidates: rows-only check
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.simhash_pairs(d, "doc_id", "text", max_hamming=3)


_EMB_DEDUP_ORACLE = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 4) AS cosine
FROM embeddings a
JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.4
"""


# Default = the GEMM path: at sf0.1 the pure-JVM interpreted
# dot-product pair join measures 153 s vs 1.6 s for batch matmul
# (both exact, same oracle). The JVM form stays registered below as
# dedup_embedding_jvm — the no-Python-workers fallback.
@_q("dedup_embedding", _EMB_DEDUP_ORACLE)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return dd.embedding_dup_pairs_numpy(e, threshold=0.4)


@_q("dedup_embedding_jvm", _EMB_DEDUP_ORACLE)
def dedup_embedding_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return dd.embedding_dup_pairs(e, threshold=0.4)


# =====================================================================
# Similarity search
# =====================================================================

_KNN_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < 10
), p AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])), 4) AS cosine
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM p
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5
"""


@_q("knn_bruteforce", _KNN_ORACLE)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return simi.knn_bruteforce(e, queries, k=5)


_KNN_INT8_ORACLE = """
WITH z AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(round(x * (127.0 / list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))))) AS BIGINT)) AS qv
  FROM embeddings
), n AS (
  SELECT vec_id, qv, list_dot_product(qv, qv) AS n2 FROM z
), q AS (
  SELECT vec_id AS query_id, qv AS qqv, n2 AS qn2 FROM n WHERE vec_id < 10
), p AS (
  SELECT q.query_id, n.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.qqv, n.qv) / sqrt(q.qn2 * n.n2), 4) AS cosine
  FROM q JOIN n ON n.vec_id <> q.query_id
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM p
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5
"""


@_q("knn_int8", _KNN_INT8_ORACLE)
def knn_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized ANN: int8 per-vector symmetric quantization, exact
    integer dots — the oracle reproduces the quantization and ranking
    bit-for-bit because every arithmetic step is engine-deterministic
    (integer sums + one double divide), unlike float-vector cosine."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return simi.knn_int8(e, queries, k=5)


_KNN_IVF_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cent AS (
  SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 16
), asg AS (
  -- assignment sims rounded to 12dp (both engines): a last-ulp
  -- near-tie collapses to an exact tie resolved by centroid_id
  SELECT vec_id, v, centroid_id AS cluster FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 12) DESC,
                      c.centroid_id ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, qv, centroid_id AS cluster FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND(list_cosine_similarity(q.v, c.cv), 12) DESC,
                      c.centroid_id ASC) AS rn
    FROM e q CROSS JOIN cent c WHERE q.vec_id < 10
  ) WHERE rn <= 4
), p AS (
  SELECT probes.query_id, asg.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(probes.qv, asg.v), 4) AS cosine
  FROM probes JOIN asg ON probes.cluster = asg.cluster
  WHERE asg.vec_id <> probes.query_id
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM p
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5
"""


@_q("knn_ivf", _KNN_IVF_ORACLE)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Untrained-quantizer IVF probe. Every step is deterministic
    (centroids = first 16 ids, argmax assignment with smallest-id
    ties, nprobe=4 probes, rounded ranking), so the full pipeline —
    assignment, probing, pruned scoring — is reproduced by the oracle.
    Sub-ulp float summation-order gaps between engines are absorbed at
    every ranking step: assignment and probe-selection sims round to
    12dp BEFORE their ROW_NUMBER tie-breaks (both engines, so a
    near-tie resolves by centroid_id identically) and final scores
    round to 4dp."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return simi.ivf_topk(e, queries, k=5, num_centroids=16, nprobe=4)


# =====================================================================
# Text analysis (SURVEY.md §2.13)
# =====================================================================


def _lang_scores_sql() -> str:
    parts = []
    for lang in sorted(STOPWORDS):
        lst = _sql_list(STOPWORDS[lang])
        parts.append(
            f"SELECT doc_id, '{lang}' AS cand_lang, "
            f"CAST(len(list_intersect(string_split(text, ' '), {lst})) AS BIGINT) AS score "
            f"FROM documents"
        )
    return " UNION ALL ".join(parts)


_LANG_ID_ORACLE = f"""
WITH scores AS (
  {_lang_scores_sql()}
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, cand_lang ASC) AS rn
  FROM scores
)
SELECT doc_id, cand_lang AS pred_lang, score FROM r WHERE rn = 1
"""


@_q("lang_id", _LANG_ID_ORACLE)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return ta.language_id(d)


_SW = _sql_list(ENGLISH_STOPWORDS)
# 4dp rounding spelled FLOOR(x*1e4 + 0.5)/1e4, NOT ROUND: these are
# rational ratios that land on exact .xxxx5 boundaries where the two
# engines' ROUND implementations disagree on the same double (observed
# at sf0.1); the floor form is pure IEEE and evaluates identically.
_QUALITY_ORACLE = f"""
SELECT doc_id,
       CAST(LENGTH(text) AS BIGINT) AS n_chars,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       FLOOR((CAST(LENGTH(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
             / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0 AS avg_word_len,
       FLOOR((CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
             / LENGTH(text)) * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
       FLOOR((CAST(len(list_intersect(string_split(text, ' '), {_SW})) AS DOUBLE)
             / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
       FLOOR((LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0) * 0.5
             + (CAST(len(list_intersect(string_split(text, ' '), {_SW})) AS DOUBLE)
                / len(string_split(text, ' '))) * 0.4
             + (1.0 - LEAST((CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                             / LENGTH(text)) * 10.0, 1.0)) * 0.1) * 10000.0 + 0.5) / 10000.0 AS quality_score
FROM documents
"""


@_q("quality_scores", _QUALITY_ORACLE)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return ta.quality_scores(d)


_TOKEN_ORACLE = r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
       CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS est_tokens_chars4
FROM documents
"""


@_q("token_counts", _TOKEN_ORACLE)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return ta.token_counts(d)


_WINNOW_ORACLE = r"""
WITH h AS (
  SELECT doc_id,
         list_transform(range(1, GREATEST(LENGTH(text) - 7, 0) + 1),
           i -> ('0x' || substr(md5(substring(text, CAST(i AS INTEGER), 8)),
                 1, 15))::BIGINT) AS hs
  FROM documents WHERE text IS NOT NULL
), m AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 4 THEN
           list_distinct(list_transform(range(1, len(hs) - 2),
             j -> list_min(list_slice(hs, CAST(j AS INTEGER),
                                      CAST(j + 3 AS INTEGER)))))
         ELSE [] END AS fps
  FROM h
)
SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp FROM m
"""


@_q("winnow_fingerprints", _WINNOW_ORACLE)
def winnow_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003, the MOSS
    algorithm): per-window minima of character-8-gram hashes, window
    4 — the position-aware near-dup/plagiarism sketch with the paper's
    guarantee that any shared substring of length >= k+w-1 (11 chars)
    lands at least one identical fingerprint in both documents. Pure
    per-row JVM array lambdas; hashes are the engine-portable 60-bit
    md5 so the oracle replays the whole sketch (window arithmetic
    note: Spark's sequence is end-INCLUSIVE, DuckDB's range
    end-EXCLUSIVE — the bounds differ by one on purpose)."""
    d = load_table(spark, sf_dir, "documents")
    return ta.winnow_fingerprints(d, k=8, w=4)


_WINNOW_MATCH_ORACLE = r"""
WITH h AS (
  SELECT doc_id,
         list_transform(range(1, GREATEST(LENGTH(text) - 7, 0) + 1),
           i -> ('0x' || substr(md5(substring(text, CAST(i AS INTEGER), 8)),
                 1, 15))::BIGINT) AS hs
  FROM documents WHERE text IS NOT NULL
), m AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 4 THEN
           list_distinct(list_transform(range(1, len(hs) - 2),
             j -> list_min(list_slice(hs, CAST(j AS INTEGER),
                                      CAST(j + 3 AS INTEGER)))))
         ELSE [] END AS fpl
  FROM h
), fps AS MATERIALIZED (
  SELECT doc_id, unnest(fpl) AS fp FROM m
), rare AS MATERIALIZED (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 1000
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fps a
JOIN rare r ON a.fp = r.fp
JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 2
"""


@_q("winnow_matches", _WINNOW_MATCH_ORACLE)
def winnow_matches_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MOSS report stage over ``winnow_fingerprints``: document
    pairs sharing >= 2 selected fingerprints (each witnesses a shared
    >= 8-char substring), with over-frequent fingerprints (> 1000
    docs — boilerplate) culled before the self-join, the stop-shingle
    discipline. One fingerprint equi-join; pair output bounded by
    true matches."""
    d = load_table(spark, sf_dir, "documents")
    return ta.winnow_matches(d, k=8, w=4, min_shared=2, max_fp_df=1000)


_WINNOW_TOPM_ORACLE = r"""
WITH h AS (
  SELECT doc_id,
         list_transform(range(1, GREATEST(LENGTH(text) - 7, 0) + 1),
           i -> ('0x' || substr(md5(substring(text, CAST(i AS INTEGER), 8)),
                 1, 15))::BIGINT) AS hs
  FROM documents WHERE text IS NOT NULL
), m AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 4 THEN
           list_distinct(list_transform(range(1, len(hs) - 2),
             j -> list_min(list_slice(hs, CAST(j AS INTEGER),
                                      CAST(j + 3 AS INTEGER)))))
         ELSE [] END AS fpl
  FROM h
), fps AS MATERIALIZED (
  SELECT doc_id, unnest(fpl) AS fp FROM m
), rare AS MATERIALIZED (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 1000
), pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM fps a
  JOIN rare r ON a.fp = r.fp
  JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= 2
), sym AS (
  SELECT id_a AS doc_id, id_b AS match_id, n_shared FROM pairs
  UNION ALL
  SELECT id_b AS doc_id, id_a AS match_id, n_shared FROM pairs
)
SELECT * FROM (
  SELECT doc_id, match_id, n_shared,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY n_shared DESC, match_id
         ) AS BIGINT) AS rank
  FROM sym
) WHERE rank <= 3
"""


@_q("winnow_matches_topm", _WINNOW_TOPM_ORACLE)
def winnow_matches_topm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED MOSS report (r9): each document's top-3 strongest
    matches by shared winnowing fingerprints, (n_shared DESC,
    match_id ASC) tie-break — O(docs · m) output where the exhaustive
    ``winnow_matches`` is output-bound on dup-saturated corpora
    (9.68M true pairs at sf0.1, VERDICT r8). Same candidate plan (fp
    equi-join under the stop-fp cap), one per-doc window on top."""
    d = load_table(spark, sf_dir, "documents")
    return ta.winnow_matches_topm(
        d, k=8, w=4, min_shared=2, max_fp_df=1000, m=3
    )


# The PRODUCTION form's oracle: the adaptive stop-fingerprint cap is
# itself SQL-computable — clamp(ceil(count(*)/100), 16, 1000) over the
# non-null-text docs — so the 145x-cheaper "auto" path (VERDICT r9:
# 10.08M -> 69k pairs, 4.6x faster on the dup-saturated harness corpus)
# gets its own external hash instead of hiding behind the static-1000
# gate twin. Identical plan otherwise; only the rare-CTE threshold is
# derived instead of pinned.
_WINNOW_TOPM_AUTO_ORACLE = r"""
WITH h AS (
  SELECT doc_id,
         list_transform(range(1, GREATEST(LENGTH(text) - 7, 0) + 1),
           i -> ('0x' || substr(md5(substring(text, CAST(i AS INTEGER), 8)),
                 1, 15))::BIGINT) AS hs
  FROM documents WHERE text IS NOT NULL
), m AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 4 THEN
           list_distinct(list_transform(range(1, len(hs) - 2),
             j -> list_min(list_slice(hs, CAST(j AS INTEGER),
                                      CAST(j + 3 AS INTEGER)))))
         ELSE [] END AS fpl
  FROM h
), fps AS MATERIALIZED (
  SELECT doc_id, unnest(fpl) AS fp FROM m
), cap AS MATERIALIZED (
  SELECT CAST(LEAST(1000, GREATEST(16, CEIL(COUNT(*) / 100.0))) AS BIGINT)
         AS cap
  FROM documents WHERE text IS NOT NULL
), rare AS MATERIALIZED (
  SELECT fp FROM fps GROUP BY fp
  HAVING COUNT(*) <= (SELECT cap FROM cap)
), pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM fps a
  JOIN rare r ON a.fp = r.fp
  JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= 2
), sym AS (
  SELECT id_a AS doc_id, id_b AS match_id, n_shared FROM pairs
  UNION ALL
  SELECT id_b AS doc_id, id_a AS match_id, n_shared FROM pairs
)
SELECT * FROM (
  SELECT doc_id, match_id, n_shared,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY n_shared DESC, match_id
         ) AS BIGINT) AS rank
  FROM sym
) WHERE rank <= 3
"""


@_q("winnow_matches_topm_auto", _WINNOW_TOPM_AUTO_ORACLE)
def winnow_matches_topm_auto_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded MOSS report in its PRODUCTION parameterization
    (r10, VERDICT r9 task 2): ``max_fp_df="auto"`` — the adaptive
    fraction-of-corpus stop-fingerprint cap, clamp(ceil(1% of docs),
    16, 1000), which the oracle derives in SQL rather than pinning,
    so the form a 100 TB corpus would actually run faces the external
    hash directly (the static-1000 twin above stays for parameter-
    stable continuity). Measured r9: the auto cap cut the pair
    aggregate 10.08M -> 69k (145x) and wall 4.6x on the dup-saturated
    harness corpus."""
    d = load_table(spark, sf_dir, "documents")
    return ta.winnow_matches_topm(
        d, k=8, w=4, min_shared=2, max_fp_df="auto", m=3
    )


@_q("winnow_fingerprints_xx")  # no oracle, documented structural
# class: JVM xxhash64 has no DuckDB counterpart (the simhash
# precedent). The winnowing GUARANTEE for this form is property-
# tested (tests/test_properties.py: planted >= k+w-1 shared
# substrings always share a fingerprint under BOTH hash_fns), and
# the md5 twin above replays fully in SQL — same plan, different
# gram hash.
def winnow_fingerprints_xx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of ``winnow_fingerprints``: identical
    winnowing plan with the native 64-bit xxhash64 gram hash in place
    of the md5+conv chain (~10x cheaper per gram — benched against
    the oracle form in bench.py). Selection differs from the md5 form
    by construction (each hash induces its own per-window minima);
    the MOSS guarantee is hash-agnostic and holds for both."""
    d = load_table(spark, sf_dir, "documents")
    return ta.winnow_fingerprints(d, k=8, w=4, hash_fn="xxhash64")


_TOKEN_BUDGET_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         LENGTH(text) AS len,
         CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT)
           AS n_tokens
  FROM documents WHERE text IS NOT NULL
), c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY len DESC, doc_id) AS cum_tokens
  FROM t
)
SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens <= 3000
"""


@_q("token_budget_select", _TOKEN_BUDGET_ORACLE)
def token_budget_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: keep the longest-first prefix of
    the corpus whose inclusive cumulative whitespace-token count stays
    within the budget — the release-cut every pretraining run ends
    with. The running total is the DISTRIBUTED two-phase prefix sum
    (``global_cumsum``, no single-partition Window — plan-asserted
    like global_rank's consumers); the oracle replays it with a plain
    windowed SUM. Order key is LENGTH(text) (non-null by the filter)
    with doc_id as the unique tie-break."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "_len", F.length("text")
    )
    return ta.token_budget_select(
        d, 3000, [F.desc("_len"), F.asc("doc_id")]
    )


_FINGERPRINT_ORACLE = r"""
SELECT doc_id,
       md5(TRIM(REGEXP_REPLACE(LOWER(REGEXP_REPLACE(text, '[^\w\d\s\.,!?;:\-\(\)]', ' ', 'g')), '\s+', ' ', 'g'))) AS fingerprint_md5,
       CAST(LENGTH(TRIM(REGEXP_REPLACE(LOWER(REGEXP_REPLACE(text, '[^\w\d\s\.,!?;:\-\(\)]', ' ', 'g')), '\s+', ' ', 'g'))) AS BIGINT) AS norm_length
FROM documents
"""


@_q("doc_fingerprint", _FINGERPRINT_ORACLE)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return ta.fingerprint(d).select("doc_id", "fingerprint_md5", "norm_length")


# =====================================================================
# Window-frame / join-shape extensions (beyond the reference's W1)
# =====================================================================

_ASOF_ORACLE = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT p.event_id,
       p.user_id,
       c.event_id AS prior_click_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


@_q("events_asof_join", _ASOF_ORACLE)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.asof_latest_prior(load_table(spark, sf_dir, "events"))


_LAG_ORACLE = """
SELECT event_id, user_id,
       ROUND(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS value_delta
FROM events
"""


@_q("events_user_lag", _LAG_ORACLE)
def events_user_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.user_value_deltas(load_table(spark, sf_dir, "events"))


_ROLLING_ORACLE = """
SELECT event_id, user_id,
       ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4) AS avg_value_1h
FROM events
"""


@_q("events_rolling_1h", _ROLLING_ORACLE)
def events_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.rolling_hour_avg(load_table(spark, sf_dir, "events"))


_W1_EVENTS_ORACLE = """
SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
FROM (
  SELECT user_id, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) t
WHERE rn = 1
"""


@_q("first_event_per_user", _W1_EVENTS_ORACLE)
def first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_to_rag_spark.operators.silver import dedup_keep_first

    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    first = dedup_keep_first(e, ["user_id"], ["ts", "event_id"])
    return first.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
    )


_ROLLUP_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 4) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""

QUERIES["orders_rollup"] = tpch.orders_rollup
ORACLES["orders_rollup"] = _ROLLUP_ORACLE

_ANTI_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""

QUERIES["customers_without_orders"] = tpch.customers_without_orders
ORACLES["customers_without_orders"] = _ANTI_ORACLE


# Centroid values are quantized to integer milli-units BEFORE the sum
# so the aggregate is exact integer math — no float rounding boundary
# can diverge between engines (avg of doubles sits within one ulp of a
# .00005 boundary for ~1/1000 outputs, which a 4dp round then flips).
_CENTROID_ORACLE = """
WITH e AS (
  SELECT label, embedding, unnest(range(1, 65)) AS i FROM embeddings
)
SELECT label, CAST(i - 1 AS BIGINT) AS dim,
       CAST(SUM(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000)) AS BIGINT) AS centroid_milli_sum,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM e
GROUP BY label, i
"""


@_q("embedding_centroids", _CENTROID_ORACLE)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("label", F.col("dim").cast("long").alias("dim"))
        .agg(
            F.sum(F.floor(F.col("val").cast("double") * 1000))
            .cast("long")
            .alias("centroid_milli_sum"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


_MEDALLION_STATS_ORACLE = r"""
WITH bronze AS (
  SELECT TRIM(text) AS content FROM documents
  WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0
), silver AS (
  SELECT content FROM (
    SELECT TRIM(REGEXP_REPLACE(LOWER(REGEXP_REPLACE(TRIM(text), '[^\w\d\s\.,!?;:\-\(\)]', ' ', 'g')), '\s+', ' ', 'g')) AS content,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY doc_id) AS rn
    FROM documents WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0
  ) t WHERE rn = 1 AND LENGTH(content) > 50
)
SELECT 'bronze' AS table_name, ROUND(AVG(LENGTH(content)), 4) AS avg_length,
       CAST(MIN(LENGTH(content)) AS BIGINT) AS min_length,
       CAST(MAX(LENGTH(content)) AS BIGINT) AS max_length
FROM bronze
UNION ALL
SELECT 'silver' AS table_name, ROUND(AVG(LENGTH(content)), 4) AS avg_length,
       CAST(MIN(LENGTH(content)) AS BIGINT) AS min_length,
       CAST(MAX(LENGTH(content)) AS BIGINT) AS max_length
FROM silver
"""


@_q("medallion_stats", _MEDALLION_STATS_ORACLE)
def medallion_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    layers = run_medallion(spark, sf_dir)
    stats = analytics.content_length_stats(
        {"bronze": layers["bronze"], "silver": layers["silver"]}
    )
    return stats.select(
        "table_name",
        "avg_length",
        F.col("min_length").cast("long").alias("min_length"),
        F.col("max_length").cast("long").alias("max_length"),
    )


_SESSION_INTERVALS_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, event_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM g
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id, session_seq
"""


@_q("session_intervals", _SESSION_INTERVALS_ORACLE)
def session_intervals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = ev.session_intervals(load_table(spark, sf_dir, "events"))
    return s.select(
        "user_id",
        F.col("session_seq").cast("long").alias("session_seq"),
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    )


_RANGE_JOIN_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), seq AS (
  SELECT user_id, ts, event_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM g
), s AS (
  SELECT user_id, session_seq, MIN(ts) AS session_start, MAX(ts) AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM seq GROUP BY user_id, session_seq
)
SELECT e.event_id, e.user_id,
       CAST(s.session_seq AS BIGINT) AS session_seq,
       s.n_events AS session_size
FROM events e
JOIN s ON e.user_id = s.user_id
      AND e.ts >= s.session_start AND e.ts <= s.session_end
"""


@_q("events_session_range_join", _RANGE_JOIN_ORACLE)
def events_session_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.tag_events_with_session(load_table(spark, sf_dir, "events"))


_MULTI_ROLLUP_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS bucket_hour,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket_day,
       strftime(date_trunc('month', ts), '%Y-%m') AS bucket_month,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY GROUPING SETS ((bucket_hour), (bucket_day), (bucket_month))
"""


@_q("events_multi_rollup", _MULTI_ROLLUP_ORACLE)
def events_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.multi_resolution_rollup(load_table(spark, sf_dir, "events"))


@_q("knn_bruteforce_numpy", _KNN_ORACLE)  # same oracle: paths proven equal
def knn_bruteforce_numpy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return simi.knn_bruteforce_numpy(e, queries, k=5)


_PERCENTILE_ORACLE = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.95), 4) AS p95,
       ROUND(MIN(value), 4) AS min_value,
       ROUND(MAX(value), 4) AS max_value
FROM events
GROUP BY event_type
"""


@_q("events_value_percentiles", _PERCENTILE_ORACLE)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == ANSI
    PERCENTILE_CONT == DuckDB quantile_cont). At 100 TB swap in
    percentile_approx: exact percentile holds the full group in
    memory; the t-digest sketch does not."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


_CUBE_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(AVG(o_totalprice), 4) AS avg_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@_q("orders_cube", _CUBE_ORACLE)
def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


@_q("events_type_pivot_native", ORACLES["events_type_pivot"])
def events_type_pivot_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as events_type_pivot but via the DataFrame pivot API
    (fixed value list -> no extra pass to discover pivot columns)."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    types = ["click", "view", "purchase", "signup", "error"]
    p = (
        e.groupBy(day)
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]
    )


# Hyperplane-LSH replay (upgraded from rows-only in round 5): the
# hyperplane matrix is md5-derived — md5('lsh:{seed}:{bit}:{dim}')'s
# top 60 bits mapped to [-0.5, 0.5), bit-exact in every engine (a
# 60-bit integer and a power-of-two division each have one
# representable double) — so signatures, banding, candidates, and
# exact-cosine verification all replay in SQL. The sign dot rounds
# to 12dp in both engines before the >= 0 test.
_EMBEDDING_LSH_ORACLE = """
WITH raw AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), hp AS (
  SELECT d, b,
         ('0x' || substr(md5('lsh:42:' || b || ':' || d), 1, 15))::BIGINT
           / 1152921504606846976.0 - 0.5 AS w
  FROM (SELECT unnest(range(64)) AS d)
  CROSS JOIN (SELECT unnest(range(32)) AS b)
), comps AS (
  SELECT vec_id AS id, unnest(v) AS xv,
         generate_subscripts(v, 1) - 1 AS d
  FROM raw
), bits AS (
  SELECT c.id, hp.b, ROUND(SUM(c.xv * hp.w), 12) >= 0 AS bit
  FROM comps c JOIN hp ON hp.d = c.d
  GROUP BY c.id, hp.b
), bands AS (
  SELECT id, b // 4 AS band,
         SUM(CASE WHEN bit THEN 1 << (b % 4) ELSE 0 END) AS bval
  FROM bits GROUP BY id, b // 4
), cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bval = y.bval AND x.id < y.id
)
SELECT c.id_a, c.id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 4) AS cosine
FROM cand c
JOIN raw a ON a.vec_id = c.id_a
JOIN raw b ON b.vec_id = c.id_b
WHERE list_cosine_similarity(a.v, b.v) >= 0.4
"""


@_q("dedup_embedding_lsh", _EMBEDDING_LSH_ORACLE)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH embedding near-dup with exact verification; the
    md5-derived hyperplanes make the banding fully SQL-replayable
    (see _EMBEDDING_LSH_ORACLE), so this entry is hash-checked
    end-to-end rather than rows-only."""
    e = load_table(spark, sf_dir, "embeddings")
    return dd.embedding_lsh_pairs(e, threshold=0.4)


_INTERSECT_ORACLE = """
SELECT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
"""


@_q("users_click_and_purchase", _INTERSECT_ORACLE)
def users_click_and_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id")
    buys = e.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(buys)


_EXCEPT_ORACLE = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'purchase'
"""


@_q("users_click_no_purchase", _EXCEPT_ORACLE)
def users_click_no_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id")
    buys = e.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.subtract(buys)  # EXCEPT = set difference, distinct output


_SEQ_ORACLE = """
SELECT user_id,
       string_agg(event_type, ',' ORDER BY ts, event_id) AS event_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
"""


@_q("user_event_sequences", _SEQ_ORACLE)
def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event-type sequence per user (collect_list is unordered
    in a distributed agg — sort_array over (ts,event_id,type) structs
    restores a deterministic order before joining)."""
    e = load_table(spark, sf_dir, "events")
    packed = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    return e.groupBy("user_id").agg(
        F.array_join(
            F.transform(packed, lambda s: s["event_type"]), ","
        ).alias("event_seq"),
        F.count(F.lit(1)).alias("n_events"),
    )


_HISTOGRAM_ORACLE = """
SELECT CAST(FLOOR(value / 20.0) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 4) AS total
FROM events
GROUP BY 1
"""


@_q("events_value_histogram", _HISTOGRAM_ORACLE)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.floor(F.col("value") / 20.0).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total"),
    )


_Q7_ORACLE = """
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS ship_year,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS volume
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
"""

QUERIES["q7_nation_volume"] = tpch.q7_nation_volume
ORACLES["q7_nation_volume"] = _Q7_ORACLE


_SALTED_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS total_value,
       ROUND(MIN(value), 4) AS min_value,
       ROUND(MAX(value), 4) AS max_value
FROM events
GROUP BY user_id
"""


@_q("salted_user_stats", _SALTED_ORACLE)
def salted_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation — must equal the direct groupBy
    (oracle) while spreading any hot user over 16 reducers.
    NB: min/max round AFTER combine; sum is combined unrounded."""
    from lakehouse_to_rag_spark.operators.skew import salted_agg

    e = load_table(spark, sf_dir, "events")
    out = salted_agg(
        e,
        ["user_id"],
        {
            "n_events": ("value", "count"),
            "total_value": ("value", "sum"),
            "min_value": ("value", "min"),
            "max_value": ("value", "max"),
        },
    )
    return out.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("total_value", 4).alias("total_value"),
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
    )


_CORRELATED_ORACLE = """
SELECT o.o_orderkey, o.o_custkey, ROUND(o.o_totalprice, 4) AS totalprice
FROM orders o
WHERE o.o_totalprice > (
  SELECT 1.5 * AVG(o2.o_totalprice) FROM orders o2
  WHERE o2.o_custkey = o.o_custkey
)
"""


@_q("orders_above_customer_avg", _CORRELATED_ORACLE)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery via the SQL API (S7 parity +
    Catalyst decorrelation: the subquery rewrites to one aggregate +
    join, not a per-row re-execution — check the plan for a single
    Aggregate)."""
    from lakehouse_to_rag_spark.sources.tables import register_views

    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, ROUND(o.o_totalprice, 4) AS totalprice
        FROM orders o
        WHERE o.o_totalprice > (
          SELECT 1.5 * AVG(o2.o_totalprice) FROM orders o2
          WHERE o2.o_custkey = o.o_custkey
        )
        """
    )


_TFIDF_ORACLE = """
WITH words AS (
  SELECT doc_id, unnest(string_split(LOWER(text), ' ')) AS word
  FROM documents
), tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM words
  WHERE LENGTH(word) > 3 GROUP BY doc_id, word
), df AS (
  SELECT word, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY word
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.word,
         ROUND(tf.tf * ROUND(LN(CAST(n.n_docs AS DOUBLE) / df.df), 6), 4) AS tfidf
  FROM tf JOIN df USING (word) CROSS JOIN n
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, word ASC) AS rn
  FROM scored
)
SELECT doc_id, word, tfidf, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= 3
"""


@_q("tfidf_top_terms", _TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf-idf. The idf is rounded to 6dp
    BEFORE the tf multiply on both engines — ln() is transcendental
    and libm vs JVM may differ in the last ulp; quantizing the idf
    removes that surface."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ", -1)).alias("word")
    ).filter(F.length("word") > 3)
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()
    idf = F.round(F.log(F.lit(float(n_docs)) / F.col("df")), 6)
    scored = tf.join(df_, "word").select(
        "doc_id", "word", F.round(F.col("tf") * idf, 4).alias("tfidf")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "word", "tfidf", F.col("rank").cast("long").alias("rank"))
    )


# spark.ml MinHashLSH path — same exact-jaccard verification, 8 hash
# tables give effectively total recall at j>=0.5 (verified equal to
# the exact pair set at sf 0.001/0.01/0.1)
@_q("dedup_minhash_ml", _NGRAM_JACCARD_ORACLE)
def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs_ml(d, "doc_id", "text")


_BIGRAM_ORACLE = """
WITH w AS (
  SELECT string_split(LOWER(text), ' ') AS words FROM documents
), grams AS (
  SELECT unnest(list_transform(range(1, GREATEST(len(words), 1)),
                               i -> words[i] || ' ' || words[i+1])) AS bigram
  FROM w
)
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS frequency
FROM grams
GROUP BY bigram
ORDER BY frequency DESC, bigram ASC
LIMIT 20
"""


@_q("bigram_freq_top20", _BIGRAM_ORACLE)
def bigram_freq_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram frequency top-k (n-gram text analysis; same shape
    as word_freq but over 2-gram lateral arrays)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower("text"), " ", -1)
    base = d.select(words.alias("_words"))
    idx = F.sequence(F.lit(1), F.greatest(F.size("_words") - 1, F.lit(1)))
    gram = F.when(
        F.size("_words") >= 2,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("_words"), i),
                F.element_at(F.col("_words"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        base.select(F.explode(gram).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("frequency"))
        .orderBy(F.desc("frequency"), F.asc("bigram"))
        .limit(20)
    )


_PII_ORACLE = r"""
SELECT doc_id,
       REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[REDACTED]', 'g'),
         '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[REDACTED]', 'g'),
         '\b\d{3}-\d{2}-\d{4}\b', '[REDACTED]', 'g') AS redacted_text,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn
FROM documents
"""


@_q("pii_redaction", _PII_ORACLE)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return ta.redact_pii(d)


# fixed "benchmark" trigrams for the decontamination check — chosen
# from the synthetic corpus vocabulary so some documents actually hit
_BENCH_NGRAMS = [
    "the fast key",
    "join order batch",
    "window small hash",
    "group query row",
]

_CONTAM_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, GREATEST(len(words) - 1, 1)),
                       i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingles
  FROM w
)
SELECT doc_id,
       CAST(len(list_intersect(shingles,
            {_sql_list(_BENCH_NGRAMS)})) AS BIGINT) AS n_contaminated_ngrams,
       len(list_intersect(shingles, {_sql_list(_BENCH_NGRAMS)})) > 0 AS is_contaminated
FROM sh
"""


@_q("contamination_check", _CONTAM_ORACLE)
def contamination_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return ta.contamination_check(d, _BENCH_NGRAMS)


_CURATION_ORACLE = r"""
WITH scored AS (
  SELECT doc_id, text,
         LENGTH(text) AS n_chars,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
), kept AS (
  SELECT doc_id, text FROM scored
  WHERE n_chars >= 100 AND n_chars <= 2000 AND n_tokens >= 20
), dedup AS (
  SELECT md5(text) AS h, MIN(doc_id) AS keep_id FROM kept GROUP BY md5(text)
)
SELECT CAST(keep_id AS BIGINT) AS doc_id FROM dedup
"""


@_q("curation_pipeline", _CURATION_ORACLE)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation: length/token filters -> exact dedup -> kept
    ids. The composition stays one lazy plan: filters reach the scan,
    the dedup groupBy is the only shuffle."""
    d = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_tokens = F.size(F.split(F.col("text"), " ", -1))
    kept = d.filter(
        (n_chars >= 100) & (n_chars <= 2000) & (n_tokens >= 20)
    )
    return (
        kept.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


_CLUSTERS_ORACLE = """
WITH RECURSIVE sym AS (
  SELECT id_a AS u, id_b AS v FROM (
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, GREATEST(len(words) - 1, 1)),
                    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
      FROM w
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
  )
  UNION
  SELECT id_b, id_a FROM (
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, GREATEST(len(words) - 1, 1)),
                    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
      FROM w
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
  )
), reach(id, r) AS (
  SELECT u, v FROM sym
  UNION
  SELECT reach.id, sym.v FROM reach JOIN sym ON reach.r = sym.u
)
SELECT id AS doc_id,
       CAST(LEAST(id, MIN(r)) AS BIGINT) AS cluster_root,
       LEAST(id, MIN(r)) = id AS is_kept
FROM reach
GROUP BY id
"""


@_q("dedup_clusters", _CLUSTERS_ORACLE)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (exact jaccard >= 0.5) -> connected components
    (iterative min-label propagation) -> canonical keeper per cluster.
    Oracle: recursive-CTE transitive closure in DuckDB."""
    from lakehouse_to_rag_spark.operators.graph import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    # uncapped: same oracle-semantics pin as dedup_ngram_jaccard
    pairs = dd.ngram_jaccard_pairs(
        d, "doc_id", "text", 3, 0.5, max_shingle_df=None
    )
    return dedup_clusters(pairs)


@_q("dedup_clusters_star", _CLUSTERS_ORACLE)
def dedup_clusters_star_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same cluster formation through the O(log^2 n)-round
    large-star/small-star alternation (Kiveris et al., SoCC 2014)
    instead of O(diameter)-round min-label propagation — the twin
    that survives chain-shaped duplicate graphs (transitive near-dup
    chains with diameter in the thousands, where propagation's round
    count IS the diameter). Same oracle verbatim: both engines must
    produce identical components."""
    from lakehouse_to_rag_spark.operators.graph import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(
        d, "doc_id", "text", 3, 0.5, max_shingle_df=None
    )
    return dedup_clusters(pairs, backend="star")


_KEEP_BEST_ORACLE = """
WITH RECURSIVE p AS MATERIALIZED (
  SELECT id_a, id_b FROM (
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, GREATEST(len(words) - 1, 1)),
                    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
      FROM w
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
  )
), sym AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM p
  UNION
  SELECT id_b, id_a FROM p
), reach(id, r) AS (
  SELECT u, v FROM sym
  UNION
  SELECT reach.id, sym.v FROM reach JOIN sym ON reach.r = sym.u
), comp AS MATERIALIZED (
  SELECT id AS doc_id, CAST(LEAST(id, MIN(r)) AS BIGINT) AS cluster_root
  FROM reach GROUP BY id
), scored AS (
  SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS score FROM documents
), lab AS (
  SELECT s.doc_id,
         COALESCE(c.cluster_root, s.doc_id) AS cluster_root,
         s.score
  FROM scored s LEFT JOIN comp c ON s.doc_id = c.doc_id
)
SELECT doc_id, CAST(cluster_root AS BIGINT) AS cluster_root, score,
       (ROW_NUMBER() OVER (PARTITION BY cluster_root
                           ORDER BY score DESC, doc_id) = 1) AS is_kept
FROM lab
"""


@_q("dedup_keep_best", _KEEP_BEST_ORACLE)
def dedup_keep_best_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor selection (r10): inside each
    near-dup cluster the kept doc is the highest-scoring member
    (content length here — the 'keep the longest version' policy;
    min-id on ties), singletons keep themselves — the curation-grade
    upgrade over dedup_clusters' arbitrary min-id keeper. Components
    + one left join + one per-cluster window; oracle replays the
    closure recursively and ranks in SQL."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(
        d, "doc_id", "text", 3, 0.5, max_shingle_df=None
    )
    scored = d.select(
        "doc_id", F.length("text").cast("long").alias("score")
    )
    return dd.dedup_keep_best(scored, pairs, score_col="score")


_NOVELTY_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), sh AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, GREATEST(len(words) - 1, 1)),
                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
  FROM w
), dfc AS MATERIALIZED (
  SELECT shingle, COUNT(*) AS c FROM sh GROUP BY shingle
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 4) AS novelty
FROM sh JOIN dfc USING (shingle)
GROUP BY doc_id
"""


@_q("shingle_novelty", _NOVELTY_ORACLE)
def shingle_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle novelty (r10): fraction of a doc's
    distinct trigram shingles with corpus df == 1 — the originality
    signal dual to the stop-shingle cap (boilerplate/templated docs
    score ~0, heavily-quoted docs lose the shared spans). One shingle
    exchange + one id groupBy; integer flag sums, one IEEE division,
    4dp."""
    d = load_table(spark, sf_dir, "documents")
    return dd.shingle_novelty(d)


_OOV_ORACLE = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE LENGTH(word) > 0
), vocab AS MATERIALIZED (
  SELECT word FROM (
    SELECT word, COUNT(*) AS c FROM toks GROUP BY word
    ORDER BY c DESC, word LIMIT 1000
  )
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       ROUND(CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 4) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.word = v.word
GROUP BY t.doc_id
"""


@_q("docs_oov_rate", _OOV_ORACLE)
def docs_oov_rate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate against the corpus's own top-1000 token
    vocabulary (r10): the vocabulary-relative drift/gibberish signal
    complementing lang_id. Deterministic vocab (freq DESC, token ASC),
    TakeOrdered top-k, bounded-vocab broadcast back onto the token
    stream, one groupBy(id)."""
    from lakehouse_to_rag_spark.operators.curation import oov_rate

    d = load_table(spark, sf_dir, "documents")
    return oov_rate(d, vocab_size=1000)


_Q6_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue_delta,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@_q("q6_forecast_revenue", _Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: pure filter + aggregate — the predicate-pushdown
    benchmark (all four filters land in the parquet scan)."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue_delta"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Q10_ORACLE = """
SELECT c.c_custkey, c.c_name,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


@_q("q10_returned_items", _Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: customers who returned the most revenue.
    customer broadcast; returnflag filter pushed to the lineitem scan."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum(revenue), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_FUNNEL_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(t_signup) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN t_click > t_signup THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_then_click,
       CAST(SUM(CASE WHEN t_purchase > t_click AND t_click > t_signup
                THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
FROM firsts
"""


@_q("events_funnel", _FUNNEL_ORACLE)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup -> click -> purchase): first
    occurrence per step via conditional MIN (one groupBy, no joins or
    windows), then ordered-step counts."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        F.sum(
            F.when(F.col("t_click") > F.col("t_signup"), 1).otherwise(0)
        ).cast("long").alias("n_signup_then_click"),
        F.sum(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_signup")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_full_funnel"),
    )


_ANOMALY_ORACLE = """
WITH r AS (
  SELECT user_id, event_id, value,
         COUNT(*) OVER w AS n,
         SUM(value) OVER w AS s,
         SUM(value * value) OVER w AS s2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id,
       ROUND(value, 4) AS value,
       ROUND(CASE WHEN n >= 10 AND SQRT(GREATEST(s2/n - (s/n)*(s/n), 0.0)) > 0
                  THEN (value - s/n) / SQRT(GREATEST(s2/n - (s/n)*(s/n), 0.0))
                  ELSE 0.0 END, 4) AS zscore,
       (ABS(CASE WHEN n >= 10 AND SQRT(GREATEST(s2/n - (s/n)*(s/n), 0.0)) > 0
                 THEN (value - s/n) / SQRT(GREATEST(s2/n - (s/n)*(s/n), 0.0))
                 ELSE 0.0 END) > 3.0 AND n >= 10) AS is_anomaly
FROM r
"""


@_q("events_running_anomalies", _ANOMALY_ORACLE)
def events_running_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.running_anomalies_batch(load_table(spark, sf_dir, "events"))


# =====================================================================
# TPC-H-style round 2: Q2/Q8/Q9/Q11/Q12/Q14/Q16/Q18/Q19/Q22 analogues
# (adapted to the harness schema: no partsupp / l_shipmode — see each
# operator docstring in operators/tpch.py)
# =====================================================================

_Q2_ORACLE = """
WITH costs AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_size = 15 AND p_type = 'STANDARD'
  GROUP BY 1, 2
), best AS (
  SELECT partkey, suppkey, unit_cost,
         ROW_NUMBER() OVER (PARTITION BY partkey
                            ORDER BY unit_cost, suppkey) AS rn
  FROM costs
)
SELECT b.partkey, p.p_name AS part_name, b.suppkey,
       s.s_name AS supplier_name, s.s_acctbal AS supplier_acctbal,
       b.unit_cost
FROM best b
JOIN part p ON b.partkey = p.p_partkey
JOIN supplier s ON b.suppkey = s.s_suppkey
WHERE b.rn = 1
"""

QUERIES["q2_min_cost_supplier"] = tpch.q2_min_cost_supplier
ORACLES["q2_min_cost_supplier"] = _Q2_ORACLE

_Q8_ORACLE = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
       ROUND(SUM(CASE WHEN n2.n_name = 'NATION_7'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0.0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
GROUP BY 1
"""

QUERIES["q8_market_share"] = tpch.q8_market_share
ORACLES["q8_market_share"] = _Q8_ORACLE

_Q9_ORACLE = """
SELECT n_name AS nation,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
       ROUND(SUM(l_extendedprice * (1 - l_discount)
                 - 0.1 * p_retailprice * l_quantity), 4) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%bolt%'
GROUP BY 1, 2
"""

QUERIES["q9_profit"] = tpch.q9_profit
ORACLES["q9_profit"] = _Q9_ORACLE

_Q11_ORACLE = """
WITH per_part AS (
  SELECT l_partkey AS partkey,
         SUM(l_extendedprice * (1 - l_discount)) AS part_value
  FROM lineitem GROUP BY 1
)
SELECT partkey, ROUND(part_value, 4) AS part_value
FROM per_part
WHERE part_value > (SELECT SUM(part_value) FROM per_part) * 0.001
"""

QUERIES["q11_important_parts"] = tpch.q11_important_parts
ORACLES["q11_important_parts"] = _Q11_ORACLE

_Q12_ORACLE = """
SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS ship_year,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY 1
"""

QUERIES["q12_late_shipments"] = tpch.q12_late_shipments
ORACLES["q12_late_shipments"] = _Q12_ORACLE

_Q14_ORACLE = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
"""

QUERIES["q14_promo_revenue"] = tpch.q14_promo_revenue
ORACLES["q14_promo_revenue"] = _Q14_ORACLE

_Q15_ORACLE = """
WITH revenue0 AS (
  SELECT l_suppkey AS suppkey,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT suppkey, s_name AS supplier_name, total_revenue
FROM revenue0 JOIN supplier ON suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
"""

QUERIES["q15_top_supplier"] = tpch.q15_top_supplier
ORACLES["q15_top_supplier"] = _Q15_ORACLE

_Q16_ORACLE = """
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       CAST(COUNT(*) AS BIGINT) AS supplier_cnt
FROM (
  SELECT DISTINCT p_brand, p_type, p_size, l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand <> 'Brand#5'
    AND p_size IN (5, 10, 15, 20, 25, 30, 35, 40)
)
GROUP BY 1, 2, 3
"""

QUERIES["q16_supplier_part_counts"] = tpch.q16_supplier_part_counts
ORACLES["q16_supplier_part_counts"] = _Q16_ORACLE

_Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey, SUM(l_quantity) AS total_qty
  FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 250
)
SELECT c_name AS customer_name, c_custkey AS custkey,
       o_orderkey AS orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       ROUND(o_totalprice, 4) AS totalprice,
       ROUND(total_qty, 4) AS total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY totalprice DESC, orderkey ASC
LIMIT 100
"""

QUERIES["q18_large_orders"] = tpch.q18_large_orders
ORACLES["q18_large_orders"] = _Q18_ORACLE

_Q19_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
       AND l_quantity BETWEEN 20 AND 35)
"""

QUERIES["q19_disjunctive_revenue"] = tpch.q19_disjunctive_revenue
ORACLES["q19_disjunctive_revenue"] = _Q19_ORACLE

_Q22_ORACLE = """
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(SUM(c_acctbal), 4) AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY 1
"""

QUERIES["q22_inactive_rich_customers"] = tpch.q22_inactive_rich_customers
ORACLES["q22_inactive_rich_customers"] = _Q22_ORACLE


# =====================================================================
# Training-data curation round 2: repetition signals + deterministic
# split assignment
# =====================================================================

_REPETITION_ORACLE = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), w -> LENGTH(w) > 0) AS ws
  FROM documents WHERE text IS NOT NULL
),
uni AS (
  SELECT doc_id, MAX(c) AS max_uni, SUM(c) AS n_words FROM (
    SELECT doc_id, g, COUNT(*) AS c
    FROM base, unnest(ws) AS t(g)
    GROUP BY doc_id, g
  ) GROUP BY doc_id
),
bi AS (
  SELECT doc_id, MAX(c) AS max_bi, SUM(c) AS n_bigrams FROM (
    SELECT doc_id, g, COUNT(*) AS c
    FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i + 1])) AS g
      FROM base
    )
    GROUP BY doc_id, g
  ) GROUP BY doc_id
)
SELECT u.doc_id,
       CAST(u.n_words AS BIGINT) AS n_words,
       ROUND(u.max_uni / u.n_words, 4) AS top_word_frac,
       COALESCE(ROUND(b.max_bi / b.n_bigrams, 4), 0.0) AS top_bigram_frac,
       (u.max_uni / u.n_words > 0.2
        OR COALESCE(b.max_bi / b.n_bigrams, 0.0) > 0.18) AS is_repetitive
FROM uni u LEFT JOIN bi b USING (doc_id)
"""


@_q("repetition_scores", _REPETITION_ORACLE)
def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.repetition_scores(load_table(spark, sf_dir, "documents"))


_TRAIN_SPLIT_ORACLE = """
SELECT doc_id,
       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
         AS bucket,
       CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80
            THEN 'train'
            WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
            THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


@_q("train_split_assign", _TRAIN_SPLIT_ORACLE)
def train_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.train_split_assign(load_table(spark, sf_dir, "documents"))


_Q13_ORACLE = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""

QUERIES["q13_customer_distribution"] = tpch.q13_customer_distribution
ORACLES["q13_customer_distribution"] = _Q13_ORACLE


_DECILE_ORACLE = """
SELECT event_type,
       CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(MIN(value), 4) AS min_value,
       ROUND(MAX(value), 4) AS max_value
FROM (
  SELECT event_type, value,
         ntile(10) OVER (PARTITION BY event_type
                         ORDER BY value, event_id) AS decile
  FROM events
)
GROUP BY 1, 2
"""


@_q("events_value_deciles", _DECILE_ORACLE)
def events_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile decile buckets per event type (rank-function family the
    registry didn't cover; ties broken on event_id so the bucket
    boundary is deterministic across engines)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return (
        e.select(
            "event_type",
            "value",
            F.ntile(10).over(w).cast("long").alias("decile"),
        )
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
    )


_ATTRIBUTION_ORACLE = """
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       epoch_us(c.ts) AS click_us,
       epoch_us(p.ts) AS purchase_us,
       ROUND(p.value, 4) AS purchase_value
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


@_q("click_attribution", _ATTRIBUTION_ORACLE)
def click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.pipeline.click_purchase_attribution_stream
    (same join graph; timestamps emitted as exact epoch micros)."""
    from lakehouse_to_rag_spark.streaming.pipeline import (
        click_purchase_attribution_stream,
    )

    e = load_table(spark, sf_dir, "events")
    j = click_purchase_attribution_stream(e)
    return j.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
        "purchase_value",
    )


_BINARY_DIGEST_ORACLE = """
SELECT doc_id,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       md5(text) AS digest
FROM documents
WHERE text IS NOT NULL
"""


@_q("multimodal_digest", _BINARY_DIGEST_ORACLE)
def multimodal_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing exercised end-to-end through the driver
    gate: text re-encoded as an opaque binary payload (stand-in for
    image/audio bytes — no media libs in this container), then
    length+md5 via Arrow-batched mapInPandas. DuckDB reproduces the
    digest over the same utf8 bytes, so the whole binary path
    (BinaryType column -> Arrow -> pandas bytes -> result) is
    value-checked, not just smoke-tested."""
    from lakehouse_to_rag_spark.multimodal.ops import binary_digest

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    payloads = d.select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return binary_digest(payloads)


_PNG_STATS_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(8 + doc_id % 9 AS BIGINT) AS w,
         CAST(6 + doc_id % 7 AS BIGINT) AS h
  FROM documents
), px AS (
  SELECT d.doc_id, d.w, d.h, x.range AS x, y.range AS y
  FROM d, range(17) x, range(13) y
  WHERE x.range < d.w AND y.range < d.h
)
SELECT doc_id, MAX(w) AS width, MAX(h) AS height,
       CAST(SUM((x * 255) // (w - 1)) AS DOUBLE) / COUNT(*) AS mean_r,
       CAST(SUM((y * 255) // (h - 1)) AS DOUBLE) / COUNT(*) AS mean_g,
       CAST(SUM((x * y + doc_id) % 256) AS DOUBLE) / COUNT(*) AS mean_b
FROM px
GROUP BY doc_id
"""


@_q("png_pixel_stats", _PNG_STATS_ORACLE)
def png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stdlib PNG codec oracle-gated end-to-end: per doc_id,
    synthesize a deterministic gradient image, ENCODE it as a real
    PNG, DECODE those bytes back, and emit pixel-mean stats from the
    decoded array — all inside an Arrow-batched mapInPandas. DuckDB
    derives the identical means in closed form from the pixel recipe,
    so any corruption anywhere in encode->zlib->decode->unfilter
    changes a mean and fails the hash. Means are exact integer-sum /
    count divisions — bit-identical doubles on both engines, no
    rounding needed."""
    import numpy as np
    import pandas as pd

    from lakehouse_to_rag_spark.multimodal.ops import decode_png, encode_png

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("width", LongType()),
            StructField("height", LongType()),
            StructField("mean_r", DoubleType()),
            StructField("mean_g", DoubleType()),
            StructField("mean_b", DoubleType()),
        ]
    )

    def _stats(batches):
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "width", "height", "mean_r", "mean_g", "mean_b")}
            for i in pdf["doc_id"]:
                i = int(i)
                w, h = 8 + i % 9, 6 + i % 7
                y, x = np.mgrid[0:h, 0:w]
                px = np.stack(
                    [
                        (x * 255 // (w - 1)).astype(np.uint8),
                        (y * 255 // (h - 1)).astype(np.uint8),
                        ((x * y + i) % 256).astype(np.uint8),
                    ],
                    axis=2,
                )
                dec = decode_png(encode_png(px)).astype(np.int64)
                out["doc_id"].append(i)
                out["height"].append(dec.shape[0])
                out["width"].append(dec.shape[1])
                npix = dec.shape[0] * dec.shape[1]
                out["mean_r"].append(dec[:, :, 0].sum() / npix)
                out["mean_g"].append(dec[:, :, 1].sum() / npix)
                out["mean_b"].append(dec[:, :, 2].sum() / npix)
            yield pd.DataFrame(out)

    d = load_table(spark, sf_dir, "documents", parallelize=True).select("doc_id")
    return d.mapInPandas(_stats, schema=out_schema)


# Closed-form replay of the baseline JPEG pipeline on FLAT-color
# images: a constant 8x8 block has only a DC coefficient, and the
# codec computes DC exactly (integer sum / 8, see jpeg.py), so the
# decoded color is FLOOR-arithmetic over doubles that both engines
# evaluate identically (same literals, same association order):
#   RGB -> YCbCr (half-up round, clamp)
#   DC quantize/dequantize: FLOOR(8*(v-128)/q + 0.5) * q / 8 + 128
#   YCbCr -> RGB from the UNROUNDED reconstructed planes, then
#   half-up round + clamp (exactly decode_jpeg's order of operations).
# Even doc_ids encode at quality 75 / 4:4:4 (q00: luma 8, chroma 9 by
# the IJG formula), odd at quality 90 / 4:2:0 (3, 3) — both sampling
# paths and two quant scales under the hash.
_JPEG_STATS_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(doc_id * 37 % 256 AS DOUBLE) AS r,
         CAST(doc_id * 91 % 256 AS DOUBLE) AS g,
         CAST(doc_id * 53 % 256 AS DOUBLE) AS b,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 3 END AS DOUBLE) AS ql,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 9 ELSE 3 END AS DOUBLE) AS qc,
         CAST(9 + doc_id % 17 AS BIGINT) AS w,
         CAST(6 + doc_id % 13 AS BIGINT) AS h
  FROM documents
), ycc AS (
  SELECT *,
    LEAST(255, GREATEST(0, FLOOR(0.299 * r + 0.587 * g + 0.114 * b + 0.5))) AS y,
    LEAST(255, GREATEST(0, FLOOR(128 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5))) AS cb,
    LEAST(255, GREATEST(0, FLOOR(128 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5))) AS cr
  FROM d
), rec AS (
  SELECT *,
    FLOOR(8 * (y - 128) / ql + 0.5) * ql / 8 + 128 AS y2,
    FLOOR(8 * (cb - 128) / qc + 0.5) * qc / 8 + 128 AS cb2,
    FLOOR(8 * (cr - 128) / qc + 0.5) * qc / 8 + 128 AS cr2
  FROM ycc
)
SELECT doc_id, w AS width, h AS height,
  CAST(LEAST(255, GREATEST(0, FLOOR(y2 + 1.402 * (cr2 - 128) + 0.5))) AS DOUBLE) AS mean_r,
  CAST(LEAST(255, GREATEST(0, FLOOR(y2 - 0.344136 * (cb2 - 128) - 0.714136 * (cr2 - 128) + 0.5))) AS DOUBLE) AS mean_g,
  CAST(LEAST(255, GREATEST(0, FLOOR(y2 + 1.772 * (cb2 - 128) + 0.5))) AS DOUBLE) AS mean_b
FROM rec
"""


@_q("jpeg_pixel_stats", _JPEG_STATS_ORACLE)
def jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stdlib baseline-JPEG codec (multimodal/jpeg.py) oracle-gated
    end-to-end: per doc_id, a flat-color image is ENCODED as a real
    JFIF payload (markers, quant tables, Annex-K Huffman entropy
    coding, byte stuffing; even ids 4:4:4 q75, odd ids 4:2:0 q90),
    DECODED back through the Huffman/dequant/IDCT path, and pixel
    means emitted. Flat color makes the lossy pipeline exactly
    predictable (DC-only blocks with the exact-DC discipline in
    jpeg.py), so DuckDB replays the arithmetic closed-form — any
    corruption in marker layout, entropy coding, quantization, or
    color conversion changes a mean and fails the hash. Non-flat
    content is covered by PSNR/golden tests in tests/test_multimodal.py
    (a closed-form AC oracle would require exact float DCT parity,
    which no two engines guarantee)."""
    import numpy as np
    import pandas as pd

    from lakehouse_to_rag_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("width", LongType()),
            StructField("height", LongType()),
            StructField("mean_r", DoubleType()),
            StructField("mean_g", DoubleType()),
            StructField("mean_b", DoubleType()),
        ]
    )

    def _stats(batches):
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "width", "height", "mean_r", "mean_g", "mean_b")}
            for i in pdf["doc_id"]:
                i = int(i)
                w, h = 9 + i % 17, 6 + i % 13
                rgb = (i * 37 % 256, i * 91 % 256, i * 53 % 256)
                px = np.full((h, w, 3), rgb, dtype=np.uint8)
                quality, sub = (75, "444") if i % 2 == 0 else (90, "420")
                dec = decode_jpeg(
                    encode_jpeg(px, quality=quality, subsampling=sub)
                ).astype(np.int64)
                out["doc_id"].append(i)
                out["height"].append(dec.shape[0])
                out["width"].append(dec.shape[1])
                npix = dec.shape[0] * dec.shape[1]
                out["mean_r"].append(dec[:, :, 0].sum() / npix)
                out["mean_g"].append(dec[:, :, 1].sum() / npix)
                out["mean_b"].append(dec[:, :, 2].sum() / npix)
            yield pd.DataFrame(out)

    d = load_table(spark, sf_dir, "documents", parallelize=True).select("doc_id")
    return d.mapInPandas(_stats, schema=out_schema)


# Perceptual image dedup, oracle-gated END TO END (VERDICT r5 brief
# #2 — the one named capability gap: multimodal CONTENT dedup). Per
# doc_id a deterministic gradient image is synthesized with PLANTED
# near-duplicates (docs 2k and 2k+1 share a base image; the odd one
# gets a +3 red-channel brightness shift — the classic re-encode
# perturbation byte dedup misses), round-tripped through the REAL
# PNG codec, pHashed (32x32 NN grayscale -> integer-micro DCT ->
# 63-bit median signature, multimodal/phash.py), and paired by the
# pigeonhole-banded Hamming join (16 bands x 4 bits, complete for
# hamming <= 15; threshold 6). PNG is lossless, so DuckDB replays
# the pixel recipe closed-form and then every stage bit-exactly:
# the NN index arithmetic, BT.601 integer luma, the micro-rounded
# DCT terms (same cos() libm call, same left-to-right association),
# the rank-32 median, the bit fold, the banded self-join, and the
# bit_count verification. Empirical margins at the synthesis recipe:
# planted pairs hamming <= 2, closest cross-pair 10.
# chain through the per-doc pHash signature — shared by the one-shot
# pair scan and the incremental-ingest entry below
_IMAGE_SIG_CTES = """
WITH d AS (
  SELECT doc_id, doc_id // 2 AS base, doc_id % 2 AS pert,
         33 + (doc_id // 2) % 31 AS w, 33 + (doc_id // 2) % 29 AS h
  FROM documents
), grid AS (
  SELECT doc_id, base, pert, i.range AS i, j.range AS j,
         (i.range * h) // 32 AS sy, (j.range * w) // 32 AS sx
  FROM d, range(32) i, range(32) j
), px AS (
  SELECT doc_id, i, j,
         CASE WHEN pert = 1
              THEN LEAST(255, (sx * (7 + base % 13) + sy * (5 + base % 11)
                               + base * 11) % 256 + 3)
              ELSE (sx * (7 + base % 13) + sy * (5 + base % 11)
                    + base * 11) % 256 END AS r,
         (sx * (3 + base % 7) + sy * (2 + base % 5) + base * 7) % 256 AS g,
         (sx * 2 + sy * 3 + base) % 256 AS b
  FROM grid
), gray AS (
  SELECT doc_id, i, j, (299 * r + 587 * g + 114 * b) // 1000 AS gy
  FROM px
), terms AS (
  SELECT doc_id, u.range AS u, v.range AS v,
         CAST(FLOOR(CAST(gy AS DOUBLE)
                    * cos(pi() * (2 * i + 1) * u.range / 64.0)
                    * cos(pi() * (2 * j + 1) * v.range / 64.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS tm
  FROM gray, range(8) u, range(8) v
), coeffs AS (
  SELECT doc_id, u, v, SUM(tm) AS c FROM terms GROUP BY doc_id, u, v
), ac AS (
  SELECT doc_id, u * 8 + v - 1 AS idx, c
  FROM coeffs WHERE NOT (u = 0 AND v = 0)
), med AS (
  SELECT doc_id, c AS m FROM (
    SELECT doc_id, c,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c, idx) AS rn
    FROM ac
  ) WHERE rn = 32
), sig AS MATERIALIZED (
  -- materialized: the incremental entry reads sig from BOTH the
  -- snapshot and incoming sides (and the pair entry from both join
  -- sides); inlining would replay the 65k-term cos-DCT chain per
  -- reference — measured minutes-per-copy at sf0.1
  SELECT a.doc_id AS id,
         SUM(CASE WHEN a.c > med.m
                  THEN (CAST(1 AS BIGINT) << a.idx) ELSE 0 END) AS simhash
  FROM ac a JOIN med USING (doc_id) GROUP BY a.doc_id
)"""

_IMAGE_PHASH_ORACLE = _IMAGE_SIG_CTES + """
, banded AS (
  SELECT id, simhash, b.range AS blk,
         (simhash >> (b.range * 4)) & 15 AS bval
  FROM sig, range(16) b
)
SELECT DISTINCT x.id AS id_a, y.id AS id_b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
FROM banded x JOIN banded y
  ON x.blk = y.blk AND x.bval = y.bval AND x.id < y.id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 6
"""

# Incremental perceptual ingest, stateless form (the dedup_incremental
# convention: snapshot/incoming split by a deterministic id rule so
# the driver can replay it without table state). Snapshot = bases
# 0,1 mod 3 (both planted members); incoming = bases 1,2 mod 3.
# Overlap bases (=1) exercise the snapshot anti-join (every incoming
# member is a near-dup of a snapshot member); incoming-only bases
# (=2) exercise the within-batch keep-first; snapshot-only bases (=0)
# prove absence doesn't leak. Admitted = the smaller-id member of
# each base = 2 mod 3.
_IMAGE_INC_ORACLE = _IMAGE_SIG_CTES + """
, snap AS MATERIALIZED (
  SELECT id, simhash FROM sig WHERE (id // 2) % 3 IN (0, 1)
), inc AS MATERIALIZED (
  SELECT id, simhash FROM sig WHERE (id // 2) % 3 IN (1, 2)
), bsnap AS (
  SELECT id, simhash, b.range AS blk,
         (simhash >> (b.range * 4)) & 15 AS bval
  FROM snap, range(16) b
), binc AS (
  SELECT id, simhash, b.range AS blk,
         (simhash >> (b.range * 4)) & 15 AS bval
  FROM inc, range(16) b
), m1 AS (
  SELECT DISTINCT i.id FROM binc i JOIN bsnap s
    ON i.blk = s.blk AND i.bval = s.bval
  WHERE bit_count(xor(i.simhash, s.simhash)) <= 6
), fresh AS MATERIALIZED (
  SELECT * FROM inc WHERE id NOT IN (SELECT id FROM m1)
), bfresh AS (
  SELECT id, simhash, b.range AS blk,
         (simhash >> (b.range * 4)) & 15 AS bval
  FROM fresh, range(16) b
), m2 AS (
  SELECT DISTINCT y.id FROM bfresh x JOIN bfresh y
    ON x.blk = y.blk AND x.bval = y.bval AND x.id < y.id
  WHERE bit_count(xor(x.simhash, y.simhash)) <= 6
)
SELECT id, CAST(simhash AS BIGINT) AS simhash
FROM fresh WHERE id NOT IN (SELECT id FROM m2)
"""


@_q("image_dedup_incremental", _IMAGE_INC_ORACLE)
def image_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest perceptual dedup, stateless replayable form:
    incoming images are admitted only if their pHash is >6 bits from
    EVERY maintained-snapshot signature (two-table banded join) and
    from every smaller-id batchmate (keep-first) — the perceptual
    analog of ``dedup_incremental``. The stateful loop around the
    same operator (signature-table upsert + staging discipline) is
    ``dedup.admit_media_batch``, exercised in
    tests/test_multimodal.py."""
    import pandas as pd

    from pyspark.sql.types import BinaryType

    from lakehouse_to_rag_spark.multimodal.ops import encode_png
    from lakehouse_to_rag_spark.multimodal.phash import (
        synth_gradient_image,
    )
    from lakehouse_to_rag_spark.operators.dedup import (
        image_signatures,
        incremental_media_dedup,
    )

    payload_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def _synth(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": [
                        encode_png(synth_gradient_image(i)) for i in ids
                    ],
                }
            )

    d = load_table(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id"
    )
    sigs = image_signatures(
        d.mapInPandas(_synth, schema=payload_schema), "doc_id", "payload"
    )
    base_mod = F.expr("(id div 2) % 3")
    # num_bands rides the r11 "auto" default (minimal-complete
    # d+1 bands): output is banding-invariant for any complete
    # banding — the oracle's own 16-band SQL replay emits the same
    # verified pair set — and the 10x probe measured 14x off this
    # join (54.7 s -> 3.9 s at 50k signatures; SCALE.md r11)
    return incremental_media_dedup(
        sigs.filter(base_mod.isin(1, 2)),
        sigs.filter(base_mod.isin(0, 1)),
        max_hamming=6,
    )


# Perceptual AUDIO dedup, oracle-gated end-to-end (the audio twin of
# image_phash_dedup — together they close multimodal CONTENT dedup):
# per doc a deterministic amplitude-modulated waveform is synthesized
# with planted near-duplicates (docs 2k/2k+1 share a base signal; the
# odd one gets a +3 amplitude shift — the level-change perturbation
# byte dedup misses), round-tripped through the REAL 16-bit PCM WAV
# codec, fingerprinted by the integer energy-envelope signature, and
# paired by the banded Hamming join (16 bands x 4 bits, threshold 8).
# The per-frame envelope multiplier is md5-derived (the package's
# established replayable-randomness device: JL signs, LSH
# hyperplanes) — a linear-congruential envelope was tried first and
# REJECTED because an affine-in-frame hash makes every base a
# rotation of one orbit (measured cross-base hamming collapsed to
# 0); md5 breaks the affinity. WAV is lossless, so DuckDB replays the
# sample recipe closed-form and the whole chain is exact integer
# arithmetic — no rounding discipline needed anywhere. Empirical
# margins: planted pairs hamming <= 4, closest cross-pair 15.
_AUDIO_FP_ORACLE = """
WITH d AS (
  SELECT doc_id, doc_id // 2 AS base, doc_id % 2 AS pert FROM documents
), s AS (
  SELECT doc_id, base, pert, x.range AS t, x.range // 32 AS f,
         (x.range * (3 + base % 17)
          + (x.range * x.range) // (2 + base % 5)
          + base * 7) % 256 - 128 AS amp0
  FROM d, range(2048) x
), sa AS (
  SELECT doc_id, base, f,
         CASE WHEN pert = 1 THEN LEAST(127, amp0 + 3) ELSE amp0 END AS amp,
         1 + ('0x' || substr(md5(CAST(base AS VARCHAR) || ':'
                                 || CAST(f AS VARCHAR)), 1, 15))::BIGINT
             % 13 AS ev
  FROM s
), en AS (
  SELECT doc_id, f,
         SUM(CAST(amp * ev * 9 AS BIGINT) * CAST(amp * ev * 9 AS BIGINT))
           AS e
  FROM sa GROUP BY doc_id, f
), bits AS (
  SELECT doc_id, f,
         CASE WHEN LEAD(e) OVER (PARTITION BY doc_id ORDER BY f) > e
              THEN 1 ELSE 0 END AS b
  FROM en
  QUALIFY f < 63
), sig AS (
  SELECT doc_id AS id,
         SUM(b * (CAST(1 AS BIGINT) << f)) AS simhash
  FROM bits GROUP BY doc_id
), banded AS (
  SELECT id, simhash, bb.range AS blk,
         (simhash >> (bb.range * 4)) & 15 AS bval
  FROM sig, range(16) bb
)
SELECT DISTINCT x.id AS id_a, y.id AS id_b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
FROM banded x JOIN banded y
  ON x.blk = y.blk AND x.bval = y.bval AND x.id < y.id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 8
"""


@_q("audio_fingerprint_dedup", _AUDIO_FP_ORACLE)
def audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio dedup through the full decode path: synthetic
    amplitude-modulated waveforms with planted level-shifted
    near-duplicates are encoded as REAL PCM WAV, decoded back,
    energy-envelope fingerprinted, and paired by the banded Hamming
    join — (id_a, id_b, hamming <= 8). See the oracle comment for the
    exact replay contract."""
    import pandas as pd

    from pyspark.sql.types import BinaryType

    from lakehouse_to_rag_spark.multimodal.ops import encode_wav
    from lakehouse_to_rag_spark.multimodal.phash import synth_am_waveform
    from lakehouse_to_rag_spark.operators.dedup import (
        audio_fingerprint_pairs,
    )

    payload_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def _synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for i in pdf["doc_id"]:
                i = int(i)
                ids.append(i)
                payloads.append(encode_wav(synth_am_waveform(i)))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    d = load_table(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id"
    )
    audio = d.mapInPandas(_synth, schema=payload_schema)
    # auto bands (r11): complete banding => banding-invariant output
    return audio_fingerprint_pairs(
        audio, "doc_id", "payload", max_hamming=8
    )


@_q("image_phash_dedup", _IMAGE_PHASH_ORACLE)
def image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup through the full decode path: synthetic
    gradient images with planted brightness-shifted near-duplicates
    are encoded as REAL PNGs, decoded back, pHashed, and paired by
    the banded Hamming join — (id_a, id_b, hamming <= 6). See the
    oracle comment for the exact replay contract."""
    import pandas as pd

    from pyspark.sql.types import BinaryType

    from lakehouse_to_rag_spark.multimodal.ops import encode_png
    from lakehouse_to_rag_spark.multimodal.phash import (
        synth_gradient_image,
    )
    from lakehouse_to_rag_spark.operators.dedup import image_hash_pairs

    payload_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def _synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for i in pdf["doc_id"]:
                i = int(i)
                ids.append(i)
                payloads.append(encode_png(synth_gradient_image(i)))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    d = load_table(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id"
    )
    images = d.mapInPandas(_synth, schema=payload_schema)
    # auto bands (r11): complete banding => banding-invariant output
    return image_hash_pairs(
        images, "doc_id", "payload", method="phash",
        max_hamming=6,
    )


_KNN_PQ_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), sub AS (
  SELECT e.vec_id, j.range AS j,
         list_slice(e.v, j.range * 8 + 1, j.range * 8 + 8) AS sv
  FROM e, range(8) j
), cent AS (
  SELECT vec_id AS cid, j, sv AS cv FROM sub WHERE vec_id < 16
), asg AS (
  -- per (vector, subspace): nearest codebook row by squared L2,
  -- 12dp-rounded before the tie-break (same rule as the Spark argmin)
  SELECT vec_id, j, cid FROM (
    SELECT s.vec_id, s.j, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
             ORDER BY ROUND(list_dot_product(s.sv, s.sv)
                            - 2 * list_dot_product(s.sv, c.cv)
                            + list_dot_product(c.cv, c.cv), 12) ASC,
                      c.cid ASC) AS rn
    FROM sub s JOIN cent c ON s.j = c.j
  ) WHERE rn = 1
), p AS (
  -- ADC: sum over subspaces of d2(query subvector, assigned centroid)
  SELECT qs.vec_id AS query_id, a.vec_id AS neighbor_id,
         ROUND(SUM(list_dot_product(qs.sv, qs.sv)
                   - 2 * list_dot_product(qs.sv, c.cv)
                   + list_dot_product(c.cv, c.cv)), 4) AS adc_dist
  FROM sub qs
  JOIN asg a ON a.j = qs.j AND a.vec_id <> qs.vec_id
  JOIN cent c ON c.j = a.j AND c.cid = a.cid
  WHERE qs.vec_id < 10
  GROUP BY qs.vec_id, a.vec_id
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM p
)
SELECT query_id, neighbor_id, adc_dist, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5
"""


@_q("knn_pq", _KNN_PQ_ORACLE)
def knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, oracle-gated end-to-end (the PQ
    sibling of ``knn_ivf``'s untrained quantizer): codebooks are the
    8-dim subvectors of the first 16 vectors, every vector encodes to
    8 code bytes by 12dp-rounded argmin, and queries rank neighbors by
    the 4dp-rounded ADC table-lookup distance. The oracle reproduces
    the identical encode -> LUT -> rank pipeline in SQL. Trained
    codebooks + exact re-ranking (``pq_train``/``knn_pq_rerank``) are
    the production path, recall-tested in the local suite."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return simi.knn_pq(e, queries, k=5, m=8, num_codes=16)


_GIF_STATS_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(24 + doc_id % 9 AS BIGINT) AS w,
         CAST(18 + doc_id % 7 AS BIGINT) AS h,
         CAST(3 + doc_id % 5 AS BIGINT) AS nf
  FROM documents
), fr AS (
  SELECT d.*, f.range AS frame_index
  FROM d, range(8) f WHERE f.range < d.nf
), px AS (
  SELECT fr.doc_id, fr.frame_index, fr.w, fr.h,
         (x.range + y.range + fr.doc_id + fr.frame_index * 3) % 216 AS v
  FROM fr, range(33) x, range(25) y
  WHERE x.range < fr.w AND y.range < fr.h
)
SELECT doc_id, frame_index, MAX(w) AS width, MAX(h) AS height,
       CAST(SUM((v // 36) * 51) AS DOUBLE) / COUNT(*) AS mean_r,
       CAST(SUM(((v // 6) % 6) * 51) AS DOUBLE) / COUNT(*) AS mean_g,
       CAST(SUM((v % 6) * 51) AS DOUBLE) / COUNT(*) AS mean_b
FROM px
GROUP BY doc_id, frame_index
"""


@_q("gif_frame_stats", _GIF_STATS_ORACLE)
def gif_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stdlib animated-GIF codec oracle-gated end-to-end (video
    twin of ``png_pixel_stats``): per doc_id, synthesize an animation
    over the 6x6x6 color-cube palette, ENCODE it as a real LZW GIF,
    DECODE those bytes back, and emit per-frame pixel means from the
    decoded canvases. DuckDB re-derives the means in closed form from
    the frame recipe, so corruption anywhere in the LZW bit packing /
    variable code widths / table resets / palette lookup changes a
    mean and fails the hash. Exact integer-sum / count doubles."""
    import numpy as np
    import pandas as pd

    from lakehouse_to_rag_spark.multimodal.ops import decode_gif, encode_gif

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_index", LongType()),
            StructField("width", LongType()),
            StructField("height", LongType()),
            StructField("mean_r", DoubleType()),
            StructField("mean_g", DoubleType()),
            StructField("mean_b", DoubleType()),
        ]
    )
    cube = np.array(
        [(r, g, b) for r in range(6) for g in range(6) for b in range(6)],
        dtype=np.int64,
    )
    palette = (cube * 51).astype(np.uint8)

    def _stats(batches):
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "frame_index", "width", "height",
                    "mean_r", "mean_g", "mean_b")}
            for i in pdf["doc_id"]:
                i = int(i)
                w, h, nf = 24 + i % 9, 18 + i % 7, 3 + i % 5
                y, x = np.mgrid[0:h, 0:w]
                frames = [
                    ((x + y + i + f * 3) % 216).astype(np.uint8)
                    for f in range(nf)
                ]
                decoded = decode_gif(encode_gif(frames, palette))
                for f, fr in enumerate(decoded):
                    ch = fr.astype(np.int64)
                    npix = ch.shape[0] * ch.shape[1]
                    out["doc_id"].append(i)
                    out["frame_index"].append(f)
                    out["height"].append(ch.shape[0])
                    out["width"].append(ch.shape[1])
                    out["mean_r"].append(ch[:, :, 0].sum() / npix)
                    out["mean_g"].append(ch[:, :, 1].sum() / npix)
                    out["mean_b"].append(ch[:, :, 2].sum() / npix)
            yield pd.DataFrame(out)

    d = load_table(spark, sf_dir, "documents", parallelize=True).select("doc_id")
    return d.mapInPandas(_stats, schema=out_schema)


# Closed-form replay of the MJPEG-AVI pipeline: the GIF entry's
# per-frame fan-out composed with the JPEG entry's flat-color
# closed form. Frame f of doc i is a flat (i*37+f*41, i*91+f*67,
# i*53+f*29) % 256 color; (i+f) parity picks quality 75 / 4:4:4
# (luma 8 / chroma 9 DC quant by the IJG formula) vs 90 / 4:2:0
# (3 / 3) — so every container holds BOTH subsampling paths. The
# arithmetic below is decode_jpeg's exact order of operations (see
# _JPEG_STATS_ORACLE); the AVI layer adds mux -> idx1 verify ->
# demux under the same hash: a single corrupt container byte kills
# a frame (or its count) and the value hash.
_AVI_STATS_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(9 + doc_id % 17 AS BIGINT) AS w,
         CAST(6 + doc_id % 13 AS BIGINT) AS h,
         CAST(2 + doc_id % 4 AS BIGINT) AS nf
  FROM documents
), fr AS (
  SELECT d.doc_id, d.w, d.h, f.range AS frame_index,
         CAST((d.doc_id * 37 + f.range * 41) % 256 AS DOUBLE) AS r,
         CAST((d.doc_id * 91 + f.range * 67) % 256 AS DOUBLE) AS g,
         CAST((d.doc_id * 53 + f.range * 29) % 256 AS DOUBLE) AS b,
         CAST(CASE WHEN (d.doc_id + f.range) % 2 = 0
                   THEN 8 ELSE 3 END AS DOUBLE) AS ql,
         CAST(CASE WHEN (d.doc_id + f.range) % 2 = 0
                   THEN 9 ELSE 3 END AS DOUBLE) AS qc
  FROM d, range(6) f WHERE f.range < d.nf
), ycc AS (
  SELECT *,
    LEAST(255, GREATEST(0, FLOOR(0.299 * r + 0.587 * g + 0.114 * b + 0.5))) AS y,
    LEAST(255, GREATEST(0, FLOOR(128 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5))) AS cb,
    LEAST(255, GREATEST(0, FLOOR(128 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5))) AS cr
  FROM fr
), rec AS (
  SELECT *,
    FLOOR(8 * (y - 128) / ql + 0.5) * ql / 8 + 128 AS y2,
    FLOOR(8 * (cb - 128) / qc + 0.5) * qc / 8 + 128 AS cb2,
    FLOOR(8 * (cr - 128) / qc + 0.5) * qc / 8 + 128 AS cr2
  FROM ycc
)
SELECT doc_id, frame_index, w AS width, h AS height,
  CAST(LEAST(255, GREATEST(0, FLOOR(y2 + 1.402 * (cr2 - 128) + 0.5))) AS DOUBLE) AS mean_r,
  CAST(LEAST(255, GREATEST(0, FLOOR(y2 - 0.344136 * (cb2 - 128) - 0.714136 * (cr2 - 128) + 0.5))) AS DOUBLE) AS mean_g,
  CAST(LEAST(255, GREATEST(0, FLOOR(y2 + 1.772 * (cb2 - 128) + 0.5))) AS DOUBLE) AS mean_b
FROM rec
"""


@_q("avi_frame_stats", _AVI_STATS_ORACLE)
def avi_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MJPEG-in-AVI container (multimodal/avi.py) oracle-gated
    end-to-end, completing the video leg on real bytes: per doc_id,
    (2 + id % 4) flat-color frames are JPEG-ENCODED (alternating
    4:4:4 q75 / 4:2:0 q90 by (id+frame) parity), MUXED into a real
    RIFF AVI ('00dc' chunks + idx1 index), DEMUXED back (idx1
    verified against the movi walk), JPEG-DECODED, and per-frame
    pixel means emitted. Flat color makes the lossy JPEG arithmetic
    exactly predictable, so DuckDB replays the whole
    encode->mux->demux->decode chain closed-form — corruption in
    RIFF layout, chunk sizing, the index, or any JPEG stage changes
    a mean (or the frame count) and fails the hash. Non-flat frames
    and foreign-writer quirks are covered by roundtrip/fuzz tests in
    tests/test_multimodal.py."""
    import numpy as np
    import pandas as pd

    from lakehouse_to_rag_spark.multimodal.avi import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
    )
    from lakehouse_to_rag_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_index", LongType()),
            StructField("width", LongType()),
            StructField("height", LongType()),
            StructField("mean_r", DoubleType()),
            StructField("mean_g", DoubleType()),
            StructField("mean_b", DoubleType()),
        ]
    )

    def _stats(batches):
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "frame_index", "width", "height",
                    "mean_r", "mean_g", "mean_b")}
            for i in pdf["doc_id"]:
                i = int(i)
                w, h, nf = 9 + i % 17, 6 + i % 13, 2 + i % 4
                frames = []
                for f in range(nf):
                    rgb = ((i * 37 + f * 41) % 256,
                           (i * 91 + f * 67) % 256,
                           (i * 53 + f * 29) % 256)
                    px = np.full((h, w, 3), rgb, dtype=np.uint8)
                    quality, sub = (
                        (75, "444") if (i + f) % 2 == 0 else (90, "420")
                    )
                    frames.append(
                        encode_jpeg(px, quality=quality, subsampling=sub)
                    )
                jpegs = decode_avi_mjpeg(
                    encode_avi_mjpeg(frames, fps=5 + i % 10)
                )
                for f, jp in enumerate(jpegs):
                    dec = decode_jpeg(jp).astype(np.int64)
                    npix = dec.shape[0] * dec.shape[1]
                    out["doc_id"].append(i)
                    out["frame_index"].append(f)
                    out["height"].append(dec.shape[0])
                    out["width"].append(dec.shape[1])
                    out["mean_r"].append(dec[:, :, 0].sum() / npix)
                    out["mean_g"].append(dec[:, :, 1].sum() / npix)
                    out["mean_b"].append(dec[:, :, 2].sum() / npix)
            yield pd.DataFrame(out)

    d = load_table(spark, sf_dir, "documents", parallelize=True).select("doc_id")
    return d.mapInPandas(_stats, schema=out_schema)


# Closed-form replay of the MJPEG-MP4 pipeline — the AVI entry's
# structure at DIFFERENT quality points so the two container oracles
# pin different quant tables: frame f of doc i is a flat
# (i*59+f*43, i*83+f*23, i*47+f*71) % 256 color; (i+f) parity picks
# quality 80 / 4:4:4 (luma 6 / chroma 7 DC quant by the IJG formula)
# vs 60 / 4:2:0 (13 / 14). The mux layer here is ISO BMFF
# (ftyp+mdat+moov, stsz/stsc/stco sample tables, esds JPEG OTI): a
# single corrupt table or box length kills a frame (or its count)
# and the value hash.
_MP4_STATS_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(8 + doc_id % 19 AS BIGINT) AS w,
         CAST(8 + doc_id % 11 AS BIGINT) AS h,
         CAST(3 + doc_id % 3 AS BIGINT) AS nf
  FROM documents
), fr AS (
  SELECT d.doc_id, d.w, d.h, f.range AS frame_index,
         CAST((d.doc_id * 59 + f.range * 43) % 256 AS DOUBLE) AS r,
         CAST((d.doc_id * 83 + f.range * 23) % 256 AS DOUBLE) AS g,
         CAST((d.doc_id * 47 + f.range * 71) % 256 AS DOUBLE) AS b,
         CAST(CASE WHEN (d.doc_id + f.range) % 2 = 0
                   THEN 6 ELSE 13 END AS DOUBLE) AS ql,
         CAST(CASE WHEN (d.doc_id + f.range) % 2 = 0
                   THEN 7 ELSE 14 END AS DOUBLE) AS qc
  FROM d, range(5) f WHERE f.range < d.nf
), ycc AS (
  SELECT *,
    LEAST(255, GREATEST(0, FLOOR(0.299 * r + 0.587 * g + 0.114 * b + 0.5))) AS y,
    LEAST(255, GREATEST(0, FLOOR(128 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5))) AS cb,
    LEAST(255, GREATEST(0, FLOOR(128 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5))) AS cr
  FROM fr
), rec AS (
  SELECT *,
    FLOOR(8 * (y - 128) / ql + 0.5) * ql / 8 + 128 AS y2,
    FLOOR(8 * (cb - 128) / qc + 0.5) * qc / 8 + 128 AS cb2,
    FLOOR(8 * (cr - 128) / qc + 0.5) * qc / 8 + 128 AS cr2
  FROM ycc
)
SELECT doc_id, frame_index, w AS width, h AS height,
  CAST(LEAST(255, GREATEST(0, FLOOR(y2 + 1.402 * (cr2 - 128) + 0.5))) AS DOUBLE) AS mean_r,
  CAST(LEAST(255, GREATEST(0, FLOOR(y2 - 0.344136 * (cb2 - 128) - 0.714136 * (cr2 - 128) + 0.5))) AS DOUBLE) AS mean_g,
  CAST(LEAST(255, GREATEST(0, FLOOR(y2 + 1.772 * (cb2 - 128) + 0.5))) AS DOUBLE) AS mean_b
FROM rec
"""


@_q("mp4_frame_stats", _MP4_STATS_ORACLE)
def mp4_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MJPEG-in-MP4 container (multimodal/mp4.py) oracle-gated
    end-to-end — the ISO-BMFF twin of ``avi_frame_stats``, closing
    the 'MP4 needs ffmpeg' stub: per doc_id, (3 + id % 3) flat-color
    frames are JPEG-ENCODED (alternating 4:4:4 q80 / 4:2:0 q60 by
    (id+frame) parity — different quality points from the AVI entry
    so the two oracles pin different quant tables), MUXED into a real
    MP4 (ftyp+mdat+moov, 'mp4v' sample entry with JPEG OTI 0x6C,
    stsz/stsc/stco sample tables), DEMUXED back (sample ranges
    bounds-checked against mdat), JPEG-DECODED, and per-frame pixel
    means emitted. Flat color makes the lossy JPEG arithmetic exactly
    predictable, so DuckDB replays the whole encode->mux->demux->
    decode chain closed-form — corruption in box layout, the sample
    tables, the esds, or any JPEG stage changes a mean (or the frame
    count) and fails the hash. Non-flat frames, foreign chunk
    layouts (multi-sample stsc, co64), and scope violations are
    covered by roundtrip/fuzz tests in tests/test_multimodal.py."""
    import numpy as np
    import pandas as pd

    from lakehouse_to_rag_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from lakehouse_to_rag_spark.multimodal.mp4 import (
        decode_mp4_mjpeg,
        encode_mp4_mjpeg,
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_index", LongType()),
            StructField("width", LongType()),
            StructField("height", LongType()),
            StructField("mean_r", DoubleType()),
            StructField("mean_g", DoubleType()),
            StructField("mean_b", DoubleType()),
        ]
    )

    def _stats(batches):
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "frame_index", "width", "height",
                    "mean_r", "mean_g", "mean_b")}
            for i in pdf["doc_id"]:
                i = int(i)
                w, h, nf = 8 + i % 19, 8 + i % 11, 3 + i % 3
                frames = []
                for f in range(nf):
                    rgb = ((i * 59 + f * 43) % 256,
                           (i * 83 + f * 23) % 256,
                           (i * 47 + f * 71) % 256)
                    px = np.full((h, w, 3), rgb, dtype=np.uint8)
                    quality, sub = (
                        (80, "444") if (i + f) % 2 == 0 else (60, "420")
                    )
                    frames.append(
                        encode_jpeg(px, quality=quality, subsampling=sub)
                    )
                jpegs = decode_mp4_mjpeg(
                    encode_mp4_mjpeg(frames, fps=4 + i % 12)
                )
                for f, jp in enumerate(jpegs):
                    dec = decode_jpeg(jp).astype(np.int64)
                    npix = dec.shape[0] * dec.shape[1]
                    out["doc_id"].append(i)
                    out["frame_index"].append(f)
                    out["height"].append(dec.shape[0])
                    out["width"].append(dec.shape[1])
                    out["mean_r"].append(dec[:, :, 0].sum() / npix)
                    out["mean_g"].append(dec[:, :, 1].sum() / npix)
                    out["mean_b"].append(dec[:, :, 2].sum() / npix)
            yield pd.DataFrame(out)

    d = load_table(spark, sf_dir, "documents", parallelize=True).select("doc_id")
    return d.mapInPandas(_stats, schema=out_schema)


_WAV_STATS_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(800 + (doc_id % 7) * 100 AS BIGINT) AS n,
         CAST(3 + doc_id % 5 AS BIGINT) AS k
  FROM documents
), s AS (
  SELECT d.doc_id, d.n, x.range AS i,
         ((x.range * d.k + d.doc_id) % 65536) - 32768 AS v
  FROM d, range(1400) x
  WHERE x.range < d.n
), z AS (
  SELECT doc_id, n, v,
         LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM s
)
SELECT doc_id,
       MAX(n) AS n_samples,
       CAST(MAX(n) AS DOUBLE) / 8000 AS duration_sec,
       SQRT(CAST(SUM(v * v) AS DOUBLE) / MAX(n)) AS rms,
       MAX(ABS(v)) AS peak,
       CAST(SUM(CASE WHEN pv IS NOT NULL
                      AND ((v >= 0) <> (pv >= 0)) THEN 1 ELSE 0 END)
            AS BIGINT) AS zero_crossings
FROM z
GROUP BY doc_id
"""


@_q("wav_audio_stats", _WAV_STATS_ORACLE)
def wav_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stdlib WAV codec oracle-gated end-to-end (audio twin of
    ``png_pixel_stats``): per doc_id, synthesize an integer sawtooth
    waveform, ENCODE it as real 16-bit PCM WAV, DECODE those bytes
    back, and emit signal statistics from the decoded samples. DuckDB
    re-derives every statistic in closed form from the waveform
    recipe; RMS is sqrt(exact-integer-sum / count) and duration is
    int/int — bit-identical doubles on both engines, no rounding."""
    import numpy as np
    import pandas as pd

    from lakehouse_to_rag_spark.multimodal.ops import decode_wav, encode_wav

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_samples", LongType()),
            StructField("duration_sec", DoubleType()),
            StructField("rms", DoubleType()),
            StructField("peak", LongType()),
            StructField("zero_crossings", LongType()),
        ]
    )

    def _stats(batches):
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "n_samples", "duration_sec", "rms",
                    "peak", "zero_crossings")}
            for i in pdf["doc_id"]:
                i = int(i)
                n, k = 800 + (i % 7) * 100, 3 + i % 5
                idx = np.arange(n, dtype=np.int64)
                mono = (((idx * k + i) % 65536) - 32768).astype(np.int16)
                rate, frames = decode_wav(encode_wav(mono, sample_rate=8000))
                v = frames[:, 0].astype(np.int64)
                sign = v >= 0
                out["doc_id"].append(i)
                out["n_samples"].append(len(v))
                out["duration_sec"].append(len(v) / rate)
                out["rms"].append(float(np.sqrt((v * v).sum() / len(v))))
                out["peak"].append(int(np.abs(v).max()))
                out["zero_crossings"].append(int((sign[1:] != sign[:-1]).sum()))
            yield pd.DataFrame(out)

    d = load_table(spark, sf_dir, "documents", parallelize=True).select("doc_id")
    return d.mapInPandas(_stats, schema=out_schema)


@_q("flac_audio_stats", _WAV_STATS_ORACLE)
def flac_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stdlib FLAC codec oracle-gated end-to-end: the SAME
    sawtooth recipe as ``wav_audio_stats``, but the samples round-trip
    through FLAC compression — frame CRCs, Rice residuals, fixed/LPC
    predictors, and (every third clip, via a stereo payload) mid/side
    decorrelation all sit between the recipe and the statistics.
    Because FLAC is lossless, the DuckDB oracle is IDENTICAL to the
    WAV one: any arithmetic slip anywhere in the codec shifts a sample
    and fails the value hash. Stats are over channel 0 (the reference
    channel), which the stereo synthesis leaves equal to the mono
    recipe."""
    import numpy as np
    import pandas as pd

    from lakehouse_to_rag_spark.multimodal.flac import (
        decode_flac,
        encode_flac,
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_samples", LongType()),
            StructField("duration_sec", DoubleType()),
            StructField("rms", DoubleType()),
            StructField("peak", LongType()),
            StructField("zero_crossings", LongType()),
        ]
    )

    def _stats(batches):
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "n_samples", "duration_sec", "rms",
                    "peak", "zero_crossings")}
            for i in pdf["doc_id"]:
                i = int(i)
                n, k = 800 + (i % 7) * 100, 3 + i % 5
                idx = np.arange(n, dtype=np.int64)
                mono = (((idx * k + i) % 65536) - 32768).astype(np.int16)
                samples = (
                    np.stack([mono, np.roll(mono, 7)], axis=1)
                    if i % 3 == 0 else mono
                )
                rate, frames = decode_flac(
                    encode_flac(samples, sample_rate=8000, block_size=256)
                )
                v = frames[:, 0].astype(np.int64)
                sign = v >= 0
                out["doc_id"].append(i)
                out["n_samples"].append(len(v))
                out["duration_sec"].append(len(v) / rate)
                out["rms"].append(float(np.sqrt((v * v).sum() / len(v))))
                out["peak"].append(int(np.abs(v).max()))
                out["zero_crossings"].append(int((sign[1:] != sign[:-1]).sum()))
            yield pd.DataFrame(out)

    d = load_table(spark, sf_dir, "documents", parallelize=True).select("doc_id")
    return d.mapInPandas(_stats, schema=out_schema)


_Q20_ORACLE = """
SELECT s_suppkey AS suppkey, s_name AS supplier_name, n_name AS nation
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%widget%' AND EXTRACT(YEAR FROM l_shipdate) = 1997
  GROUP BY l_suppkey
  HAVING SUM(l_quantity) > 100
)
"""

QUERIES["q20_bulk_part_suppliers"] = tpch.q20_bulk_part_suppliers
ORACLES["q20_bulk_part_suppliers"] = _Q20_ORACLE


_Q17_ORACLE = """
WITH lp AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#12'
),
a AS (
  SELECT l_partkey AS ap, AVG(l_quantity) AS avg_qty
  FROM lp GROUP BY 1
)
SELECT ROUND(SUM(l_extendedprice) / 7.0, 4) AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_small_orders
FROM lp JOIN a ON l_partkey = ap
WHERE l_quantity < 0.2 * avg_qty
"""

QUERIES["q17_small_quantity_revenue"] = tpch.q17_small_quantity_revenue
ORACLES["q17_small_quantity_revenue"] = _Q17_ORACLE

_Q21_ORACLE = """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END) AS was_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
per_order AS (
  SELECT l_orderkey, COUNT(*) AS n_suppliers, SUM(was_late) AS n_late
  FROM per_os GROUP BY 1
)
SELECT s_suppkey AS suppkey, s_name AS supplier_name,
       CAST(COUNT(*) AS BIGINT) AS numwait
FROM per_os
JOIN per_order USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE was_late = 1 AND n_suppliers > 1 AND n_late = 1
GROUP BY 1, 2
ORDER BY numwait DESC, suppkey ASC
LIMIT 20
"""

QUERIES["q21_sole_late_suppliers"] = tpch.q21_sole_late_suppliers
ORACLES["q21_sole_late_suppliers"] = _Q21_ORACLE


# =====================================================================
# Vocabulary + sequence-level dedup
# =====================================================================

_VOCAB_ORACLE = """
WITH counts AS (
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (
    SELECT unnest(string_split(text, ' ')) AS w
    FROM documents WHERE text IS NOT NULL
  )
  WHERE LENGTH(w) > 0
  GROUP BY w
  HAVING COUNT(*) >= 5
)
SELECT word, n,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word ASC) - 1 AS BIGINT)
         AS token_id
FROM counts
"""


@_q("vocab_top_tokens", _VOCAB_ORACLE)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.vocab_builder(load_table(spark, sf_dir, "documents"))


_TOKENIZE_ORACLE = """
WITH counts AS (
  SELECT w AS word, COUNT(*) AS n
  FROM (
    SELECT unnest(string_split(text, ' ')) AS w
    FROM documents WHERE text IS NOT NULL
  )
  WHERE LENGTH(w) > 0
  GROUP BY w
  HAVING COUNT(*) >= 5
), vocab AS (
  SELECT word, ROW_NUMBER() OVER (ORDER BY n DESC, word ASC) - 1 AS token_id
  FROM counts
), d AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> LENGTH(x) > 0) AS ws
  FROM documents WHERE text IS NOT NULL
), tok AS (
  SELECT d.doc_id, t.i AS pos, ws[t.i] AS word
  FROM d, UNNEST(range(1, len(ws) + 1)) AS t(i)
), joined AS (
  SELECT tok.doc_id, tok.pos, COALESCE(v.token_id, -1) AS tid
  FROM tok LEFT JOIN vocab v ON v.word = tok.word
)
SELECT doc_id,
       string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS token_ids,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
FROM joined
GROUP BY doc_id
"""


@_q("tokenize_to_ids", _TOKENIZE_ORACLE)
def tokenize_to_ids_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-vocabulary tokenization: each doc's frequency-ranked
    token-id sequence (OOV = -1), one broadcast vocab join + one
    reassembly groupBy — the materialization step between
    vocab_top_tokens and sequence_pack, oracle-checked end to end."""
    d = load_table(spark, sf_dir, "documents")
    return ta.tokenize_to_ids(d, min_count=5)


_DUP_SPANS_ORACLE = """
WITH ws AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), w -> LENGTH(w) > 0) AS a
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id,
         unnest(CASE WHEN len(a) >= 5
                THEN list_transform(range(1, len(a) - 3),
                                    i -> array_to_string(list_slice(a, i, i + 4), ' '))
                ELSE [] END) AS gram
  FROM ws
),
per_gram_doc AS (
  SELECT gram, doc_id, COUNT(*) AS occ FROM grams GROUP BY 1, 2
)
SELECT gram,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(occ) AS BIGINT) AS n_occurrences
FROM per_gram_doc
GROUP BY gram
HAVING COUNT(*) >= 2
"""


@_q("duplicate_ngram_spans", _DUP_SPANS_ORACLE)
def duplicate_ngram_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.duplicate_ngram_spans(load_table(spark, sf_dir, "documents"))


def _cms_bucket_sql(i: int) -> str:
    return (
        f"('0x' || substr(md5('cms{i}:' || CAST(user_id AS VARCHAR)), 1, 15))"
        f"::BIGINT % 256"
    )


_CMS_ORACLE = f"""
WITH pb AS (
  SELECT user_id,
         {_cms_bucket_sql(0)} AS b0,
         {_cms_bucket_sql(1)} AS b1,
         {_cms_bucket_sql(2)} AS b2,
         COUNT(*) AS cnt
  FROM events GROUP BY user_id
), probes AS (
  SELECT user_id, b0, b1, b2, cnt AS true_count
  FROM pb ORDER BY cnt DESC, user_id LIMIT 20
), sk AS (
  SELECT row_i, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT u.row_i,
           CASE u.row_i
             WHEN 0 THEN {_cms_bucket_sql(0)}
             WHEN 1 THEN {_cms_bucket_sql(1)}
             ELSE {_cms_bucket_sql(2)}
           END AS bucket
    FROM events, (SELECT UNNEST(range(0, 3)) AS row_i) u
  ) GROUP BY row_i, bucket
)
SELECT p.user_id,
       CAST(p.true_count AS BIGINT) AS true_count,
       CAST(LEAST(s0.c, s1.c, s2.c) AS BIGINT) AS cms_estimate
FROM probes p
JOIN sk s0 ON s0.row_i = 0 AND s0.bucket = p.b0
JOIN sk s1 ON s1.row_i = 1 AND s1.bucket = p.b1
JOIN sk s2 ON s2.row_i = 2 AND s2.bucket = p.b2
"""


_DATACARD_ORACLE = """
WITH nn AS MATERIALIZED (
  SELECT source, doc_id, text, LENGTH(text) AS L
  FROM documents WHERE text IS NOT NULL
), med AS (
  SELECT source, CAST(L AS BIGINT) AS median_len FROM (
    SELECT source, L,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY L ASC, doc_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS n
    FROM nn
  ) WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT)
), dups AS (
  SELECT source, SUM(c) AS dup_docs FROM (
    SELECT source, md5(text) AS h, COUNT(*) AS c
    FROM nn GROUP BY source, md5(text)
  ) WHERE c > 1 GROUP BY source
), base AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_text,
         CAST(SUM(CASE WHEN text IS NOT NULL
                       THEN len(string_split(text, ' ')) ELSE 0 END)
              AS BIGINT) AS total_tokens
  FROM documents GROUP BY source
)
SELECT b.source, b.n_docs, b.n_null_text, b.total_tokens,
       CAST(COALESCE(m.median_len, 0) AS BIGINT) AS median_len,
       CAST(COALESCE(d.dup_docs, 0) AS BIGINT) AS dup_docs
FROM base b
LEFT JOIN med m ON b.source IS NOT DISTINCT FROM m.source
LEFT JOIN dups d ON b.source IS NOT DISTINCT FROM d.source
"""


@_q("corpus_datacard", _DATACARD_ORACLE)
def corpus_datacard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card (Gebru et al. 2021 datasheets): document /
    null-text / token counts, a rank-based deterministic median
    length, and within-source exact-duplicate counts — the release
    summary every corpus ships, as one scan + keyed aggregations."""
    d = load_table(spark, sf_dir, "documents")
    return analytics.corpus_datacard(d)


@_q("events_heavy_hitters", _CMS_ORACLE)
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable count-min sketch heavy hitters: the sketch is a SPARSE
    (row, bucket, count) table built with md5 bucket hashes — depth 3 ×
    width 256 here — so it is engine-portable (unlike the JVM binary
    ``count_min_sketch``, which has no SQL query function), mergeable
    by summing counts per (row, bucket), and the estimate for any key
    is min over rows of its bucket count (over-estimate only, bounded
    by eps·N). Probes are the exact top-20 users; the entry returns
    true count and CMS estimate side by side, both oracle-checked."""
    e = load_table(spark, sf_dir, "events")
    return analytics.count_min_heavy_hitters(
        e, key_col="user_id", width=256, depth=3, top_k=20
    )


_APPROX_STATS_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1.0 AS DOUBLE) AS users_band,
       TRUE AS p50_in_band,
       TRUE AS p95_in_band
FROM events GROUP BY event_type
"""


@_q("events_approx_stats", _APPROX_STATS_ORACLE)
def events_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates per event type — the sub-linear-memory path
    for cardinality and quantiles at 100 TB (HLL++ and GK quantile
    sketches; both partial-aggregatable, constant state per group).

    BANDED oracle (r9 — was rows-only): sketch values have no
    bit-stable SQL twin, but their ACCURACY CONTRACT does. The entry
    emits exact anchors (n_events, exact_users) plus band columns —
    the HLL estimate/exact ratio rounded to 1dp (must be 1.0: HLL++
    at rsd 0.01 deviates ~1%, measured <= 0.7% here at all three
    scales, vs the band's ±5%) and booleans pinning each GK quantile
    estimate inside the exact p±5pp rank window (GK at accuracy 10000
    guarantees ±0.01pp — four decades of margin). The oracle asserts
    the bands as literals: a sketch regression past its contract
    flips the value hash red externally, which is exactly what
    "correct" means for an estimate. Raw estimates stay visible in
    the plain sketch aggregation (this entry's production form is the
    agg itself; exact columns exist only to gate it)."""
    e = load_table(spark, sf_dir, "events")
    approx = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("users_est"),
        F.percentile_approx("value", 0.5, 10000).alias("p50_est"),
        F.percentile_approx("value", 0.95, 10000).alias("p95_est"),
    )
    exact = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("exact_users"),
        F.expr("percentile(value, array(0.45, 0.55, 0.93, 0.97))").alias(
            "_b"
        ),
    )
    return approx.join(exact, "event_type").select(
        "event_type",
        "n_events",
        "exact_users",
        F.round(
            F.col("users_est") / F.col("exact_users"), 1
        ).alias("users_band"),
        (
            (F.col("p50_est") >= F.col("_b")[0])
            & (F.col("p50_est") <= F.col("_b")[1])
        ).alias("p50_in_band"),
        (
            (F.col("p95_est") >= F.col("_b")[2])
            & (F.col("p95_est") <= F.col("_b")[3])
        ).alias("p95_in_band"),
    )


_SKETCH_ROLLUP_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1.0 AS DOUBLE) AS users_band
FROM events GROUP BY event_type
"""


@_q("user_sketch_rollup", _SKETCH_ROLLUP_ORACLE)
def user_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (Apache DataSketches HLL): per
    (event_type, day) user sketches built once, then union-merged to
    per-type totals WITHOUT touching the raw data again. This is the
    incremental-aggregation pattern at 100 TB — store the binary
    sketch column per partition-day; any rollup (day->month->all
    time, any group subset) is a cheap hll_union_agg over sketches
    instead of a rescan, and distinct counts stay mergeable where
    exact COUNT(DISTINCT) cannot be pre-aggregated.

    BANDED oracle (r9 — was rows-only, the events_approx_stats
    pattern): exact anchors (n_days, exact_users) replay in SQL; the
    union-merged DataSketches estimate gates as its exact-ratio
    rounded to 1dp, asserted 1.0 by the oracle (lgK=14 → ~0.8% rsd;
    measured exact-equal here at all three scales). Merge-consistency
    itself stays property-tested
    (tests/test_properties.py::test_hll_sketch_rollup_merges)."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.hll_sketch_agg("user_id", 14).alias("user_sketch"))
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("user_sketch")).alias(
            "users_est"
        ),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "n_days",
        "exact_users",
        F.round(
            F.col("users_est") / F.col("exact_users"), 1
        ).alias("users_band"),
    )


_GAPFILL_ORACLE = """
WITH bounds AS (
  SELECT CAST(FLOOR(EPOCH(MIN(ts))/3600)*3600 AS BIGINT) AS lo,
         CAST(FLOOR(EPOCH(MAX(ts))/3600)*3600 AS BIGINT) AS hi
  FROM events
), spine AS (
  SELECT UNNEST(range(lo, hi + 3600, 3600)) AS hour_epoch FROM bounds
), actual AS (
  SELECT CAST(FLOOR(EPOCH(ts)/3600)*3600 AS BIGINT) AS hour_epoch,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
)
SELECT s.hour_epoch, COALESCE(a.n_events, 0) AS n_events
FROM spine s LEFT JOIN actual a USING (hour_epoch)
"""


@_q("events_hourly_gapfilled", _GAPFILL_ORACLE)
def events_hourly_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal densification: an hour spine generated with
    sequence()/explode spans min..max, left-joined to the hourly
    rollup so silent hours appear as explicit zeros — what every
    downstream time-series model needs and what a plain GROUP BY
    can't produce. The spine is O(hours) rows built from one
    2-value aggregate (broadcast), so the only real shuffle is the
    rollup's own."""
    e = load_table(spark, sf_dir, "events")
    hour = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    actual = e.groupBy(hour.alias("hour_epoch")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    bounds = e.agg(
        (F.floor(F.unix_timestamp(F.min("ts")) / 3600) * 3600).cast("long").alias("lo"),
        (F.floor(F.unix_timestamp(F.max("ts")) / 3600) * 3600).cast("long").alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("hour_epoch")
    )
    return spine.join(actual, "hour_epoch", "left").select(
        "hour_epoch", F.coalesce("n_events", F.lit(0)).alias("n_events")
    )


_RETENTION_ORACLE = """
WITH firsts AS (
  SELECT user_id, CAST(MIN(FLOOR(EPOCH(ts)/86400)) AS BIGINT) AS cohort_day
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, CAST(FLOOR(EPOCH(ts)/86400) AS BIGINT) AS active_day
  FROM events
)
SELECT f.cohort_day,
       a.active_day - f.cohort_day AS day_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM activity a JOIN firsts f USING (user_id)
GROUP BY 1, 2
"""


@_q("user_retention_cohorts", _RETENTION_ORACLE)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day,
    counted on each subsequent active day — the analytics-warehouse
    classic. Two aggregations sharing the user_id shuffle key plus a
    broadcast-sized cohort join; all integers, exact across engines."""
    e = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    firsts = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = e.select("user_id", day.alias("active_day")).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            (F.col("active_day") - F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


_CENTRAL_TENDENCY_ORACLE = """
SELECT event_type,
       ROUND(MEDIAN(value), 4) AS median_value,
       ROUND(STDDEV_SAMP(value), 4) AS sd_value,
       ROUND(VAR_SAMP(value), 4) AS var_value,
       ROUND(MIN(value), 4) AS min_value,
       ROUND(MAX(value), 4) AS max_value
FROM events
GROUP BY event_type
"""


@_q("events_central_tendency", _CENTRAL_TENDENCY_ORACLE)
def events_central_tendency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median (interpolated percentile-0.5) + sample
    stddev/variance per group — both engines agree bit-for-bit on
    these. Skewness/kurtosis are deliberately EXCLUDED from the
    oracle-gated surface: Spark returns population estimators (g1/g2)
    while DuckDB returns sample-adjusted (G1/G2) — a definitional
    difference, not float noise."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.median("value"), 4).alias("median_value"),
        F.round(F.stddev_samp("value"), 4).alias("sd_value"),
        F.round(F.var_samp("value"), 4).alias("var_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


_PIPE_SYNTAX_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 4) AS total
FROM events
WHERE value > 100
GROUP BY event_type
HAVING COUNT(*) > 10
"""


@_q("events_pipe_syntax", _PIPE_SYNTAX_ORACLE)
def events_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 `|>` operators): the same logical plan
    as WHERE/GROUP BY/HAVING, written as a linear pipeline — parser
    surface only, Catalyst sees identical plans (the oracle is the
    classic formulation)."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        FROM events
        |> WHERE value > 100
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n,
                     ROUND(SUM(value), 4) AS total
           GROUP BY event_type
        |> WHERE n > 10
        """
    )


_UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
         CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
  FROM events GROUP BY 1
)
SELECT day, event_type, n FROM wide
UNPIVOT (n FOR event_type IN (n_click, n_view, n_purchase, n_signup, n_error))
"""


@_q("events_pivot_roundtrip", _UNPIVOT_ORACLE)
def events_pivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) surface: the wide per-day pivot folded back to
    long form with DataFrame.unpivot — the wide↔long pair the
    reference has neither direction of. Spark melts JVM-side via an
    Expand node (no shuffle beyond the pivot's own aggregation)."""
    wide = ev.type_pivot_daily(load_table(spark, sf_dir, "events"))
    return wide.unpivot(
        ids=["day"],
        values=[f"n_{t}" for t in ["click", "view", "purchase", "signup", "error"]],
        variableColumnName="event_type",
        valueColumnName="n",
    )


_SLIDING_ORACLE = """
WITH w AS (
  SELECT FLOOR(EPOCH(ts)/1800)*1800 - k.k*1800 AS win_start, event_type, value
  FROM events CROSS JOIN (SELECT UNNEST(range(2)) AS k) k
  WHERE EPOCH(ts) >= FLOOR(EPOCH(ts)/1800)*1800 - k.k*1800
    AND EPOCH(ts) <  FLOOR(EPOCH(ts)/1800)*1800 - k.k*1800 + 3600
)
SELECT CAST(win_start AS BIGINT) AS window_start_epoch, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM w GROUP BY 1, 2
"""


@_q("events_sliding_1h30m", _SLIDING_ORACLE)
def events_sliding_1h30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rollup (1 h window, 30 min slide): each event
    feeds size/slide = 2 overlapping windows — F.window handles the
    fan-out JVM-side (no explode). Epoch-integer window keys keep the
    oracle timezone-free; the same expression under readStream +
    withWatermark is the incremental form (streaming twin pattern of
    events_hourly / hourly_rollup_stream)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.unix_timestamp("window.start").alias("window_start_epoch"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


_USER_TREND_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(REGR_SLOPE(value, EPOCH_US(ts) / 3600000000.0), 4) AS slope_per_hour,
       ROUND(REGR_R2(value, EPOCH_US(ts) / 3600000000.0), 4) AS r2
FROM events
GROUP BY user_id
"""


@_q("user_value_trend", _USER_TREND_ORACLE)
def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend via the SQL regression aggregates
    (regr_slope/regr_r2) — linear model fitting as a single
    partial-aggregatable JVM aggregation (six moment sums), no UDF.
    tests/test_properties.py proves the equivalent applyInPandas
    numpy path gives the same fits, value-gating the grouped-map API
    against the declarative one."""
    e = load_table(spark, sf_dir, "events")
    # integer microseconds on BOTH engines -> identical doubles for x
    # (unix_timestamp would truncate to seconds; DuckDB EPOCH keeps
    # fractional seconds — micros/3.6e9 is exact on both)
    x = F.unix_micros("ts") / F.lit(3600.0 * 1e6)
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.regr_slope(F.col("value"), x), 4).alias("slope_per_hour"),
        F.round(F.regr_r2(F.col("value"), x), 4).alias("r2"),
    )


_STRAT_SAMPLE_ORACLE = """
SELECT event_id, event_type, user_id
FROM events
WHERE ('0x' || substr(md5(event_type || ':' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
      % 10000
      < CASE event_type WHEN 'click' THEN 1000
                        WHEN 'view' THEN 500
                        ELSE 5000 END
"""


@_q("events_stratified_sample", _STRAT_SAMPLE_ORACLE)
def events_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic stratified downsample (10% of clicks, 5% of
    views, 50% of everything else) — the reproducible way to rebalance
    event classes in a training corpus."""
    e = load_table(spark, sf_dir, "events")
    return ta.stratified_sample_by_hash(
        e.select("event_id", "event_type", "user_id"),
        "event_type",
        "event_id",
        {"click": 0.10, "view": 0.05},
        default_fraction=0.50,
    )


# same oracle as dedup_ngram_jaccard: prefix filtering is lossless
# (prefix-overlap theorem), proven equal to the naive operator in
# tests/test_dedup_quality.py::test_prefix_filter_jaccard_equals_naive
@_q("dedup_ngram_jaccard_prefix", _NGRAM_JACCARD_ORACLE)
def dedup_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs_prefix(d, "doc_id", "text", n=3, threshold=0.5)


# Same oracle as events_sessionize. Boundary semantics verified by
# direct observation: an event at EXACTLY last_ts + gap merges into
# the session (session_window extends to [start, last+gap] inclusive),
# matching the gaps-and-islands SQL's strict-> split — the two agree
# even on exact-boundary gaps (none exist in harness data anyway).
@_q("events_sessionize_native", _SESSIONIZE_ORACLE)
def events_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via Spark's native session_window —
    the API twin of the manual gaps-and-islands operator (state is a
    merging session map per group key, the same construct Structured
    Streaming uses for streaming session windows)."""
    e = load_table(spark, sf_dir, "events")
    per_session = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n").cast("long").alias("n_events"),
    )


# One Lloyd iteration, unrolled: assignment under the previous
# centroids (12dp-rounded sims, ties -> smallest centroid id — exactly
# kmeans_centroids' np.round + nanargmax), then per-cluster
# per-dimension means rounded to 12dp (exactly the F.round(s/cnt, 12)
# recompute). Rounding at BOTH steps is what makes distributed
# partial-sum training replayable by sequential SQL: every cross-engine
# ulp gap collapses before it can flip an argmax.
_KMEANS_ITER_SQL = """, a{i} AS (
  SELECT vec_id, v, centroid_id AS cluster FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 12) DESC,
                      c.centroid_id ASC) AS rn
    FROM e CROSS JOIN c{prev} c
  ) WHERE rn = 1
), c{i} AS (
  SELECT cluster AS centroid_id, list(mu ORDER BY dim) AS cv FROM (
    SELECT cluster, dim, ROUND(SUM(x) / COUNT(*), 12) AS mu FROM (
      SELECT cluster, unnest(v) AS x, generate_subscripts(v, 1) AS dim
      FROM a{i}
    ) GROUP BY cluster, dim
  ) GROUP BY cluster
)"""

_KNN_IVF_KMEANS_ORACLE = (
    """WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), c0 AS (
  -- first 16 DISTINCT vectors, labeled by smallest id (mirrors
  -- kmeans_centroids' duplicate-proof init)
  SELECT centroid_id, cv FROM (
    SELECT MIN(vec_id) AS centroid_id, v AS cv FROM e GROUP BY v
  ) ORDER BY centroid_id LIMIT 16
)"""
    + "".join(_KMEANS_ITER_SQL.format(i=i, prev=i - 1) for i in (1, 2, 3))
    + """
, asg AS (
  SELECT vec_id, v, centroid_id AS cluster FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 12) DESC,
                      c.centroid_id ASC) AS rn
    FROM e CROSS JOIN c3 c
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, qv, centroid_id AS cluster FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND(list_cosine_similarity(q.v, c.cv), 12) DESC,
                      c.centroid_id ASC) AS rn
    FROM e q CROSS JOIN c3 c WHERE q.vec_id < 10
  ) WHERE rn <= 4
), p AS (
  SELECT probes.query_id, asg.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(probes.qv, asg.v), 4) AS cosine
  FROM probes JOIN asg ON probes.cluster = asg.cluster
  WHERE asg.vec_id <> probes.query_id
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM p
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5"""
)


# Line-level dedup replay: split on newline, global first-occurrence
# by (id, idx) within each line-hash partition, ordered string_agg
# reassembly (string_agg skips the NULLed dropped lines exactly like
# array_join over the kept array).
_LINE_DEDUP_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
), lines AS (
  SELECT doc_id AS id,
         generate_subscripts(string_split(text, chr(10)), 1) - 1 AS idx,
         unnest(string_split(text, chr(10))) AS line
  FROM corpus WHERE text IS NOT NULL
), kept AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY md5(line)
                            ORDER BY id ASC, idx ASC) = 1 AS is_first
  FROM lines
)
SELECT id AS doc_id,
       COALESCE(string_agg(CASE WHEN is_first THEN line END,
                           chr(10) ORDER BY idx), '') AS text_clean,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN is_first THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
FROM kept GROUP BY id
"""


@_q("line_dedup", _LINE_DEDUP_ORACLE)
def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact line-level dedup (RefinedWeb/CCNet pre-filter): only the
    corpus-wide FIRST occurrence of each distinct line survives, docs
    reassemble from surviving lines in order. Input simulates a
    re-crawl — the corpus unioned with a re-id'd copy of itself — so
    every re-crawled doc provably comes back with empty text_clean
    and n_removed == n_lines while the originals keep their text (the
    keep-first rule demonstrated on both sides of the union)."""
    from lakehouse_to_rag_spark.operators.text_analysis import (
        line_dedup as _ld,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = d.select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text"
    )
    return _ld(d.unionByName(recrawl))


_GOPHER_ORACLE = """
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'), w -> w <> '')
           AS words,
         string_split(text, chr(10)) AS lines
  FROM documents WHERE text IS NOT NULL
), m AS (
  SELECT doc_id,
    len(words) AS n_words,
    NULLIF(CAST(len(words) AS DOUBLE), 0.0) AS nw,
    CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
      AS total_chars,
    length(text) - length(replace(text, '#', '')) AS n_hash,
    (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell_sym,
    NULLIF(CAST(len(lines) AS DOUBLE), 0.0) AS nl,
    len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]')))
      AS n_bullet,
    len(list_filter(lines,
        l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$'))) AS n_ell_lines,
    len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
    (CASE WHEN list_contains(list_transform(words, w -> lower(w)), 'the')
          THEN 1 ELSE 0 END
     + CASE WHEN list_contains(list_transform(words, w -> lower(w)), 'be')
          THEN 1 ELSE 0 END
     + CASE WHEN list_contains(list_transform(words, w -> lower(w)), 'to')
          THEN 1 ELSE 0 END
     + CASE WHEN list_contains(list_transform(words, w -> lower(w)), 'of')
          THEN 1 ELSE 0 END
     + CASE WHEN list_contains(list_transform(words, w -> lower(w)), 'and')
          THEN 1 ELSE 0 END
     + CASE WHEN list_contains(list_transform(words, w -> lower(w)), 'that')
          THEN 1 ELSE 0 END
     + CASE WHEN list_contains(list_transform(words, w -> lower(w)), 'have')
          THEN 1 ELSE 0 END
     + CASE WHEN list_contains(list_transform(words, w -> lower(w)), 'with')
          THEN 1 ELSE 0 END) AS n_stop
  FROM base
), r AS (
  SELECT doc_id, n_words, n_stop,
    total_chars / nw AS mean_word_len,
    (n_hash + n_ell_sym) / nw AS symbol_ratio,
    n_bullet / nl AS bullet_ratio,
    n_ell_lines / nl AS ellipsis_ratio,
    n_alpha / nw AS alpha_ratio
  FROM m
)
SELECT doc_id,
  CAST(n_words AS BIGINT) AS n_words,
  FLOOR(mean_word_len * 10000 + 0.5) / 10000 AS mean_word_len,
  FLOOR(symbol_ratio * 10000 + 0.5) / 10000 AS symbol_ratio,
  FLOOR(bullet_ratio * 10000 + 0.5) / 10000 AS bullet_ratio,
  FLOOR(ellipsis_ratio * 10000 + 0.5) / 10000 AS ellipsis_ratio,
  FLOOR(alpha_ratio * 10000 + 0.5) / 10000 AS alpha_word_ratio,
  CAST(n_stop AS BIGINT) AS n_stop_present,
  COALESCE(n_words >= 50 AND n_words <= 100000
           AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
           AND symbol_ratio <= 0.1
           AND bullet_ratio <= 0.9
           AND ellipsis_ratio <= 0.3
           AND alpha_ratio >= 0.8
           AND n_stop >= 1, FALSE) AS keep
FROM r
"""


@_q("gopher_quality", _GOPHER_ORACLE)
def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, App. A1.1) replayed
    rule-by-rule in SQL: every per-doc signal (word count, mean word
    length, symbol/bullet/ellipsis ratios, alpha-word ratio, stop-word
    presence) plus the composite keep flag. min_words=50 and
    min_stop_words=1 sit inside the synthetic corpus's distribution
    (10..99 words, 76% contain 'the') so BOTH keep outcomes are
    exercised; thresholds compare the UNROUNDED ratios on both
    engines."""
    from lakehouse_to_rag_spark.operators.text_analysis import (
        gopher_quality_scores,
    )

    d = load_table(spark, sf_dir, "documents")
    return gopher_quality_scores(d, min_words=50, min_stop_words=1)


_C4_ORACLE = """
WITH b AS (
  SELECT doc_id,
         regexp_replace(text, ' table ', '.' || chr(10), 'g') AS t
  FROM documents WHERE text IS NOT NULL
), s AS (
  SELECT doc_id, t,
    string_split(t, chr(10)) AS lines,
    list_filter(string_split(t, chr(10)),
      l -> regexp_matches(rtrim(l), '[.!?]$')
           AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5
    ) AS kept
  FROM b
)
SELECT doc_id,
  CAST(len(lines) AS BIGINT) AS n_lines,
  CAST(len(kept) AS BIGINT) AS n_kept,
  (contains(lower(t), 'lorem ipsum') OR contains(t, '{')
   OR len(kept) < 2) AS dropped,
  CASE WHEN NOT (contains(lower(t), 'lorem ipsum') OR contains(t, '{')
                 OR len(kept) < 2)
       THEN list_aggregate(kept, 'string_agg', chr(10)) END AS text_clean
FROM s
"""


@_q("c4_line_filter", _C4_ORACLE)
def c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020 §2.2) on a line-structured
    view of the corpus: the single-line synthetic docs gain line
    boundaries by rewriting every ' table ' into '.<newline>' (the
    SAME global left-to-right regexp_replace on both engines), then
    the operator keeps terminal-punctuation lines of >= 5 words and
    drops docs retaining < 2 lines — 197/500 survive at sf0.01, so
    both outcomes and the NULL-text_clean convention face the hash."""
    from lakehouse_to_rag_spark.operators.text_analysis import (
        c4_line_filter as _c4,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.col("text"), " table ", ".\n").alias("text"),
    )
    return _c4(d, min_words_per_line=5, min_kept_lines=2)


# Naive-Bayes quality filter replay: per-class hashed-bucket counts,
# add-1 smoothing, integer micro-unit log-likelihood ratios (exact
# BIGINT per-doc sums — same partition-order-proof discipline as
# dsir_select), unseen-bucket constant via LEFT JOIN + COALESCE,
# 6dp prior, 4dp logit. Train = even doc_ids (label: src0-src2),
# apply = odd doc_ids (held out).
_NB_QUALITY_ORACLE = """
WITH train AS (
  SELECT doc_id, text, source IN ('src0', 'src1', 'src2') AS y
  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0
), tok AS (
  SELECT doc_id AS id, y,
         ('0x' || substr(md5('dsir:' || word), 1, 15))::BIGINT % 1024 AS bucket
  FROM (SELECT doc_id, y, unnest(string_split(LOWER(text), ' ')) AS word
        FROM train)
), counts AS (
  SELECT bucket,
         SUM(CASE WHEN y THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN y THEN 0 ELSE 1 END) AS c0
  FROM tok GROUP BY bucket
), tots AS (
  SELECT SUM(c1) AS t1, SUM(c0) AS t0 FROM counts
), prior AS (
  SELECT CAST(FLOOR(LN((SUM(CASE WHEN y THEN 1 ELSE 0 END) + 1.0)
                       / (SUM(CASE WHEN y THEN 0 ELSE 1 END) + 1.0))
                    * 1000000.0 + 0.5) AS BIGINT) AS prior_micro
  FROM train
), ratio AS (
  SELECT bucket,
         CAST(FLOOR((LN((c1 + 1.0) / (t1 + 1024.0))
                     - LN((c0 + 1.0) / (t0 + 1024.0)))
                    * 1000000.0 + 0.5) AS BIGINT) AS llr_micro
  FROM counts CROSS JOIN tots
), unseen AS (
  SELECT CAST(FLOOR((LN(1.0 / (t1 + 1024.0)) - LN(1.0 / (t0 + 1024.0)))
                    * 1000000.0 + 0.5) AS BIGINT) AS unseen_micro
  FROM tots
), atok AS (
  SELECT doc_id AS id,
         ('0x' || substr(md5('dsir:' || word), 1, 15))::BIGINT % 1024 AS bucket
  FROM (SELECT doc_id, unnest(string_split(LOWER(text), ' ')) AS word
        FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1)
), doc_buckets AS (
  SELECT id, bucket, COUNT(*) AS n FROM atok GROUP BY id, bucket
), summed AS (
  SELECT id, SUM(n * COALESCE(llr_micro, unseen_micro)) AS sum_micro
  FROM doc_buckets
  LEFT JOIN ratio USING (bucket)
  CROSS JOIN unseen
  GROUP BY id
)
SELECT id AS doc_id,
       FLOOR((sum_micro + prior_micro) / 100.0 + 0.5) / 10000.0 AS logit,
       FLOOR((sum_micro + prior_micro) / 100.0 + 0.5) / 10000.0 > 0.0 AS pred_hq
FROM summed CROSS JOIN prior
"""


@_q("nb_quality_filter", _NB_QUALITY_ORACLE)
def nb_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive-Bayes quality filter (the fastText-style
    'looks like the high-quality slice' classifier of CCNet/GPT-3
    pipelines): trained on the even-id half (label: src0-src2),
    applied to the held-out odd-id half. Two training aggregations +
    a broadcast log-likelihood-ratio join; exact-integer per-doc
    reduction; fully replayed by the oracle incl. the unseen-bucket
    constant and the prior."""
    from lakehouse_to_rag_spark.operators.text_analysis import (
        nb_quality_scores,
    )

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    train = d.filter(F.col("doc_id") % 2 == 0).withColumn(
        "is_hq", F.col("source").isin("src0", "src1", "src2")
    )
    apply = d.filter(F.col("doc_id") % 2 == 1)
    return nb_quality_scores(train, apply)


# SemDeDup replay: the same unrolled-Lloyd chain as knn_ivf_kmeans,
# then within-cluster pairs only (the paper's O(sum cluster^2) point)
# and the keep-smallest-id rule as a NOT-IN over dropped ids.
_SEMDEDUP_ORACLE = (
    """WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), c0 AS (
  -- first 16 DISTINCT vectors, labeled by smallest id (mirrors
  -- kmeans_centroids' duplicate-proof init)
  SELECT centroid_id, cv FROM (
    SELECT MIN(vec_id) AS centroid_id, v AS cv FROM e GROUP BY v
  ) ORDER BY centroid_id LIMIT 16
)"""
    + "".join(_KMEANS_ITER_SQL.format(i=i, prev=i - 1) for i in (1, 2, 3))
    + """
, asg AS (
  SELECT vec_id, v, centroid_id AS cluster FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 12) DESC,
                      c.centroid_id ASC) AS rn
    FROM e CROSS JOIN c3 c
  ) WHERE rn = 1
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM asg a JOIN asg b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= 0.4
)
SELECT asg.vec_id, CAST(asg.cluster AS BIGINT) AS cluster,
       asg.vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
FROM asg"""
)


@_q("semdedup", _SEMDEDUP_ORACLE)
def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023): k-means the
    embedding space (the oracle-replayable 12dp Lloyd quantizer),
    then drop any vector with a smaller-id near-duplicate (rounded
    cosine >= 0.4) in the SAME cluster — the all-pairs surface
    shrinks to O(sum cluster_size^2), the paper's web-scale point.
    Emits (vec_id, cluster, kept) for the whole corpus; the oracle
    replays training, assignment, and the in-cluster pair scan."""
    e = load_table(spark, sf_dir, "embeddings")
    return dd.semdedup(e, num_clusters=16, threshold=0.4, iterations=3)


_STOPCASE = "\n     + ".join(
    "CASE WHEN list_contains(list_transform(words, w -> lower(w)), "
    f"'{s}') THEN 1 ELSE 0 END"
    for s in ["the", "be", "to", "of", "and", "that", "have", "with"]
)

# The shared relational chain of the two pretraining-pipeline
# entries: (documents + re-crawl) -> exact line dedup -> Gopher keep
# -> 3-gram-Jaccard near-dedup. `pretrain_pipeline` ends here (its
# original min_words=50 gate); `pretrain_corpus_full` continues
# through NB selection, domain mix, deterministic shard/shuffle and
# per-shard sequence packing with a looser min_words=20 gate so the
# NB training half is large enough to be meaningful at sf0.01.
def _pretrain_chain_ctes(min_words: int) -> str:
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
), lns AS (
  SELECT doc_id AS id,
         generate_subscripts(string_split(text, chr(10)), 1) - 1 AS idx,
         unnest(string_split(text, chr(10))) AS line
  FROM corpus WHERE text IS NOT NULL
), kept AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY md5(line)
                            ORDER BY id ASC, idx ASC) = 1 AS is_first
  FROM lns
), ld AS (
  SELECT id AS doc_id,
         COALESCE(string_agg(CASE WHEN is_first THEN line END,
                             chr(10) ORDER BY idx), '') AS text
  FROM kept GROUP BY id
), base AS (
  SELECT doc_id, text FROM ld WHERE text <> ''
), gb AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'), w -> w <> '')
           AS words,
         string_split(text, chr(10)) AS lines
  FROM base
), gm AS (
  SELECT doc_id,
    len(words) AS n_words,
    NULLIF(CAST(len(words) AS DOUBLE), 0.0) AS nw,
    CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
      AS total_chars,
    length(text) - length(replace(text, '#', '')) AS n_hash,
    (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell_sym,
    NULLIF(CAST(len(lines) AS DOUBLE), 0.0) AS nl,
    len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]')))
      AS n_bullet,
    len(list_filter(lines,
        l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$'))) AS n_ell_lines,
    len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
    ({_STOPCASE}) AS n_stop
  FROM gb
), gk AS (
  SELECT b.doc_id, b.text, m.n_words
  FROM base b JOIN gm m USING (doc_id)
  WHERE COALESCE(m.n_words >= {min_words} AND m.n_words <= 100000
    AND m.total_chars / m.nw >= 3.0 AND m.total_chars / m.nw <= 10.0
    AND (m.n_hash + m.n_ell_sym) / m.nw <= 0.1
    AND m.n_bullet / m.nl <= 0.9
    AND m.n_ell_lines / m.nl <= 0.3
    AND m.n_alpha / m.nw >= 0.8
    AND m.n_stop >= 1, FALSE)
), w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM gk
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, GREATEST(len(words) - 1, 1)),
                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
           AS shingle
  FROM w
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), dropped AS (
  SELECT DISTINCT id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
)"""


_PRETRAIN_PIPELINE_ORACLE = _pretrain_chain_ctes(50) + """
SELECT g.doc_id, CAST(g.n_words AS BIGINT) AS n_words
FROM gk g LEFT JOIN dropped d ON g.doc_id = d.id_b
WHERE d.id_b IS NULL
"""


@_q("pretrain_pipeline", _PRETRAIN_PIPELINE_ORACLE)
def pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END pretraining-corpus assembly — the §2.13 operators
    CHAINED, with one oracle replaying the whole pipe: (1) the corpus
    plus a re-id'd re-crawl goes through exact line-level dedup (every
    re-crawled copy collapses to empty and is dropped), (2) survivors
    pass the Gopher quality rules (word-count/mean-length/symbol/
    alpha/stop-word), (3) near-duplicates among the keepers are
    removed by exact 3-gram Jaccard >= 0.5 with the greedy pairwise
    keep-first rule (a doc is dropped iff a SMALLER-id doc is similar
    to it — the same local rule as semdedup, no transitive closure).
    Output: (doc_id, n_words) of the final training set.

    Every stage keeps its standalone operator's exact conventions
    (line split, \\s+ words, space-split shingles), so the composed
    oracle is the three standalone oracles' CTEs fused — a regression
    anywhere in the chain moves the final survivor set and fails the
    hash."""
    from lakehouse_to_rag_spark.operators.dedup import ngram_jaccard_pairs
    from lakehouse_to_rag_spark.operators.text_analysis import (
        gopher_quality_scores,
        line_dedup,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = d.select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text"
    )
    # ld feeds two consumers (gopher scoring + the join-back) and
    # keepers feeds three (shingles, the anti-join left side, output);
    # checkpointing materializes each chain once instead of replaying
    # the union+line-dedup shuffles per consumer (same discipline as
    # ngram_jaccard_pairs' shingle table)
    ld = (
        line_dedup(d.unionByName(recrawl))
        .filter(F.col("text_clean") != "")
        .select("doc_id", F.col("text_clean").alias("text"))
        .localCheckpoint(eager=False)
    )
    g = gopher_quality_scores(ld, min_words=50, min_stop_words=1)
    keepers = ld.join(
        g.filter("keep").select("doc_id", "n_words"), "doc_id"
    ).localCheckpoint(eager=False)
    pairs = ngram_jaccard_pairs(
        keepers, "doc_id", "text", n=3, threshold=0.5, max_shingle_df=None
    )
    dropped = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return keepers.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "n_words"
    )


# The COMPLETE production chain (VERDICT r5 brief #1): the relational
# prefix of pretrain_pipeline extended through NB quality selection
# (trained on the even-id survivor half, applied to all survivors),
# deterministic domain mixing, the epoch shard/shuffle-key assignment,
# and per-shard sequence packing in shuffle-key order — every stage
# keeping its standalone entry's exact conventions (md5 'dsir:'
# buckets + integer-micro logits, md5 'mix:' keep buckets + floored
# thresholds, 'epoch0' shard/key salts, WS_CLASS token estimator), so
# the fused oracle is the standalone oracles' CTEs composed and a
# regression in ANY stage moves the final packed set. The shard sink
# (write_pretrain_corpus) is the non-relational tail — footer-verified
# in tests/test_curation.py::test_pretrain_corpus_full_sink.
_PRETRAIN_FULL_ORACLE = _pretrain_chain_ctes(20) + """
, nd AS (
  SELECT g.doc_id, g.text
  FROM gk g LEFT JOIN dropped dp ON g.doc_id = dp.id_b
  WHERE dp.id_b IS NULL
), sel_in AS (
  SELECT n.doc_id, n.text, d.source
  FROM nd n JOIN documents d USING (doc_id)
), train AS (
  SELECT doc_id, text,
         source IN ('src0', 'src1', 'src2', 'src3', 'src4',
                    'src5', 'src6', 'src7', 'src8', 'src9') AS y
  FROM sel_in WHERE doc_id % 2 = 0
), tok AS (
  SELECT doc_id AS id, y,
         ('0x' || substr(md5('dsir:' || word), 1, 15))::BIGINT % 1024 AS bucket
  FROM (SELECT doc_id, y, unnest(string_split(LOWER(text), ' ')) AS word
        FROM train)
), counts AS (
  SELECT bucket,
         SUM(CASE WHEN y THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN y THEN 0 ELSE 1 END) AS c0
  FROM tok GROUP BY bucket
), tots AS (
  SELECT SUM(c1) AS t1, SUM(c0) AS t0 FROM counts
), prior AS (
  SELECT CAST(FLOOR(LN((SUM(CASE WHEN y THEN 1 ELSE 0 END) + 1.0)
                       / (SUM(CASE WHEN y THEN 0 ELSE 1 END) + 1.0))
                    * 1000000.0 + 0.5) AS BIGINT) AS prior_micro
  FROM train
), ratio AS (
  SELECT bucket,
         CAST(FLOOR((LN((c1 + 1.0) / (t1 + 1024.0))
                     - LN((c0 + 1.0) / (t0 + 1024.0)))
                    * 1000000.0 + 0.5) AS BIGINT) AS llr_micro
  FROM counts CROSS JOIN tots
), unseen AS (
  SELECT CAST(FLOOR((LN(1.0 / (t1 + 1024.0)) - LN(1.0 / (t0 + 1024.0)))
                    * 1000000.0 + 0.5) AS BIGINT) AS unseen_micro
  FROM tots
), atok AS (
  SELECT doc_id AS id,
         ('0x' || substr(md5('dsir:' || word), 1, 15))::BIGINT % 1024 AS bucket
  FROM (SELECT doc_id, unnest(string_split(LOWER(text), ' ')) AS word
        FROM sel_in)
), doc_buckets AS (
  SELECT id, bucket, COUNT(*) AS n FROM atok GROUP BY id, bucket
), summed AS (
  SELECT id, SUM(n * COALESCE(llr_micro, unseen_micro)) AS sum_micro
  FROM doc_buckets
  LEFT JOIN ratio USING (bucket)
  CROSS JOIN unseen
  GROUP BY id
), nb_keep AS (
  SELECT id AS doc_id FROM summed CROSS JOIN prior
  WHERE FLOOR((sum_micro + prior_micro) / 100.0 + 0.5) / 10000.0 > 0.0
), selected AS (
  SELECT s.doc_id, s.text, s.source
  FROM sel_in s JOIN nb_keep USING (doc_id)
), wts(source, w) AS (
  VALUES ('src0', 0.2), ('src1', 0.15), ('src2', 0.15), ('src3', 0.1),
         ('src4', 0.1), ('src5', 0.1), ('src6', 0.1), ('src7', 0.1)
), mcounts AS (
  SELECT s.source, w, CAST(COUNT(*) AS DOUBLE) AS n_g
  FROM selected s JOIN wts USING (source) GROUP BY s.source, w
), mrates AS (
  SELECT source, LEAST(1.0, MIN(n_g / w) OVER () * w / n_g) AS rate
  FROM mcounts
), mixed AS (
  SELECT s.doc_id, s.text FROM selected s JOIN mrates USING (source)
  WHERE ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
        < CAST(FLOOR(rate * 1000000) AS BIGINT)
), keyed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('epoch0/shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 4 AS INTEGER) AS shard,
         md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
         CAST(len(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens
  FROM mixed
), cums AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY shuffle_key
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM keyed
)
SELECT doc_id, shard, n_tokens,
       CAST(FLOOR((cum - n_tokens) / 256.0) AS BIGINT) AS seq_id,
       FLOOR((cum - 1) / 256.0) > FLOOR((cum - n_tokens) / 256.0)
         AS straddles_boundary
FROM cums
"""


@_q("pretrain_corpus_full", _PRETRAIN_FULL_ORACLE)
def pretrain_corpus_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining-corpus CAPSTONE — the complete production
    chain as ONE fused, oracle-gated plan:

      line-dedup -> Gopher keep -> 3-gram-Jaccard near-dedup
      -> NB quality selection -> domain mix -> deterministic epoch
      shard/shuffle assignment -> per-shard sequence packing

    ending at the ``write_pretrain_corpus`` shard sink (exercised and
    footer-verified in tests; the driver compares the relational
    output). Output: (doc_id, shard, n_tokens, seq_id,
    straddles_boundary) — the packed training set in its final epoch
    order. Each multi-consumer intermediate is lazily checkpointed so
    the chain materializes each stage once (action-count test in
    tests/test_curation.py)."""
    from lakehouse_to_rag_spark.operators.curation import (
        _shard_col,
        _shuffle_key_col,
        domain_mix_sample,
    )
    from lakehouse_to_rag_spark.operators.dedup import ngram_jaccard_pairs
    from lakehouse_to_rag_spark.operators.text_analysis import (
        gopher_quality_scores,
        line_dedup,
        nb_quality_scores,
        sequence_pack,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = d.select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text"
    )
    ld = (
        line_dedup(d.unionByName(recrawl))
        .filter(F.col("text_clean") != "")
        .select("doc_id", F.col("text_clean").alias("text"))
        .localCheckpoint(eager=False)
    )
    # min_words=20 (vs pretrain_pipeline's 50) so the NB training
    # half is large enough to be meaningful at driver scale
    g = gopher_quality_scores(ld, min_words=20, min_stop_words=1)
    keepers = ld.join(
        g.filter("keep").select("doc_id"), "doc_id"
    ).localCheckpoint(eager=False)
    pairs = ngram_jaccard_pairs(
        keepers, "doc_id", "text", n=3, threshold=0.5, max_shingle_df=None
    )
    nd = keepers.join(
        pairs.select(F.col("id_b").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )
    # survivors are all original ids (recrawl copies collapse to empty
    # in line-dedup), so the metadata join-back is a plain equi-join
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sel_in = nd.join(src, "doc_id").localCheckpoint(eager=False)
    # 'high-quality slice' = half the sources, so classes are
    # balanced and both NB outcomes face the hash
    train = sel_in.filter(F.col("doc_id") % 2 == 0).withColumn(
        "is_hq", F.col("source").isin(*[f"src{i}" for i in range(10)])
    )
    # train is literally a filter of sel_in, so the NB stage derives
    # the train half's bucket counts from the apply-side tokenization
    # (one md5 pass over sel_in instead of 1.5 — guide §1.2; r14)
    scored = nb_quality_scores(train, sel_in, train_within_apply=True)
    selected = sel_in.join(
        scored.filter("pred_hq").select("doc_id"), "doc_id"
    ).localCheckpoint(eager=False)
    mixed = domain_mix_sample(
        selected,
        {"src0": 0.2, "src1": 0.15, "src2": 0.15, "src3": 0.1,
         "src4": 0.1, "src5": 0.1, "src6": 0.1, "src7": 0.1},
    )
    packed_in = selected.join(mixed.select("doc_id"), "doc_id").select(
        "doc_id",
        "text",
        _shard_col("doc_id", "epoch0", 4),
        _shuffle_key_col("doc_id", "epoch0"),
    )
    # 256-token budget: short synthetic docs still cross sequence
    # boundaries, so straddles_boundary exercises both outcomes
    return sequence_pack(
        packed_in,
        seq_tokens=256,
        id_col="doc_id",
        group_col="shard",
        order_col="shuffle_key",
    )


@_q("compression_ratio")  # structurally no-oracle: DEFLATE (stateful
# LZ77+Huffman) is not expressible in SQL and DuckDB ships no zlib
# scalar — same class as the HLL-sketch entries; golden/monotonicity
# tests in tests/test_curation.py pin the semantics instead
def compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compressibility signal over the documents corpus —
    rows-only driver check (row count + schema)."""
    from lakehouse_to_rag_spark.operators.text_analysis import (
        compression_ratio as _cr,
    )

    d = load_table(spark, sf_dir, "documents", parallelize=True)
    return _cr(d)


_BLOCKLIST_ORACLE = """
WITH base AS (
  SELECT doc_id,
    list_filter(
      list_transform(
        regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'),
        w -> lower(w)),
      w -> w <> '') AS words
  FROM documents WHERE text IS NOT NULL
), m AS (
  SELECT doc_id,
    len(list_filter(words,
        w -> list_contains(['spark', 'vector', 'stream'], w))) AS nb
  FROM base
)
SELECT doc_id, CAST(nb AS BIGINT) AS n_blocked_words,
       nb > 0 AS flagged
FROM m
"""


@_q("blocklist_filter", _BLOCKLIST_ORACLE)
def blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style word-blocklist filter (any whole-word occurrence
    flags the doc). The demo list is three corpus-vocabulary words so
    BOTH outcomes face the hash; whole-word semantics (substrings
    never count) replayed via the same WS_CLASS split + lowercase +
    list_contains in SQL."""
    from lakehouse_to_rag_spark.operators.text_analysis import (
        blocklist_filter as _bl,
    )

    d = load_table(spark, sf_dir, "documents")
    return _bl(d, ["spark", "vector", "stream"])


_PROTO_ORACLE = (
    """WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), c0 AS (
  SELECT centroid_id, cv FROM (
    SELECT MIN(vec_id) AS centroid_id, v AS cv FROM e GROUP BY v
  ) ORDER BY centroid_id LIMIT 16
)"""
    + "".join(_KMEANS_ITER_SQL.format(i=i, prev=i - 1) for i in (1, 2, 3))
    + """
SELECT vec_id, CAST(centroid_id AS BIGINT) AS cluster,
       ROUND(sim, 4) AS proto_sim
FROM (
  SELECT e.vec_id, c.centroid_id,
         list_cosine_similarity(e.v, c.cv) AS sim,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 12) DESC,
                    c.centroid_id ASC) AS rn
  FROM e CROSS JOIN c3 c
) WHERE rn = 1"""
)


@_q("prototype_scores", _PROTO_ORACLE)
def prototype_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 prototypicality (Tirumala et al. 2023): cosine of every
    vector to its trained k-means centroid — the diversification
    score whose per-cluster most-prototypical tail D4 drops after
    semantic dedup. Full replay: the unrolled 3-iteration Lloyd
    (shared with knn_ivf_kmeans/semdedup), 12dp argmax assignment,
    4dp half-away score."""
    from lakehouse_to_rag_spark.operators.curation import (
        prototype_scores as _proto,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return _proto(e, num_clusters=16, iterations=3)


def _kcenter_oracle(k: int = 8) -> str:
    """Greedy k-center unrolled: sN picks the farthest point from
    centers 1..N-1 (12dp-rounded cosine distance, smallest-id ties),
    dN folds the new center into the running min-distance. Mirrors
    curation.kcenter_select step for step."""
    parts = [
        """WITH e0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), e AS (
  SELECT * FROM e0 WHERE list_inner_product(v, v) > 0
), s1 AS (
  SELECT vec_id, v FROM e ORDER BY vec_id ASC LIMIT 1
), d1 AS (
  SELECT e.vec_id, e.v,
         ROUND(1 - list_cosine_similarity(e.v, s1.v), 12) AS dmin
  FROM e, s1
)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""", s{i} AS (
  SELECT vec_id, v, dmin FROM d{i - 1}
  ORDER BY dmin DESC, vec_id ASC LIMIT 1
), d{i} AS (
  SELECT d.vec_id, d.v,
         LEAST(d.dmin,
               ROUND(1 - list_cosine_similarity(d.v, s{i}.v), 12)) AS dmin
  FROM d{i - 1} d, s{i}
)"""
        )
    selects = ["SELECT 1 AS rank, vec_id, 0.0 AS radius FROM s1"]
    for i in range(2, k + 1):
        selects.append(f"SELECT {i} AS rank, vec_id, dmin AS radius FROM s{i}")
    return (
        "".join(parts)
        + "\nSELECT CAST(rank AS BIGINT) AS rank, vec_id, radius FROM ("
        + " UNION ALL ".join(selects)
        + ")"
    )


@_q("kcenter_select", _kcenter_oracle())
def kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diversity selection (Gonzalez 1985 farthest-
    point): 8 centers over cosine distance, deterministic smallest-id
    seed and tie-breaks. The oracle unrolls all 8 greedy steps; the
    engine runs them as k Arrow passes + TakeOrderedAndProject
    top-1s."""
    from lakehouse_to_rag_spark.operators.curation import (
        kcenter_select as _kc,
    )

    e = load_table(spark, sf_dir, "embeddings")
    # fixed-k semantics: the unrolled oracle always emits 8 rows, so
    # the gate must not depend on the early-stop never firing at
    # whatever scale it runs (early-stop is library default +
    # separately tested)
    return _kc(e, k=8, stop_on_covered=False)


@_q("knn_ivf_kmeans", _KNN_IVF_KMEANS_ORACLE)
def knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-quantizer IVF: 3 Lloyd iterations (deterministic —
    first-16-ids init, fixed iteration count, no RNG) refine the
    coarse centroids, then the standard assignment/probe/score path.
    The FULL training loop is replayed by the oracle: sims round to
    12dp before every argmax and centroid means round to 12dp after
    every recompute, in both engines, so distributed partial-sum
    training and sequential SQL converge on bit-identical quantizers
    (upgraded from rows-only; recall vs the untrained quantizer is
    pinned in tests/test_dedup_quality.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return simi.ivf_topk_kmeans(
        e, queries, k=5, num_centroids=16, nprobe=4, iterations=3
    )


# Self-kNN over the SAME trained quantizer: identical SQL replay with
# the query filter removed (every vector probes its nprobe clusters).
# The engine side is the shuffle-join form (knn_self_ivf) — nothing
# corpus-sized broadcast — proven row-equal to ivf_topk_kmeans(e, e)
# in tests, so one oracle covers both factorings.
_KNN_SELF_IVF_ORACLE = _KNN_IVF_KMEANS_ORACLE.replace(
    " WHERE q.vec_id < 10", ""
)
assert _KNN_SELF_IVF_ORACLE != _KNN_IVF_KMEANS_ORACLE


@_q("knn_self_ivf", _KNN_SELF_IVF_ORACLE)
def knn_self_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide self-kNN through the trained IVF quantizer — the
    sub-quadratic graph builder behind ``knn_edges_auto`` /
    ``doc_pagerank`` at scale, gated here directly at its full
    fidelity (assignment + probe lists in one Arrow GEMM pass, then a
    shuffle equi-join on cluster — the broadcast-free factoring
    ``ivf_topk_kmeans`` can't provide when the query side IS the
    corpus)."""
    e = load_table(spark, sf_dir, "embeddings")
    return simi.knn_self_ivf(
        e, k=5, num_centroids=16, nprobe=4, iterations=3
    )


def _bpe_oracle(num_merges: int = 200, sample_rows: int = 500) -> str:
    """Full BPE replay in SQL — TRAINING and ENCODING (upgraded from
    rows-only in round 5; the last tokenizer stage with no oracle).

    Training: ``num_merges`` unrolled greedy steps over the
    word-frequency table (string-form symbol sequences delimited by
    chr(31), a separator no corpus word contains). Each step rescans
    pair counts fresh — bit-identical to the engine's incremental
    form (functions/bpe.py docstring) — picks argmax by
    (count DESC, a DESC, b DESC) mirroring Python ``max`` over the
    (count, a, b) tuple, requires count >= 2, and rewrites all
    occurrences left-to-right via REPLACE over a DOUBLE-delimited
    symbol string (``sep sym sep sep sym sep ...``): with two
    delimiters between adjacent symbols, the pattern
    ``sep a sep sep b sep`` spans exactly two complete wrapped
    symbols and consecutive occurrences never share characters, so
    DuckDB's non-overlapping left-to-right REPLACE is EXACTLY the
    engine's consume-both scan. (The round-5 single-delimiter form
    diverged on delimiter-sharing repeats — 'haha', '2020',
    odd runs like 'aaaaa' — because the first replacement consumed
    the shared separator and hid the next occurrence; round-6
    ADVICE.md high-severity fix.) Steps after exhaustion are
    empty-best no-ops, the unrolled image of the engine's ``break``.

    Encoding: a RECURSIVE CTE over DISTINCT corpus words; each
    recursion step merges the FIRST occurrence of the LOWEST-ranked
    applicable pair (key = rank * 100000 + position, list_min over a
    per-position transform against the ordered merge list;
    list_position is 1-based and 0 when absent -> NULLIF). Words drop
    out of the recursion when no pair applies; the final state is the
    max-step row per word. Token counts then join back onto the
    per-doc word multiset; docs whose text is whitespace-only keep a
    row with n_tokens = 0, matching the engine's not-null filter.

    Whitespace: both engines split on the package WS_CLASS
    ([ \\t\\n\\x0B\\f\\r]+), the cross-engine contract every split
    site shares. The chr(31) delimiter assumption is ENFORCED, not
    assumed: both sides strip U+001F from the text before word
    splitting (engine: functions/bpe.py _split_ws; oracle: the
    replace() below), so a corpus containing the separator cannot
    silently corrupt the delimited symbol strings (round-6 ADVICE.md
    low-severity fix)."""
    sep = "chr(31)"
    sep2 = f"{sep} || {sep}"
    ws = r"[ \t\n\x0B\f\r]+"
    sym0 = (
        f"{sep} || array_to_string(regexp_extract_all(word, '.'), {sep2})"
        f" || {sep2} || '</w>' || {sep}"
    )
    parts = [
        f"""WITH RECURSIVE sample AS MATERIALIZED (
  SELECT replace(text, chr(31), '') AS text
  FROM documents WHERE text IS NOT NULL
  ORDER BY doc_id LIMIT {sample_rows}
), sw AS MATERIALIZED (
  SELECT word, COUNT(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(text, '{ws}')) AS word FROM sample
  ) WHERE word <> '' GROUP BY word
), wf0 AS MATERIALIZED (
  SELECT word, {sym0} AS s, freq FROM sw
)"""
    ]
    for t in range(1, num_merges + 1):
        parts.append(
            f""", pr{t} AS (
  SELECT a, b, SUM(freq) AS cnt FROM (
    SELECT syms[i] AS a, syms[i + 1] AS b, freq FROM (
      SELECT string_split(trim(s, {sep}), {sep2}) AS syms, freq
      FROM wf{t - 1}
    ), UNNEST(range(1, len(syms))) AS u(i)
  ) GROUP BY a, b
), best{t} AS MATERIALIZED (
  SELECT a, b FROM pr{t} WHERE cnt >= 2
  ORDER BY cnt DESC, a DESC, b DESC LIMIT 1
), wf{t} AS MATERIALIZED (
  SELECT word,
         COALESCE((SELECT REPLACE(w.s,
                     {sep} || b.a || {sep2} || b.b || {sep},
                     {sep} || b.a || b.b || {sep})
                   FROM best{t} b), w.s) AS s,
         freq
  FROM wf{t - 1} w
)"""
        )
    merge_union = "\n    UNION ALL ".join(
        f"SELECT a, b, {t} AS rnk FROM best{t}"
        for t in range(1, num_merges + 1)
    )
    parts.append(
        f""", mg AS MATERIALIZED (
  {merge_union}
), ml AS MATERIALIZED (
  SELECT list(a || {sep} || b ORDER BY rnk) AS pairs FROM mg
), dw AS MATERIALIZED (
  SELECT doc_id, word FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(
             replace(text, chr(31), ''), '{ws}')) AS word
    FROM documents WHERE text IS NOT NULL
  ) WHERE word <> ''
), enc0 AS MATERIALIZED (
  SELECT word, {sym0} AS s FROM (SELECT DISTINCT word FROM dw)
), enc AS (
  SELECT word, s, 0 AS step FROM enc0
  UNION ALL
  SELECT word,
         {sep} || array_to_string(
           list_concat(
             list_concat(list_slice(syms, 1, p - 1),
                         [syms[p] || syms[p + 1]]),
             list_slice(syms, p + 2, len(syms))), {sep2}) || {sep} AS s,
         step + 1
  FROM (
    SELECT word, step, syms, CAST(kmin % 100000 AS INT) AS p FROM (
      SELECT word, step, syms,
             list_min(list_transform(range(1, len(syms)), i ->
               CASE WHEN NULLIF(list_position(ml.pairs,
                        syms[i] || {sep} || syms[i + 1]), 0) IS NULL
                    THEN NULL
                    ELSE list_position(ml.pairs,
                        syms[i] || {sep} || syms[i + 1]) * 100000 + i
               END)) AS kmin
      FROM (SELECT word, step,
                   string_split(trim(s, {sep}), {sep2}) AS syms
            FROM enc) e CROSS JOIN ml
    ) WHERE kmin IS NOT NULL
  )
), encf AS MATERIALIZED (
  SELECT word, s FROM (
    SELECT word, s,
           ROW_NUMBER() OVER (PARTITION BY word ORDER BY step DESC) AS rn
    FROM enc
  ) WHERE rn = 1
), wtok AS MATERIALIZED (
  SELECT word, len(string_split(trim(s, {sep}), {sep2})) AS n FROM encf
)
SELECT d.doc_id, CAST(COALESCE(s.n, 0) AS BIGINT) AS n_tokens
FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
LEFT JOIN (
  SELECT doc_id, SUM(n) AS n FROM dw JOIN wtok USING (word) GROUP BY doc_id
) s USING (doc_id)"""
    )
    return "".join(parts)


_BPE_ORACLE = _bpe_oracle(num_merges=200, sample_rows=500)


@_q("bpe_token_counts", _BPE_ORACLE)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real subword tokenization for the corpus: BPE merges trained on
    a bounded sample (Sennrich-style, RNG-free), corpus encoded
    distributedly with per-word memoization; emits (doc_id, n_tokens)
    — the budget column sequence packing and curation consume."""
    from lakehouse_to_rag_spark.functions.bpe import bpe_encode, bpe_train

    d = load_table(spark, sf_dir, "documents")
    merges, vocab = bpe_train(d, num_merges=200, sample_rows=500)
    enc_in = load_table(spark, sf_dir, "documents", parallelize=True)
    return bpe_encode(enc_in, merges, vocab).select("doc_id", "n_tokens")


def _unigram_oracle(
    max_word_len: int = 20,
    max_piece_len: int = 4,
    max_multi: int = 200,
    sample_rows: int = 500,
    em_iters: int = 2,
    unk_micro: int = -30_000_000,
) -> str:
    """Unigram-LM tokenizer replay (functions/unigram.py) — BPE's
    SentencePiece-style twin, TRAINING and ENCODING fully in SQL.

    Three Viterbi DP passes (hard-EM step 1, hard-EM step 2, corpus
    encode), each unrolled to ``max_word_len`` position layers: layer
    j keeps the single best state per word for prefix word[:j] over
    up to ``max_piece_len`` vocab transitions plus the UNK
    single-char fallback, winner by the TOTAL order (score DESC,
    n_tokens ASC, path ASC) — identical to the engine's per-cell
    comparison, so ties cannot diverge. Scores are exact BIGINT sums
    of integer-micro log-probs (floor(ln(cnt/total)*1e6 + 0.5) over
    exact integer counts); words chunk to ``max_word_len`` chars on
    both sides (the static unroll bound); chr(31) is the path
    separator and is stripped from text on both sides (the BPE
    module's enforced-delimiter contract). Every DP layer is
    MATERIALIZED — layer j references layers j-1..j-4, and inlining
    would expand the plan exponentially."""
    L, PL = max_word_len, max_piece_len
    ws = r"[ \t\n\x0B\f\r]+"

    def dp_pass(tag: str, base_words: str, lp: str) -> str:
        parts = [
            f""", d{tag}_0 AS MATERIALIZED (
  SELECT word, CAST(0 AS BIGINT) AS score, 0 AS ntok, '' AS path
  FROM {base_words}
)"""
        ]
        for j in range(1, L + 1):
            cands = []
            for k in range(1, min(PL, j) + 1):
                cands.append(
                    f"""      SELECT d.word, d.score + v.lp AS score, d.ntok + 1 AS ntok,
             CASE WHEN d.path = '' THEN v.piece
                  ELSE d.path || chr(31) || v.piece END AS path
      FROM d{tag}_{j - k} d JOIN lp{lp} v
        ON v.piece = substr(d.word, {j - k + 1}, {k})
      WHERE len(d.word) >= {j}"""
                )
            cands.append(
                f"""      SELECT d.word, d.score + ({unk_micro}) AS score, d.ntok + 1 AS ntok,
             CASE WHEN d.path = '' THEN substr(d.word, {j}, 1)
                  ELSE d.path || chr(31) || substr(d.word, {j}, 1) END AS path
      FROM d{tag}_{j - 1} d
      WHERE len(d.word) >= {j}
        AND NOT EXISTS (SELECT 1 FROM lp{lp} v
                        WHERE v.piece = substr(d.word, {j}, 1))"""
            )
            union = "\n      UNION ALL\n".join(cands)
            parts.append(
                f""", d{tag}_{j} AS MATERIALIZED (
  SELECT word, score, ntok, path FROM (
    SELECT word, score, ntok, path,
           ROW_NUMBER() OVER (PARTITION BY word
             ORDER BY score DESC, ntok ASC, path ASC) AS rn
    FROM (
{union}
    )
  ) WHERE rn = 1
)"""
            )
        fins = "\n  UNION ALL ".join(
            f"SELECT word, score, ntok, path FROM d{tag}_{j} WHERE len(word) = {j}"
            for j in range(1, L + 1)
        )
        parts.append(f""", fin{tag} AS MATERIALIZED (\n  {fins}\n)""")
        return "".join(parts)

    head = f"""WITH sample AS MATERIALIZED (
  SELECT replace(text, chr(31), '') AS text
  FROM documents WHERE text IS NOT NULL
  ORDER BY doc_id LIMIT {sample_rows}
), sw AS MATERIALIZED (
  SELECT word, COUNT(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(text, '{ws}')) AS word FROM sample
  ) WHERE word <> '' GROUP BY word
), wf AS MATERIALIZED (
  SELECT cw AS word, SUM(freq) AS freq FROM (
    SELECT substr(word, p * {L} + 1, {L}) AS cw, freq
    FROM sw, UNNEST(range(0, CAST(CEIL(len(word) / {L}.0) AS BIGINT))) AS u(p)
  ) GROUP BY cw
), subs AS MATERIALIZED (
  SELECT substr(word, i + 1, ln) AS piece, SUM(freq) AS cnt
  FROM wf,
       UNNEST(range(1, {PL} + 1)) AS l(ln),
       UNNEST(range(0, len(word))) AS s(i)
  WHERE i + ln <= len(word)
  GROUP BY piece
), vocab AS MATERIALIZED (
  SELECT piece, cnt FROM subs WHERE len(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS rn
    FROM subs WHERE len(piece) >= 2 AND cnt >= 2
  ) WHERE rn <= {max_multi}
), lp0 AS MATERIALIZED (
  SELECT piece,
         CAST(FLOOR(LN(CAST(cnt AS DOUBLE) / t.tot) * 1000000.0 + 0.5)
              AS BIGINT) AS lp
  FROM vocab, (SELECT SUM(cnt) AS tot FROM vocab) t
), wfw AS MATERIALIZED (SELECT word FROM wf)"""
    recount = """, pc{X} AS MATERIALIZED (
  SELECT piece, SUM(freq) AS f FROM (
    SELECT unnest(string_split(path, chr(31))) AS piece, freq
    FROM fin{T} JOIN wf USING (word)
  ) GROUP BY piece
), cnt{X} AS MATERIALIZED (
  SELECT v.piece, 1 + COALESCE(pc{X}.f, 0) AS cnt
  FROM vocab v LEFT JOIN pc{X} ON v.piece = pc{X}.piece
), lp{X} AS MATERIALIZED (
  SELECT piece,
         CAST(FLOOR(LN(CAST(cnt AS DOUBLE) / t.tot) * 1000000.0 + 0.5)
              AS BIGINT) AS lp
  FROM cnt{X}, (SELECT SUM(cnt) AS tot FROM cnt{X}) t
)"""
    assert em_iters == 2, "the unrolled oracle is built for em_iters=2"
    body = (
        dp_pass("a", "wfw", "0")
        + recount.format(X="1", T="a")
        + dp_pass("b", "wfw", "1")
        + recount.format(X="2", T="b")
    )
    enc_head = f""", dw AS MATERIALIZED (
  SELECT doc_id, word FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(
             replace(text, chr(31), ''), '{ws}')) AS word
    FROM documents WHERE text IS NOT NULL
  ) WHERE word <> ''
), dwc AS MATERIALIZED (
  SELECT doc_id, substr(word, p * {L} + 1, {L}) AS word
  FROM dw, UNNEST(range(0, CAST(CEIL(len(word) / {L}.0) AS BIGINT))) AS u(p)
), encw AS MATERIALIZED (SELECT DISTINCT word FROM dwc)"""
    tail = """
SELECT d.doc_id, CAST(COALESCE(s.n, 0) AS BIGINT) AS n_tokens
FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
LEFT JOIN (
  SELECT doc_id, SUM(ntok) AS n
  FROM dwc JOIN fine USING (word) GROUP BY doc_id
) s USING (doc_id)"""
    return head + body + enc_head + dp_pass("e", "encw", "2") + tail


_UNIGRAM_ORACLE = _unigram_oracle()


@_q("unigram_token_counts", _UNIGRAM_ORACLE)
def unigram_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) subword tokenization — the
    tokenizer twin modern pipelines train alongside BPE: seeded
    substring vocabulary, two hard-EM (Viterbi) re-estimation rounds
    on a bounded sample, distributed Viterbi encode with per-word
    memoization; emits (doc_id, n_tokens)."""
    from lakehouse_to_rag_spark.functions.unigram import (
        unigram_encode,
        unigram_train,
    )

    d = load_table(spark, sf_dir, "documents")
    logp = unigram_train(d, sample_rows=500, max_multi=200, em_iters=2)
    enc_in = load_table(spark, sf_dir, "documents", parallelize=True)
    return unigram_encode(enc_in, logp)


def _wordpiece_oracle(
    vocab_multi: int = 200,
    max_piece_len: int = 4,
    sample_rows: int = 500,
) -> str:
    """WordPiece replay (functions/wordpiece.py) — the third tokenizer
    twin, TRAINING and ENCODING fully in SQL.

    Training is a flat substring unnest over the sampled word counts
    (piece weight = word_freq x occurrence positions, no overlap
    suppression — chosen exactly so this replay is one GROUP BY), the
    char base unioned with the top ``vocab_multi`` multi-char pieces
    under the engine's total order (weight DESC, piece ASC, cont ASC).

    Encoding is a RECURSIVE CTE over DISTINCT corpus words: each step
    LEFT-joins the vocabulary on ``substr(word, pos, len(piece)) =
    piece AND cont = (pos > 1)`` and advances by MAX(len(piece)) —
    greedy longest-match-first is a per-(word,pos) aggregate, no
    window functions in the recursive term. A no-match position jumps
    to len+1 with failed=true; the terminal row per word is the one
    with pos > len, scoring CASE failed THEN 1 (the whole-word [UNK]
    rule) ELSE the accumulated count. Word extraction, WS_CLASS and
    the chr(31) strip are the BPE oracle's fragments verbatim;
    whitespace-only docs keep n_tokens = 0 via the final LEFT JOIN."""
    ws = r"[ \t\n\x0B\f\r]+"
    return f"""WITH RECURSIVE sample AS MATERIALIZED (
  SELECT replace(text, chr(31), '') AS text
  FROM documents WHERE text IS NOT NULL
  ORDER BY doc_id LIMIT {sample_rows}
), sw AS MATERIALIZED (
  SELECT word, COUNT(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(text, '{ws}')) AS word FROM sample
  ) WHERE word <> '' GROUP BY word
), pos AS (
  SELECT word, freq, unnest(range(1, length(word) + 1)) AS i FROM sw
), occs AS (
  SELECT word, freq, i,
         unnest(range(1, least({max_piece_len}, length(word) - i + 1) + 1)) AS l
  FROM pos
), weights AS MATERIALIZED (
  SELECT substr(word, i, l) AS piece, (i > 1) AS cont, SUM(freq) AS w
  FROM occs GROUP BY 1, 2
), vocab AS MATERIALIZED (
  SELECT piece, cont FROM weights WHERE length(piece) = 1
  UNION ALL
  SELECT piece, cont FROM (
    SELECT piece, cont,
           ROW_NUMBER() OVER (ORDER BY w DESC, piece ASC, cont ASC) AS rn
    FROM weights WHERE length(piece) >= 2
  ) WHERE rn <= {vocab_multi}
), cw AS MATERIALIZED (
  SELECT doc_id, word FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(replace(text, chr(31), ''), '{ws}')) AS word
    FROM documents WHERE text IS NOT NULL
  ) WHERE word <> ''
), dwords AS MATERIALIZED (
  SELECT DISTINCT word FROM cw
), step AS (
  SELECT word, 1 AS pos, 0 AS cnt, false AS failed FROM dwords
  UNION ALL
  SELECT word,
         CASE WHEN best IS NULL THEN length(word) + 1 ELSE pos + best END AS pos,
         CASE WHEN best IS NULL THEN 0 ELSE cnt + 1 END AS cnt,
         (best IS NULL) AS failed
  FROM (
    SELECT s.word, s.pos, s.cnt, MAX(length(v.piece)) AS best
    FROM step s LEFT JOIN vocab v
      ON v.cont = (s.pos > 1)
     AND v.piece = substr(s.word, s.pos, length(v.piece))
    WHERE s.pos <= length(s.word) AND NOT s.failed
    GROUP BY s.word, s.pos, s.cnt
  )
), wtoks AS MATERIALIZED (
  SELECT word, CASE WHEN failed THEN 1 ELSE cnt END AS toks
  FROM step WHERE pos > length(word)
), per_doc AS (
  SELECT cw.doc_id, SUM(wt.toks) AS n
  FROM cw JOIN wtoks wt USING (word) GROUP BY cw.doc_id
)
SELECT d.doc_id, CAST(COALESCE(p.n, 0) AS BIGINT) AS n_tokens
FROM documents d LEFT JOIN per_doc p USING (doc_id)
WHERE d.text IS NOT NULL"""


_WORDPIECE_ORACLE = _wordpiece_oracle(
    vocab_multi=200, max_piece_len=4, sample_rows=500
)


@_q("wordpiece_token_counts", _WORDPIECE_ORACLE)
def wordpiece_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece subword tokenization (Wu et al. 2016 / the BERT
    tokenizer): frequency-built vocabulary on a bounded sample, greedy
    longest-match-first distributed encode with the whole-word [UNK]
    rule; emits (doc_id, n_tokens) — completing the tokenizer triple
    (BPE merges, unigram-LM Viterbi, WordPiece greedy) every modern
    pipeline budget is denominated in."""
    from lakehouse_to_rag_spark.functions.wordpiece import (
        wordpiece_encode,
        wordpiece_train,
    )

    d = load_table(spark, sf_dir, "documents")
    vocab = wordpiece_train(d, vocab_multi=200, max_piece_len=4, sample_rows=500)
    enc_in = load_table(spark, sf_dir, "documents", parallelize=True)
    return wordpiece_encode(enc_in, vocab, max_piece_len=4)


# =====================================================================
# Feature-hashing embedder (operators/text_analysis.py:embed_hashed_tf)
# — text -> fixed-dim vector with zero model state, so embedding-based
# ops run on a corpus before any encoder exists. All-exact arithmetic
# (60-bit md5 buckets, signed integer tf sums), so both the embedding
# AND a cosine kNN over it replay at full precision.
# =====================================================================

_EMBED_HASH_FRAG = """
  SELECT doc_id, hv % 64 AS bucket,
         CASE WHEN (hv >> 59) & 1 = 1 THEN 1 ELSE -1 END AS sgn
  FROM (
    SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS hv
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents WHERE text IS NOT NULL
    ) WHERE word <> ''
  )
"""

_EMBED_HASHED_ORACLE = f"""
WITH s AS ({_EMBED_HASH_FRAG}),
sums AS MATERIALIZED (
  SELECT doc_id, bucket, SUM(sgn) AS v FROM s GROUP BY doc_id, bucket
), spine AS (
  SELECT d.doc_id, i AS bucket
  FROM documents d CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
  WHERE d.text IS NOT NULL
)
SELECT sp.doc_id, CAST(sp.bucket AS BIGINT) AS bucket,
       COALESCE(su.v, 0)::DOUBLE AS value
FROM spine sp LEFT JOIN sums su USING (doc_id, bucket)
"""


@_q("embed_hashed_tf", _EMBED_HASHED_ORACLE)
def embed_hashed_tf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick document embeddings (Weinberger et al. 2009):
    signed term-frequency sums over md5 buckets — the model-free
    embedder that bootstraps the vector ops (kNN, cosine dedup,
    SemDeDup-style clustering) on a raw corpus. Gate shape: the
    array column is exploded to one (doc_id, bucket, value) row per
    dimension — the driver's canonicalizer sorts pandas values and
    array cells aren't orderable there (the ``embedding_pca``
    flattening precedent; the array form itself is gate-proven via
    ``knn_text_hashed``, which replays this exact chain)."""
    d = load_table(spark, sf_dir, "documents")
    e = ta.embed_hashed_tf(d, dim=64)
    return e.select(
        "doc_id", F.posexplode("embedding").alias("bucket", "value")
    ).withColumn("bucket", F.col("bucket").cast("long"))


_KNN_TEXT_HASHED_ORACLE = f"""
WITH s AS ({_EMBED_HASH_FRAG}),
sums AS MATERIALIZED (
  SELECT doc_id, bucket, SUM(sgn) AS v FROM s GROUP BY doc_id, bucket
), spine AS (
  SELECT d.doc_id, i AS bucket
  FROM documents d CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
  WHERE d.text IS NOT NULL
), emb AS MATERIALIZED (
  SELECT sp.doc_id,
         list(COALESCE(su.v, 0)::DOUBLE ORDER BY sp.bucket) AS e
  FROM spine sp LEFT JOIN sums su USING (doc_id, bucket)
  GROUP BY sp.doc_id
), q AS (
  SELECT doc_id AS query_id, e AS qe FROM emb WHERE doc_id < 10
), p AS (
  SELECT q.query_id, emb.doc_id AS neighbor_id,
         ROUND(list_cosine_similarity(q.qe, emb.e), 4) AS cosine
  FROM q JOIN emb ON emb.doc_id <> q.query_id
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM p
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5
"""


@_q("knn_text_hashed", _KNN_TEXT_HASHED_ORACLE)
def knn_text_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-to-text similarity search with NO model: hashed-tf
    embeddings composed into the exact-cosine kNN. Cosines over the
    integer-valued vectors are exact integer dots + one sqrt/divide,
    so this composition oracles at full precision (knn_int8's
    arithmetic class, derived from raw text)."""
    d = load_table(spark, sf_dir, "documents")
    emb = ta.embed_hashed_tf(d, dim=64)
    queries = emb.filter(F.col("doc_id") < 10)
    return simi.knn_bruteforce(
        emb, queries, k=5, id_col="doc_id", vec_col="embedding"
    )


# =====================================================================
# RAG index-build capstone (operators/retrieval.py:build_rag_indexes)
# — the WRITE-side counterpart of rag_read_path: chunks -> hashed
# embeddings -> persisted BM25 + IVF serving layouts, evidenced by a
# manifest READ BACK from the written files and replayed in SQL
# (chunking, hashing-trick embedding, zero-vector drop, untrained-IVF
# assignment, posting totals — every fragment already proven above).
# =====================================================================

_RAG_INDEX_ORACLE = """
WITH chunks AS MATERIALIZED (
  SELECT doc_id * 1000000 + CAST((s - 1) // 190 AS BIGINT) AS chunk_id,
         substring(text, CAST(s AS INTEGER), 200) AS chunk
  FROM (
    SELECT doc_id, text,
           unnest(range(1, GREATEST(LENGTH(text), 1) + 1, 190)) AS s
    FROM documents WHERE text IS NOT NULL
  )
), sg AS (
  SELECT chunk_id, hv % 64 AS bucket,
         CASE WHEN (hv >> 59) & 1 = 1 THEN 1 ELSE -1 END AS sgn
  FROM (
    SELECT chunk_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS hv
    FROM (
      SELECT chunk_id, unnest(string_split(chunk, ' ')) AS word FROM chunks
    ) WHERE word <> ''
  )
), sums AS MATERIALIZED (
  SELECT chunk_id, bucket, SUM(sgn) AS v FROM sg GROUP BY chunk_id, bucket
), spine AS (
  SELECT c.chunk_id, i AS bucket
  FROM chunks c CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
), emb AS MATERIALIZED (
  SELECT chunk_id, e FROM (
    SELECT sp.chunk_id,
           list(COALESCE(su.v, 0)::DOUBLE ORDER BY sp.bucket) AS e
    FROM spine sp LEFT JOIN sums su USING (chunk_id, bucket)
    GROUP BY sp.chunk_id
  ) WHERE list_sum(list_transform(e, x -> abs(x))) > 0
), cent AS MATERIALIZED (
  SELECT chunk_id AS centroid_id, e AS cv
  FROM emb ORDER BY chunk_id LIMIT 16
), asg AS (
  SELECT chunk_id, centroid_id AS cluster FROM (
    SELECT emb.chunk_id, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY emb.chunk_id
             ORDER BY ROUND(list_cosine_similarity(emb.e, c.cv), 12) DESC,
                      c.centroid_id ASC) AS rn
    FROM emb CROSS JOIN cent c
  ) WHERE rn = 1
), postings AS (
  -- the denormalized posting rows write_bm25_index persists: one per
  -- DISTINCT (chunk, lowercased word), empties INCLUDED when a chunk
  -- boundary or trailing space produces them (split keeps them on
  -- both engines — the bm25_topk convention)
  SELECT COUNT(*) AS n FROM (
    SELECT DISTINCT chunk_id, word FROM (
      SELECT chunk_id, unnest(string_split(LOWER(chunk), ' ')) AS word
      FROM chunks
    )
  )
)
SELECT 'ivf' AS index, CAST(cluster AS BIGINT) AS part,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM asg GROUP BY cluster
UNION ALL
SELECT 'bm25', CAST(-1 AS BIGINT), CAST(n AS BIGINT) FROM postings
UNION ALL
SELECT 'stats', CAST(-1 AS BIGINT),
       CAST((SELECT COUNT(*) FROM chunks) AS BIGINT)
"""


@_q("rag_index_manifest", _RAG_INDEX_ORACLE)
def rag_index_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG write path end to end: chunk -> hashed-embed -> persist
    the BM25 posting-list and IVF serving layouts into uuid staging,
    then return the manifest read back FROM THE WRITTEN FILES (per-
    cluster vector counts, posting totals, chunk count). The manifest
    is bounded (num_centroids + 2 rows) and comes back as a
    driver-local frame, so staging is reclaimed before returning —
    the admit_batch staging discipline."""
    import shutil
    import uuid

    from lakehouse_to_rag_spark.operators.retrieval import build_rag_indexes

    d = load_table(spark, sf_dir, "documents")
    staging = f"/tmp/rag_index_staging/{uuid.uuid4().hex}"
    try:
        return build_rag_indexes(d, staging, dim=64, num_centroids=16)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _doc_pagerank_oracle(k: int = 5, damping_pct: int = 85,
                         iterations: int = 10) -> str:
    """Graph-centrality document scoring replay: the hashed-tf
    embedding chain (proven above) -> all-docs kNN edges (zero
    vectors excluded — the build-path rule; 4dp cosine rank ties on
    smallest neighbor) -> ``iterations`` unrolled PageRank rounds in
    EXACT integer micros (`//` floor division both engines; Spark
    side uses `div`). Every multi-referenced CTE MATERIALIZED."""
    head = f"""WITH s AS ({_EMBED_HASH_FRAG}),
sums AS MATERIALIZED (
  SELECT doc_id, bucket, SUM(sgn) AS v FROM s GROUP BY doc_id, bucket
), spine AS (
  SELECT d.doc_id, i AS bucket
  FROM documents d CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
  WHERE d.text IS NOT NULL
), emb AS MATERIALIZED (
  SELECT doc_id, e FROM (
    SELECT sp.doc_id,
           list(COALESCE(su.v, 0)::DOUBLE ORDER BY sp.bucket) AS e
    FROM spine sp LEFT JOIN sums su USING (doc_id, bucket)
    GROUP BY sp.doc_id
  ) WHERE list_sum(list_transform(e, x -> abs(x))) > 0
), qn AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT a.doc_id AS src, b.doc_id AS dst,
           ROW_NUMBER() OVER (PARTITION BY a.doc_id
             ORDER BY ROUND(list_cosine_similarity(a.e, b.e), 4) DESC,
                      b.doc_id ASC) AS rn
    FROM emb a JOIN emb b ON b.doc_id <> a.doc_id
  ) WHERE rn <= {k}
), nodes AS MATERIALIZED (
  SELECT src AS id FROM qn UNION SELECT dst FROM qn
), od AS MATERIALIZED (
  SELECT src, COUNT(*) AS d FROM qn GROUP BY src
), p0 AS MATERIALIZED (
  SELECT id, CAST(1000000 AS BIGINT) AS pr FROM nodes
)"""
    base = (100 - damping_pct) * 10_000
    steps = []
    for t in range(1, iterations + 1):
        steps.append(f""", c{t} AS (
  SELECT e.dst AS v, SUM(p.pr // od.d) AS s
  FROM qn e JOIN od ON od.src = e.src JOIN p{t - 1} p ON p.id = e.src
  GROUP BY e.dst
), p{t} AS MATERIALIZED (
  SELECT n.id,
         CAST({base} + ({damping_pct} * COALESCE(c.s, 0)) // 100 AS BIGINT)
           AS pr
  FROM nodes n LEFT JOIN c{t} c ON c.v = n.id
)""")
    return (
        head
        + "".join(steps)
        + f"\nSELECT id AS doc_id, pr AS pr_micro FROM p{iterations}"
    )


_DOC_PAGERANK_ORACLE = _doc_pagerank_oracle(k=5, damping_pct=85, iterations=10)


@_q("doc_pagerank", _DOC_PAGERANK_ORACLE)
def doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-centrality document scoring: PageRank in exact integer
    micros over the kNN graph of hashed-tf document embeddings — the
    graph-density twin of D4 prototypicality for curation (documents
    many neighbors point at are prototypical; isolated ones are
    outliers), and the canonical iterative-graph shape (one join + one
    partial-aggregatable groupBy per round) at 100 TB. Both graph
    build and 10 ranking rounds replay bit-exactly in SQL.

    The edge list comes from ``knn_edges_auto`` (r8 — previously the
    unconditional all-pairs GEMM, the one composition in the repo that
    died at 100×). THIS gated entry pins ``cutover_rows=sys.maxsize``
    (r9) so the exact brute-force build — the form the oracle's
    all-pairs SQL replays bit-for-bit — is chosen at EVERY gate scale
    factor, not just ones under the production default; the auto
    dispatch (exact ≤10k, trained-IVF self-kNN at O(n^1.5) beyond —
    SCALE.md r8 probe) is the production composition."""
    from lakehouse_to_rag_spark.operators.graph import pagerank_micro

    d = load_table(spark, sf_dir, "documents")
    # checkpointed: the self-kNN consumes emb TWICE (driver collect of
    # the query matrix + the corpus Arrow scan) plus the dispatch
    # count — without it the explode+groupBy embed chain runs thrice
    emb = ta.embed_hashed_tf(d, dim=64).filter(
        F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + F.abs(x))
        > 0
    ).localCheckpoint(eager=False)
    # cutover pinned to maxsize FOR THIS GATED ENTRY ONLY: the SQL
    # oracle replays the exact all-pairs build, so letting the size
    # dispatch pick the approximate IVF regime at a larger gate sf
    # would flip the parity row red for a non-bug reason. Production
    # callers use knn_edges_auto's measured default (10k) and get the
    # sub-quadratic plan past it.
    import sys as _sys

    edges = simi.knn_edges_auto(
        emb,
        k=5,
        id_col="doc_id",
        vec_col="embedding",
        cutover_rows=_sys.maxsize,
    )
    return pagerank_micro(edges, damping_pct=85, iterations=10).select(
        F.col("id").alias("doc_id"), "pr_micro"
    )


# IVF-PQ full-training replay (upgraded from rows-only in round 5):
# the oracle re-runs the ENTIRE pipeline in SQL — sample k-means for
# the coarse quantizer, a fresh final assignment, residual subspace
# codebook training, corpus encoding to (cluster, m code bytes), ADC
# shortlisting from nprobe probed clusters, exact cosine rerank.
# Three parity anchors make numpy training bit-replayable by SQL:
#   1. _maybe_unit quantizes the NORM to 6dp before dividing (an
#      ulp-perturbed norm at a 12dp grid flipped components on real
#      data; at 1e-6 the boundary odds are ~1e-10), then rounds
#      components to 12dp — identical IEEE division both sides.
#   2. every distance argmin rounds to 12dp half-AWAY-from-zero
#      (_round_away == DuckDB ROUND == F.round; np.round is
#      half-even and diverges on decimal-aligned boundaries).
#   3. centroid/codebook means recompute in exact INTEGER MICROS
#      (12dp-aligned inputs scale to exact integer doubles whose sum
#      is order-independent; one IEEE division + half-away floor) —
#      a float mean of 12dp values lands exactly ON .5e-12
#      boundaries often, where summation-order ulps pick the side.
_IVFPQ_D2 = (
    "list_inner_product({a}, {a}) - 2 * list_inner_product({a}, {b})"
    " + list_inner_product({b}, {b})"
)

_IVFPQ_MEAN = """
      SELECT {keys}, dim,
             CASE WHEN s >= 0 THEN FLOOR(s / cnt + 0.5)
                  ELSE -FLOOR(-s / cnt + 0.5) END / 1e12 AS mu
      FROM (
        SELECT {keys}, dim, SUM(ROUND(x * 1e12, 0)) AS s,
               COUNT(*) AS cnt
        FROM (
          SELECT {keys}, unnest({vec}) AS x,
                 generate_subscripts({vec}, 1) AS dim
          FROM {src}
        ) GROUP BY {keys}, dim
      )"""

_IVFPQ_COARSE_ITER = (
    """, ka{i} AS (
  SELECT pos, v, cid FROM (
    SELECT s.pos, s.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.pos
             ORDER BY ROUND("""
    + _IVFPQ_D2.format(a="s.v", b="c.cv")
    + """, 12) ASC, c.cid ASC) AS rn
    FROM samp s CROSS JOIN kc{prev} c
  ) WHERE rn = 1
), kc{i} AS (
  SELECT p.cid, COALESCE(n.cv, p.cv) AS cv
  FROM kc{prev} p LEFT JOIN (
    SELECT cid, list(mu ORDER BY dim) AS cv FROM ("""
    + _IVFPQ_MEAN.format(keys="cid", vec="v", src="ka{i}")
    + """
    ) GROUP BY cid
  ) n ON p.cid = n.cid
)"""
)

_IVFPQ_BOOK_ITER = (
    """, ba{i} AS (
  SELECT pos, j, sv, code FROM (
    SELECT r.pos, r.j, r.sv, b.code,
           ROW_NUMBER() OVER (PARTITION BY r.pos, r.j
             ORDER BY ROUND("""
    + _IVFPQ_D2.format(a="r.sv", b="b.bv")
    + """, 12) ASC, b.code ASC) AS rn
    FROM rsub r JOIN bk{prev} b ON r.j = b.j
  ) WHERE rn = 1
), bk{i} AS (
  SELECT p.j, p.code, COALESCE(n.bv, p.bv) AS bv
  FROM bk{prev} p LEFT JOIN (
    SELECT j, code, list(mu ORDER BY dim) AS bv FROM ("""
    + _IVFPQ_MEAN.format(keys="j, code", vec="sv", src="ba{i}")
    + """
    ) GROUP BY j, code
  ) n ON p.j = n.j AND p.code = n.code
)"""
)


def _ivfpq_oracle(
    nc: int = 16,
    m: int = 8,
    dsub: int = 8,
    pqk: int = 64,
    iters: int = 3,
    nprobe: int = 4,
    rerank: int = 50,
    k: int = 5,
    sample: int = 2048,
) -> str:
    d2 = _IVFPQ_D2.format
    return (
        f"""WITH raw AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings
), unit AS (
  -- _maybe_unit: 6dp-quantized norm, then 12dp component round
  SELECT vec_id, list_transform(v0, x -> ROUND(x / nrm, 12)) AS v
  FROM (
    SELECT vec_id, v0,
           CASE WHEN ROUND(sqrt(list_inner_product(v0, v0)), 6) = 0
                THEN 1.0
                ELSE ROUND(sqrt(list_inner_product(v0, v0)), 6) END AS nrm
    FROM raw)
), samp AS (
  SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) AS pos
  FROM unit ORDER BY vec_id LIMIT {sample}
), kc0 AS (
  -- coarse init: first {nc} DISTINCT sample vectors in sample order
  SELECT ROW_NUMBER() OVER (ORDER BY fp) - 1 AS cid, v AS cv
  FROM (SELECT v, MIN(pos) AS fp FROM samp GROUP BY v)
  ORDER BY fp LIMIT {nc}
)"""
        + "".join(
            _IVFPQ_COARSE_ITER.format(i=i, prev=i - 1)
            for i in range(1, iters + 1)
        )
        + f"""
, kasg AS (
  -- FRESH sample assignment against the final centroids (the
  -- engine reassigns after the loop before taking residuals)
  SELECT pos, cid FROM (
    SELECT s.pos, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.pos
             ORDER BY ROUND({d2(a='s.v', b='c.cv')}, 12) ASC,
                      c.cid ASC) AS rn
    FROM samp s CROSS JOIN kc{iters} c
  ) WHERE rn = 1
), sres AS (
  SELECT a.pos, list(s.x - c.y ORDER BY s.dim) AS rv
  FROM kasg a
  JOIN (SELECT pos, unnest(v) AS x, generate_subscripts(v, 1) AS dim
        FROM samp) s ON s.pos = a.pos
  JOIN (SELECT cid, unnest(cv) AS y, generate_subscripts(cv, 1) AS dim
        FROM kc{iters}) c ON c.cid = a.cid AND c.dim = s.dim
  GROUP BY a.pos
), rsub AS (
  SELECT pos, j, list_slice(rv, j * {dsub} + 1, j * {dsub} + {dsub}) AS sv
  FROM sres CROSS JOIN (SELECT unnest(range({m})) AS j)
), bk0 AS (
  -- per-subspace codebook init: first {pqk} DISTINCT residual
  -- subvectors in sample order
  SELECT j, ROW_NUMBER() OVER (PARTITION BY j ORDER BY fp) - 1 AS code,
         sv AS bv
  FROM (SELECT j, sv, MIN(pos) AS fp FROM rsub GROUP BY j, sv)
  QUALIFY code < {pqk}
)"""
        + "".join(
            _IVFPQ_BOOK_ITER.format(i=i, prev=i - 1)
            for i in range(1, iters + 1)
        )
        + f"""
, easg AS (
  -- encode: coarse-assign the WHOLE corpus
  SELECT vec_id, v, cid FROM (
    SELECT u.vec_id, u.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY u.vec_id
             ORDER BY ROUND({d2(a='u.v', b='c.cv')}, 12) ASC,
                      c.cid ASC) AS rn
    FROM unit u CROSS JOIN kc{iters} c
  ) WHERE rn = 1
), eres AS (
  SELECT a.vec_id, a.cid, list(s.x - c.y ORDER BY s.dim) AS rv
  FROM easg a
  JOIN (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS dim
        FROM unit) s ON s.vec_id = a.vec_id
  JOIN (SELECT cid, unnest(cv) AS y, generate_subscripts(cv, 1) AS dim
        FROM kc{iters}) c ON c.cid = a.cid AND c.dim = s.dim
  GROUP BY a.vec_id, a.cid
), esub AS (
  SELECT vec_id, cid, j,
         list_slice(rv, j * {dsub} + 1, j * {dsub} + {dsub}) AS sv
  FROM eres CROSS JOIN (SELECT unnest(range({m})) AS j)
), ecodes AS (
  SELECT vec_id, j, code FROM (
    SELECT e.vec_id, e.j, b.code,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.j
             ORDER BY ROUND({d2(a='e.sv', b='b.bv')}, 12) ASC,
                      b.code ASC) AS rn
    FROM esub e JOIN bk{iters} b ON e.j = b.j
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, cid FROM (
    SELECT q.vec_id AS query_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND({d2(a='q.v', b='c.cv')}, 12) ASC,
                      c.cid ASC) AS rn
    FROM unit q CROSS JOIN kc{iters} c WHERE q.vec_id < 10
  ) WHERE rn <= {nprobe}
), qres0 AS (
  -- per (query, probed cluster): the query's residual vector
  SELECT pb.query_id, pb.cid, list(qx.x - cy.y ORDER BY qx.dim) AS rv
  FROM probes pb
  JOIN (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS dim
        FROM unit) qx ON qx.vec_id = pb.query_id
  JOIN (SELECT cid, unnest(cv) AS y, generate_subscripts(cv, 1) AS dim
        FROM kc{iters}) cy ON cy.cid = pb.cid AND cy.dim = qx.dim
  GROUP BY pb.query_id, pb.cid
), qres AS (
  SELECT query_id, cid, j,
         list_slice(rv, j * {dsub} + 1, j * {dsub} + {dsub}) AS qsv
  FROM qres0 CROSS JOIN (SELECT unnest(range({m})) AS j)
), adc AS (
  -- asymmetric distance: per-subspace squared L2 between the query
  -- residual and the neighbor's codebook entry, summed over j
  SELECT p.query_id, n.vec_id AS neighbor_id,
         ROUND(SUM({d2(a='qs.qsv', b='b.bv')}), 4) AS d
  FROM probes p
  JOIN easg n ON n.cid = p.cid AND n.vec_id <> p.query_id
  JOIN ecodes nc ON nc.vec_id = n.vec_id
  JOIN qres qs ON qs.query_id = p.query_id AND qs.cid = p.cid
              AND qs.j = nc.j
  JOIN bk{iters} b ON b.j = nc.j AND b.code = nc.code
  GROUP BY p.query_id, n.vec_id
), shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY d ASC, neighbor_id ASC) AS rn
    FROM adc) WHERE rn <= {rerank}
), rr AS (
  SELECT s.query_id, s.neighbor_id,
         ROUND(list_cosine_similarity(q.v0, n.v0), 4) AS cosine
  FROM shortlist s
  JOIN raw q ON q.vec_id = s.query_id
  JOIN raw n ON n.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM rr)
WHERE rank <= {k}"""
    )


@_q("knn_ivfpq", _ivfpq_oracle())
def knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end trained IVF-PQ (FAISS-style coarse + residual
    product quantization, Jegou et al. TPAMI 2011) with exact cosine
    rerank. The full pipeline — sample Lloyd training included —
    replays in the DuckDB oracle via the 12dp/integer-micros parity
    discipline (see _ivfpq_oracle); iters=3 pins an unrollable
    iteration count, the same contract as knn_ivf_kmeans. Recall and
    nprobe monotonicity are pinned in
    tests/test_dedup_quality.py::TestIvfPq."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return simi.knn_ivfpq_rerank(
        e, queries, k=5, num_centroids=16, nprobe=4, rerank=50,
        sample_rows=2048, iters=3,
    )


# =====================================================================
# End-to-end RAG retrieval (the reference's namesake use case composed
# from engine operators: exact kNN -> document join -> chunk stats)
# =====================================================================

_RAG_RETRIEVAL_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < 3
), p AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])), 4) AS cosine
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM p
)
SELECT r.query_id, CAST(r.rank AS BIGINT) AS rank,
       r.neighbor_id AS doc_id, r.cosine,
       d.source,
       CAST(LENGTH(d.text) AS BIGINT) AS content_length,
       CAST(CEIL(GREATEST(LENGTH(d.text), 1) / 190.0) AS BIGINT) AS n_chunks
FROM r JOIN documents d ON r.neighbor_id = d.doc_id
WHERE r.rank <= 3 AND d.text IS NOT NULL
"""


@_q("rag_retrieval", _RAG_RETRIEVAL_ORACLE)
def rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship end-to-end: retrieve top-3 context documents per
    query embedding (exact cosine kNN), joined to document metadata
    and fixed-stride chunk counts — the serving-side read path of a
    lakehouse-to-RAG system expressed as one composed DataFrame plan
    (kNN two-phase top-k, then a hash join to the documents dim)."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 3)
    hits = simi.knn_bruteforce(e, queries, k=3)
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    n_chunks = F.ceil(
        F.greatest(F.length("text"), F.lit(1)) / F.lit(190.0)
    ).cast("long")
    return hits.join(
        d, hits["neighbor_id"] == d["doc_id"]
    ).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").alias("doc_id"),
        "cosine",
        "source",
        F.length("text").cast("long").alias("content_length"),
        n_chunks.alias("n_chunks"),
    )


# Shared keyword queries for lexical retrieval (tokens guaranteed in
# the synthetic vocabulary).
_BM25_QUERIES = [
    (0, "spark table join"),
    (1, "fast vector scan"),
    (2, "window agg stream"),
]

# BM25 float discipline mirrored exactly from operators/retrieval.py:
# idf ROUND 6 (transcendental), per-term contribution ROUND 6, score
# ROUND 4; b=0.75 exact, (1.2 + 1.0) written as the same float SUM the
# Python side computes. SUM(dl)/COUNT(*) is BIGINT/BIGINT -> DOUBLE in
# both engines (exact integer operands, identical quotient).
_BM25_ORACLE = """
WITH q(query_id, query) AS (
  VALUES (0, 'spark table join'), (1, 'fast vector scan'),
         (2, 'window agg stream')
), toks AS (
  SELECT doc_id AS id, string_split(LOWER(text), ' ') AS t
  FROM documents WHERE text IS NOT NULL
), dl AS (
  SELECT id, len(t) AS dl FROM toks
), words AS (
  SELECT id, unnest(t) AS word FROM toks
), tf AS (
  SELECT id, word, COUNT(*) AS tf FROM words GROUP BY id, word
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) / COUNT(*) AS avgdl FROM dl
), dfx AS (
  SELECT word, COUNT(*) AS df FROM tf GROUP BY word
), qt AS (
  SELECT DISTINCT query_id, unnest(string_split(LOWER(query), ' ')) AS word
  FROM q
), hits AS (
  SELECT qt.query_id, tf.id,
         CAST(FLOOR(
           ROUND(LN(1 + (stats.n_docs - dfx.df + 0.5) / (dfx.df + 0.5)), 6)
           * tf.tf * (1.2 + 1.0)
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
           * 1000000.0 + 0.5) AS BIGINT) AS c
  FROM tf
  JOIN qt USING (word)
  JOIN dl USING (id)
  JOIN dfx USING (word)
  CROSS JOIN stats
), scored AS (
  SELECT query_id, id, FLOOR(SUM(c) / 100.0 + 0.5) / 10000.0 AS score
  FROM hits GROUP BY query_id, id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, id ASC) AS rn
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rn AS BIGINT) AS rank,
       id AS doc_id, score
FROM ranked WHERE rn <= 5
"""


@_q("bm25_retrieval", _BM25_ORACLE)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval over the corpus: BM25 top-5 per keyword query
    (Lucene always-positive idf variant). The plan is one broadcast of
    the query-term list onto the word-partitioned posting list —
    the 100 TB shape for lexical search — with corpus stats (df,
    avgdl, N) as partial aggregates. Full SQL oracle replays
    tokenize -> tf/df/dl -> idf -> score -> rank."""
    from lakehouse_to_rag_spark.operators.retrieval import bm25_topk

    d = load_table(spark, sf_dir, "documents")
    queries = local_df(
        spark, _BM25_QUERIES, "query_id long, query string"
    )
    return bm25_topk(d, queries, k=5)


@_q("bm25_served_incremental", _BM25_ORACLE)
def bm25_served_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from an INCREMENTALLY-BUILT posting layout — the
    lexical half of the no-full-rebuild index story: the index is
    bootstrapped on the even-id half of the corpus and the odd-id
    half lands via ``append_to_bm25_index`` (additive _stats, stale
    stored df neutralized by the serve path's pruned-scan df
    recompute). Results must equal full-corpus BM25 exactly, so this
    shares ``bm25_retrieval``'s oracle verbatim — any drift in the
    append arithmetic or the df recompute diverges the hash. Staging
    follows the write-path convention (uuid dir, bounded eager
    collect, cleanup before return)."""
    import shutil
    import uuid

    from lakehouse_to_rag_spark.operators.retrieval import (
        append_to_bm25_index,
        bm25_topk_from_index,
        write_bm25_index,
    )

    d = load_table(spark, sf_dir, "documents")
    queries = local_df(
        spark, _BM25_QUERIES, "query_id long, query string"
    )
    staging = f"/tmp/bm25_inc_{uuid.uuid4().hex[:12]}"
    try:
        write_bm25_index(d.filter("doc_id % 2 = 0"), staging)
        append_to_bm25_index(spark, staging, d.filter("doc_id % 2 = 1"))
        served = bm25_topk_from_index(spark, staging, queries, k=5)
        rows = served.collect()
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return local_df(spark, rows, served.schema)


# Hybrid = BM25 over the query document's own text + exact cosine kNN,
# fused by reciprocal rank (Cormack et al. 2009, c=60). Candidate
# lists are 10 deep after self-hit removal; fused terms are exact
# double quotients of small ints (ROUND 6 defensive).
_HYBRID_RRF_ORACLE = """
WITH toks AS (
  SELECT doc_id AS id, string_split(LOWER(text), ' ') AS t
  FROM documents WHERE text IS NOT NULL
), dl AS (
  SELECT id, len(t) AS dl FROM toks
), words AS (
  SELECT id, unnest(t) AS word FROM toks
), tf AS (
  SELECT id, word, COUNT(*) AS tf FROM words GROUP BY id, word
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) / COUNT(*) AS avgdl FROM dl
), dfx AS (
  SELECT word, COUNT(*) AS df FROM tf GROUP BY word
), qt AS (
  SELECT DISTINCT doc_id AS query_id, unnest(string_split(LOWER(text), ' ')) AS word
  FROM documents WHERE doc_id IN (0, 1, 2) AND text IS NOT NULL
), hits AS (
  SELECT qt.query_id, tf.id,
         CAST(FLOOR(
           ROUND(LN(1 + (stats.n_docs - dfx.df + 0.5) / (dfx.df + 0.5)), 6)
           * tf.tf * (1.2 + 1.0)
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
           * 1000000.0 + 0.5) AS BIGINT) AS c
  FROM tf
  JOIN qt USING (word)
  JOIN dl USING (id)
  JOIN dfx USING (word)
  CROSS JOIN stats
), lex_scored AS (
  SELECT query_id, id, FLOOR(SUM(c) / 100.0 + 0.5) / 10000.0 AS score
  FROM hits GROUP BY query_id, id
), lex_ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, id ASC) AS rn
  FROM lex_scored
), lex AS (
  -- 11-deep, drop the self hit, re-rank contiguously, keep 10
  SELECT query_id, id AS doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rn ASC) AS rank_a
  FROM lex_ranked WHERE rn <= 11 AND id <> query_id
  QUALIFY rank_a <= 10
), qv AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id IN (0, 1, 2)
), vp AS (
  SELECT qv.query_id, e.vec_id AS doc_id,
         ROUND(list_cosine_similarity(qv.qe, CAST(e.embedding AS DOUBLE[])), 4) AS cosine
  FROM qv JOIN embeddings e ON e.vec_id <> qv.query_id
), vec AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, doc_id ASC) AS rank_b
  FROM vp
  QUALIFY rank_b <= 10
), fused AS (
  SELECT COALESCE(lex.query_id, vec.query_id) AS query_id,
         COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
         ROUND(COALESCE(1.0 / (60 + rank_a), 0)
               + COALESCE(1.0 / (60 + rank_b), 0), 6) AS rrf_score
  FROM lex FULL OUTER JOIN vec
    ON lex.query_id = vec.query_id AND lex.doc_id = vec.doc_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, doc_id ASC) AS rn
  FROM fused
)
SELECT query_id, CAST(rn AS BIGINT) AS rank, doc_id, rrf_score
FROM ranked WHERE rn <= 5
"""


@_q("hybrid_retrieval_rrf", _HYBRID_RRF_ORACLE)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid RAG retrieval: BM25 (lexical) and exact-cosine kNN
    (vector) candidate lists fused by reciprocal rank — the standard
    production retrieval pattern, fully oracle-replayed including both
    rankers and the full-outer fusion join."""
    from lakehouse_to_rag_spark.operators.retrieval import (
        hybrid_retrieval_rrf as _hybrid,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return _hybrid(d, e, query_ids=[0, 1, 2], k=5, candidates=10)


@_q("hybrid_retrieval_ivf", _HYBRID_RRF_ORACLE)
def hybrid_retrieval_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with the ANN backend swapped in: the pluggable
    ``vector_topk`` hook runs IVF instead of the exact scan. At FULL
    nprobe (nprobe == num_centroids) every cluster is probed, so IVF
    degenerates to the exact scan and the ``hybrid_retrieval_rrf``
    oracle transfers verbatim — this entry proves the pluggable
    backend through the external gate (VERDICT r5 brief #5), while
    the production setting (nprobe << num_centroids, same code path)
    is covered by the recall gauge ``ann_recall_ivf``."""
    from lakehouse_to_rag_spark.operators.retrieval import (
        hybrid_retrieval_rrf as _hybrid,
    )
    from lakehouse_to_rag_spark.operators.similarity import ivf_topk

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return _hybrid(
        d, e, query_ids=[0, 1, 2], k=5, candidates=10,
        vector_topk=lambda emb, q, kk: ivf_topk(
            emb, q, kk, num_centroids=8, nprobe=8
        ),
    )


# DSIR importance resampling, replayed end-to-end: hashed bag-of-words
# bag models (md5 buckets, module hashing contract in curation.py),
# add-1-smoothed log ratios quantized to INTEGER micro-units (the
# per-doc reduction is then an exact BIGINT sum — a double SUM
# measurably flipped a 4dp boundary between 8- and 32-slot sessions),
# per-doc weight 4dp, Gumbel-top-k selection with id-derived noise.
_DSIR_ORACLE = """
WITH words AS (
  SELECT doc_id AS id, source,
         unnest(string_split(LOWER(text), ' ')) AS word
  FROM documents WHERE text IS NOT NULL
), tb_r AS (
  SELECT id,
         ('0x' || substr(md5('dsir:' || word), 1, 15))::BIGINT % 1024 AS bucket
  FROM words
), tb_t AS (
  SELECT id,
         ('0x' || substr(md5('dsir:' || word), 1, 15))::BIGINT % 1024 AS bucket
  FROM words WHERE source IN ('src0', 'src1')
), ct AS (
  SELECT bucket, COUNT(*) AS ct FROM tb_t GROUP BY bucket
), cr AS (
  SELECT bucket, COUNT(*) AS cr FROM tb_r GROUP BY bucket
), tots AS (
  SELECT (SELECT COUNT(*) FROM tb_t) AS tt,
         (SELECT COUNT(*) FROM tb_r) AS tr
), ratio AS (
  SELECT COALESCE(ct.bucket, cr.bucket) AS bucket,
         CAST(FLOOR((LN((COALESCE(ct, 0) + 1.0) / (tt + 1024.0))
                     - LN((COALESCE(cr, 0) + 1.0) / (tr + 1024.0)))
                    * 1000000.0 + 0.5) AS BIGINT) AS lr_micro
  FROM ct FULL OUTER JOIN cr ON ct.bucket = cr.bucket CROSS JOIN tots
), doc_buckets AS (
  SELECT id, bucket, COUNT(*) AS n FROM tb_r GROUP BY id, bucket
), w AS (
  SELECT id AS doc_id,
         FLOOR(SUM(n * lr_micro) / 100.0 + 0.5) / 10000.0 AS log_weight
  FROM doc_buckets JOIN ratio USING (bucket) GROUP BY id
), keyed AS (
  SELECT doc_id, log_weight,
         ROUND(log_weight
               + ROUND(-LN(-LN(
                   ((('0x' || substr(md5('dsirg:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                     % 1152921504606846976 + 0.5) / 1152921504606846976.0))), 6), 6) AS sel_key
  FROM w
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY sel_key DESC, doc_id ASC) AS rn
  FROM keyed
)
SELECT doc_id, log_weight, sel_key, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= 100
"""


@_q("dsir_select", _DSIR_ORACLE)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): score every raw document
    by the hashed-n-gram importance estimate ln(p_target/p_raw)
    (target = the src0/src1 slice standing in for the high-quality
    domain), then draw 100 docs proportional-to-weight WITHOUT
    replacement via deterministic Gumbel-top-k. Two shuffles for the
    estimator + one TakeOrderedAndProject for the draw; fully
    replayed by the oracle including the Gumbel noise."""
    from lakehouse_to_rag_spark.operators.curation import dsir_select as _sel

    d = load_table(spark, sf_dir, "documents")
    target = d.filter(F.col("source").isin("src0", "src1"))
    # target is literally a filter of d, so the target bag model is an
    # id semi-join over raw's materialized token table instead of a
    # second tokenize+md5 pass over the slice (guide §1.2; r14)
    return _sel(d, target, n=100, target_within_raw=True)


_RANK_FNS_ORACLE = """
SELECT event_id,
       event_type,
       ROUND(PERCENT_RANK() OVER w, 4) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 4) AS cume_dist,
       CAST(DENSE_RANK() OVER w AS BIGINT) AS drank
FROM events
WHERE user_id < 5
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""


@_q("events_rank_functions", _RANK_FNS_ORACLE)
def events_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / dense_rank in one window (the
    remaining rank-function family members; ntile lives in
    events_value_deciles). Both rank fractions are exact rationals of
    row counts, so 4dp rounding is engine-stable."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return e.select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume_dist"),
        F.dense_rank().over(w).cast("long").alias("drank"),
    )


_UDTF_SPANS_ORACLE = """
SELECT doc_id,
       CAST((s - 1) // 200 AS BIGINT) AS span_index,
       CAST(s - 1 AS BIGINT) AS start,
       substring(text, CAST(s AS INTEGER), 200) AS span
FROM (
  SELECT doc_id, text,
         unnest(range(1, GREATEST(LENGTH(text), 1) + 1, 200)) AS s
  FROM documents
  WHERE text IS NOT NULL AND LENGTH(text) > 0
)
"""


@_q("gold_spans_udtf", _UDTF_SPANS_ORACLE)
def gold_spans_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride spans via a Python UDTF + LATERAL join — puts the
    Spark 4 table-function execution path (python worker, arrow
    row→table fan-out) under the oracle gate; semantics identical to
    the pure-SQL stride explode."""
    from lakehouse_to_rag_spark.functions.udtfs import register_udtfs
    from lakehouse_to_rag_spark.sources.tables import register_views

    register_udtfs(spark)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT d.doc_id, s.span_index, s.start, s.span
        FROM documents d, LATERAL fixed_spans(d.text, 200) s
        WHERE d.text IS NOT NULL
        """
    )


_WEIGHTED_MEAN_ORACLE = """
SELECT event_type,
       ROUND(SUM(value * (1 + user_id % 5)) / SUM(1 + user_id % 5), 4)
         AS weighted_mean_value
FROM events
GROUP BY event_type
"""


@_q("events_weighted_mean_udaf", _WEIGHTED_MEAN_ORACLE)
def events_weighted_mean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (the UDAF surface, §2.10): a
    weighted mean computed per group in one Arrow batch. numpy dot /
    sum is the UDAF body; the oracle recomputes it as exact SQL —
    putting the GROUPED_AGG execution path (arrow group transfer,
    partial=false aggregation) under the value gate."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def weighted_mean(v, w):
        ws = float(w.sum())
        return float((v * w).sum() / ws) if ws else float("nan")

    # Series -> scalar hints make it grouped-aggregate; set as objects,
    # since postponed annotations could not see the local ``pd``
    weighted_mean.__annotations__ = {"v": pd.Series, "w": pd.Series, "return": float}
    weighted_mean = pandas_udf("double")(weighted_mean)

    e = load_table(spark, sf_dir, "events")
    return (
        e.withColumn("w", (1 + F.col("user_id") % 5).cast("double"))
        .groupBy("event_type")
        .agg(
            F.round(weighted_mean(F.col("value"), F.col("w")), 4).alias(
                "weighted_mean_value"
            )
        )
    )


_RECURSIVE_SPINE_ORACLE = """
WITH RECURSIVE months(m) AS (
  SELECT date_trunc('month', MIN(o_orderdate)) FROM orders
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM months
  WHERE m < (SELECT date_trunc('month', MAX(o_orderdate)) FROM orders)
)
SELECT strftime(m, '%Y-%m') AS order_month,
       CAST(COALESCE(r.order_cnt, 0) AS BIGINT) AS order_cnt,
       ROUND(COALESCE(r.revenue, 0.0), 4) AS revenue
FROM months
LEFT JOIN (
  SELECT date_trunc('month', o_orderdate) AS om,
         COUNT(*) AS order_cnt,
         SUM(o_totalprice) AS revenue
  FROM orders GROUP BY 1
) r ON m = r.om
"""


@_q("orders_monthly_spine_recursive", _RECURSIVE_SPINE_ORACLE)
def orders_monthly_spine_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): data-driven monthly
    spine — anchor = first order month — LEFT JOINed to the monthly
    revenue rollup so months with no orders surface as zero rows (the
    gap-filling shape `events_hourly_gapfilled` gets from sequence(),
    expressed as ANSI recursion; DuckDB runs per-month recursion as
    the oracle, identical values). The recursive step advances a YEAR
    BLOCK (12 months exploded per iteration) rather than one month:
    Spark executes each recursion step as its own job, so per-month
    stepping costs ~0.2 s of scheduling floor per month of history
    (~15 s for the harness's 80 months) while per-year stepping is
    ~7 jobs for the same spine — recursion depth stays bounded by data
    SPAN, never row count, so the shape holds at 100 TB."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        WITH RECURSIVE year_blocks(y) AS (
          SELECT date_trunc('month', MIN(o_orderdate)) FROM orders
          UNION ALL
          SELECT y + INTERVAL '12' MONTH FROM year_blocks
          WHERE y + INTERVAL '12' MONTH <=
                (SELECT date_trunc('month', MAX(o_orderdate)) FROM orders)
        ),
        months AS (
          SELECT m
          FROM year_blocks
          LATERAL VIEW explode(
            sequence(y, y + INTERVAL '11' MONTH, INTERVAL '1' MONTH)
          ) t AS m
          WHERE m <= (SELECT date_trunc('month', MAX(o_orderdate)) FROM orders)
        )
        SELECT date_format(m, 'yyyy-MM') AS order_month,
               CAST(COALESCE(r.order_cnt, 0) AS BIGINT) AS order_cnt,
               ROUND(COALESCE(r.revenue, 0.0), 4) AS revenue
        FROM months
        LEFT JOIN (
          SELECT date_trunc('month', o_orderdate) AS om,
                 COUNT(*) AS order_cnt,
                 SUM(o_totalprice) AS revenue
          FROM orders GROUP BY 1
        ) r ON m = r.om
        """
    )


_SEQUENCE_PACK_ORACLE = """
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens
  FROM documents
  WHERE text IS NOT NULL
), cums AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks
)
SELECT doc_id, source, n_tokens,
       CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS seq_id,
       FLOOR((cum - 1) / 2048.0) > FLOOR((cum - n_tokens) / 2048.0)
         AS straddles_boundary
FROM cums
"""


_TRAINING_SHARDS_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         md5('shards0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
         CAST(len(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'))
              AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL
), cums AS (
  SELECT doc_id, shuffle_key, n_tokens,
         SUM(n_tokens) OVER (ORDER BY shuffle_key, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks
)
SELECT doc_id, shuffle_key, n_tokens,
       -- integer floor division (ADVICE r12): both engines now divide
       -- exact longs — the float form could flip a boundary shard
       -- near 2^53 cumulative tokens, identically on both sides
       CAST((cum - n_tokens) // 5000 AS BIGINT) AS shard
FROM cums
"""


@_q("training_shards_assign", _TRAINING_SHARDS_ORACLE)
def training_shards_assign_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted training-shard assignment (r12 — VERDICT r11
    task 7): cumulative whitespace-token budget over the
    deterministic epoch order (md5 shuffle key), shard = the budget
    window the doc's FIRST token lands in. The Spark side computes
    the global cumsum with the two-phase range-partition + offset
    form (no global sort funnel); the oracle's plain windowed SUM is
    exact because prefix sums over a total order are
    partition-independent — the hash match IS the proof the two-phase
    form equals the global sort."""
    d = load_table(spark, sf_dir, "documents")
    return cu.training_shards_assign(d, token_budget=5000)


@_q("sequence_pack", _SEQUENCE_PACK_ORACLE)
def sequence_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk training-sequence packing over curated docs
    (per-source streams, whitespace token budget 2048) — the
    curated-docs -> fixed-length-batches step of an LLM data pipeline
    (see operators/text_analysis.py:sequence_pack for the scale
    rationale: one exchange on the group key, no global ordering)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return ta.sequence_pack(d, seq_tokens=2048)


_QUALITY_PRUNE_ORACLE = f"""
WITH q AS (
  SELECT doc_id, source,
         FLOOR((LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0) * 0.5
             + (CAST(len(list_intersect(string_split(text, ' '), {_SW})) AS DOUBLE)
                / len(string_split(text, ' '))) * 0.4
             + (1.0 - LEAST((CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                             / LENGTH(text)) * 10.0, 1.0)) * 0.1) * 10000.0 + 0.5) / 10000.0 AS quality_score
  FROM documents
), r AS (
  SELECT doc_id, source, quality_score,
         PERCENT_RANK() OVER (PARTITION BY source
                              ORDER BY quality_score DESC, doc_id) AS pr
  FROM q
)
SELECT doc_id, source, quality_score, FLOOR(pr * 10000.0 + 0.5) / 10000.0 AS quality_pct_rank
FROM r
WHERE pr < 0.5
"""


_PER_GROUP_CAP_ORACLE = f"""
WITH q AS (
  SELECT doc_id, source,
         FLOOR((LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0) * 0.5
             + (CAST(len(list_intersect(string_split(text, ' '), {_SW})) AS DOUBLE)
                / len(string_split(text, ' '))) * 0.4
             + (1.0 - LEAST((CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                             / LENGTH(text)) * 10.0, 1.0)) * 0.1) * 10000.0 + 0.5) / 10000.0 AS quality_score
  FROM documents
), r AS (
  SELECT doc_id, source, quality_score,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY quality_score DESC, doc_id) AS rnk
  FROM q
)
SELECT doc_id, source, quality_score, CAST(rnk AS BIGINT) AS quality_rank
FROM r WHERE rnk <= 10
"""


@_q("per_group_cap", _PER_GROUP_CAP_ORACLE)
def per_group_cap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absolute per-source cap (crawl-style domain limiting): keep each
    source's top 10 documents by composite quality — one exchange on
    the group key, deterministic id tie-breaks."""
    d = load_table(spark, sf_dir, "documents")
    return ta.per_group_cap(d, cap=10)


@_q("quality_prune", _QUALITY_PRUNE_ORACLE)
def quality_prune_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile quality pruning: keep each source's top half of
    documents by the composite quality score (relative-rank curation —
    one exchange on the group key; ranks computed on the 4dp-rounded
    score with id tie-breaks so the kept set is deterministic across
    engines)."""
    d = load_table(spark, sf_dir, "documents")
    return ta.quality_prune(d, keep_fraction=0.5)


_REMOVE_SPANS_ORACLE = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> LENGTH(x) > 0) AS ws
  FROM documents WHERE text IS NOT NULL
), g AS (
  SELECT doc_id, i AS pos, array_to_string(ws[i:i+4], ' ') AS gram
  FROM w, UNNEST(range(1, len(ws) - 3)) AS t(i)
  WHERE len(ws) >= 5
), dup AS (
  SELECT gram
  FROM (SELECT gram, doc_id FROM g GROUP BY gram, doc_id)
  GROUP BY gram HAVING COUNT(*) >= 2
), cov AS (
  SELECT g.doc_id,
         list_sort(list_distinct(flatten(list(range(g.pos, g.pos + 5))))) AS cov
  FROM g JOIN dup USING (gram)
  GROUP BY g.doc_id
)
SELECT w.doc_id,
       COALESCE(array_to_string(
         [ws[i] FOR i IN range(1, len(ws) + 1)
                IF cov IS NULL OR NOT list_contains(cov, i)], ' '), '')
         AS clean_text,
       CAST(len(ws) - len(
         [ws[i] FOR i IN range(1, len(ws) + 1)
                IF cov IS NULL OR NOT list_contains(cov, i)]) AS BIGINT)
         AS n_removed_words
FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id
"""


@_q("remove_duplicate_spans", _REMOVE_SPANS_ORACLE)
def remove_duplicate_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of exact-substring dedup (Lee et al. 2021):
    excise every word covered by a 5-gram occurring in >= 2 documents
    and return the rewritten text — word-granular span surgery as pure
    array algebra, fully reproduced by the oracle."""
    d = load_table(spark, sf_dir, "documents")
    return ta.remove_duplicate_spans(d, n=5, min_docs=2)


_REMOVE_SPANS_CHAR_ORACLE = """
WITH d AS (
  SELECT doc_id, text AS t FROM documents WHERE text IS NOT NULL
), g AS (
  SELECT doc_id, i AS pos, substr(t, i, 7) AS gram
  FROM d, UNNEST(range(1, LENGTH(t) - 5)) AS u(i)
  WHERE LENGTH(t) >= 7
), dup AS (
  SELECT gram FROM (SELECT gram, doc_id FROM g GROUP BY gram, doc_id)
  GROUP BY gram HAVING COUNT(*) >= 2
), cov AS (
  SELECT g.doc_id,
         list_sort(list_distinct(flatten(list(range(g.pos, g.pos + 7)))))
           AS cov
  FROM g JOIN dup USING (gram) GROUP BY g.doc_id
)
SELECT d.doc_id,
       COALESCE(array_to_string(
         [substr(t, i, 1) FOR i IN range(1, LENGTH(t) + 1)
                IF cov IS NULL OR NOT list_contains(cov, i)], ''), '')
         AS clean_text,
       CAST(COALESCE(len(cov), 0) AS BIGINT) AS n_removed_chars
FROM d LEFT JOIN cov USING (doc_id)
"""


@_q("remove_duplicate_spans_char", _REMOVE_SPANS_CHAR_ORACLE)
def remove_duplicate_spans_char_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Char-unit exact-substring span removal (r12 — VERDICT r11
    task 3): excise every CHARACTER covered by a 7-gram occurring in
    >= 2 documents. The miner is the chunked positional gram pass
    (per-row memory O(slice)); the rebuild concatenates the gaps
    between covered runs (never a per-char array). Closes the
    unsegmented-script hole for the span family — word mode sees a
    CJK document as one token and never excises anything. The oracle
    replays the same positions/cover/gap semantics per-char in SQL
    (substr/length are code-point in both engines)."""
    d = load_table(spark, sf_dir, "documents")
    return ta.remove_duplicate_spans(d, n=7, min_docs=2, unit="char")


_REMOVE_SPANS_AUTO_UNIT_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES
    (CAST(900001 AS BIGINT), '{_CJK_A}'),
    (CAST(900002 AS BIGINT), '{_CJK_B}'),
    (CAST(900003 AS BIGINT), '{_CJK_C}')
  ) AS v(doc_id, text)
), cls AS MATERIALIZED (
  SELECT doc_id, text,
         COALESCE(CAST(LENGTH(text) AS DOUBLE) /
                  GREATEST(len(list_filter(string_split(text, ' '),
                                           x -> LENGTH(x) > 0)), 1)
                  >= 20.0, FALSE) AS is_char
  FROM docs
), w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> LENGTH(x) > 0) AS ws
  FROM cls WHERE NOT is_char AND text IS NOT NULL
), gw AS (
  SELECT doc_id, i AS pos, array_to_string(ws[i:i+4], ' ') AS gram
  FROM w, UNNEST(range(1, len(ws) - 3)) AS t(i)
  WHERE len(ws) >= 5
), dupw AS (
  SELECT gram
  FROM (SELECT gram, doc_id FROM gw GROUP BY gram, doc_id)
  GROUP BY gram HAVING COUNT(*) >= 2
), covw AS (
  SELECT gw.doc_id,
         list_sort(list_distinct(flatten(list(range(gw.pos, gw.pos + 5))))) AS cov
  FROM gw JOIN dupw USING (gram)
  GROUP BY gw.doc_id
), d AS (
  SELECT doc_id, text AS t FROM cls WHERE is_char AND text IS NOT NULL
), gc AS (
  SELECT doc_id, i AS pos, substr(t, i, 7) AS gram
  FROM d, UNNEST(range(1, LENGTH(t) - 5)) AS u(i)
  WHERE LENGTH(t) >= 7
), dupc AS (
  SELECT gram FROM (SELECT gram, doc_id FROM gc GROUP BY gram, doc_id)
  GROUP BY gram HAVING COUNT(*) >= 2
), covc AS (
  SELECT gc.doc_id,
         list_sort(list_distinct(flatten(list(range(gc.pos, gc.pos + 7)))))
           AS cov
  FROM gc JOIN dupc USING (gram) GROUP BY gc.doc_id
)
SELECT w.doc_id,
       COALESCE(array_to_string(
         [ws[i] FOR i IN range(1, len(ws) + 1)
                IF cov IS NULL OR NOT list_contains(cov, i)], ' '), '')
         AS clean_text,
       CAST(len(ws) - len(
         [ws[i] FOR i IN range(1, len(ws) + 1)
                IF cov IS NULL OR NOT list_contains(cov, i)]) AS BIGINT)
         AS n_removed,
       'word' AS unit
FROM w LEFT JOIN covw ON w.doc_id = covw.doc_id
UNION ALL
SELECT d.doc_id,
       COALESCE(array_to_string(
         [substr(t, i, 1) FOR i IN range(1, LENGTH(t) + 1)
                IF cov IS NULL OR NOT list_contains(cov, i)], ''), '')
         AS clean_text,
       CAST(COALESCE(len(cov), 0) AS BIGINT) AS n_removed,
       'char' AS unit
FROM d LEFT JOIN covc ON d.doc_id = covc.doc_id
"""


@_q("remove_duplicate_spans_auto_unit", _REMOVE_SPANS_AUTO_UNIT_ORACLE)
def remove_duplicate_spans_auto_unit_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Span surgery with per-document unit dispatch (r13 — VERDICT
    r12 task 6): the documents table plus the three planted
    unsegmented CJK docs (the near-dup pair shares a long prefix, so
    char 7-grams cover it in BOTH planted docs; the control shares
    none) — word-regime documents get word-gram excision, unsegmented
    documents get char-gram excision, one union tagged by unit with
    ``n_removed`` counting each regime's own units. Each regime mines
    its duplicated-gram table from its own documents only (word and
    char grams are different currencies — the auto-unit dedup
    contract). Not separately benched: the plan is the two
    single-unit span plans (both rowed via their gated twins) behind
    one row predicate — bench policy rule 3."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    extra = local_df(
        spark,
        [(900001, _CJK_A), (900002, _CJK_B), (900003, _CJK_C)],
        "doc_id long, text string",
    )
    return ta.remove_duplicate_spans_auto_unit(
        d.unionByName(extra), n_word=5, n_char=7, min_docs=2
    )


_SIMHASH_BITS = ", ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(60)
)
_SIMHASH_FOLD = " + ".join(
    f"(CASE WHEN b{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(60)
)
_SIMHASH_BANDS = " OR ".join(
    f"((a.simhash >> {j * 15}) & 32767) = ((b.simhash >> {j * 15}) & 32767)"
    for j in range(4)
)

_SIMHASH_MD5_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
         ('0x' || substr(md5(t.word), 1, 15))::BIGINT AS h
  FROM documents, UNNEST(string_split(text, ' ')) AS t(word)
  WHERE LENGTH(t.word) > 0
), s AS (
  SELECT doc_id, {_SIMHASH_BITS} FROM w GROUP BY doc_id
), sig AS (
  SELECT doc_id, CAST({_SIMHASH_FOLD} AS BIGINT) AS simhash FROM s
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sig a JOIN sig b
  ON a.doc_id < b.doc_id AND ({_SIMHASH_BANDS})
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@_q("dedup_simhash_md5", _SIMHASH_MD5_ORACLE)
def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over the md5-derived 60-bit signature —
    the engine-portable twin of dedup_simhash whose signature, banding,
    and hamming verification are ALL reproduced by the DuckDB oracle
    (the xxhash64 default stays rows-only + pigeonhole/brute-force
    tested)."""
    d = load_table(spark, sf_dir, "documents")
    return dd.simhash_pairs_md5(d, "doc_id", "text", max_hamming=3)


_BIGRAM_LM_ORACLE = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> LENGTH(x) > 0) AS ws
  FROM documents WHERE text IS NOT NULL
), bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM w, UNNEST(range(1, len(ws))) AS t(i)
  WHERE len(ws) >= 2
), cb AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2
), cw AS (
  SELECT w1, SUM(c2) AS c1 FROM cb GROUP BY w1
), vv AS (
  SELECT COUNT(DISTINCT w1) AS v FROM cb
)
SELECT bg.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(LN((c2 + 0.4) / (c1 + 0.4 * v))), 4) AS avg_logprob,
       ROUND(EXP(-AVG(LN((c2 + 0.4) / (c1 + 0.4 * v)))), 4) AS pseudo_ppl
FROM bg
JOIN cb ON bg.w1 = cb.w1 AND bg.w2 = cb.w2
JOIN cw ON bg.w1 = cw.w1
CROSS JOIN vv
GROUP BY bg.doc_id
"""


@_q("bigram_lm_scores", _BIGRAM_LM_ORACLE)
def bigram_lm_scores_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity-proxy scoring under a corpus-trained
    add-alpha bigram LM (exact integer counts; the oracle re-derives
    the same model, so only ln/avg ulps separate engines — absorbed by
    the 4dp round)."""
    d = load_table(spark, sf_dir, "documents")
    return ta.bigram_lm_scores(d)


_TRIGRAM_BACKOFF_ORACLE = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> LENGTH(x) > 0) AS ws
  FROM documents WHERE text IS NOT NULL
), mt AS (  -- model trigrams (even ids)
  SELECT ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
  FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
  WHERE len(ws) >= 3 AND doc_id % 2 = 0
), c3 AS (
  SELECT w1, w2, w3, COUNT(*) AS c3 FROM mt GROUP BY 1, 2, 3
), mb AS (  -- model bigrams
  SELECT ws[i] AS w1, ws[i+1] AS w2
  FROM w, UNNEST(range(1, len(ws))) AS t(i)
  WHERE len(ws) >= 2 AND doc_id % 2 = 0
), c2 AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM mb GROUP BY 1, 2
), mu AS (
  SELECT u.x AS wd FROM w, UNNEST(ws) AS u(x) WHERE doc_id % 2 = 0
), c1 AS (
  SELECT wd, COUNT(*) AS c1 FROM mu GROUP BY 1
), tot AS (
  SELECT SUM(c1) AS n_total, COUNT(*) AS v_total FROM c1
), tg AS (  -- scored trigrams (odd ids)
  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
  FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
  WHERE len(ws) >= 3 AND doc_id % 2 = 1
), s AS (
  SELECT tg.doc_id,
         CASE
           WHEN c3.c3 IS NOT NULL THEN CAST(c3.c3 AS DOUBLE) / c2a.c2
           WHEN c2b.c2 IS NOT NULL
             THEN 0.4 * c2b.c2 / u2.c1
           ELSE 0.4 * 0.4 * (COALESCE(u3.c1, 0) + 1)
                / (tot.n_total + tot.v_total)
         END AS sc,
         CASE WHEN c3.c3 IS NOT NULL THEN 0.0 ELSE 1.0 END AS backed
  FROM tg
  LEFT JOIN c3 ON tg.w1 = c3.w1 AND tg.w2 = c3.w2 AND tg.w3 = c3.w3
  LEFT JOIN c2 c2a ON tg.w1 = c2a.w1 AND tg.w2 = c2a.w2
  LEFT JOIN c2 c2b ON tg.w2 = c2b.w1 AND tg.w3 = c2b.w2
  LEFT JOIN c1 u2 ON tg.w2 = u2.wd
  LEFT JOIN c1 u3 ON tg.w3 = u3.wd
  CROSS JOIN tot
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       ROUND(AVG(LN(sc)), 4) AS avg_logscore,
       ROUND(AVG(backed), 4) AS backoff_rate
FROM s GROUP BY doc_id
"""


_PPL_BUCKETS_ORACLE = f"""
WITH base AS ({_TRIGRAM_BACKOFF_ORACLE}), nt AS (
  SELECT doc_id, n_trigrams, avg_logscore, backoff_rate,
         CAST(ROW_NUMBER() OVER (ORDER BY avg_logscore DESC, doc_id)
              AS BIGINT) AS lm_rank,
         NTILE(3) OVER (ORDER BY avg_logscore DESC, doc_id) AS b
  FROM base
)
SELECT doc_id, n_trigrams, avg_logscore, backoff_rate, lm_rank,
       CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
              ELSE 'tail' END AS bucket
FROM nt
"""


@_q("perplexity_buckets", _PPL_BUCKETS_ORACLE)
def perplexity_buckets_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus partitioning (Wenzek et
    al. 2020 §3) over the held-out trigram LM scores: odd-id docs
    scored under even-id-trained n-gram tables, ordered by
    avg_logscore, cut into NTILE thirds. The rank is computed by the
    DISTRIBUTED two-phase global_rank (range repartition + per-
    partition offsets), never a single-partition window — the oracle
    replays it with a plain NTILE because both implement the same
    standard definition over the same total order."""
    d = load_table(spark, sf_dir, "documents")
    return ta.perplexity_buckets(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
    )


@_q("trigram_backoff_scores", _TRIGRAM_BACKOFF_ORACLE)
def trigram_backoff_scores_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff trigram scoring of the odd-id half under n-gram
    tables trained on the even-id half — a true held-out split, so the
    backoff chain (trigram -> bigram -> add-1 unigram floor) actually
    executes and the oracle checks every branch of it. Exact integer
    counts throughout; ln/avg ulps absorbed by the 4dp round."""
    d = load_table(spark, sf_dir, "documents")
    return ta.trigram_backoff_scores(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
    )


# =====================================================================
# Corpus-assembly / curation extensions (operators/curation.py)
# =====================================================================

# split bucket shared by the decontamination entry: first 32 md5 bits
# of the id mod 100 (same derivation as train_split_assign)
_BUCKET_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"
_BLOOM_POS_SQL = ", ".join(
    f"('0x' || substr(md5('bloom{i}:' || text), 1, 15))::BIGINT % 4096"
    for i in range(3)
)

_BLOOM_DECON_ORACLE = f"""
WITH b AS (
  SELECT doc_id, text, {_BUCKET_SQL} AS bucket FROM documents
), bits AS (
  SELECT DISTINCT pos
  FROM b, UNNEST([{_BLOOM_POS_SQL}]) AS t(pos)
  WHERE bucket >= 90
), probes AS (
  SELECT doc_id, UNNEST([{_BLOOM_POS_SQL}]) AS pos
  FROM b WHERE bucket < 80
)
SELECT p.doc_id,
       CAST(COUNT(bits.pos) AS BIGINT) AS n_hit_bits,
       COUNT(bits.pos) >= 3 AS is_flagged
FROM probes p LEFT JOIN bits ON p.pos = bits.pos
GROUP BY p.doc_id
"""


@_q("bloom_decontaminate", _BLOOM_DECON_ORACLE)
def bloom_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination of the train split against the
    held-out test split (m deliberately small, 4096 bits, so the
    false-positive path carries real traffic — the oracle reproduces
    FPs bit-for-bit because the distinct-bit-position set IS the
    filter's entire state)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.md5(F.col("doc_id").cast("string")).substr(1, 8), 16, 10)
        .cast("long")
        % 100
    )
    train = d.filter(bucket < 80)
    test = d.filter(bucket >= 90)
    return cu.bloom_decontaminate(train, test, m_bits=4096, k=3)


_TRAIN_SHUFFLE_ORACLE = """
SELECT doc_id,
       CAST(('0x' || substr(md5('epoch0/shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS INTEGER) AS shard,
       md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
FROM documents
"""


@_q("training_shuffle", _TRAIN_SHUFFLE_ORACLE)
def training_shuffle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: reproducible md5 sort key + shard
    assignment, hash-exchanged on shard and sorted within — the
    no-global-sort training-order shape."""
    d = load_table(spark, sf_dir, "documents")
    return cu.training_shuffle(d, n_shards=16, seed="epoch0")


_DOMAIN_MIX_ORACLE = """
WITH wts(source, w) AS (
  VALUES ('src0', 0.4), ('src1', 0.3), ('src2', 0.15),
         ('src3', 0.1), ('src4', 0.05)
), counts AS (
  SELECT d.source, w, CAST(COUNT(*) AS DOUBLE) AS n_g
  FROM documents d JOIN wts ON d.source = wts.source
  GROUP BY d.source, w
), rates AS (
  SELECT source, LEAST(1.0, MIN(n_g / w) OVER () * w / n_g) AS rate
  FROM counts
)
SELECT d.doc_id, d.source, ROUND(rate, 6) AS sample_rate
FROM documents d JOIN rates ON d.source = rates.source
WHERE ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
      < CAST(FLOOR(rate * 1000000) AS BIGINT)
"""


@_q("domain_mix", _DOMAIN_MIX_ORACLE)
def domain_mix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain mixing: the largest corpus where the five
    listed sources hold exactly their target shares (binding source
    keeps rate 1.0, the rest downsample by md5 bucket; unlisted
    sources drop)."""
    d = load_table(spark, sf_dir, "documents")
    return cu.domain_mix_sample(
        d,
        {"src0": 0.4, "src1": 0.3, "src2": 0.15, "src3": 0.1, "src4": 0.05},
    )


_TEMPERATURE_MIX_ORACLE = """
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS DOUBLE) AS n_g
  FROM documents GROUP BY source
), rates AS (
  SELECT source,
         ROUND(LEAST(1.0,
           MIN(n_g / POW(n_g, 0.5)) OVER () * POW(n_g, 0.5) / n_g), 9)
           AS rate
  FROM counts
)
SELECT d.doc_id, d.source, ROUND(rate, 6) AS sample_rate
FROM documents d JOIN rates ON d.source = rates.source
WHERE ('0x' || substr(md5('tmix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
      < CAST(FLOOR(rate * 1000000) AS BIGINT)
"""


@_q("temperature_mix", _TEMPERATURE_MIX_ORACLE)
def temperature_mix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixing at alpha=0.5 (multilingual-corpus
    exponential smoothing): shares proportional to sqrt(group size),
    smallest group binds at rate 1.0, md5-bucket keep decisions. The
    9dp rate rounding BEFORE the floor threshold (both engines) makes
    the pow() expression engine-portable."""
    d = load_table(spark, sf_dir, "documents")
    return cu.temperature_mix_sample(d, alpha=0.5)


_NORM_SQL = (
    r"TRIM(REGEXP_REPLACE(LOWER(REGEXP_REPLACE(TRIM(text), "
    r"'[^\w\d\s\.,!?;:\-\(\)]', ' ', 'g')), '\s+', ' ', 'g'))"
)

_INCR_DEDUP_ORACLE = f"""
WITH inc AS (
  SELECT doc_id, md5({_NORM_SQL}) AS content_fp
  FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL
), corp AS (
  SELECT DISTINCT md5({_NORM_SQL}) AS content_fp
  FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL
), fresh AS (
  SELECT doc_id, content_fp FROM inc
  WHERE NOT EXISTS (SELECT 1 FROM corp WHERE corp.content_fp = inc.content_fp)
), ranked AS (
  SELECT doc_id, content_fp,
         ROW_NUMBER() OVER (PARTITION BY content_fp ORDER BY doc_id) AS rn
  FROM fresh
)
SELECT doc_id, content_fp FROM ranked WHERE rn = 1
"""


@_q("dedup_incremental", _INCR_DEDUP_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup: odd-id docs are the incoming batch,
    even-id docs the existing snapshot; survivors are incoming docs
    whose normalized content is new (anti-join on fingerprints only —
    the snapshot's text never moves) and first of their kind within
    the batch."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    incoming = d.filter(F.col("doc_id") % 2 == 1)
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    return cu.incremental_dedup(incoming, corpus)


_LEAKAGE_SPLIT_ORACLE = f"""
WITH f AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN 'null:' || CAST(doc_id AS VARCHAR)
              ELSE md5({_NORM_SQL}) END AS content_fp
  FROM documents
), r AS (
  SELECT content_fp, MIN(doc_id) AS root_id FROM f GROUP BY content_fp
)
SELECT f.doc_id, r.root_id,
       ('0x' || substr(md5(CAST(r.root_id AS VARCHAR)), 1, 8))::BIGINT % 100
         AS bucket,
       CASE WHEN ('0x' || substr(md5(CAST(r.root_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80
            THEN 'train'
            WHEN ('0x' || substr(md5(CAST(r.root_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
            THEN 'val'
            ELSE 'test' END AS split
FROM f JOIN r USING (content_fp)
"""


@_q("leakage_safe_split", _LEAKAGE_SPLIT_ORACLE)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-keyed split assignment: every document inherits its
    train/val/test bucket from the smallest id sharing its
    normalized-text fingerprint (the ``incremental_dedup`` md5
    convention), so exact duplicates can never straddle a split
    boundary — the eval-leakage failure ``train_split_assign``'s id
    hashing permits on a dup-bearing corpus. The harness documents
    table has no exact-normalized duplicates, so the gate pins the
    root-keyed arithmetic (groupBy + join + root-hash buckets);
    the co-location property itself is pinned by the planted-dup
    test in tests/test_properties.py."""
    return ta.leakage_safe_split(load_table(spark, sf_dir, "documents"))


# =====================================================================
# Spectral (distributed PCA — operators/spectral.py)
# =====================================================================


def _pca_oracle(d: int = 64, k: int = 4, iters: int = 20, sq: int = 5) -> str:
    """Full training replay of ``spectral.pca_project`` as sequential
    SQL: exact int64 covariance moments over 1e6-quantized values,
    ``sq`` spectral-sharpening matrix squarings (ROUND-14 collapse),
    then k power-iteration chains (ROUND-10 matvec collapse, the same
    unrolled-trained-model trick as the Lloyd chain above), deflation
    between components, and a final 6dp projection. Every float op
    mirrors the numpy expression tree in spectral.py left-assoc for
    left-assoc."""
    v0 = repr(1.0 / math.sqrt(d))
    parts = [
        f"""WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), x AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(v, 1) AS dim,
         CAST(ROUND(unnest(v) * 1000000.0, 0) AS BIGINT) AS q
  FROM e
), nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM e
), mu AS MATERIALIZED (
  SELECT dim, CAST(SUM(q) AS DOUBLE) / n AS mu FROM x CROSS JOIN nn
  GROUP BY dim, n
), sp AS MATERIALIZED (
  SELECT a.dim AS i, b.dim AS j, SUM(a.q * b.q) AS s
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.dim <= b.dim
  GROUP BY 1, 2
), spf AS MATERIALIZED (
  SELECT i, j, s FROM sp
  UNION ALL SELECT j AS i, i AS j, s FROM sp WHERE i <> j
), c0r AS MATERIALIZED (
  SELECT f.i, f.j, CAST(f.s AS DOUBLE) / n - mi.mu * mj.mu AS cv
  FROM spf f CROSS JOIN nn
  JOIN mu mi ON mi.dim = f.i JOIN mu mj ON mj.dim = f.j
), mm AS MATERIALIZED (SELECT MAX(ABS(cv)) * {float(d)!r} AS m FROM c0r
), cs0 AS MATERIALIZED (SELECT i, j, cv / m AS cv FROM c0r CROSS JOIN mm)"""
    ]
    for s in range(1, sq + 1):
        parts.append(
            f""", r{s} AS MATERIALIZED (
  SELECT a.i AS i, b.j AS j, ROUND(SUM(a.cv * b.cv), 14) AS cv
  FROM cs{s - 1} a JOIN cs{s - 1} b ON a.j = b.i GROUP BY a.i, b.j
), rm{s} AS MATERIALIZED (SELECT MAX(ABS(cv)) * {float(d)!r} AS m FROM r{s}
), cs{s} AS MATERIALIZED (SELECT i, j, cv / m AS cv FROM r{s} CROSS JOIN rm{s})"""
        )
    parts.append(f""", c0 AS MATERIALIZED (SELECT i, j, cv FROM cs{sq})""")
    for c in range(1, k + 1):
        parts.append(
            f""", v{c}_0 AS MATERIALIZED (SELECT UNNEST(range(1, {d + 1})) AS dim, {v0} AS val)"""
        )
        for t in range(1, iters + 1):
            parts.append(
                f""", w{c}_{t} AS MATERIALIZED (
  SELECT m.i AS dim, ROUND(SUM(m.cv * v.val), 10) AS w
  FROM c{c - 1} m JOIN v{c}_{t - 1} v ON v.dim = m.j GROUP BY m.i
), v{c}_{t} AS MATERIALIZED (
  SELECT dim, ROUND(w / sqrt((SELECT ROUND(SUM(w * w), 10)
                              FROM w{c}_{t})), 12) AS val
  FROM w{c}_{t}
)"""
            )
        parts.append(
            f""", sg{c} AS MATERIALIZED (
  SELECT CASE WHEN val < 0 THEN -1.0 ELSE 1.0 END AS sg
  FROM v{c}_{iters} ORDER BY ROUND(ABS(val), 12) DESC, dim ASC LIMIT 1
), p{c} AS MATERIALIZED (SELECT dim, val * sg AS val FROM v{c}_{iters} CROSS JOIN sg{c})"""
        )
        if c < k:
            parts.append(
                f""", u{c} AS MATERIALIZED (
  SELECT m.i AS dim, ROUND(SUM(m.cv * p.val), 10) AS u
  FROM c{c - 1} m JOIN p{c} p ON p.dim = m.j GROUP BY m.i
), l{c} AS MATERIALIZED (
  SELECT ROUND(SUM(p.val * u.u), 10) AS lam
  FROM p{c} p JOIN u{c} u ON u.dim = p.dim
), c{c} AS MATERIALIZED (
  SELECT m.i, m.j, m.cv - l.lam * a.val * b.val AS cv
  FROM c{c - 1} m JOIN p{c} a ON a.dim = m.i
  JOIN p{c} b ON b.dim = m.j CROSS JOIN l{c} l
)"""
            )
    allv = "\n  UNION ALL ".join(
        f"SELECT {c} AS comp, dim, val FROM p{c}" for c in range(1, k + 1)
    )
    pcs = ",\n       ".join(
        f"MAX(CASE WHEN comp = {c} THEN pc END) AS pc{c}"
        for c in range(1, k + 1)
    )
    parts.append(
        f""", allv AS MATERIALIZED (
  {allv}
), pr AS MATERIALIZED (
  SELECT x.vec_id, a.comp,
         ROUND(SUM((CAST(x.q AS DOUBLE) - mu.mu) * a.val) / 1000000.0, 6)
           AS pc
  FROM x JOIN mu ON mu.dim = x.dim JOIN allv a ON a.dim = x.dim
  GROUP BY x.vec_id, a.comp
)
SELECT vec_id,
       {pcs}
FROM pr GROUP BY vec_id"""
    )
    return "".join(parts)


def _jl_oracle(d: int = 64, k: int = 16, seed: int = 0) -> str:
    """Full replay of ``spectral.jl_project``: the md5-derived ±1
    matrix is REBUILT in SQL from the identical string recipe
    (md5("seed:j:i") first hex digit < 8), the dot products are
    EXACT int64 sums over 1e6-quantized values (signs are ±1, so no
    float reduction at all), and the single division + 6dp half-away
    round are deterministic in both engines."""
    pcs = ",\n       ".join(
        f"MAX(CASE WHEN j = {c} THEN rp END) AS rp{c}"
        for c in range(1, k + 1)
    )
    return f"""WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), x AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(v, 1) AS dim,
         CAST(ROUND(unnest(v) * 1000000.0, 0) AS BIGINT) AS q
  FROM e
), mat AS MATERIALIZED (
  SELECT j.range + 1 AS j, i.range + 1 AS i,
         CASE WHEN substr(md5(concat('{seed}:', j.range + 1, ':',
                                      i.range + 1)), 1, 1)
                   BETWEEN '0' AND '7'
              THEN 1 ELSE -1 END AS s
  FROM range({k}) j, range({d}) i
), pr AS MATERIALIZED (
  SELECT x.vec_id, m.j,
         ROUND(CAST(SUM(x.q * m.s) AS DOUBLE)
               / (1000000.0 * SQRT({float(k)!r})), 6) AS rp
  FROM x JOIN mat m ON m.i = x.dim
  GROUP BY x.vec_id, m.j
)
SELECT vec_id,
       {pcs}
FROM pr GROUP BY vec_id"""


@_q("embedding_rp", _jl_oracle(d=64, k=16, seed=0))
def embedding_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection of every embedding to
    16 dims (Achlioptas-sign matrix derived from md5, no RNG): the
    train-free, shuffle-free dimensionality reducer that shrinks
    vectors before the ANN / dedup machinery. ONE map-only Arrow
    pass; the 16 x 64 sign matrix rides the closure. The oracle
    rebuilds the identical matrix in SQL and replays the exact-int64
    dot products."""
    e = load_table(spark, sf_dir, "embeddings")
    from lakehouse_to_rag_spark.operators import spectral

    return spectral.jl_project(e, k=16, seed=0)


_PCA_ORACLE = _pca_oracle(d=64, k=4, iters=20, sq=5)


@_q("embedding_pca", _PCA_ORACLE)
def embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-4 principal-component scores for every embedding. Training
    is one Arrow pass reducing to exact int64 d x d moments (model
    state O(d^2), corpus never collected); projection is a second
    batch-GEMM pass. The oracle replays the ENTIRE training — moments,
    5 sharpening squarings, 20 power iterations x 4 components with
    deflation — in SQL."""
    e = load_table(spark, sf_dir, "embeddings")
    from lakehouse_to_rag_spark.operators import spectral

    return spectral.pca_project(e, k=4, iterations=20)


# =====================================================================
# ANN quality gauge: recall@k of the IVF probe vs the exact scan.
# The oracle simply composes the two already-proven replay chains
# (brute-force + untrained-IVF) as subqueries and left-joins them —
# queries with empty hit overlap score 0, never drop.
# =====================================================================

_ANN_RECALL_ORACLE = f"""
WITH bf AS MATERIALIZED (SELECT * FROM ({_KNN_ORACLE})),
ivf AS MATERIALIZED (SELECT * FROM ({_KNN_IVF_ORACLE}))
SELECT bf.query_id,
       CAST(COUNT(ivf.neighbor_id) AS BIGINT) AS n_hits,
       ROUND(COUNT(ivf.neighbor_id) / 5.0, 4) AS recall
FROM bf LEFT JOIN ivf
  ON ivf.query_id = bf.query_id AND ivf.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
"""


@_q("ann_recall_ivf", _ANN_RECALL_ORACLE)
def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the nprobe=4 untrained IVF against the exact scan,
    per query — the measurement that justifies (or vetoes) swapping
    the linear scan for the index at scale."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    exact = simi.knn_bruteforce(e, queries, k=5)
    approx = simi.ivf_topk(e, queries, k=5, num_centroids=16, nprobe=4)
    return simi.ann_recall(exact, approx, k=5)


# =====================================================================
# Binary (sign-bit) ANN (operators/similarity.py:quantize_binary).
# Every step is exact integer arithmetic (bit compare, XOR, popcount),
# so the oracle replays at full precision with no rounding discipline
# at all. The SQL skips the word packing and counts differing sign
# bits directly — provably the same number popcount(xor(packed))
# computes, with no 64-bit representation concerns in the replay.
# =====================================================================

_KNN_BINARY_ORACLE = """
WITH b AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS bits
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, bits AS qb FROM b WHERE vec_id < 10
), p AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         CAST(len(list_filter(range(1, 65), i -> q.qb[i] <> b.bits[i]))
              AS BIGINT) AS hamming
  FROM q JOIN b ON b.vec_id <> q.query_id
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY hamming ASC, neighbor_id ASC) AS rank
  FROM p
)
SELECT query_id, neighbor_id, hamming, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5
"""


@_q("knn_binary", _KNN_BINARY_ORACLE)
def knn_binary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit Hamming ANN — the 1-bit-per-dimension memory floor of
    the quantized family (32x under float32, 4x under PQ-8, zero
    trained state). Scoring is XOR+popcount whole-stage codegen; the
    oracle counts differing sign bits pairwise, which is the same
    integer by construction."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return simi.knn_binary(e, queries, dim=64, k=5)


_KNN_BINARY_RERANK_ORACLE = """
WITH b AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS bits
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, bits AS qb FROM b WHERE vec_id < 10
), p AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         len(list_filter(range(1, 65), i -> q.qb[i] <> b.bits[i])) AS hamming
  FROM q JOIN b ON b.vec_id <> q.query_id
), sl AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY hamming ASC, neighbor_id ASC) AS hrank
    FROM p
  ) WHERE hrank <= 50
), qv AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT sl.query_id, sl.neighbor_id,
         ROUND(list_cosine_similarity(qv.qe, CAST(e.embedding AS DOUBLE[])), 4)
           AS cosine
  FROM sl
  JOIN embeddings e ON e.vec_id = sl.neighbor_id
  JOIN qv ON qv.query_id = sl.query_id
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM c
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5
"""


@_q("knn_binary_rerank", _KNN_BINARY_RERANK_ORACLE)
def knn_binary_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary shortlist + exact cosine re-rank: Hamming top-50 selects
    candidates from the bit signatures (the full-precision corpus is
    never scanned), one equi-join pulls true vectors for queries x 50
    rows, exact rounded cosine ranks the final top-5. The
    ``knn_bruteforce`` output contract — drop-in interchangeable."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return simi.knn_binary_rerank(e, queries, dim=64, k=5, rerank=50)


_KNN_BINARY_IVF_ORACLE = """
WITH b AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS bits
  FROM embeddings
), cent AS MATERIALIZED (
  SELECT vec_id AS centroid_id, bits AS cb
  FROM b ORDER BY vec_id LIMIT 16
), asg AS MATERIALIZED (
  SELECT vec_id, bits, centroid_id AS cluster FROM (
    SELECT b.vec_id, b.bits, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
             ORDER BY len(list_filter(range(1, 65),
                          i -> b.bits[i] <> c.cb[i])) ASC,
                      c.centroid_id ASC) AS rn
    FROM b CROSS JOIN cent c
  ) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, bits AS qb, centroid_id AS cluster FROM (
    SELECT b.vec_id, b.bits, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
             ORDER BY len(list_filter(range(1, 65),
                          i -> b.bits[i] <> c.cb[i])) ASC,
                      c.centroid_id ASC) AS rn
    FROM b CROSS JOIN cent c WHERE b.vec_id < 10
  ) WHERE rn <= 4
), p AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         CAST(len(list_filter(range(1, 65), i -> p.qb[i] <> a.bits[i]))
              AS BIGINT) AS hamming
  FROM probes p JOIN asg a ON a.cluster = p.cluster
  WHERE a.vec_id <> p.query_id
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY hamming ASC, neighbor_id ASC) AS rank
  FROM p
)
SELECT query_id, neighbor_id, hamming, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5
"""


@_q("knn_binary_ivf", _KNN_BINARY_IVF_ORACLE)
def knn_binary_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary IVF: Hamming-space coarse pruning over the sign-bit
    signatures (FAISS's billion-scale binary recipe) — completes the
    quantized-ANN matrix (float:IVF :: PQ:IVF-PQ :: 1-bit:this).
    All-integer end to end, so the replay is exact by construction —
    the only ANN index here with literally zero rounding sites."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return simi.knn_binary_ivf(
        e, queries, dim=64, k=5, num_centroids=16, nprobe=4
    )


_ANN_RECALL_BINARY_ORACLE = f"""
WITH bf AS MATERIALIZED (SELECT * FROM ({_KNN_ORACLE})),
ap AS MATERIALIZED (SELECT * FROM ({_KNN_BINARY_RERANK_ORACLE}))
SELECT bf.query_id,
       CAST(COUNT(ap.neighbor_id) AS BIGINT) AS n_hits,
       ROUND(COUNT(ap.neighbor_id) / 5.0, 4) AS recall
FROM bf LEFT JOIN ap
  ON ap.query_id = bf.query_id AND ap.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
"""


@_q("ann_recall_binary", _ANN_RECALL_BINARY_ORACLE)
def ann_recall_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the binary-rerank path against the exact scan —
    the gauge that prices the 32x storage cut (the rerank stage means
    losses come only from true neighbors missing the Hamming top-50
    shortlist)."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    exact = simi.knn_bruteforce(e, queries, k=5)
    approx = simi.knn_binary_rerank(e, queries, dim=64, k=5, rerank=50)
    return simi.ann_recall(exact, approx, k=5)


# =====================================================================
# MMR re-ranking (operators/retrieval.py:mmr_rerank)
# =====================================================================


def _mmr_oracle(kc: int = 20, k: int = 5, lam: float = 0.7) -> str:
    """Unrolled greedy MMR: candidate fetch (the shared kNN shape),
    4dp pairwise candidate similarities, then k selection steps as
    chained CTEs — step t scores every unselected candidate as
    lam*rel - (1-lam)*max(psim to selected) and picks the window-rank-1
    row (score DESC, neighbor_id ASC). The lam literals are repr()'d
    Python doubles so both engines multiply by bit-identical
    constants."""
    l_ = repr(float(lam))
    om = repr(1.0 - float(lam))
    parts = [
        f"""WITH q AS MATERIALIZED (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < 10
), allp AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])), 4)
           AS rel
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
), cand AS MATERIALIZED (
  SELECT query_id, neighbor_id, rel FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY rel DESC, neighbor_id ASC) AS rnk
    FROM allp
  ) WHERE rnk <= {kc}
), cv AS MATERIALIZED (
  SELECT c.query_id, c.neighbor_id, c.rel,
         CAST(e.embedding AS DOUBLE[]) AS v
  FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id
), pair AS MATERIALIZED (
  SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
         ROUND(list_cosine_similarity(a.v, b.v), 4) AS psim
  FROM cv a JOIN cv b
    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
), s1 AS MATERIALIZED (
  SELECT query_id, neighbor_id, ROUND({l_} * rel, 4) AS mmr_score,
         CAST(1 AS BIGINT) AS mmr_rank
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY {l_} * rel DESC, neighbor_id ASC) AS rn
    FROM cand
  ) WHERE rn = 1
), sel1 AS MATERIALIZED (SELECT query_id, neighbor_id FROM s1)"""
    ]
    for t in range(2, k + 1):
        parts.append(
            f""", s{t} AS MATERIALIZED (
  SELECT query_id, neighbor_id, ROUND(score, 4) AS mmr_score,
         CAST({t} AS BIGINT) AS mmr_rank
  FROM (
    SELECT g.query_id, g.neighbor_id, g.score,
           ROW_NUMBER() OVER (PARTITION BY g.query_id
             ORDER BY g.score DESC, g.neighbor_id ASC) AS rn
    FROM (
      SELECT c.query_id, c.neighbor_id,
             {l_} * c.rel - {om} * MAX(p.psim) AS score
      FROM cand c
      JOIN pair p ON p.query_id = c.query_id AND p.a_id = c.neighbor_id
      JOIN sel{t - 1} s ON s.query_id = p.query_id
                       AND s.neighbor_id = p.b_id
      WHERE NOT EXISTS (
        SELECT 1 FROM sel{t - 1} x
        WHERE x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id)
      GROUP BY c.query_id, c.neighbor_id, c.rel
    ) g
  ) WHERE rn = 1
), sel{t} AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM sel{t - 1}
  UNION ALL SELECT query_id, neighbor_id FROM s{t}
)"""
        )
    final = "\nUNION ALL ".join(
        f"SELECT query_id, neighbor_id, mmr_score, mmr_rank FROM s{t}"
        for t in range(1, k + 1)
    )
    parts.append("\n" + final)
    return "".join(parts)


_MMR_ORACLE = _mmr_oracle(kc=20, k=5, lam=0.7)


@_q("mmr_rerank", _MMR_ORACLE)
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval re-ranking: 20 exact-cosine
    candidates per query, greedy MMR selection of 5 at lambda=0.7.
    The oracle unrolls all five greedy steps."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    from lakehouse_to_rag_spark.operators.retrieval import mmr_rerank as op

    return op(e, queries, k_candidates=20, k=5, lam=0.7)


# =====================================================================
# RAG read-path capstone (operators/retrieval.py:rag_read_path):
# embedded store -> BM25 + kNN -> RRF -> min-max rel -> MMR -> serve
# =====================================================================


def _rag_read_oracle(candidates: int = 10, kc: int = 8, k: int = 4,
                     lam: float = 0.7, c: int = 60) -> str:
    """The full serving chain replayed in SQL by composing the three
    PROVEN oracle fragments: the BM25 tokenize->tf/df/dl->score->rank
    chain and the RRF full-outer fusion from _HYBRID_RRF_ORACLE, the
    unrolled greedy-step CTEs from _mmr_oracle — over the EMBEDDED
    store (documents with non-null text and a vector; at sf0.1 only
    2000 of 5000 docs are embedded, so restricting both rankers to
    the store is what keeps every candidate vector-resolvable in both
    engines). New vs the fragments: the per-query min-max rel
    normalization (FLOOR(x*1e4+.5)/1e4 on bit-identical 6dp RRF
    doubles — FLOOR is exact where a second ROUND could straddle a
    .00005 boundary) and the final metadata join. Every CTE referenced
    more than once is MATERIALIZED (DuckDB otherwise inlines the
    producing chain per reference — exponential plans on the unrolled
    greedy steps)."""
    l_ = repr(float(lam))
    om = repr(1.0 - float(lam))
    parts = [
        f"""WITH store AS MATERIALIZED (
  SELECT d.doc_id, d.text, d.source, CAST(e.embedding AS DOUBLE[]) AS v
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
  WHERE d.text IS NOT NULL
), toks AS (
  SELECT doc_id AS id, string_split(LOWER(text), ' ') AS t FROM store
), dl AS MATERIALIZED (
  SELECT id, len(t) AS dl FROM toks
), tf AS MATERIALIZED (
  SELECT id, word, COUNT(*) AS tf
  FROM (SELECT id, unnest(t) AS word FROM toks) GROUP BY id, word
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) / COUNT(*) AS avgdl FROM dl
), dfx AS (
  SELECT word, COUNT(*) AS df FROM tf GROUP BY word
), qt AS (
  SELECT DISTINCT doc_id AS query_id, unnest(string_split(LOWER(text), ' ')) AS word
  FROM store WHERE doc_id IN (0, 1, 2)
), hits AS (
  SELECT qt.query_id, tf.id,
         CAST(FLOOR(
           ROUND(LN(1 + (stats.n_docs - dfx.df + 0.5) / (dfx.df + 0.5)), 6)
           * tf.tf * (1.2 + 1.0)
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
           * 1000000.0 + 0.5) AS BIGINT) AS c
  FROM tf
  JOIN qt USING (word)
  JOIN dl USING (id)
  JOIN dfx USING (word)
  CROSS JOIN stats
), lex_scored AS (
  SELECT query_id, id, FLOOR(SUM(c) / 100.0 + 0.5) / 10000.0 AS score
  FROM hits GROUP BY query_id, id
), lex AS (
  SELECT query_id, id AS doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rn ASC) AS rank_a
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, id ASC) AS rn
    FROM lex_scored
  ) WHERE rn <= {candidates + 1} AND id <> query_id
  QUALIFY rank_a <= {candidates}
), qv AS (
  SELECT doc_id AS query_id, v AS qe FROM store WHERE doc_id IN (0, 1, 2)
), vp AS (
  SELECT qv.query_id, s.doc_id,
         ROUND(list_cosine_similarity(qv.qe, s.v), 4) AS cosine
  FROM qv JOIN store s ON s.doc_id <> qv.query_id
), vec AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, doc_id ASC) AS rank_b
  FROM vp
  QUALIFY rank_b <= {candidates}
), fused AS (
  SELECT COALESCE(lex.query_id, vec.query_id) AS query_id,
         COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
         ROUND(COALESCE(1.0 / ({c} + rank_a), 0)
               + COALESCE(1.0 / ({c} + rank_b), 0), 6) AS rrf_score
  FROM lex FULL OUTER JOIN vec
    ON lex.query_id = vec.query_id AND lex.doc_id = vec.doc_id
), cand AS MATERIALIZED (
  SELECT query_id, doc_id AS neighbor_id, rrf_score
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY rrf_score DESC, doc_id ASC) AS rn
    FROM fused
  ) WHERE rn <= {kc}
), norm AS MATERIALIZED (
  SELECT query_id, neighbor_id, rrf_score,
         CASE WHEN mx = mn THEN 1.0
              ELSE FLOOR((rrf_score - mn) / (mx - mn) * 10000.0 + 0.5)
                   / 10000.0
         END AS rel
  FROM (
    SELECT *, MIN(rrf_score) OVER (PARTITION BY query_id) AS mn,
              MAX(rrf_score) OVER (PARTITION BY query_id) AS mx
    FROM cand
  )
), cv AS MATERIALIZED (
  SELECT n.query_id, n.neighbor_id, n.rel, s.v
  FROM norm n JOIN store s ON s.doc_id = n.neighbor_id
), pair AS MATERIALIZED (
  SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
         ROUND(list_cosine_similarity(a.v, b.v), 4) AS psim
  FROM cv a JOIN cv b
    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
), s1 AS MATERIALIZED (
  SELECT query_id, neighbor_id, ROUND({l_} * rel, 4) AS mmr_score,
         CAST(1 AS BIGINT) AS mmr_rank
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY {l_} * rel DESC, neighbor_id ASC) AS rn
    FROM norm
  ) WHERE rn = 1
), sel1 AS MATERIALIZED (SELECT query_id, neighbor_id FROM s1)"""
    ]
    for t in range(2, k + 1):
        parts.append(
            f""", s{t} AS MATERIALIZED (
  SELECT query_id, neighbor_id, ROUND(score, 4) AS mmr_score,
         CAST({t} AS BIGINT) AS mmr_rank
  FROM (
    SELECT g.query_id, g.neighbor_id, g.score,
           ROW_NUMBER() OVER (PARTITION BY g.query_id
             ORDER BY g.score DESC, g.neighbor_id ASC) AS rn
    FROM (
      SELECT n.query_id, n.neighbor_id,
             {l_} * n.rel - {om} * MAX(p.psim) AS score
      FROM norm n
      JOIN pair p ON p.query_id = n.query_id AND p.a_id = n.neighbor_id
      JOIN sel{t - 1} s ON s.query_id = p.query_id
                       AND s.neighbor_id = p.b_id
      WHERE NOT EXISTS (
        SELECT 1 FROM sel{t - 1} x
        WHERE x.query_id = n.query_id AND x.neighbor_id = n.neighbor_id)
      GROUP BY n.query_id, n.neighbor_id, n.rel
    ) g
  ) WHERE rn = 1
), sel{t} AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM sel{t - 1}
  UNION ALL SELECT query_id, neighbor_id FROM s{t}
)"""
        )
    steps = "\nUNION ALL ".join(
        f"SELECT query_id, neighbor_id, mmr_score, mmr_rank FROM s{t}"
        for t in range(1, k + 1)
    )
    parts.append(
        f""", picked AS (
{steps}
)
SELECT p.query_id, p.mmr_rank, p.neighbor_id AS doc_id,
       n.rrf_score, n.rel, p.mmr_score, s.source,
       CAST(LENGTH(s.text) AS BIGINT) AS content_length
FROM picked p
JOIN norm n ON n.query_id = p.query_id AND n.neighbor_id = p.neighbor_id
JOIN store s ON s.doc_id = p.neighbor_id"""
    )
    return "".join(parts)


_RAG_READ_ORACLE = _rag_read_oracle(candidates=10, kc=8, k=4, lam=0.7, c=60)


@_q("rag_read_path", _RAG_READ_ORACLE)
def rag_read_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving-side capstone: the complete RAG read path — embedded
    store -> BM25 + exact-cosine kNN -> reciprocal-rank fusion ->
    min-max relevance normalization -> greedy MMR diversity selection
    -> document-metadata join — as ONE composed DataFrame plan under
    ONE fused oracle (the write-side counterpart is
    ``pretrain_corpus_full``). Composition is where per-stage
    conventions clash (rank contiguity after self-hit drops, RRF
    score scale vs cosine scale, vector resolvability of fused
    candidates) — this entry pins them end-to-end."""
    from lakehouse_to_rag_spark.operators.retrieval import (
        rag_read_path as op,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return op(d, e, query_ids=[0, 1, 2], candidates=10, kc=8, k=4,
              lam=0.7, c=60)


@_q("rag_read_path_served", _RAG_READ_ORACLE)  # same oracle: full-probe
def rag_read_path_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The read path served FROM THE PERSISTED INDEXES — the actual
    production deployment: BM25 from the bucket-partitioned posting
    layout (shared scoring tail — byte-identical to in-memory) and
    kNN from the cluster-partitioned IVF layout at FULL nprobe (the
    probe degenerates to the exact scan, so quantization changes
    nothing), both plugged into rag_read_path's backend slots. The
    oracle is rag_read_path's VERBATIM: the served stack must
    reproduce the composed in-memory plan bit-for-bit. Indexes build
    into uuid staging; the bounded result (queries x k rows) comes
    back as a driver-local frame, so staging is reclaimed before
    returning."""
    import shutil
    import uuid

    from lakehouse_to_rag_spark.operators.retrieval import (
        bm25_topk_from_index,
        rag_read_path,
        rag_store,
        write_bm25_index,
    )
    from lakehouse_to_rag_spark.operators.similarity import (
        ivf_topk_from_index,
        write_ivf_index,
    )
    from lakehouse_to_rag_spark.session import concurrently

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    # the SAME store derivation the in-memory path uses (shared
    # helper), materialized ONCE (r14, guide §1.2/§5 — VERDICT r13
    # task 7): the write side evaluates the store per index build and
    # the serve side re-derived it per consumer (query-text filter,
    # metadata join, query vectors) — five evaluations of the same
    # docs⋈embeddings semi-joins. The lazy checkpoints make each side
    # of the store ONE job; rag_read_path below re-applies rag_store
    # to the materialized frames, which is a no-op on rows (already
    # text-non-null and vector-resolvable — oracle re-proven) and
    # collapses every downstream derivation onto the checkpoint.
    store, emb_store = rag_store(d, e)
    store = store.localCheckpoint(eager=False)
    emb_store = emb_store.localCheckpoint(eager=False)
    staging = f"/tmp/rag_serve_staging/{uuid.uuid4().hex}"
    try:
        # independent layouts into disjoint subtrees: overlap the two
        # builds (guide §2.6 — the build_rag_indexes discipline)
        concurrently(
            spark,
            lambda: write_bm25_index(store, f"{staging}/bm25"),
            lambda: write_ivf_index(
                emb_store, f"{staging}/ivf", num_centroids=16
            ),
        )
        return rag_read_path(
            store, emb_store, query_ids=[0, 1, 2], candidates=10, kc=8,
            k=4, lam=0.7, c=60,
            lexical_topk=lambda docs, q, k, id_col, text_col:
                bm25_topk_from_index(spark, f"{staging}/bm25", q, k=k),
            vector_topk=lambda emb, q, k:
                ivf_topk_from_index(spark, f"{staging}/ivf", q, k=k,
                                    nprobe=16),
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)


# =====================================================================
# r9 family additions: dimensional modeling (SCD2), content-defined
# chunking, hard-negative mining, cross-source quality calibration
# =====================================================================

_SCD2_ORACLE = """
WITH chg AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
), keep AS (
  SELECT user_id, event_type, ts, event_id FROM chg
  WHERE prev IS NULL OR event_type <> prev
)
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(LEAD(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
       (LEAD(ts) OVER w IS NULL) AS is_current,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version
FROM keep
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@_q("scd2_user_type", _SCD2_ORACLE)
def scd2_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from the event stream (r9 — the
    dimensional-modeling family): each user's event_type history
    collapsed to change points with [valid_from, valid_to) validity,
    NULL-open current version, is_current flag and version ordinal.
    One hash exchange on user_id, both window passes inside it."""
    e = load_table(spark, sf_dir, "events")
    return ev.scd2_dimension(e)


_CDC_ORACLE = """
WITH base AS (
  SELECT doc_id, text,
    (list_value(1) || list_filter(
       CASE WHEN LENGTH(text) >= 16 THEN
         list_filter(list_transform(range(1, LENGTH(text) - 14),
           i -> CASE WHEN (('0x' || substr(md5(substring(text,
                  CAST(i AS INTEGER), 16)), 1, 15))::BIGINT % 64) = 0
                THEN CAST(i + 16 AS INTEGER) END),
           x -> x IS NOT NULL)
       ELSE [] END,
       b -> b <= LENGTH(text))
     || list_value(LENGTH(text) + 1)) AS bounds
  FROM documents WHERE text IS NOT NULL AND LENGTH(text) > 0
), ex AS (
  SELECT doc_id, text, bounds,
         CAST(unnest(range(1, len(bounds))) AS INTEGER) AS j
  FROM base
), ch AS (
  SELECT doc_id, CAST(j - 1 AS BIGINT) AS chunk_index,
         substring(text, CAST(bounds[j] AS INTEGER),
                   CAST(bounds[j + 1] - bounds[j] AS INTEGER)) AS chunk
  FROM ex
)
SELECT doc_id, chunk_index, chunk, md5(chunk) AS chunk_hash FROM ch
"""


@_q("cdc_chunks", _CDC_ORACLE)
def cdc_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (r9): rolling-gram-hash cutpoints
    (k=16, divisor 64 — the rsync/LBFS boundary discipline), so chunk
    hashes REALIGN after an edit instead of shifting the whole tail
    like fixed-stride chunking — the property that makes chunk-level
    dedup and incremental re-embedding cheap. Pure JVM array lambdas
    over the portable 60-bit md5 gram hash; the whole chunking
    replays in SQL."""
    from lakehouse_to_rag_spark.operators.gold import cdc_chunks

    d = load_table(spark, sf_dir, "documents")
    return cdc_chunks(d, k=16, divisor=64)


_CHUNK_REFRESH_ORACLE = """
WITH oldd AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND LENGTH(text) > 0
), newd AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN substring(text, 1, 40) || ' EDITED SPAN INSERTED '
                   || substring(text, 41)
              ELSE text END AS text
  FROM documents WHERE text IS NOT NULL AND LENGTH(text) > 0
), ob AS (
  SELECT doc_id, text,
    (list_value(1) || list_filter(
       CASE WHEN LENGTH(text) >= 16 THEN
         list_filter(list_transform(range(1, LENGTH(text) - 14),
           i -> CASE WHEN (('0x' || substr(md5(substring(text,
                  CAST(i AS INTEGER), 16)), 1, 15))::BIGINT % 64) = 0
                THEN CAST(i + 16 AS INTEGER) END),
           x -> x IS NOT NULL)
       ELSE [] END,
       b -> b <= LENGTH(text))
     || list_value(LENGTH(text) + 1)) AS bounds
  FROM oldd
), nb AS (
  SELECT doc_id, text,
    (list_value(1) || list_filter(
       CASE WHEN LENGTH(text) >= 16 THEN
         list_filter(list_transform(range(1, LENGTH(text) - 14),
           i -> CASE WHEN (('0x' || substr(md5(substring(text,
                  CAST(i AS INTEGER), 16)), 1, 15))::BIGINT % 64) = 0
                THEN CAST(i + 16 AS INTEGER) END),
           x -> x IS NOT NULL)
       ELSE [] END,
       b -> b <= LENGTH(text))
     || list_value(LENGTH(text) + 1)) AS bounds
  FROM newd
), oc AS (
  SELECT doc_id, CAST(j - 1 AS BIGINT) AS chunk_index,
         md5(substring(text, CAST(bounds[j] AS INTEGER),
             CAST(bounds[j + 1] - bounds[j] AS INTEGER))) AS chunk_hash
  FROM (SELECT doc_id, text, bounds,
               CAST(unnest(range(1, len(bounds))) AS INTEGER) AS j
        FROM ob) t
), nc AS (
  SELECT doc_id, CAST(j - 1 AS BIGINT) AS chunk_index,
         md5(substring(text, CAST(bounds[j] AS INTEGER),
             CAST(bounds[j + 1] - bounds[j] AS INTEGER))) AS chunk_hash
  FROM (SELECT doc_id, text, bounds,
               CAST(unnest(range(1, len(bounds))) AS INTEGER) AS j
        FROM nb) t
)
SELECT n.doc_id, n.chunk_index, n.chunk_hash, 'embed' AS action
FROM nc n ANTI JOIN oc o
  ON n.doc_id = o.doc_id AND n.chunk_hash = o.chunk_hash
UNION ALL
SELECT o.doc_id, o.chunk_index, o.chunk_hash, 'delete' AS action
FROM oc o ANTI JOIN nc n
  ON o.doc_id = n.doc_id AND o.chunk_hash = n.chunk_hash
"""


@_q("chunk_refresh_plan", _CHUNK_REFRESH_ORACLE)
def chunk_refresh_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental re-embedding plan (r9): old corpus vs an edited
    version (every 10th doc gets a span inserted at char 40), CDC
    chunk hashes anti-joined both ways — emitted work is ONLY the
    edited chunks (+ their superseded index entries), which is the
    whole point of content-defined boundaries: the 100 TB refresh
    scales with the edit mass, not the corpus."""
    from lakehouse_to_rag_spark.operators.gold import chunk_refresh_plan

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    edited = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.substring("text", 1, 40),
                F.lit(" EDITED SPAN INSERTED "),
                F.expr("substring(text, 41)"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    # divisor pinned to the oracle's parameterization — the library
    # default moved to the RAG production value 256 in r10 (probe in
    # SCALE.md); the gate must not drift with it
    return chunk_refresh_plan(
        d.select("doc_id", "text"), edited, k=16, divisor=64
    )


_HARD_NEG_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, label AS qlab,
         CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < 10
), p AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(q.qe,
               CAST(e.embedding AS DOUBLE[])), 4) AS cosine
  FROM q JOIN embeddings e ON e.label <> q.qlab
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM p
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5
"""


@_q("knn_hard_negatives", _HARD_NEG_ORACLE)
def knn_hard_negatives_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retriever training (r9): per query
    the top-5 most-similar vectors with a DIFFERENT label — the mask
    is applied BEFORE the top-k so every slot is a true negative.
    knn_bruteforce_numpy's GEMM shape with the label mask riding the
    broadcast; same 4dp/tie-break discipline, so the SQL replay is
    the knn oracle with one extra join predicate."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return simi.knn_hard_negatives(e, queries, k=5)


_QSEL = """
  SELECT doc_id, source,
       FLOOR((LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0) * 0.5
             + (CAST(len(list_intersect(string_split(text, ' '), {sw})) AS DOUBLE)
                / len(string_split(text, ' '))) * 0.4
             + (1.0 - LEAST((CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                             / LENGTH(text)) * 10.0, 1.0)) * 0.1) * 10000.0 + 0.5) / 10000.0 AS quality_score
  FROM documents
"""

_QCAL_ORACLE = f"""
WITH s AS (
{_QSEL.format(sw=_SW)}
), r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY quality_score DESC, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM s
)
SELECT doc_id, source, quality_score, CAST(rk AS BIGINT) AS source_rank
FROM r WHERE rk <= CEIL(0.2 * n)
"""


@_q("quality_calibrated_select", _QCAL_ORACLE)
def quality_calibrated_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quality calibration (r9): keep the top 20% of
    each SOURCE by composite quality score — per-source ranking, not
    a pooled threshold, so no source's score distribution can eat the
    whole selection budget. Gated form = exact per-group window rank
    (SQL-replayable); the scale form (exact=False — per-group
    approx-quantile threshold + map-only filter, no per-source row
    funnel) is property-tested against it."""
    d = load_table(spark, sf_dir, "documents")
    scored = ta.quality_scores(d, carry_cols=["source"]).select(
        "doc_id", "source", "quality_score"
    )
    return cu.quality_calibrated_select(
        scored, frac=0.2, score_col="quality_score",
        group_col="source", id_col="doc_id",
    )


_ASOF_NEAREST_ORACLE = """
WITH u AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS tag
  FROM events WHERE event_type IN ('click', 'purchase')
), carried AS (
  SELECT *,
    last_value(CASE WHEN tag = 0 THEN {'ts': ts, 'rid': event_id} END
               IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, tag, event_id
            ROWS UNBOUNDED PRECEDING) AS prior,
    last_value(CASE WHEN tag = 0 THEN {'ts': ts, 'rid': event_id} END
               IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts DESC, tag ASC, event_id DESC
            ROWS UNBOUNDED PRECEDING) AS nxt
  FROM u
), lefts AS (
  SELECT event_id, user_id,
         epoch_us(prior.ts) - epoch_us(ts) AS gap_b, prior.rid AS rid_b,
         epoch_us(nxt.ts) - epoch_us(ts) AS gap_f, nxt.rid AS rid_f
  FROM carried WHERE tag = 1
), picked AS (
  SELECT event_id, user_id,
         CASE WHEN rid_b IS NOT NULL AND (rid_f IS NULL OR -gap_b <= gap_f)
              THEN rid_b ELSE rid_f END AS rid,
         CASE WHEN rid_b IS NOT NULL AND (rid_f IS NULL OR -gap_b <= gap_f)
              THEN gap_b ELSE gap_f END AS gap
  FROM lefts
)
SELECT event_id, user_id,
       CASE WHEN ABS(gap) <= 3600000000 THEN rid END AS right_id,
       CASE WHEN ABS(gap) <= 3600000000 THEN gap END AS gap_us
FROM picked
"""


@_q("events_asof_nearest", _ASOF_NEAREST_ORACLE)
def events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direction+tolerance as-of join (r9) — the full pandas
    merge_asof surface: for each purchase the NEAREST click of the
    same user (backward wins exact-distance ties), NULLed beyond a
    1-hour tolerance but never dropped. Union-and-carry over ONE
    user_id exchange, two window passes; the oracle replays the
    carries with explicit windows (deterministic tie-breaks) rather
    than DuckDB ASOF, whose equal-ts tie choice is unspecified —
    scale-independent parity by construction."""
    e = load_table(spark, sf_dir, "events")
    return ev.asof_nearest(
        e, direction="nearest", tolerance_seconds=3600
    )


_CONTAINMENT_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), sh AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, GREATEST(len(words) - 1, 1)),
                               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
  FROM w
), sizes AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(c AS DOUBLE) / sa.n, 4) AS containment_a_in_b,
       ROUND(CAST(c AS DOUBLE) / sb.n, 4) AS containment_b_in_a
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(c AS DOUBLE) / sa.n >= 0.8
   OR CAST(c AS DOUBLE) / sb.n >= 0.8
"""


@_q("dedup_ngram_containment", _CONTAINMENT_ORACLE)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (r9): |A∩B|/|A| — the
    quote/excerpt/subset-duplicate detector Jaccard structurally
    misses (a short doc quoted inside a long one has containment 1.0
    and arbitrarily small Jaccard — Broder's resemblance-vs-
    containment distinction). Same one-exchange shingle self-join
    shape as dedup_ngram_jaccard; uncapped at the gate (explicit
    max_shingle_df=None since the r10 "auto" default flip) for the
    same scale-independence reason."""
    d = load_table(spark, sf_dir, "documents")
    return dd.ngram_containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=None
    )


# The containment operator's r10 "auto" DEFAULT, gated like
# dedup_ngram_jaccard_auto: filtered-universe containment with the
# fraction-of-corpus cap derived in the oracle SQL. Containment is the
# operator MOST exposed to unbounded stop-shingles (a boilerplate
# wrapper makes every wrapped doc "contain" every other), so the
# default form is the one that matters at crawl scale.
_CONTAINMENT_AUTO_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), sh0 AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, GREATEST(len(words) - 1, 1)),
                               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
  FROM w
), cap AS MATERIALIZED (
  SELECT CAST(LEAST(1000, GREATEST(16, CEIL(COUNT(*) / 100.0))) AS BIGINT)
         AS cap
  FROM documents WHERE text IS NOT NULL
), sh AS MATERIALIZED (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS dfc
    FROM sh0
  ) WHERE dfc <= (SELECT cap FROM cap)
), sizes AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(c AS DOUBLE) / sa.n, 4) AS containment_a_in_b,
       ROUND(CAST(c AS DOUBLE) / sb.n, 4) AS containment_b_in_a
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(c AS DOUBLE) / sa.n >= 0.8
   OR CAST(c AS DOUBLE) / sb.n >= 0.8
"""


@_q("dedup_ngram_containment_auto", _CONTAINMENT_AUTO_ORACLE)
def dedup_ngram_containment_auto(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The library DEFAULT form of ngram_containment_pairs since r10
    (max_shingle_df="auto"): containment over the stop-shingle-
    filtered universe with the cap derived in the oracle SQL — the
    parameterization a crawl corpus runs, where unbounded boilerplate
    shingles would make every wrapped doc 'contain' every other (the
    quadratic-by-default path VERDICT r9 flagged)."""
    d = load_table(spark, sf_dir, "documents")
    return dd.ngram_containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.8
    )


_SCD2_ENRICH_ORACLE = """
WITH chg AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
), keep AS (
  SELECT user_id, event_type, ts, event_id FROM chg
  WHERE prev IS NULL OR event_type <> prev
), dim AS (
  SELECT user_id, event_type AS active_type,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
         strftime(LEAD(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS version
  FROM keep
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), f AS (
  SELECT event_id, user_id,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS fts
  FROM events
)
SELECT f.event_id, f.user_id, f.fts AS ts, d.active_type, d.version
FROM f JOIN dim d
  ON f.user_id = d.user_id
 AND f.fts >= d.valid_from
 AND (d.valid_to IS NULL OR f.fts < d.valid_to)
"""


@_q("scd2_enrich_events", _SCD2_ENRICH_ORACLE)
def scd2_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-SCD2 interval enrichment (r9) — the join a Type-2
    dimension exists to serve: every event picks the version active
    at its timestamp (half-open intervals, so each fact matches
    EXACTLY one version; row count == fact count, checked by the
    oracle). One equi-join on the key with the interval predicate as
    a residual filter — per-key version counts are change points, so
    fan-out is bounded."""
    from lakehouse_to_rag_spark.operators.events import scd2_enrich

    e = load_table(spark, sf_dir, "events")
    return scd2_enrich(e, ev.scd2_dimension(e))


# The left-join unmatched-fact policy, gated with PLANTED late-arriving
# keys: the dimension is built from events excluding user_id % 10 == 0,
# so ~10% of facts have no covering version and must SURVIVE with NULL
# attribute/version (the inner form would silently drop them — the r9
# ADVICE scenario, now externally hashed).
_SCD2_ENRICH_LEFT_ORACLE = """
WITH src AS MATERIALIZED (
  SELECT * FROM events WHERE user_id % 10 <> 0
), chg AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM src
), keep AS (
  SELECT user_id, event_type, ts, event_id FROM chg
  WHERE prev IS NULL OR event_type <> prev
), dim AS (
  SELECT user_id, event_type AS active_type,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
         strftime(LEAD(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS version
  FROM keep
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), f AS (
  SELECT event_id, user_id,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS fts
  FROM events
)
SELECT f.event_id, f.user_id, f.fts AS ts, d.active_type, d.version
FROM f LEFT JOIN dim d
  ON f.user_id = d.user_id
 AND f.fts >= d.valid_from
 AND (d.valid_to IS NULL OR f.fts < d.valid_to)
"""


@_q("scd2_enrich_left", _SCD2_ENRICH_LEFT_ORACLE)
def scd2_enrich_left_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scd2_enrich how="left" (r10): the unmatched-fact policy for
    late-arriving dimension keys, gated with a dimension deliberately
    built WITHOUT user_id % 10 == 0 — those facts must survive as
    NULL-version rows (row count == fact count even though ~10% of
    keys have no dimension), where the inner default would silently
    drop them. The interval predicate lives in the join condition."""
    from lakehouse_to_rag_spark.operators.events import scd2_enrich

    e = load_table(spark, sf_dir, "events")
    dim = ev.scd2_dimension(e.filter(F.col("user_id") % 10 != 0))
    return scd2_enrich(e, dim, how="left")


_SNAPSHOT_DIFF_ORACLE = """
WITH o AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_micros
  FROM events WHERE ts < TIMESTAMP '2024-01-04' GROUP BY user_id
), n AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_micros
  FROM events WHERE ts >= TIMESTAMP '2024-01-04' GROUP BY user_id
)
SELECT COALESCE(o.user_id, n.user_id) AS user_id,
       CASE WHEN o.user_id IS NULL THEN 'insert'
            WHEN n.user_id IS NULL THEN 'delete'
            WHEN o.n_events IS DISTINCT FROM n.n_events
              OR o.sum_micros IS DISTINCT FROM n.sum_micros THEN 'update'
            ELSE 'unchanged' END AS change_type,
       o.n_events AS old_n_events, o.sum_micros AS old_sum_micros,
       n.n_events AS new_n_events, n.sum_micros AS new_sum_micros
FROM o FULL OUTER JOIN n ON o.user_id = n.user_id
"""


@_q("events_snapshot_diff", _SNAPSHOT_DIFF_ORACLE)
def events_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed emission between two snapshots (r9): per-user
    aggregates before vs after a cutoff, classified
    insert/delete/update/unchanged by a NULL-safe full outer join —
    the generic incremental-refresh building block when MERGE/CDF
    isn't available. Values compare in exact integer micros (the
    repo-wide discipline), so classification can't flip on a
    last-ulp double difference between engines."""
    from lakehouse_to_rag_spark.operators.pipeline import snapshot_diff

    e = load_table(spark, sf_dir, "events")
    micros = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long")

    def snap(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(micros).alias("sum_micros"),
        )

    old = snap(e.filter(F.col("ts") < F.lit("2024-01-04").cast("timestamp")))
    new = snap(e.filter(F.col("ts") >= F.lit("2024-01-04").cast("timestamp")))
    return snapshot_diff(
        old, new, key_cols=["user_id"], compare_cols=["n_events", "sum_micros"]
    )


_SCD2_SNAP_ORACLE = """
WITH ranked AS (
  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS snap_day,
         event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), snaps AS (
  SELECT user_id, snap_day, event_type FROM ranked WHERE rn = 1
), chg AS (
  SELECT user_id, event_type, snap_day,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY snap_day) AS prev
  FROM snaps
), keep AS (
  SELECT user_id, event_type, snap_day FROM chg
  WHERE prev IS NULL OR event_type <> prev
)
SELECT user_id, event_type,
       snap_day AS valid_from,
       LEAD(snap_day) OVER w AS valid_to,
       (LEAD(snap_day) OVER w IS NULL) AS is_current,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version
FROM keep
WINDOW w AS (PARTITION BY user_id ORDER BY snap_day)
"""


@_q("scd2_user_type_snapshots", _SCD2_SNAP_ORACLE)
def scd2_user_type_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 from periodic snapshots (r9): daily last-state snapshots
    (per user the latest event_type that day, (ts, event_id)-argmax
    deterministic) collapsed to validity intervals — the
    full-dump-arrival twin of the change-stream ``scd2_user_type``,
    same interval contract, same one-exchange window plan. The
    snapshot materialization itself is one partial-aggregatable
    max_by groupBy."""
    from lakehouse_to_rag_spark.operators.events import scd2_from_snapshots

    e = load_table(spark, sf_dir, "events")
    snaps = e.groupBy(
        "user_id",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
            "snap_day"
        ),
    ).agg(
        F.max_by(
            "event_type", F.struct(F.col("ts"), F.col("event_id"))
        ).alias("event_type")
    )
    return scd2_from_snapshots(snaps)


_SCD2_SNAP_DELETES_ORACLE = """
WITH ranked AS (
  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS snap_day,
         event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), snaps AS MATERIALIZED (
  SELECT user_id, snap_day, event_type FROM ranked WHERE rn = 1
), grid AS MATERIALIZED (
  SELECT snap_day AS g,
         LEAD(snap_day) OVER (ORDER BY snap_day) AS nxt
  FROM (SELECT DISTINCT snap_day FROM snaps)
), rows_ AS (
  SELECT s.user_id, s.event_type, s.snap_day, g.nxt
  FROM snaps s JOIN grid g ON s.snap_day = g.g
), marked AS (
  SELECT *, CASE WHEN LAG(snap_day) OVER w IS NULL
                   OR event_type <> LAG(event_type) OVER w
                   OR LAG(nxt) OVER w <> snap_day
                 THEN 1 ELSE 0 END AS new_v
  FROM rows_
  WINDOW w AS (PARTITION BY user_id ORDER BY snap_day)
), runs AS (
  SELECT *,
         SUM(new_v) OVER (PARTITION BY user_id ORDER BY snap_day
                          ROWS UNBOUNDED PRECEDING) AS version,
         MAX(CASE WHEN new_v = 1 THEN snap_day END)
             OVER (PARTITION BY user_id ORDER BY snap_day
                   ROWS UNBOUNDED PRECEDING) AS valid_from,
         LEAD(new_v) OVER (PARTITION BY user_id
                           ORDER BY snap_day) AS nxt_new
  FROM marked
)
SELECT user_id, event_type, valid_from,
       nxt AS valid_to,
       (nxt IS NULL) AS is_current,
       CAST(version AS BIGINT) AS version
FROM runs
WHERE nxt_new IS NULL OR nxt_new = 1
"""


@_q("scd2_snapshots_deletes", _SCD2_SNAP_DELETES_ORACLE)
def scd2_snapshots_deletes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-closing SCD2 from periodic snapshots (r10, VERDICT r9
    task 8): full-snapshot ABSENCE is a deletion — the open interval
    closes at the first snapshot the key is missing from, and a
    reappearing key opens a new version across an uncovered hole
    (tombstone semantics; the daily per-user last-state snapshots
    derived from events have natural churn, so deletions and
    reappearances are exercised at every scale). One broadcast grid
    array + one hash exchange on the key carrying all three window
    passes; interval tiling under deletes is property-tested."""
    from lakehouse_to_rag_spark.operators.events import (
        scd2_from_snapshots_with_deletes,
    )

    e = load_table(spark, sf_dir, "events")
    snaps = e.groupBy(
        "user_id",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
            "snap_day"
        ),
    ).agg(
        F.max_by(
            "event_type", F.struct(F.col("ts"), F.col("event_id"))
        ).alias("event_type")
    )
    return scd2_from_snapshots_with_deletes(snaps)


_UNIFORM_SAMPLE_ORACLE = """
SELECT doc_id, source,
       md5('s0' || CAST(doc_id AS VARCHAR)) AS sample_key
FROM documents
ORDER BY sample_key
LIMIT 100
"""


@_q("docs_uniform_sample", _UNIFORM_SAMPLE_ORACLE)
def docs_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform sampling (r9): exact-size n-sample by
    ranking on md5(seed || id) — a fixed pseudo-random permutation,
    reproducible across engines/runs/partitionings where
    sample()/rand() are not, seeded for independent redraws. Plan is
    the top-k shape (TakeOrderedAndProject — per-partition partial
    top-n, bounded merge, never a global sort)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return cu.deterministic_sample(d, n=100, id_col="doc_id", seed="s0")


@_q("scd2_incremental", _SCD2_ORACLE)
def scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance (r9) — the dimensional twin of
    the index-append story: the dimension built from history before
    2024-01-04, then ONE ``scd2_apply_changes`` batch folds in the
    rest. The oracle is the FULL-HISTORY SCD2 SQL verbatim
    (``_SCD2_ORACLE``): incremental maintenance must be
    indistinguishable from a rebuild, row for row — runs merging
    across the batch boundary, version ordinals continuing, closed
    history untouched. Affected keys only are touched (semi/anti
    join pair); the batch is bounded; history is never rebuilt."""
    from lakehouse_to_rag_spark.operators.events import scd2_apply_changes

    e = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-04").cast("timestamp")
    dim = ev.scd2_dimension(e.filter(F.col("ts") < cut))
    return scd2_apply_changes(dim, e.filter(F.col("ts") >= cut))


_SESS_CAPPED_ORACLE = """
WITH lagged AS (
  SELECT event_id, user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), s AS (
  SELECT event_id, user_id, ts,
         SUM(CASE WHEN prev IS NULL
                    OR EPOCH(ts) - EPOCH(prev) > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_seq
  FROM lagged
), capped AS (
  SELECT *, MIN(CAST(EPOCH(ts) AS BIGINT))
              OVER (PARTITION BY user_id, session_seq) AS start
  FROM s
)
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       CAST(session_seq AS BIGINT) AS session_seq,
       user_id || '-' || session_seq || '-'
         || ((CAST(EPOCH(ts) AS BIGINT) - start) // 3600) AS session_id
FROM capped
"""


@_q("events_sessionize_capped", _SESS_CAPPED_ORACLE)
def events_sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-duration-capped sessionization (r9): gap sessions (30 min)
    additionally split at fixed 1-hour epochs from the session start
    — the bound plain gap sessions lack when a client never pauses.
    Fixed-epoch (not rolling-restart) split, stated in the operator
    contract; the session-start window rides the same exchange as the
    gap window."""
    e = load_table(spark, sf_dir, "events")
    return ev.sessionize_capped(
        e, gap_seconds=1800, max_duration_seconds=3600
    )


_EMB_DIVERSITY_ORACLE = """
WITH qv AS (
  SELECT label,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)) AS q
  FROM embeddings
), nv AS (
  SELECT label, q, list_dot_product(q, q) AS ss FROM qv
  WHERE list_dot_product(q, q) > 0
), um AS (
  SELECT label,
         list_transform(q, x -> CAST(FLOOR(
           x / sqrt(CAST(ss AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)) AS u
  FROM nv
), ex AS (
  SELECT label, CAST(unnest(range(1, len(u) + 1)) AS INTEGER) AS dim, u
  FROM um
), dims AS (
  SELECT label, dim, SUM(u[dim]) AS s, COUNT(*) AS n
  FROM ex GROUP BY label, dim
), g AS (
  SELECT label, MAX(n) AS n_vectors,
         SUM(CAST(s AS HUGEINT) * s) AS r2i
  FROM dims GROUP BY label
)
SELECT label, CAST(n_vectors AS BIGINT) AS n_vectors,
       CASE WHEN n_vectors >= 2 THEN
         FLOOR(((CAST(r2i AS DOUBLE) / 1e12) - n_vectors)
               / (n_vectors * (n_vectors - 1)) * 10000.0 + 0.5) / 10000.0
       END AS mean_pairwise_cosine
FROM g
"""


@_q("embedding_diversity", _EMB_DIVERSITY_ORACLE)
def embedding_diversity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean pairwise cosine WITHOUT pairs (r9): the
    resultant-vector identity ||Σu||² = n + Σ_{i≠j} u_i·u_j turns the
    O(n²) redundancy statistic into one partial-aggregatable pass —
    the curation-report redundancy signal that stays a groupBy at
    100 TB. Every arithmetic step is exact-integer or
    one-conversion-IEEE (no float summation order anywhere), so the
    SQL replay is bit-stable."""
    e = load_table(spark, sf_dir, "embeddings")
    return simi.embedding_diversity(e, group_col="label")


# =====================================================================
# Driver evidence-window ROTATION
# =====================================================================
# The round driver's correctness gate walks queries() in dict order
# and checks exactly the first 50 entries per round. The registry has
# ~139 entries, so evidence order ROTATES each round. Rounds 1-4 used
# hand-curated windows (history in git); cumulative coverage reached
# every registered entry in round 4, so from round 5 the window's job
# is CONTINUOUS RE-CONFIRMATION and it is computed MECHANICALLY from
# the recorded CORRECTNESS files at import time:
#
#   window = 6 CANARIES (fixed cross-family regression tripwires)
#          + _PINS (this round's oracle upgrades / new entries that
#            must face the gate now)
#          + the STALEST remaining entries, oldest driver evidence
#            first (registration order breaks ties), filling to 50.
#
# "Evidence" for an entry is a hash-green driver row; a real `err`
# row is NOT evidence, so a failing entry rotates back in
# immediately. Since r11 ONLY ORACLE-BACKED entries rotate: the
# structurally no-oracle rows-only class could only ever produce
# `err: no_oracle` rows, so its members are excluded from the window
# (each is covered by a hash-green oracled twin in rotation plus
# local property tests; see _driver_window). Never-checked
# oracle-backed entries have evidence round 0, i.e. they are stalest
# by construction and enter the next window automatically — the
# startup assertion below still verifies that mechanically. The
# staleness bound is ARITHMETIC, not aspirational: with F fixed slots
# (canaries+pins) and N oracle-backed entries, the stalest-first fill
# re-confirms every non-fixed entry within ceil((N - F) / (50 - F))
# rounds — ~4 at N=169, F=8 — and the startup test pins exactly that
# bound (a fixed "3" became impossible the moment the registry
# outgrew 50 * 3 entries).
#
# Entries outside a given round's window remain fully oracle-checked
# by the local suite every session (tests/test_oracle_parity.py runs
# ALL registered oracles, not a sample).
#
# GROWTH POLICY (decided r9 — the registry is near the cycle ceiling
# and this is the rule, not a per-round judgment call): the accepted
# re-confirmation cycle is FIVE rounds (test_pipeline.py pins
# bound <= 5), so with F fixed slots the registry may hold at most
#   N_max = F + 5 * (50 - F)
# ORACLE-BACKED entries (F=9 -> 214, F=6 -> 226, F=4 -> 234; the
# rows-only class sits outside the rotation and doesn't consume
# cycle capacity). Before ANY
# registration that would push N past N_max, apply in order:
#   1. drop pins — a pin is a one-round artifact by definition; a pin
#      carried two rounds is a bug in this file;
#   2. trim canaries 6 -> 4 (keep silver_docs + q1_pricing_summary +
#      one of the dedup/similarity pair + tokenize_to_ids; the demoted
#      families stay covered by rotation + the full local suite);
#   3. consolidate entries — merge variant entries that gate the SAME
#      code path (e.g. a _xx hash twin whose base entry already gates
#      the operator) into one registration;
#   4. only then accept a 6-round cycle: raise the test bound and
#      document the longer cycle in COVERAGE.md in the SAME commit.
# Per-round new-entry budget is therefore N_max - N_current; check it
# BEFORE building a new entry, not after.

# Stay in EVERY round's window — one per engine-core family, so a
# regression there is visible to the external gate immediately, not
# only when the family rotates back in. Trimmed from 10 to 6 in round
# 6: at 169 registered entries every always-on slot costs rotation
# capacity (stale-cycle length = non-fixed entries / free slots), and
# the four demoted canaries' families stay covered by the rotation
# plus the full local oracle suite each session.
_CANARIES: list[str] = [
    # Trimmed 6 -> 4 in r14 per growth-policy step 2 (the exact four
    # the policy names): this round's 5 changed-plan pins plus the
    # 6-canary fixed block would have pushed the cycle past 5 rounds
    # again (the r13 failure mode). word_freq_top10 and knn_ivf are
    # demoted — their families stay covered by rotation plus the full
    # local oracle suite each session.
    "silver_docs",            # medallion filters/normalize/window dedup
    "dedup_minhash",          # banded LSH dedup (the dedup/similarity pick)
    "tokenize_to_ids",        # text curation hot path
    "q1_pricing_summary",     # TPC-H scan/agg shape
]

# This round's forced entries beyond the canaries: oracle upgrades
# whose hash-match claim needs an external driver row to back it.
# Remove a pin once its fresh green row is recorded; new registry
# entries need no pin (never-checked == stalest == auto-included).
_PINS: list[str] = [
    # All 9 r13 pins (training_shards_assign, chunk_refresh_plan,
    # winnow_matches_topm_auto, doc_pagerank, bm25_served_incremental,
    # embed_hashed_tf, dedup_clusters, dedup_keep_best,
    # medallion_incremental) recorded their green rows
    # (CORRECTNESS_r13: hash-green, 50/50 window) and are dropped per
    # the one-round policy (VERDICT r13 task 1).
    #
    # r14 optimization round: gated entries whose SPARK plan changed
    # this round (every one re-proven oracle-equal at sf0.001, sf0.01
    # AND sf0.1 in-session; oracles unchanged). Pinned for one round
    # per the changed-plan precedent so the driver re-proves them on
    # its own host. Cycle arithmetic (growth-policy steps 2+3 applied
    # this round): pool = 218 - 8 consolidated = 210, fixed = 4
    # canaries + 5 pins = 9, bound = ceil((210-9)/(50-9)) = 5.
    # - pretrain_corpus_full: NB stage derives train buckets from the
    #   one apply-side tokenization (train_within_apply)
    # - dsir_select: target bag model semi-joins raw's token table
    #   (target_within_raw)
    # - bm25_served_incremental: _ids membership sidecar + footer
    #   stats reads + literal n_docs/avgdl in the serve plan
    # - rag_read_path_served: store/emb_store materialized once
    #   across build and serve (also inherits the bm25 serve plan)
    # - medallion_incremental: zero-admission batches skip the
    #   silver/gold upserts; admission count rides the checkpoint job
    "pretrain_corpus_full",
    "dsir_select",
    "bm25_served_incremental",
    "rag_read_path_served",
    "medallion_incremental",
]

# Consolidated out of the DRIVER rotation per growth-policy step 3
# (r14 — VERDICT r13 task 8): each entry is a parameterization/
# dispatch twin whose operator code path is gated by a base entry
# that stays in rotation, and EVERY entry here remains fully
# registered (queries()/oracle_sql() expose it unchanged) and fully
# oracle-checked by the local suite every session
# (tests/test_oracle_parity.py runs ALL registered oracles, not a
# sample). Only the external driver's 50-slot window stops spending
# re-confirmation slots on them.
_CONSOLIDATED: set[str] = {
    # uncapped parameterization twins of the rotating _auto forms —
    # same operator (ngram_jaccard_pairs / ngram_containment_pairs),
    # one cap argument apart; capped==uncapped equality under the cap
    # is separately unit-tested
    "dedup_ngram_jaccard",
    "dedup_ngram_containment",
    # the exhaustive and static-cap MOSS report forms — the whole
    # candidate/aggregate plan is shared with the rotating
    # winnow_matches_topm_auto (they differ in the final window /
    # cap literal); brute-force pair-equality is unit-tested
    "winnow_matches",
    "winnow_matches_topm",
    # per-document unit-dispatch twins (r12/r13): each is the word +
    # char single-unit plans (BOTH separately in rotation) behind one
    # SQL-replayed row predicate and a union; the dispatch rule is
    # additionally pinned by local planted-fixture tests
    "dedup_jaccard_auto_unit",
    "dedup_minhash_auto_unit",
    "decontaminate_fuzzy_auto_unit",
    "remove_duplicate_spans_auto_unit",
}


def _evidence_rounds() -> dict[str, int]:
    """Latest round in which each entry produced PASSING driver
    evidence — a HASH-GREEN row, nothing less (r11: the
    `err: no_oracle` clause is gone along with rows-only rotation;
    for an oracle-backed entry such a row would mean the hash gate
    never ran, and counting it as evidence would DEFER the entry from
    the next window exactly when it must rotate back in). A real
    `err` row or a diverged hash is NOT evidence, so a failing or
    regressed entry sorts as maximally stale and re-enters the window
    immediately. Entries absent from every CORRECTNESS file map
    to 0."""
    import json
    from pathlib import Path

    repo = Path(__file__).resolve().parents[2]
    latest: dict[str, int] = {}
    for f in sorted(repo.glob("CORRECTNESS_r*.json")):
        try:
            rnd = int(f.stem.split("_r")[1])
            rows = json.loads(f.read_text())
        except (OSError, ValueError, IndexError):  # unreadable: ignore
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = (
                row.get("err") is None and row.get("hash_match") is True
            )
            if green:
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _driver_window() -> list[str]:
    fixed = _CANARIES + [p for p in _PINS if p not in _CANARIES]
    unknown = [n for n in fixed if n not in QUERIES]
    if unknown:  # fail loudly at import: a typo here silently loses evidence
        raise AssertionError(f"registry window references unknown: {unknown}")
    assert len(fixed) == len(set(fixed)) <= 50
    ev = _evidence_rounds()
    reg_order = {n: i for i, n in enumerate(QUERIES)}
    # r11 (VERDICT r10 task 2): the structurally no-oracle entries
    # (zlib compression_ratio, JVM-xxhash64 dedup_simhash /
    # winnow_fingerprints_xx) are EXCLUDED from rotation — they can
    # only ever produce a rows-only `err: no_oracle` row, which burns
    # a window slot without yielding hash evidence and surfaces as the
    # window's lone non-green row (r10's only such row). Each has a
    # hash-green oracled twin in rotation (docs_char_entropy,
    # dedup_simhash_md5, winnow_fingerprints) plus local property
    # tests pinning the production hash forms against those twins, so
    # every rotated slot can now be hash-green. They remain registered
    # (queries() still exposes them) and fully covered by the local
    # suite each session.
    # r14: _CONSOLIDATED twins sit outside the rotation pool (growth-
    # policy step 3) — registered and locally oracle-checked every
    # session, but the 50-slot window spends its re-confirmation
    # capacity on the entries that gate distinct code paths.
    rest = sorted(
        (
            n for n in ORACLES
            if n not in set(fixed) and n not in _CONSOLIDATED
        ),
        key=lambda n: (ev.get(n, 0), reg_order[n]),
    )
    return fixed + rest[: 50 - len(fixed)]


def rotation_pool() -> list[str]:
    """The oracle-backed entries the driver window rotates over —
    ORACLES minus the consolidated twins (and including canaries/pins,
    which are fixed slots of the same pool). The cycle-bound test pins
    its arithmetic to THIS pool."""
    return [n for n in ORACLES if n not in _CONSOLIDATED]


def _reorder() -> None:
    window = _driver_window()
    assert len(window) == len(set(window)) == 50
    # The mechanical form of the rotation contract: any entry with NO
    # driver evidence at all sits at staleness 0 and must have made it
    # into the window, or cumulative coverage silently stalls (only
    # possible if pins+canaries+never-checked exceed 50 slots).
    ev = _evidence_rounds()
    if ev:
        # Only oracle-backed entries rotate (r11) — a never-checked
        # rows-only entry is by design outside the window and is
        # instead covered by its oracled twin + local tests. Same for
        # the consolidated twins (r14): they never rotate, so they are
        # exempt from the must-enter-window assertion.
        never = [n for n in rotation_pool() if n not in ev]
        missing = [n for n in never if n not in window]
        if missing:
            raise AssertionError(
                f"never-driver-checked entries outside the window: {missing}"
            )
    # everything else keeps build order after the window — nothing is
    # demoted below its natural position
    wset = set(window)
    rest = [n for n in QUERIES if n not in wset]
    order = window + rest
    for d in (QUERIES, ORACLES):
        snap = dict(d)
        d.clear()
        d.update({n: snap[n] for n in order if n in snap})


# NB: _reorder() is invoked ONCE at the very END of this module — it
# must run after every @_q registration or late-registered entries
# could never rotate into the driver's first-50 window (caught r10:
# retrieval_eval_metrics was briefly registered below the old call
# site, leaving a never-checked entry invisible to the gate).


# --------------------------------------------------------------- r10:
# retrieval EVALUATION — the measurement half of the RAG stack. The
# fixture is a fixed pseudo-random run/qrel construction (md5-keyed,
# the deterministic_sample convention) so every math path (hits,
# zero-hit queries, rank>k cutoff, varied n_rel) is exercised and the
# whole thing replays in SQL; the operator under test is the metrics
# math, which serving output (bm25/knn/rrf/mmr) feeds in production.
_RETRIEVAL_METRICS_ORACLE = """
WITH q AS (
  SELECT doc_id AS query_id FROM documents WHERE doc_id % 100 = 0
), runs AS MATERIALIZED (
  SELECT query_id, doc_id, rank FROM (
    SELECT q.query_id, d.doc_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY md5(CAST(q.query_id AS VARCHAR) || ':' ||
                          CAST(d.doc_id AS VARCHAR))
           ) AS BIGINT) AS rank
    FROM q, documents d
  ) WHERE rank <= 10
), qrels AS MATERIALIZED (
  SELECT q.query_id, d.doc_id
  FROM q, documents d
  WHERE md5('rel' || CAST(q.query_id AS VARCHAR) || ':' ||
            CAST(d.doc_id AS VARCHAR)) < '2'
), hits AS (
  SELECT r.query_id,
         CAST(COUNT(*) AS BIGINT) AS n_hits,
         MIN(r.rank) AS first_rank,
         list_sort(list(r.rank)) AS ranks
  FROM runs r
  JOIN qrels x ON r.query_id = x.query_id AND r.doc_id = x.doc_id
  GROUP BY r.query_id
), nrel AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
  FROM qrels GROUP BY query_id
)
SELECT n.query_id, n.n_rel,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / n.n_rel, 4)
         AS recall_at_k,
       ROUND(COALESCE(1.0 / h.first_rank, 0.0), 4) AS mrr_at_k,
       ROUND(
         COALESCE(
           list_reduce(list_transform(h.ranks,
                                      r -> 1.0 / log2(r + 1.0)),
                       (a, b) -> a + b),
           0.0)
         / list_reduce(list_transform(range(1, LEAST(n.n_rel, 10) + 1),
                                      i -> 1.0 / log2(i + 1.0)),
                       (a, b) -> a + b),
         4) AS ndcg_at_k
FROM nrel n LEFT JOIN hits h ON n.query_id = h.query_id
"""


@_q("retrieval_eval_metrics", _RETRIEVAL_METRICS_ORACLE)
def retrieval_eval_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR evaluation metrics (r10): per-query recall@10 / MRR@10 /
    nDCG@10 against binary qrels — trec_eval conventions (only
    qrels queries scored, zero-hit queries 0.0, ranks past k
    ignored), with DCG/IDCG as folds over SORTED rank lists so
    double-summation order is fixed (hash-gate determinism). Fixture:
    md5-keyed pseudo-random runs (top-10 per query) and ~1/8-rate
    qrels over the documents table."""
    from pyspark.sql import Window

    from lakehouse_to_rag_spark.operators.retrieval import (
        retrieval_metrics,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    q = d.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("query_id")
    )
    pairs = q.crossJoin(d)
    w = Window.partitionBy("query_id").orderBy(
        F.md5(
            F.concat_ws(
                ":",
                F.col("query_id").cast("string"),
                F.col("doc_id").cast("string"),
            )
        )
    )
    runs = (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
    )
    qrels = pairs.filter(
        F.md5(
            F.concat(
                F.lit("rel"),
                F.col("query_id").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        )
        < "2"
    ).select("query_id", "doc_id")
    return retrieval_metrics(runs, qrels, k=10)


# --------------------------------------------------------------- r10:
# character-entropy quality signal — the ORACLE-GATED twin of the
# rows-only zlib compression_ratio (same curation purpose: gibberish /
# key-mash / template detection), feasible because Shannon entropy is
# pure counting + one quantized transcendental, unlike DEFLATE's
# stateful LZ77 stream. The Spark side is the MAP-ONLY run-length fold
# (no explode, no shuffle); the oracle replays it as explode + groupBy
# + plain SUM, legal because the per-class terms are exact BIGINT
# micro-bits (order-free addition). Character-unit caveat (ADVICE
# r10): Spark's split(text, '') emits CODE POINTS while DuckDB's
# string_split(text, '') emits GRAPHEME CLUSTERS — the two coincide
# exactly on ASCII / precomposed-only text, which the harness corpus
# is (tests/test_oracle_parity.py pins the fixture ASCII-only so the
# gate cannot silently drift onto combining-mark input).
_CHAR_ENTROPY_ORACLE = """
WITH cs AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch
  FROM documents WHERE text IS NOT NULL AND LENGTH(text) > 0
), cnt AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM cs GROUP BY 1, 2
), s AS (
  SELECT doc_id, SUM(c) AS n,
         SUM(c * CAST(ROUND(log2(CAST(c AS DOUBLE)) * 1000000.0)
                      AS BIGINT)) AS tot
  FROM cnt GROUP BY 1
)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
       ROUND(CAST(n * CAST(ROUND(log2(CAST(n AS DOUBLE)) * 1000000.0)
                           AS BIGINT) - tot AS DOUBLE)
             / (1000000.0 * n), 4) AS entropy_bits
FROM s
"""


@_q("docs_char_entropy", _CHAR_ENTROPY_ORACLE)
def docs_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the character stream (r10): the
    gibberish/low-diversity curation signal, computed map-only (sorted
    char array + run-length F.aggregate fold — zero shuffle). The gate
    filters empty/NULL text on both sides so the operator's projection
    contract (NULL entropy for empty docs) stays out of the hash."""
    d = load_table(spark, sf_dir, "documents")
    d = d.filter(F.col("text").isNotNull() & (F.length("text") > 0))
    return ta.char_entropy(d)


# --------------------------------------------------------------- r10:
# bigram PMI collocations — corpus-level phrase mining (Church & Hanks
# 1990): tokenizer-merge candidates, multiword expressions, and
# boilerplate discovery. Bigrams are built per row with array lambdas
# (slice+transform, 0-based in Spark; the oracle uses DuckDB's 1-based
# list ops with a chr(30) pair separator — text is printable ASCII so
# the control char cannot collide).
_BIGRAM_PMI_ORACLE = """
WITH w AS (
  SELECT list_filter(string_split(LOWER(text), ' '), x -> x != '') AS ws
  FROM documents
), uni AS (
  SELECT word, COUNT(*) AS c
  FROM (SELECT unnest(ws) AS word FROM w) GROUP BY 1
), n AS (
  SELECT CAST(SUM(c) AS DOUBLE) AS n_tok FROM uni
), big AS (
  SELECT string_split(p, chr(30))[1] AS w1,
         string_split(p, chr(30))[2] AS w2,
         COUNT(*) AS c_xy
  FROM (
    SELECT unnest(list_transform(range(1, GREATEST(len(ws), 1)),
                                 i -> ws[i] || chr(30) || ws[i + 1])) AS p
    FROM w
  ) GROUP BY 1, 2
  HAVING COUNT(*) >= 5
), scored AS (
  SELECT b.w1, b.w2, CAST(b.c_xy AS BIGINT) AS pair_count,
         ROUND(LOG2((CAST(b.c_xy AS DOUBLE) * n.n_tok)
                    / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))),
               6) AS pmi6
  FROM big b
  JOIN uni u1 ON u1.word = b.w1
  JOIN uni u2 ON u2.word = b.w2
  CROSS JOIN n
)
SELECT w1, w2, pair_count, ROUND(pmi6, 4) AS pmi
FROM scored ORDER BY pmi6 DESC, w1, w2 LIMIT 50
"""


@_q("docs_bigram_pmi", _BIGRAM_PMI_ORACLE)
def docs_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-bigram collocations by PMI (r10), min pair
    count 5, (pmi DESC, w1, w2) deterministic order. The 6dp-quantized
    log2 drives the ORDER and the emitted value is its 4dp re-round,
    the tfidf idf convention (transcendental last-ulp drift cannot
    reach the hash or flip the top-k boundary)."""
    d = load_table(spark, sf_dir, "documents")
    scored = ta.bigram_pmi(d, min_count=5, top_k=50)
    # bigram_pmi emits pmi at 6dp (it orders on it); re-round to the
    # 4dp output convention without disturbing the already-applied
    # top-k selection
    return scored.select(
        "w1", "w2", "pair_count", F.round("pmi", 4).alias("pmi")
    )


# --------------------------------------------------------------- r10:
# cross-source duplication matrix — the "which feeds overlap which"
# curation report over the exact-verified MinHash pair stream. The
# oracle wraps the uncapped exact-Jaccard pair oracle (the
# dedup_minhash gate) as a CTE and adds only the group/canonicalize
# tail, so this entry transitively re-proves the LSH pair set too.
_SOURCE_OVERLAP_ORACLE = (
    "WITH pairs AS (" + _NGRAM_JACCARD_ORACLE + """)
SELECT LEAST(da.source, db.source) AS source_a,
       GREATEST(da.source, db.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS dup_pairs
FROM pairs p
JOIN documents da ON da.doc_id = p.id_a
JOIN documents db ON db.doc_id = p.id_b
GROUP BY 1, 2
"""
)


@_q("source_overlap_matrix", _SOURCE_OVERLAP_ORACLE)
def source_overlap_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pair counts per unordered source pair (r10):
    joins the MinHash-LSH exact-verified pairs back to each side's
    source and groups on the (least, greatest) canon — the licensing /
    mix-weighting report a 100 TB curation run reads before choosing
    per-source sampling rates."""
    d = load_table(spark, sf_dir, "documents")
    return dd.source_overlap_matrix(
        d, "doc_id", "text", "source", n=3, threshold=0.5
    )


# Must stay the LAST statement: orders QUERIES/ORACLES so the driver's
# first-50 window = canaries + pins + stalest (see the rotation block).
_reorder()
