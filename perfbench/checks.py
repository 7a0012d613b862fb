"""Independent reference computations for the output checks.

The full-refresh check recomputes the expected silver and gold row
counts from the generated JSON with DuckDB, using the reference
pipeline's SQL (not the program's Spark expressions) and a separate
implementation of the recursive character splitter's greedy merge.
"""

from __future__ import annotations

from collections import deque

import duckdb

CHUNK_SIZE = 200
CHUNK_OVERLAP = 10
MIN_CONTENT_LENGTH = 50


def count_chunks(text: str, size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP) -> int:
    """Chunks a recursive character splitter emits for ``text`` whose
    only separators are single spaces and whose words are shorter than
    ``size`` (true of normalised silver content): a greedy merge of the
    words into pieces of at most ``size`` characters, carrying a tail
    of at most ``overlap`` characters into the next piece."""
    words = [w for w in text.split(" ") if w]
    n = 0
    cur: deque[int] = deque()
    total = 0
    for w in map(len, words):
        if cur and total + w + 1 > size:
            n += 1
            while total > overlap or (total and total + w + (1 if cur else 0) > size):
                total -= cur.popleft() + (1 if cur else 0)
        cur.append(w)
        total += w + (1 if len(cur) > 1 else 0)
    return n + (1 if cur else 0)


# The reference silver statement: strip characters outside the allowed
# class, lowercase, collapse whitespace, trim; keep each url's first
# fetch (smallest doc id) among rows with non-blank content, then
# require more than MIN_CONTENT_LENGTH characters. Yields (doc_id, c).
_SILVER_SQL = f"""
WITH raw AS (
  SELECT url, CAST(doc_id AS BIGINT) AS doc_id, content
  FROM read_json(?, format = 'newline_delimited',
                 columns = {{'url': 'VARCHAR', 'doc_id': 'VARCHAR', 'content': 'VARCHAR'}})
), bronze AS (
  SELECT url, doc_id, trim(content) AS content FROM raw
  WHERE content IS NOT NULL AND length(trim(content)) > 0
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY doc_id) AS rn FROM bronze
)
SELECT doc_id, c FROM (
  SELECT doc_id, trim(regexp_replace(lower(regexp_replace(
           content, '[^\\w\\d\\s.,!?;:\\-()]', ' ', 'g')), '\\s+', ' ', 'g')) AS c
  FROM ranked WHERE rn = 1
) WHERE length(c) > {MIN_CONTENT_LENGTH}
"""


def reference_silver(json_files: list[str]) -> dict[int, str]:
    """{doc_id: content} of the silver layer one batch job over all of
    ``json_files`` must produce."""
    con = duckdb.connect()
    try:
        return dict(con.execute(_SILVER_SQL, [json_files]).fetchall())
    finally:
        con.close()


def expected_layer_counts(json_files: list[str]) -> dict[str, int]:
    """{"bronze", "silver", "gold"} row counts the medallion layers
    must have for the raw JSON in ``json_files``."""
    con = duckdb.connect()
    try:
        con.create_function("n_chunks", lambda t: count_chunks(t), ["VARCHAR"], "BIGINT")
        bronze = con.execute(
            "SELECT count(*) FROM read_json(?, format = 'newline_delimited', "
            "columns = {'content': 'VARCHAR'}) "
            "WHERE content IS NOT NULL AND length(trim(content)) > 0",
            [json_files],
        ).fetchone()[0]
        silver, gold = con.execute(
            f"SELECT count(*), coalesce(sum(n_chunks(c)), 0) FROM ({_SILVER_SQL})",
            [json_files],
        ).fetchone()
    finally:
        con.close()
    return {"bronze": int(bronze), "silver": int(silver), "gold": int(gold)}
