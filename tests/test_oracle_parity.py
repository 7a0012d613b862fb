"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its oracle on DuckDB over the same
parquet, compare row count, column names, and order-insensitive values.

Runs at sf0.001 by default for speed; set SPARK_GRAFT_TEST_SF_DIR to
/root/testdata/sf0.01 to mirror the driver exactly.
"""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, SF_DIR_001, SF_DIR_01
from tools.oracle_sweep import duck_views, hostile_columns

ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


@pytest.fixture(scope="module")
def duck():
    con = duck_views(SF_DIR)
    yield con
    con.close()


def _norm_cell(v):
    # full-precision compare: every oracle is designed to be
    # bit-identical across engines (identical double arithmetic or
    # integer-quantized outputs), so no tolerance is needed — and the
    # driver's value-hash may be just as strict
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    return str(v)


def _row_set(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm_cell(r[i]) for i in order) for r in rows
    )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_projection_types(name, duck):
    """Gate contract, enforced WITHOUT executing the oracle (DuckDB
    DESCRIBE binds the plan only): no top-level HUGEINT / array /
    struct / map columns. The driver fetches the oracle via pandas,
    where HUGEINT silently becomes float64 (truncating 63-bit
    signatures — the r6 ``image_dedup_incremental`` red row) and
    nested cells break ``sort_values`` (the r6 ``embed_hashed_tf``
    ERR). This turns that whole divergence class into a local
    pre-gate failure."""
    bad = hostile_columns(duck.execute("DESCRIBE " + ORACLES[name]).fetchall())
    assert not bad, (
        f"{name}: oracle projects driver-hostile types {bad} — CAST "
        "HUGEINT to BIGINT / flatten nested columns to scalar rows"
    )


def test_projection_guard_catches_reintroduced_hostile_types(duck):
    """Negative control for the gate-contract guard (the r6 done
    criterion): a deliberately HUGEINT projection and a deliberately
    nested one must BOTH be flagged by ``hostile_columns``, the check
    the projection-types test and the sweep pre-flight both run."""
    hostile_cases = {
        # SUM over BIGINT is HUGEINT in DuckDB — the r6 image red row
        "hugeint": "SELECT doc_id, SUM(doc_id) AS s FROM documents GROUP BY doc_id",
        # list aggregate — the r6 embed_hashed_tf ERR
        "nested": "SELECT doc_id, [doc_id, doc_id + 1] AS arr FROM documents",
    }
    for label, sql in hostile_cases.items():
        desc = duck.execute("DESCRIBE " + sql).fetchall()
        assert hostile_columns(desc), f"{label}: guard failed to flag {desc}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name, duck):
    from pyspark.sql.types import ArrayType, MapType, StructType

    sdf = QUERIES[name](spark, SF_DIR)
    nested = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nested, (
        f"{name}: entry returns nested columns {nested} — the driver's "
        "pandas canonicalizer cannot sort/hash them; explode or flatten "
        "(the embedding_pca / embed_hashed_tf precedent)"
    )
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    sset = _row_set(spark_cols, spark_rows)
    dset = _row_set(duck_cols, duck_rows)
    if sset != dset:
        diff = [(a, b) for a, b in zip(sset, dset) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    sdf = QUERIES[name](spark, SF_DIR)
    assert sdf.count() >= 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_char_entropy_fixture_is_ascii_only():
    """docs_char_entropy's oracle equates Spark's split(text, '')
    (code points) with DuckDB's string_split(text, '') (grapheme
    clusters) — exact only when text has no combining sequences.
    Pin the harness corpus ASCII-only at both gate scales so the
    parity claim cannot silently drift onto input where the two
    units diverge (ADVICE r10)."""
    import duckdb

    for sf in (SF_DIR_001, SF_DIR_01):
        n = duckdb.sql(
            f"SELECT COUNT(*) FROM '{sf}/documents.parquet' "
            "WHERE text IS NOT NULL AND text != "
            "regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')"
        ).fetchone()[0]
        assert n == 0, f"{sf}: {n} non-ASCII documents"
