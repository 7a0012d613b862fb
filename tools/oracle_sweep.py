#!/usr/bin/env python
"""Run EVERY registry oracle at an arbitrary scale factor — the
cross-scale robustness sweep that caught the exact-half ROUND
divergence class (engines disagree on .xxxx5 boundaries that rational
ratios and integer micro-unit sums produce; see the floor-form
rounding discipline in operators/text_analysis.py:quality_scores).

The driver's correctness gate runs at sf0.01 and the local parity
suite at sf0.001; this sweep exists because some divergences only
have support on larger data (more rows -> more chances to land on a
boundary).

Usage: python tools/oracle_sweep.py [sf_dir] [entry ...]
(default sf0.1; optional entry names restrict the sweep — the r13
optimization round's per-change re-proof loop)
Prints one line per oracle-backed entry; exits nonzero on mismatch.

tests/test_oracle_parity.py runs the same DuckDB setup
(``duck_views``) and type pre-flight (``hostile_columns``) but
compares at full precision instead of through ``_canon``.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from lakehouse_to_rag_spark.session import get_spark  # noqa: E402
from lakehouse_to_rag_spark.sources.tables import TABLES  # noqa: E402


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per dataset table over
    ``sf_dir``'s parquet — the oracle side of every parity compare."""
    con = duckdb.connect()
    # spill OUTSIDE the repo: the heavier oracles (image-pHash DP
    # layers) spill tens of GB; an un-set temp_directory lands that
    # in ./.tmp and a killed sweep leaves multi-GB debris behind
    con.execute("SET temp_directory='/tmp/duckspill'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def hostile_columns(describe_rows) -> list[tuple[str, str]]:
    """The (column, type) pairs of a DuckDB ``DESCRIBE`` result that
    the driver's pandas fetch cannot carry: HUGEINT reaches pandas as
    float64 (truncating 63-bit values) and nested cells break
    ``sort_values``. Checked before an oracle is executed."""
    return [
        (c, t)
        for c, t, *_ in describe_rows
        if "HUGEINT" in t.upper()
        or "[]" in t
        or t.upper().startswith(("STRUCT", "MAP", "LIST", "UNION"))
    ]


def _canon(df):
    """Mirror the DRIVER's canonicalizer, pandas path included: both
    sides go through pandas (Spark via toPandas, DuckDB via .df()),
    columns sort by name, floats round to 4dp, rows sort, cells
    stringify. Round 6 proved the fetchall()+repr shortcut hides an
    entire divergence class: DuckDB HUGEINT reaches pandas as float64
    (truncating 63-bit signatures) and array cells kill sort_values —
    both invisible to exact-Python-int fetchall but red at the gate."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(4) + 0.0  # +0.0 folds -0.0 to 0.0
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)

    def cell(v):
        # integral floats normalize to ints: DuckDB SUM(BIGINT) is
        # HUGEINT and reaches pandas as float64, yet such entries are
        # driver-green vs Spark's int64 — so the gate must equate
        # 5.0 with 5 (truncation past 2^53 still diverges, as r6's
        # image red row proved)
        if isinstance(v, float) and not (v != v) and v.is_integer():
            return str(int(v))
        return str(v)

    return [
        tuple(cell(v) for v in row)
        for row in df.itertuples(index=False, name=None)
    ]


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    qs, osql = entry.queries(), entry.oracle_sql()
    if only:
        unknown = only - set(qs)
        if unknown:
            sys.exit(f"unknown entries: {sorted(unknown)}")
        qs = {k: v for k, v in qs.items() if k in only}
    con = duck_views(sf)
    fails = []
    for name in qs:
        if name not in osql:
            continue
        t0 = time.time()
        try:
            # pre-flight the gate contract before paying for execution
            hostile = hostile_columns(
                con.execute("DESCRIBE " + osql[name]).fetchall()
            )
            if hostile:
                raise TypeError(f"driver-hostile oracle types {hostile}")
            spdf = qs[name](spark, sf).toPandas()
            ddf = con.execute(osql[name]).df()
            ok = (
                sorted(spdf.columns) == sorted(ddf.columns)
                and _canon(spdf) == _canon(ddf)
            )
            nrows = len(spdf)
        except Exception as exc:  # noqa: BLE001 - report, keep sweeping
            fails.append((name, f"ERROR {str(exc)[:120]}"))
            print(f"{name}: ERROR ({time.time() - t0:.0f}s)", flush=True)
            continue
        if not ok:
            fails.append((name, "mismatch"))
        print(
            f"{name}: {'OK' if ok else 'MISMATCH'} {nrows} rows "
            f"({time.time() - t0:.0f}s)",
            flush=True,
        )
    print(f"\n{len(fails)} failures: {fails}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
