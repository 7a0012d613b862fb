#!/usr/bin/env python
"""The plan tool: formatted physical plans, plan-shape counts and
optional noop-sink timings for registry entries.

Plan shapes break silently: an extra table re-scan or exchange passes
every value test and hides in bench noise, but at 100 TB it costs
hours. The curated bounds live in tests/test_plan_shapes.py;
tools/plan_audit.py walks the same registry sweep.

Usage: python tools/explain.py [--sf DIR] [--out DIR] [--runs N]
                               (ENTRY ... | --all)

Per ENTRY: the formatted plan, then its counts line (with ``--out``
both go to ``DIR/<entry>.txt`` and stdout gets the counts line).
``--all``: a counts or ``SKIP`` line per registry entry, then totals.
``--runs N``: also the min of N noop-sink runs (default 0: plans only
build, nothing executes). For a stage that is not a registry entry,
call ``plan_text`` on its DataFrame.
"""

from __future__ import annotations

import argparse
import sys
import time
from collections.abc import Iterable, Iterator
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from lakehouse_to_rag_spark.plans.registry import QUERIES  # noqa: E402
from lakehouse_to_rag_spark.session import get_spark  # noqa: E402


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    """What ``df.explain(mode)`` prints, as a string."""
    mode_cls = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(mode_cls.fromString(mode))


def executed_plan(df: DataFrame) -> str:
    """The executed physical plan's tree string."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_counts(df) -> dict[str, int]:
    plan = executed_plan(df)
    return {
        "scans": plan.count("FileScan"),
        "exchanges": plan.count("Exchange"),
        "sorts": plan.count("Sort "),
        "windows": plan.count("Window"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
    }


def counts_line(name: str, c: dict[str, int]) -> str:
    return (
        f"{name}: scans={c['scans']} exchanges={c['exchanges']} "
        f"sorts={c['sorts']} windows={c['windows']} "
        f"bhj={c['bhj']} smj={c['smj']}"
    )


def sweep(
    spark: SparkSession, sf_dir: str, names: Iterable[str] | None = None
) -> Iterator[tuple[str, DataFrame | Exception]]:
    """Per entry (default: the whole registry, sorted), its DataFrame
    with the executed plan already built, or the exception building it
    raised (streaming-only or env-gated entries). Nothing executes."""
    for name in sorted(QUERIES) if names is None else names:
        try:
            df = QUERIES[name](spark, sf_dir)
            df._jdf.queryExecution().executedPlan()
        except Exception as exc:  # noqa: BLE001 - report, keep sweeping
            yield name, exc
        else:
            yield name, df


def _noop_min(spark: SparkSession, sf_dir: str, name: str, runs: int) -> str:
    """Rebuild and run ``name`` into the noop sink ``runs`` times, each
    run's jobs labeled with its number."""
    times = []
    for i in range(runs):
        spark.sparkContext.setJobDescription(f"{name} noop run {i}")
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(None)
    return (
        f"{name}: noop min={min(times):.3f}s "
        f"runs={[round(t, 3) for t in times]}"
    )


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="explain.py", description="Plans and plan-shape counts."
    )
    p.add_argument("--sf", default="/root/testdata/sf0.1")
    p.add_argument("--out")
    p.add_argument("--runs", type=int, default=0)
    p.add_argument("--all", action="store_true")
    p.add_argument("entries", nargs="*")
    args = p.parse_args(argv)
    if args.all == bool(args.entries):
        p.error("name ENTRY ... or --all (not both)")
    unknown = sorted(set(args.entries) - set(QUERIES))
    if unknown:
        p.error(f"not registry entries: {', '.join(unknown)}")
    return args


def run(spark: SparkSession, argv: list[str]) -> None:
    """The CLI on a caller's session (``main`` owns the session)."""
    args = _args(argv)
    out = Path(args.out) if args.out else None
    if out:
        out.mkdir(parents=True, exist_ok=True)
    if args.runs:
        # warm the Python worker pool + Arrow path (bench.py's discipline)
        spark.range(100_000).mapInPandas(lambda it: it, schema="id long").count()
    built = []
    for name, df in sweep(spark, args.sf, None if args.all else args.entries):
        if isinstance(df, Exception):
            print(f"{name}: SKIP ({type(df).__name__})")
            continue
        c = plan_counts(df)
        built.append(c)
        line = counts_line(name, c)
        if out:
            (out / f"{name}.txt").write_text(plan_text(df) + line + "\n")
        elif not args.all:
            print(plan_text(df), end="")
        print(line)
        if args.runs:
            print(_noop_min(spark, args.sf, name, args.runs))
    if args.all:
        scans = sum(c["scans"] for c in built)
        exchanges = sum(c["exchanges"] for c in built)
        print(f"# {len(built)} queries, {scans} scans, {exchanges} exchanges")


def main() -> None:
    _args(sys.argv[1:])  # usage errors before the JVM starts
    spark = get_spark("explain")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        run(spark, sys.argv[1:])
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
