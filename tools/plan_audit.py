#!/usr/bin/env python
"""Inferred-filter / expression-inlining plan audit over EVERY
registry entry — the sweep that caught the r10-continuation class of
silent plan regressions:

- `shingle_novelty`: plain explode() made InferFiltersFromGenerate
  synthesize a size/notnull filter over the whole shingle expression
  and push it below the parallelizing repartition — the shingling ran
  twice per row inside the single-split scan stage (7.5 s vs 0.8 s at
  sf0.1);
- `dedup_minhash_distinct`: a hand-written filter(size(shingles) > 0)
  on a grouping key pushed all the way to the scan (6.6 s -> 2.4 s
  after replacing it with the equivalent cheap predicate);
- `embedding_diversity`: filter(_ss > 0) re-inlined the quantize+norm
  fold, doubling the operator's dominant map pass.

The shared mechanism: Catalyst pushes predicates through projects by
SUBSTITUTING the projected expressions, so a filter over a derived
column of an expensive array expression re-evaluates that expression
wherever the filter lands — usually the scan stage, often on the
single-split side of a repartition. Binding expressions to columns
(the fold-inlining rule) does NOT protect against this; only cheap
predicates or explode_outer do.

This audit flags Filter nodes whose predicate inlines
transform/array_distinct/aggregate. Flags are LEADS, not verdicts:
a dim-bounded literal transform in a filter (embed_hashed_tf) is
fine; an O(doc)/O(corpus) expression is not — time the row before
rewriting anything, and re-verify oracle parity after (both fixes
above changed gated plans and were re-gated in-session).

TRIPWIRE SEMANTICS (r11 — VERDICT r10 task 5): known-benign flags
are encoded in ALLOWLIST below with their triage rationale; the
script exits 0 iff every flag is allowlisted and every allowlist
entry still flags (a stale allowlist row is itself an error — it
means the plan changed and the rationale no longer describes
reality). Any NEW flag exits 1, so the verify recipe can run this
as a gate, not just a report.

Usage: python tools/plan_audit.py [sf_dir]   (default sf0.001 — plans
only build, nothing executes, so the smallest data is fine)
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from lakehouse_to_rag_spark.session import get_spark  # noqa: E402
from tools.explain import executed_plan, sweep  # noqa: E402

MARKERS = ("transform(", "array_distinct(", "aggregate(")

# entry -> (must_contain marker, why the flag is benign). The marker
# is a distinctive substring of the triaged flag line: a PLAN-ERR or
# a DIFFERENT expensive filter appearing in an allowlisted entry must
# NOT ride the name-only match through the gate (caught in the r11
# self-review — name-only matching silently passed both cases).
# (r13: the embed_hashed_tf row — a dim-bounded literal transform in
# a filter, triaged benign in r10 — retired when the operator's
# explode_outer rewrite removed the flagged Filter node entirely; the
# allowlist is empty until a new benign flag is triaged.)
ALLOWLIST: dict[str, tuple[str, str]] = {}


def flags_for(plan: str) -> list[str]:
    """EVERY Filter line in an executed-plan string that inlines an
    expensive array expression (deduped, order kept) — all of them,
    so a second regression in an entry that already carries one
    triaged flag still surfaces as its own line. Pure; unit-tested
    directly against deliberately regressed and clean plans."""
    out: list[str] = []
    for line in plan.split("\n"):
        s = line.strip().lstrip(":+- ")
        if s.startswith("Filter") and any(m in s for m in MARKERS):
            if s[:160] not in out:
                out.append(s[:160])
    return out


def flag_for(plan: str) -> str | None:
    fl = flags_for(plan)
    return fl[0] if fl else None


def classify(
    flagged: list[tuple[str, str]],
    allowlist: dict[str, tuple[str, str]] | None = None,
) -> int:
    """Tripwire rc: 0 iff flags == allowlist exactly (new flag -> 1,
    stale allowlist row -> 1). A flag only matches its allowlist row
    when the LINE carries the row's triaged marker — a PLAN-ERR or a
    different expensive filter in an allowlisted entry is NEW, not
    allowed. Printing lives here too so main() and tests share the
    one code path. ``allowlist`` defaults to the committed ALLOWLIST;
    tests inject a fixture so the rc semantics stay testable when the
    committed list is empty (as it is since the r13 embed rewrite)."""
    if allowlist is None:
        allowlist = ALLOWLIST
    rc = 0
    allowed_seen: set[str] = set()
    for n, s in flagged:
        marker = allowlist.get(n, (None,))[0]
        if marker is not None and marker in s:
            allowed_seen.add(n)
            print(f"  [allowed] {n} :: {s}")
        else:
            print(f"  [NEW]     {n} :: {s}")
            rc = 1
    for n in sorted(set(allowlist) - allowed_seen):
        print(
            f"  [STALE allowlist] {n} — its triaged flag no longer "
            "appears; the plan changed, remove or re-triage the row"
        )
        rc = 1
    return rc


def audit(sf: str) -> tuple[list[tuple[str, str]], int]:
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    flagged: list[tuple[str, str]] = []
    total = 0
    for name, df in sweep(spark, sf):
        total += 1
        if isinstance(df, Exception):
            flagged.append((name, f"PLAN-ERR {str(df)[:100]}"))
            continue
        for s in flags_for(executed_plan(df)):
            flagged.append((name, s))
    spark.stop()
    return flagged, total


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    flagged, total = audit(sf)
    print(f"flagged {len(flagged)} of {total} entries")
    return classify(flagged)


if __name__ == "__main__":
    sys.exit(main())
