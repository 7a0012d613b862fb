"""Bench-record recovery tests (r13 — VERDICT r12 task 1).

The r12 failure: bench.py's output line grew ``queries_p50`` and
``queries_spread`` sections, pushing the per-query mins entirely out
of the driver's 2000-char recorded tail; the unanchored recovery
fallback in bench.py/_prior_mins and tools/bench_compare.py then
parsed spread ratios (0.02-0.66) as timings, and bench_compare
reported a x8.4 phantom fleet ratio with 60 false FASTER rows.

These tests feed the LITERAL committed driver artifacts (BENCH_r12,
r11, r03) through the shared recovery in tools/bench_record.py and
pin the three fixes: ambiguous tails refuse, the compact
names_v/mins_csv trailer round-trips, and the r12 sidecar restores
that round's mins. No Spark session needed.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from tools.bench_record import (
    load_bench_file,
    names_for_version,
    recover_queries,
)

REPO = Path(__file__).resolve().parent.parent


def _tail(name: str) -> dict:
    return json.loads((REPO / name).read_text())


def test_r12_tail_refused_not_misparsed():
    """The literal BENCH_r12 tail starts inside queries_spread; the
    old fallback parsed 60+ spread ratios as timings. recover_queries
    must return NOTHING from the tail itself."""
    data = _tail("BENCH_r12.json")
    data.pop("parsed", None)
    assert recover_queries(data) == {}


def test_r12_sidecar_restores_mins():
    """BENCH_r12.mins.json (committed from the complete same-run
    .bench_last.json record) makes the r12 round comparable again."""
    out = load_bench_file(REPO / "BENCH_r12.json")
    assert len(out["queries"]) == 114
    # spot-check two rows against the judge-verified complete record
    rec = json.loads((REPO / "BENCH_r12.mins.json").read_text())
    assert out["queries"] == {
        k: float(v) for k, v in rec["queries"].items()
    }
    # every recovered value must look like a timing, not a spread
    # ratio: the r12 misparse produced values like 0.02-0.66 for rows
    # recorded >5 s in the complete record
    assert out["queries"]["doc_pagerank"] > 5.0


def test_legacy_p50_tails_refused():
    """r06-r11 tails start inside queries_p50 (the key after the
    first '}' is value_p50, not queries_p50) — the old fallback
    silently recovered P50s as mins. Now refused."""
    for name in ("BENCH_r06.json", "BENCH_r11.json"):
        data = _tail(name)
        data.pop("parsed", None)
        assert recover_queries(data) == {}, name


def test_legacy_mins_tails_still_recovered():
    """r03-r05 tails genuinely start inside the queries (mins) object
    — the first '}' is followed by '"queries_p50"', which proves it.
    These stay recoverable."""
    data = _tail("BENCH_r03.json")
    q = recover_queries(data)
    assert len(q) > 30
    assert "docs" not in q  # no stray non-query keys
    assert all(0 < v < 1000 for v in q.values())


def test_anchored_opener_recovered():
    """A tail that still contains the '"queries": {' opener parses
    the object it anchors (r01/r02 shape)."""
    tail = ('{"metric": "m", "value": 1.0, "unit": "sec", '
            '"queries": {"q1_pricing_summary": 1.234, "lang_id": 0.5}, '
            '"sf": 0.1}')
    assert recover_queries({"tail": tail}) == {
        "q1_pricing_summary": 1.234,
        "lang_id": 0.5,
    }


def test_mins_csv_trailer_roundtrip(tmp_path):
    """The r13+ format: names_v/mins_csv as the LAST keys of the line
    decode via the committed registry even when everything before
    them is truncated away — the exact driver-tail situation."""
    from bench import HEADLINE

    names = names_for_version(1)
    assert names is not None, "tools/bench_names.json missing v1"
    assert names == HEADLINE, (
        "bench.HEADLINE drifted from tools/bench_names.json latest "
        "version — run tools.bench_record.ensure_names_version and "
        "commit the registry"
    )
    vals = [round(0.1 * (i % 7) + 0.05, 3) for i in range(len(names))]
    line = json.dumps({
        "metric": "headline_queries_total_sec",
        "value": round(sum(vals), 3),
        "unit": "sec",
        "queries": dict(zip(names, vals)),
        "sf": 0.1,
        "names_v": 1,
        "mins_csv": ",".join(f"{v:.3f}" for v in vals),
    })
    # simulate the driver wrapper: only the last 2000 chars survive
    wrapped = {"n": 13, "rc": 0, "tail": line[-2000:], "parsed": None}
    assert len(line) > 2000  # the truncation is real at 113 rows
    q = recover_queries(wrapped)
    assert q == dict(zip(names, vals))


def test_mins_csv_registry_mismatch_refused():
    """A mins_csv whose length disagrees with its registry version
    must refuse, not zip short."""
    tail = '"names_v": 1, "mins_csv": "0.1,0.2,0.3"}'
    assert recover_queries({"tail": tail}) == {}
    tail = '"names_v": 999, "mins_csv": "0.1,0.2"}'
    assert recover_queries({"tail": tail}) == {}


def test_registry_latest_matches_headline():
    """The committed registry's LATEST version must equal
    bench.HEADLINE so the artifact written by the driver this round
    is decodable from the committed repo alone."""
    from bench import HEADLINE

    reg = json.loads((REPO / "tools" / "bench_names.json").read_text())
    latest = reg[str(max(int(v) for v in reg))]
    assert latest == HEADLINE


def test_bench_compare_r12_sane(capsys):
    """bench_compare over the repaired r12 artifact yields a fleet
    ratio of ~1 against itself and never the r12 failure signature
    (x8.4 with 60 false FASTER rows)."""
    from tools.bench_compare import main as compare

    compare([str(REPO / "BENCH_r12.json"), str(REPO / "BENCH_r12.json")])
    out = capsys.readouterr().out
    assert "fleet-median host ratio (old/new over 114 rows): x1.000" in out
    assert "FASTER" not in out


def test_bench_compare_refuses_legacy(capsys):
    """r11 (legacy truncated tail, no sidecar) is excluded with a
    visible warning instead of being guessed."""
    from tools.bench_compare import main as compare

    compare([str(REPO / "BENCH_r11.json"), str(REPO / "BENCH_r12.json")])
    out = capsys.readouterr().out
    assert "no per-query mins recoverable" in out
    assert "no comparable rows" in out


@pytest.mark.parametrize("rnd", range(1, 13))
def test_all_recorded_rounds_never_misparse(rnd):
    """Every committed driver artifact either recovers plausible
    TIMINGS or refuses — no artifact may yield spread-like values
    (the r12 signature: a 'queries' dict whose max is < 1 s while the
    same file's value field is > 100 s)."""
    path = REPO / f"BENCH_r{rnd:02d}.json"
    out = load_bench_file(path)
    if out["queries"]:
        assert max(out["queries"].values()) > 1.0


def test_recovery_never_wrong_at_any_truncation_point():
    """The r12 failure class, pinned as a property: for EVERY possible
    driver-tail truncation of a valid bench output line, recovery
    returns either the exact per-query mins or NOTHING — never a
    wrong-but-plausible dict (the old fallback returned spread ratios
    as timings at truncations landing inside queries_spread). Swept
    exhaustively at every offset of a realistic line."""
    from bench import HEADLINE

    names = names_for_version(1)
    vals = [round(0.07 * (i % 23) + 0.11, 3) for i in range(len(names))]
    mins = dict(zip(names, vals))
    p50s = {n: round(v * 1.2, 3) for n, v in mins.items()}
    spreads = {n: 0.2 for n in names}
    line = json.dumps({
        "metric": "headline_queries_total_sec",
        "value": round(sum(vals), 3),
        "unit": "sec",
        "queries": mins,
        "queries_p50": p50s,
        "queries_spread": spreads,
        "value_p50": round(sum(p50s.values()), 3),
        "sf": 0.1,
        "calib": {"py_spin_sec": 0.7, "jvm_fixed_sec": 0.1},
        "names_v": 1,
        "mins_csv": ",".join(f"{v:.3f}" for v in vals),
    })
    assert names == HEADLINE
    exact = 0
    for cut in range(0, len(line), 7):  # every 7th offset: ~1.5k cases
        tail = line[cut:]
        q = recover_queries({"tail": tail})
        assert q == {} or q == mins, (
            f"truncation at {cut} recovered {len(q)} wrong-or-partial "
            f"rows (first: {sorted(q.items())[:2]})"
        )
        if q:
            exact += 1
    # the trailer survives every truncation the driver can produce
    # (last 2000 chars of a ~10k line => cut >= len-2000)
    assert recover_queries({"tail": line[-2000:]}) == mins
    assert exact > 0


def test_bench_last_per_sf_slots(tmp_path, monkeypatch):
    """r13 follow-up: .bench_last.json keeps ONE SLOT PER SCALE
    FACTOR. The single-slot form meant a local sf0.01 run (the
    /verify bench leg) clobbered the sf0.1 record the driver's
    warm-up selection depends on — the sf guard stopped wrong-scale
    poisoning but lost the right-scale priors. Each sf now reads its
    own slot; legacy single-slot and flat records stay readable."""
    import bench

    rec = tmp_path / ".bench_last.json"
    monkeypatch.setattr(
        bench, "__file__", str(tmp_path / "bench.py")
    )

    # legacy {sf, queries} single slot: only its own sf reads it
    rec.write_text(json.dumps({"sf": 0.1, "queries": {"q": 2.0}}))
    assert bench._prior_mins(0.1).get("q") == 2.0
    assert "q" not in bench._prior_mins(0.01)

    # per-sf record: each scale resolves its own slot
    rec.write_text(json.dumps({"by_sf": {
        "0.1": {"q": 2.0}, "0.01": {"q": 0.3},
    }}))
    assert bench._prior_mins(0.1).get("q") == 2.0
    assert bench._prior_mins(0.01).get("q") == 0.3

    # pre-r12 flat record: accepted as sf0.1's by convention
    rec.write_text(json.dumps({"q": 1.5}))
    assert bench._prior_mins(0.1).get("q") == 1.5

    # recover_queries on the per-sf form prefers the driver scale
    assert recover_queries(
        {"by_sf": {"0.01": {"a": 0.1}, "0.1": {"a": 9.0}}}
    ) == {"a": 9.0}


def test_cross_scale_comparison_refused(tmp_path, capsys):
    """r13 follow-up: comparing records from DIFFERENT scale factors
    produced confident per-row FASTER/SLOWER verdicts (observed
    in-session: an sf0.1 driver record vs an sf0.01 local record).
    The sf now recovers from driver-wrapper tails too, and a
    cross-scale comparison refuses instead of reporting."""
    from tools import bench_compare

    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    # driver-wrapper form: sf only inside the recorded tail
    old.write_text(json.dumps({
        "n": 1, "rc": 0,
        "tail": '"queries": {"q": 2.0}, "queries_p50": {"q": 2.2}, '
                '"sf": 0.1, "calib": {}}',
        "parsed": {"queries": {"q": 2.0}},
    }))
    new.write_text(json.dumps(
        {"sf": 0.01, "queries": {"q": 0.3}}
    ))
    assert load_bench_file(old)["sf"] == 0.1
    bench_compare.main([str(old), str(new)])
    out = capsys.readouterr().out
    assert "VERDICT: incomparable (different scale factors)." in out
    assert "FASTER" not in out and "SLOWER" not in out

    # same sf still compares
    new.write_text(json.dumps({"sf": 0.1, "queries": {"q": 2.0}}))
    bench_compare.main([str(old), str(new)])
    out = capsys.readouterr().out
    assert "incomparable" not in out


def test_prior_mins_skips_wrong_scale_driver_records(tmp_path, monkeypatch):
    """The BENCH_r*.json fallback must not apply a record whose
    recovered sf differs from the requested one (driver records are
    sf0.1; at a LARGER requested sf their mins would wrongly skip
    warm-ups). Records without a recoverable sf keep the legacy
    behavior."""
    import bench

    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    (tmp_path / "BENCH_r01.json").write_text(json.dumps({
        "sf": 0.1, "queries": {"q": 2.0},
    }))
    assert bench._prior_mins(0.1).get("q") == 2.0
    assert "q" not in bench._prior_mins(0.01)
    # no recoverable sf: applied regardless (legacy)
    (tmp_path / "BENCH_r01.json").write_text(json.dumps({
        "queries": {"q": 2.0},
    }))
    assert bench._prior_mins(0.01).get("q") == 2.0


def test_rmw_migrates_flat_record_instead_of_discarding(tmp_path):
    """Review fix: _merge_own_record must MIGRATE a pre-r12 flat
    record to by_sf['0.1'] (the same convention _prior_mins reads it
    under), not silently drop it — discarding would re-lose the
    sf0.1 priors on the next cross-scale run."""
    import bench

    rec = tmp_path / ".bench_last.json"
    flat = {"q1": 1.5, "q2": 0.3}
    rec.write_text(json.dumps(flat))
    bench._merge_own_record(rec, 0.01, {"q1": 0.2})
    got = json.loads(rec.read_text())
    assert got == {"by_sf": {"0.1": flat, "0.01": {"q1": 0.2}}}

    # r12 single-slot form migrates too
    rec.write_text(json.dumps({"sf": 0.1, "queries": flat}))
    bench._merge_own_record(rec, 0.01, {"q1": 0.2})
    assert json.loads(rec.read_text()) == {
        "by_sf": {"0.1": flat, "0.01": {"q1": 0.2}}
    }

    # same-sf run replaces only its own slot
    bench._merge_own_record(rec, 0.1, {"q1": 9.0})
    assert json.loads(rec.read_text()) == {
        "by_sf": {"0.1": {"q1": 9.0}, "0.01": {"q1": 0.2}}
    }


def test_every_tool_is_reached():
    """Each ``tools/*.py`` script is run by a test or by the verify
    workflow: its module path (``tools.NAME``) or file path
    (``tools/NAME.py``) appears in some ``tests/*.py`` file or in the
    verify SKILL.md. A script named nowhere is deleted, and the
    SCALE.md/COVERAGE.md rows it sourced name the last commit that
    had it."""
    import re

    texts = [p.read_text() for p in sorted((REPO / "tests").glob("*.py"))]
    texts.append((REPO / ".claude/skills/verify/SKILL.md").read_text())
    unreached = [
        py.name
        for py in sorted((REPO / "tools").glob("*.py"))
        if py.stem != "__init__"
        and not any(
            re.search(rf"\btools[./]{re.escape(py.stem)}\b", t) for t in texts
        )
    ]
    assert unreached == []
