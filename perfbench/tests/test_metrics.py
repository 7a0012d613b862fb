import json
import os
import re

from perfbench import metrics
from perfbench.trace import Span

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_tail_percentile_needs_ten_samples_beyond():
    assert metrics.tail_percentile(list(range(39))) is None
    assert metrics.tail_percentile(list(range(40))) == 29  # 10 samples above it
    assert metrics.tail_percentile(list(range(100, 0, -1))) == 75
    assert metrics.tail_percentile([]) is None
    assert metrics.tail_percentile(list(range(20)), q=0.5) == 9


def test_layer_metrics_prefer_loop_calls():
    def span(name, phase, wall):
        s = Span(name, phase, "w", 0.0, wall * 1e3, bytes_written=1, files_written=1)
        s.counters = {c: wall for c in metrics.COUNTERS}
        return s

    spans = [
        span("operators.bronze", "setup", 9.0),
        span("operators.bronze", "loop", 1.0),
        span("operators.bronze", "loop", 3.0),
        span("operators.gold", "tour", 5.0),
    ]
    out = metrics.layer_metrics(spans)
    assert out["operators.bronze.wall_s"] == 2.0
    assert out["operators.gold.wall_s"] == 5.0
    assert "operators.silver.wall_s" not in out


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == \
        metrics.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == \
        metrics.per_layer_defs()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
