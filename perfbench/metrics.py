"""Metric names, percentile rules and per-layer aggregation.

The names here are the ones ``BENCHMARK.json`` lists; a test keeps the
two in step.
"""

from __future__ import annotations

import math
import statistics

from perfbench.trace import COUNTERS, Span

# End-to-end metrics: (name, unit, better). Every workload reports all
# of them; what the "operation" and the "result" are depends on the
# workload (see METRICS.md).
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_ms", "ms", "lower"),
    ("stored_bytes_per_input_byte", "B/B", "lower"),
]

# Spans recorded around calls into the program's layers.
SPANS = [
    "session.get_spark",
    "operators.bronze",
    "operators.silver",
    "operators.gold",
    "operators.retrieval.build_rag_indexes",
    "operators.pipeline.run_medallion_incremental",
    "operators.retrieval.append_to_bm25_index",
    "operators.similarity.append_to_ivf_index",
    "operators.retrieval.rag_read_path",
    "operators.retrieval.bm25_topk_from_index",
    "operators.similarity.ivf_topk_from_index",
]
WRITING_SPANS = SPANS[1:8]
# Session start submits no Spark jobs: its job counters would read 0 on
# every run, so only its wall time is reported.
NO_JOB_SPANS = ("session.get_spark",)

_COUNTER_UNITS = {
    "wall_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "exec_run_s": ("s", "lower"),
    "exec_cpu_s": ("s", "lower"),
    "shuffle_write_bytes": ("B", "lower"),
    "input_bytes": ("B", "lower"),
    "busy_ratio": ("ratio", "higher"),
}

EXTRAS = [
    ("operators.silver.rows_out_per_in", "ratio", "higher"),
    ("operators.gold.chunks_per_doc", "ratio", "lower"),
    ("operators.pipeline.admit_ratio", "ratio", "higher"),
    ("operators.pipeline.run_medallion_incremental.write_amp", "B/B", "lower"),
    ("operators.retrieval.rag_read_path.recall", "ratio", "higher"),
    ("operators.retrieval.index_files", "count", "lower"),
    ("operators.similarity.index_files", "count", "lower"),
    ("tracing_overhead_frac", "ratio", "lower"),
]


def _counters(span: str) -> tuple[str, ...]:
    return ("wall_s",) if span in NO_JOB_SPANS else COUNTERS


def per_layer_defs() -> list[tuple[str, str, str]]:
    out = []
    for span in SPANS:
        for c in _counters(span):
            out.append((f"{span}.{c}", *_COUNTER_UNITS[c]))
        if span in WRITING_SPANS:
            out.append((f"{span}.bytes_written", "B", "lower"))
            out.append((f"{span}.files_written", "count", "lower"))
    return out + EXTRAS


def tail_percentile(samples: list[float], q: float = 0.75, min_beyond: int = 10):
    """Nearest-rank ``q`` percentile, or None unless at least
    ``min_beyond`` samples lie beyond it (so p75 needs 40 samples)."""
    n = len(samples)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < min_beyond:
        return None
    return sorted(samples)[rank - 1]


_PHASE_PRIORITY = ("loop", "setup", "tour")


def layer_metrics(spans: list[Span]) -> dict[str, float]:
    """Per-span medians over calls. A span's calls in the measured loop
    are used when there are any, else its set-up calls, else the calls
    made on the tour of the other workloads' layers."""
    out: dict[str, float] = {}
    for name in SPANS:
        calls = []
        for phase in _PHASE_PRIORITY:
            calls = [s for s in spans if s.name == name and s.phase == phase]
            if calls:
                break
        if not calls:
            continue
        for c in _counters(name):
            out[f"{name}.{c}"] = statistics.median(s.counters[c] for s in calls)
        if name in WRITING_SPANS:
            out[f"{name}.bytes_written"] = statistics.median(s.bytes_written for s in calls)
            out[f"{name}.files_written"] = statistics.median(s.files_written for s in calls)
    return out
