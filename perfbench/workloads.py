"""The workloads, driven through the program's public functions.

Each workload generates its inputs from the seed (untimed), sets up
(session start, warm-up pass, base build), then runs a closed loop of
one client issuing its unit operation back to back until the time is
up:

- ``full_refresh``: one batch job, raw JSON -> bronze -> silver -> gold
  (each persisted with ``write_layer``) -> ``build_rag_indexes``.
- ``rag_serve``: one single-query ``rag_read_path`` served from the
  persisted BM25 and IVF indexes. Set-up builds the store and the
  indexes from a base crawl, then applies one crawl batch the way a live
  deployment does: ``run_medallion_incremental`` followed by uncompacted
  BM25 and IVF appends of the admitted documents.

After the loop each workload checks its outputs against an independent
computation; a mismatch counts as a failed operation.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

from perfbench import gen
from perfbench.checks import expected_layer_counts, reference_silver
from perfbench.trace import Tracer, tree_bytes

SELECTORS = ["title", "content", "author", "language", "doc_id"]
ID_COLS = ("url", "source", "title", "doc_id", "lang")
ORDER_COLS = ("processed_at", "doc_id")
EMB_DIM = 64
NUM_CENTROIDS = 16
NPROBE = 4
BM25_BUCKETS = 64


@dataclass(frozen=True)
class Scale:
    docs: int  # base corpus documents
    files: int = 4  # JSON-lines files the base corpus is spread over
    batch_docs: int = 0  # rag_serve: documents in the crawl batch
    queries: int = 0  # rag_serve: query documents


SCALES = {
    "full_refresh": Scale(docs=1000, files=4),
    "rag_serve": Scale(docs=1000, batch_docs=200, queries=8),
}
# A traced run also drives the other workload once at this size, so that
# every run reports every layer.
TOUR_SCALES = {
    "full_refresh": Scale(docs=100, files=1),
    "rag_serve": Scale(docs=100, batch_docs=40, queries=1),
}


def _read_raw(spark, paths):
    """Raw crawl records -> the keyed shape the medallion functions take."""
    from pyspark.sql import functions as F

    from lakehouse_to_rag_spark.sources.raw_json import read_raw_json

    raw = read_raw_json(spark, paths, SELECTORS)
    return raw.withColumn("doc_id", F.col("doc_id").cast("long"))\
        .withColumnRenamed("language", "lang")


def _embed(docs):
    from lakehouse_to_rag_spark.operators.text_analysis import embed_hashed_tf

    return embed_hashed_tf(docs, dim=EMB_DIM, id_col="doc_id", text_col="content")\
        .withColumnRenamed("doc_id", "vec_id")


def _write_bronze_silver(spark, tr: Tracer, raw, layers: str) -> None:
    from lakehouse_to_rag_spark.operators.bronze import bronze_transform
    from lakehouse_to_rag_spark.operators.pipeline import DETERMINISTIC_TS as TS
    from lakehouse_to_rag_spark.operators.silver import silver_transform
    from lakehouse_to_rag_spark.sources.lakehouse import read_layer, write_layer

    with tr.span("operators.bronze", watch=[layers]):
        write_layer(bronze_transform(raw, id_cols=ID_COLS, processed_at=TS), f"{layers}/bronze")
    with tr.span("operators.silver", watch=[layers]):
        silver = silver_transform(
            read_layer(spark, f"{layers}/bronze"), order_cols=ORDER_COLS, silver_processed_at=TS
        )
        write_layer(silver, f"{layers}/silver")


def _parquet_rows(path: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


def _index_files(path: str) -> int:
    """Parquet files a full scan of an index layout opens (control
    tables under ``_``-prefixed directories are not counted)."""
    n = 0
    for _, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        n += sum(1 for f in names if f.endswith(".parquet"))
    return n


class Workload:
    name = ""

    def __init__(self, seed: int, scale: Scale, root: str, tracer: Tracer):
        self.seed, self.scale, self.root, self.tr = seed, scale, root, tracer
        self.spark = None
        self.failed = 0
        os.makedirs(root, exist_ok=True)

    def attach(self, spark) -> None:
        """Bind to a (re)started session."""
        self.spark = spark

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> int:
        """One unit of work; returns the items it completed."""
        raise NotImplementedError

    def probe(self, i: int) -> None:
        """Traced runs only: standalone spans after op ``i``, untimed."""

    def check(self) -> None:
        """Compare outputs with an independent computation; adds
        mismatches to ``failed``."""
        raise NotImplementedError

    def stored_bytes_per_input_byte(self) -> float:
        raise NotImplementedError

    def extras(self) -> dict[str, float]:
        """Per-layer metrics that are not span counters."""
        return {}


class FullRefresh(Workload):
    name = "full_refresh"

    def __init__(self, *a):
        super().__init__(*a)
        s = self.scale
        crawl = gen.make_crawl(self.seed, s.docs)
        self.n_docs = len(crawl.base)
        self.raw = gen.write_split(crawl.base, os.path.join(self.root, "raw"), s.files)
        self.raw_bytes = sum(map(os.path.getsize, self.raw))
        self.outputs: list[str] = []

    def _refresh(self, raw_files: list[str], out: str) -> None:
        from lakehouse_to_rag_spark.operators.gold import gold_transform
        from lakehouse_to_rag_spark.operators.retrieval import build_rag_indexes
        from lakehouse_to_rag_spark.sources.lakehouse import read_layer, write_layer

        spark, tr = self.spark, self.tr
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        _write_bronze_silver(spark, tr, _read_raw(spark, raw_files), out)
        with tr.span("operators.gold", watch=[out]):
            gold = gold_transform(read_layer(spark, f"{out}/silver"), with_index=True)
            write_layer(gold, f"{out}/gold")
        with tr.span("operators.retrieval.build_rag_indexes", watch=[out]):
            build_rag_indexes(
                read_layer(spark, f"{out}/silver"), f"{out}/index", text_col="content"
            ).collect()

    def setup(self) -> None:
        # warm-up pass: the first refresh in a session compiles its plans
        self._refresh(self.raw, os.path.join(self.root, "out-warm"))

    def op(self, i: int) -> int:
        out = os.path.join(self.root, f"out-{i}")
        self.outputs.append(out)
        self._refresh(self.raw, out)
        return self.n_docs

    def _done(self) -> list[str]:
        """Outputs of the ops that completed."""
        return [o for o in self.outputs if os.path.isdir(f"{o}/index")]

    def _counts(self, out: str) -> dict[str, int]:
        return {k: _parquet_rows(f"{out}/{k}") for k in ("bronze", "silver", "gold")}

    def check(self) -> None:
        """Layer row counts against DuckDB over the same JSON files."""
        exp = expected_layer_counts(self.raw)
        for out in self._done():
            got = self._counts(out)
            if got != exp:
                print(f"full_refresh: {out} counts {got} != expected {exp}", file=sys.stderr)
                self.failed += 1

    def stored_bytes_per_input_byte(self) -> float:
        return tree_bytes([self._done()[-1]]) / self.raw_bytes

    def extras(self) -> dict[str, float]:
        out = self._done()[-1]
        c = self._counts(out)
        return {
            "operators.silver.rows_out_per_in": c["silver"] / c["bronze"],
            "operators.gold.chunks_per_doc": c["gold"] / c["silver"],
            "operators.retrieval.index_files": _index_files(f"{out}/index/bm25"),
            "operators.similarity.index_files": _index_files(f"{out}/index/ivf"),
        }


class RagServe(Workload):
    name = "rag_serve"

    def __init__(self, *a):
        super().__init__(*a)
        s = self.scale
        crawl = gen.make_crawl(self.seed, s.docs, n_batches=1, batch_docs=s.batch_docs,
                               n_queries=s.queries)
        self.query_ids = crawl.query_ids
        self.raw = gen.write_split(crawl.base, os.path.join(self.root, "raw"), s.files)
        batch = crawl.batches[0]
        self.batch = gen.write_split(batch, os.path.join(self.root, "raw_batch"), 1)
        self.batch_ids = (int(batch[0]["doc_id"]), int(batch[-1]["doc_id"]))
        self.batch_line_bytes = {int(r["doc_id"]): len(gen.record_line(r)) for r in batch}
        self.raw_bytes = sum(map(os.path.getsize, self.raw + self.batch))
        self.state = os.path.join(self.root, "state")
        self.layers, self.bm25, self.ivf = (f"{self.state}/{d}" for d in ("layers", "bm25", "ivf"))
        self.served: dict[int, list[int]] = {}
        self.crawl_written = 0

    def attach(self, spark) -> None:
        super().attach(spark)
        if os.path.isdir(self.ivf):
            self._open()

    def _open(self) -> None:
        """The served store: silver documents and, as the vector store,
        the IVF index's vectors."""
        from lakehouse_to_rag_spark.sources.lakehouse import read_layer

        self.store = read_layer(self.spark, f"{self.layers}/silver")
        self.emb_store = read_layer(self.spark, self.ivf).select("vec_id", "embedding")

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from lakehouse_to_rag_spark.operators.pipeline import run_medallion_incremental
        from lakehouse_to_rag_spark.operators.retrieval import (
            append_to_bm25_index,
            write_bm25_index,
        )
        from lakehouse_to_rag_spark.operators.similarity import (
            append_to_ivf_index,
            write_ivf_index,
        )
        from lakehouse_to_rag_spark.sources.lakehouse import read_layer

        spark, tr = self.spark, self.tr
        shutil.rmtree(self.state, ignore_errors=True)
        # base build: store layers and both indexes over the base crawl
        _write_bronze_silver(spark, tr, _read_raw(spark, self.raw), self.layers)
        silver = read_layer(spark, f"{self.layers}/silver")
        write_bm25_index(silver, self.bm25, n_buckets=BM25_BUCKETS, id_col="doc_id",
                         text_col="content")
        write_ivf_index(_embed(silver), self.ivf, num_centroids=NUM_CENTROIDS, id_col="vec_id")
        # one crawl batch, applied as a live deployment applies it
        with tr.span("operators.pipeline.run_medallion_incremental", watch=[self.layers]) as s:
            silver = run_medallion_incremental(spark, [_read_raw(spark, self.batch)],
                                               self.layers)["silver"]
        self.crawl_written = s.bytes_written if s else 0
        admitted = silver.filter(F.col("doc_id").between(*self.batch_ids))
        with tr.span("operators.retrieval.append_to_bm25_index", watch=[self.bm25]):
            append_to_bm25_index(spark, self.bm25, admitted, id_col="doc_id", text_col="content")
        with tr.span("operators.similarity.append_to_ivf_index", watch=[self.ivf]):
            append_to_ivf_index(spark, self.ivf, _embed(admitted), id_col="vec_id")
        self._open()
        # warm-up pass: the first query in a session compiles the read
        # path's plans; the loop starts from the first query id
        self._serve(self.query_ids[-1:])

    def _serve(self, queries: list[int], served: bool = True) -> list:
        from lakehouse_to_rag_spark.operators.retrieval import bm25_topk_from_index, rag_read_path
        from lakehouse_to_rag_spark.operators.similarity import ivf_topk_from_index

        spark, bm25, ivf = self.spark, self.bm25, self.ivf
        backends = {}
        if served:
            backends = {
                "lexical_topk": lambda docs, qs, k, id_col, text_col:
                    bm25_topk_from_index(spark, bm25, qs, k=k),
                "vector_topk": lambda emb, qs, k:
                    ivf_topk_from_index(spark, ivf, qs, k=k, nprobe=NPROBE),
            }
        return rag_read_path(self.store, self.emb_store, queries, text_col="content",
                             **backends).collect()

    def op(self, i: int) -> int:
        q = self.query_ids[i % len(self.query_ids)]
        with self.tr.span("operators.retrieval.rag_read_path"):
            rows = self._serve([q])
        ids = [r["doc_id"] for r in sorted(rows, key=lambda r: r["mmr_rank"])]
        ranks = sorted(r["mmr_rank"] for r in rows)
        if not ids or len(set(ids)) != len(ids) or ranks != list(range(1, len(ids) + 1)) \
                or q in ids:
            print(f"rag_serve: malformed result for query {q}: {rows}", file=sys.stderr)
            self.failed += 1
        self.served[q] = ids
        return 1

    def probe(self, i: int) -> None:
        from pyspark.sql import functions as F

        from lakehouse_to_rag_spark.operators.retrieval import bm25_topk_from_index
        from lakehouse_to_rag_spark.operators.similarity import ivf_topk_from_index

        q = self.query_ids[i % len(self.query_ids)]
        text = self.store.filter(F.col("doc_id") == q).select(
            F.col("doc_id").alias("query_id"), F.col("content").alias("query")
        )
        with self.tr.span("operators.retrieval.bm25_topk_from_index"):
            bm25_topk_from_index(self.spark, self.bm25, text, k=11).collect()
        with self.tr.span("operators.similarity.ivf_topk_from_index"):
            ivf_topk_from_index(self.spark, self.ivf, self.emb_store.filter(F.col("vec_id") == q),
                                k=10, nprobe=NPROBE).collect()

    def _silver(self) -> dict[int, str]:
        import pyarrow.dataset as ds

        t = ds.dataset(f"{self.layers}/silver", format="parquet").to_table(
            columns=["doc_id", "content"])
        return dict(zip(t.column("doc_id").to_pylist(), t.column("content").to_pylist()))

    def check(self) -> None:
        """The maintained silver layer must equal one batch job over the
        base crawl plus the crawl batch (DuckDB), and the BM25 index
        must count every silver document."""
        import pyarrow.parquet as pq

        got, want = self._silver(), reference_silver(self.raw + self.batch)
        n_docs = pq.read_table(f"{self.bm25}/_stats").column("n_docs")[0].as_py()
        if got != want or n_docs != len(got):
            print(f"rag_serve: silver {len(got)} rows vs reference {len(want)} "
                  f"({len(got.items() & want.items())} equal); bm25 n_docs {n_docs}",
                  file=sys.stderr)
            self.failed += 1

    def recall(self) -> float:
        """Mean share of the exact in-memory read path's top-k (BM25
        over the store, brute-force cosine kNN) that the served top-k
        returned, over the queries served so far."""
        qs = sorted(self.served)
        exact: dict[int, set] = {q: set() for q in qs}
        for r in self._serve(qs, served=False):
            exact[r["query_id"]].add(r["doc_id"])
        return statistics.mean(len(exact[q] & set(self.served[q])) / max(len(exact[q]), 1)
                               for q in qs)

    def stored_bytes_per_input_byte(self) -> float:
        return tree_bytes([self.state]) / self.raw_bytes

    def extras(self) -> dict[str, float]:
        lo, hi = self.batch_ids
        admitted = [i for i in self._silver() if lo <= i <= hi]
        adm_bytes = sum(self.batch_line_bytes[i] for i in admitted)
        return {
            "operators.retrieval.rag_read_path.recall": self.recall(),
            "operators.pipeline.admit_ratio": len(admitted) / (hi - lo + 1),
            "operators.pipeline.run_medallion_incremental.write_amp":
                self.crawl_written / max(adm_bytes, 1),
            "operators.retrieval.index_files": _index_files(self.bm25),
            "operators.similarity.index_files": _index_files(self.ivf),
        }


WORKLOADS = {w.name: w for w in (FullRefresh, RagServe)}
MIN_OPS = 2


class Host:
    """Owns the Spark session: (re)starts it, timing the start as the
    ``session.get_spark`` span, and switches the event log per context."""

    def __init__(self, cores: int, tracer: Tracer):
        self.cores, self.tr = cores, tracer
        self.spark = None

    def start(self, event_log: bool | None = None):
        from pyspark import SparkContext

        from lakehouse_to_rag_spark.session import get_spark

        self.stop()
        if event_log is not None:
            # the JVM outlives its contexts; a new context reads the
            # spark.* system properties when it is created
            SparkContext._jvm.java.lang.System.setProperty(
                "spark.eventLog.enabled", str(event_log).lower()
            )
        with self.tr.span("session.get_spark"):
            self.spark = get_spark("perfbench", cpus=self.cores)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _loop(wl: Workload, seconds: float, probe: bool) -> tuple[list[float], int]:
    """Closed loop, one client: ops back to back for ``seconds`` and at
    least ``MIN_OPS``. Returns (latencies_s, items completed)."""
    lat: list[float] = []
    items = 0
    start = time.perf_counter()
    while time.perf_counter() - start < seconds or len(lat) < MIN_OPS:
        i = len(lat)
        t0 = time.perf_counter()
        try:
            items += wl.op(i)
        except Exception:
            traceback.print_exc()
            wl.failed += 1
        lat.append(time.perf_counter() - t0)
        if probe:
            wl.probe(i)
    return lat, items


def _tour(name: str, seed: int, work: str, spark, tr: Tracer) -> dict[str, float]:
    """Drive every other workload once at tour size, recording its
    spans (phase "tour"); returns their non-span metrics."""
    extras: dict[str, float] = {}
    for other, cls in WORKLOADS.items():
        if other == name:
            continue
        sub = Tracer(True, other)
        sub.phase = "tour"
        t = cls(seed, TOUR_SCALES[other], os.path.join(work, "tour", other), sub)
        t.attach(spark)
        t.setup()
        t.op(0)
        t.probe(0)
        tr.spans += sub.spans
        extras = {**t.extras(), **extras}
    return extras


def run(name: str, seed: int, seconds: float, traced: bool, work: str, cores: int,
        event_log_dir: str, trace_dir: str) -> dict:
    """One benchmark run; returns the result object the CLI prints.

    Untraced: set-up, loop, check. Traced (event log on from JVM
    start): set-up and the loop with spans, a tour of the other
    workload, then a fresh context with the event log off for an
    untraced loop, whose result against the traced one gives the
    tracing overhead."""
    from perfbench.metrics import END_TO_END, layer_metrics, per_layer_defs
    from perfbench.trace import assign_jobs, read_event_logs

    tr = Tracer(traced, name)
    wl = WORKLOADS[name](seed, SCALES[name], os.path.join(work, name), tr)
    host = Host(cores, tr)
    try:
        # One set-up per run: with the JVM start and cold JIT it takes
        # 25-35 s, and a comparison of two commits runs each workload
        # some twenty times, so a second, warm set-up does not fit.
        t0 = time.perf_counter()
        wl.attach(host.start())
        wl.setup()
        setup_s = time.perf_counter() - t0
        if traced:
            tr.phase = "loop"
            traced_lat, _ = _loop(wl, seconds, probe=True)
            extras = wl.extras()
            extras = {**_tour(name, seed, work, host.spark, tr), **extras}
            tr.enabled = False
            wl.attach(host.start(event_log=False))
        lat, items = _loop(wl, seconds, probe=False)
        wl.check()
    finally:
        host.stop()
    p50 = statistics.median(lat)
    attempted = len(lat)
    if traced:
        attempted += len(traced_lat)
        unclaimed = assign_jobs(tr.spans, read_event_logs(event_log_dir), cores)
        values = {**layer_metrics(tr.spans), **extras}
        values["tracing_overhead_frac"] = statistics.median(traced_lat) / p50 - 1.0
        _write_trace(trace_dir, name, seed, tr, len(unclaimed))
        defs = per_layer_defs()
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_ms": p50 * 1e3,
            "stored_bytes_per_input_byte": wl.stored_bytes_per_input_byte(),
        }
        defs = END_TO_END
    result = {
        "correct": wl.failed == 0,
        "attempted": attempted,
        "failed": wl.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u, _ in defs},
    }
    _report(name, result, lat, items, setup_s)
    return result


def _write_trace(out: str, name: str, seed: int, tr: Tracer, unclaimed: int) -> None:
    """Keep a traced run's spans, each tagged with its workload and
    phase, for reading after the run."""
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{name}-{seed}.json"), "w") as f:
        json.dump({"workload": name, "seed": seed, "unclaimed_jobs": unclaimed,
                   "spans": [s.__dict__ for s in tr.spans]}, f, indent=1)


def _report(name: str, result: dict, lat: list[float], items: int, setup_s: float) -> None:
    """Readable summary lines, printed before the result line."""
    from perfbench.metrics import tail_percentile

    p75 = tail_percentile(lat)
    tail = f"{p75 * 1e3:.1f} ms" if p75 is not None else f"n/a (needs 40 ops, have {len(lat)})"
    print(f"# {name}: {len(lat)} ops {[round(x, 2) for x in lat]} s, "
          f"{items / sum(lat):.3f} items/s, p75 {tail}, "
          f"set-up {setup_s:.2f} s, "
          f"failed_ops_frac {result['failed'] / result['attempted']:.4f}")
    for k, v in result["metrics"].items():
        print(f"#   {k} = {v['value']:.6g} {v['unit']}")
