"""BM25 + reciprocal-rank-fusion retrieval: hand-computed scores on a
tiny corpus, ranking invariants, fusion arithmetic, and the hybrid
contract (self-exclusion, contiguous ranks, k bound). Oracle-level
value parity for the registry entries runs in test_oracle_parity.py
like every other operator."""

import math

import pytest

from pyspark.sql import functions as F

from lakehouse_to_rag_spark.operators.retrieval import (
    bm25_topk,
    bm25_topk_from_index,
    hybrid_retrieval_rrf,
    rrf_fuse,
    write_bm25_index,
)
from tests.conftest import jobs_between_markers


def _queries(spark, rows):
    return spark.createDataFrame(rows, "query_id long, query string")


class TestBm25:
    def test_hand_computed_score(self, spark):
        """3-doc corpus, 1-term query: verify the exact Lucene-variant
        BM25 number for the matching doc."""
        docs = spark.createDataFrame(
            [
                (0, "apple banana banana"),
                (1, "cherry banana"),
                (2, "durian elderberry fig grape"),
            ],
            "doc_id long, text string",
        )
        out = bm25_topk(docs, _queries(spark, [(0, "apple")]), k=3).collect()
        # df(apple)=1, N=3 -> idf = round(ln(1 + 2.5/1.5), 6)
        idf = round(math.log(1 + (3 - 1 + 0.5) / (1 + 0.5)), 6)
        # tf=1, dl=3, avgdl=(3+2+4)/3=3 -> denom = 1 + 1.2*(0.25+0.75*1)
        # micro-unit pipeline: floor-quantized contribution, exact
        # integer sum, floor-form 4dp (the engine-portable rounding)
        raw = idf * 1 * (1.2 + 1.0) / (1 + 1.2 * (1 - 0.75 + 0.75 * 3 / 3.0))
        c_micro = math.floor(raw * 1000000.0 + 0.5)
        want = math.floor(c_micro / 100.0 + 0.5) / 10000.0
        assert len(out) == 1
        r = out[0]
        assert (r["query_id"], r["rank"], r["doc_id"]) == (0, 1, 0)
        assert r["score"] == want

    def test_term_frequency_saturates_and_df_discriminates(self, spark):
        """More matched query terms beats one repeated term (BM25 tf
        saturation), and rare terms outweigh common ones."""
        docs = spark.createDataFrame(
            [
                (0, "common common common common"),
                (1, "common rare"),
                (2, "common filler filler filler"),
                (3, "filler filler filler filler"),
            ],
            "doc_id long, text string",
        )
        out = {
            (r["query_id"], r["rank"]): r["doc_id"]
            for r in bm25_topk(
                docs, _queries(spark, [(0, "common rare")]), k=4
            ).collect()
        }
        # doc 1 matches both terms incl. the rarest -> top
        assert out[(0, 1)] == 1

    def test_rank_contract(self, spark, sf_dir):
        from lakehouse_to_rag_spark.sources.tables import load_table

        d = load_table(spark, sf_dir, "documents")
        out = bm25_topk(
            d, _queries(spark, [(7, "spark table join")]), k=5
        ).collect()
        ranks = sorted(r["rank"] for r in out)
        assert ranks == list(range(1, len(out) + 1))
        by_rank = sorted(out, key=lambda r: r["rank"])
        scores = [r["score"] for r in by_rank]
        assert scores == sorted(scores, reverse=True)

    def test_query_term_dedup(self, spark):
        """Duplicate words in the query must not double-count."""
        docs = spark.createDataFrame(
            [(0, "apple banana"), (1, "apple cherry")],
            "doc_id long, text string",
        )
        once = {
            r["doc_id"]: r["score"]
            for r in bm25_topk(docs, _queries(spark, [(0, "apple")]), k=2).collect()
        }
        twice = {
            r["doc_id"]: r["score"]
            for r in bm25_topk(
                docs, _queries(spark, [(0, "apple apple")]), k=2
            ).collect()
        }
        assert once == twice


class TestRrfFusion:
    def test_hand_computed_fusion(self, spark):
        a = spark.createDataFrame(
            [(0, 1, 10), (0, 2, 20), (0, 3, 30)],
            "query_id long, rank long, doc_id long",
        )
        b = spark.createDataFrame(
            [(0, 1, 20), (0, 2, 40)],
            "query_id long, rank long, doc_id long",
        )
        out = {
            r["doc_id"]: (r["rank"], r["rrf_score"])
            for r in rrf_fuse(a, b, k=4, c=60).collect()
        }
        # doc 20: 1/62 + 1/61 (both lists); doc 10: 1/61; doc 40: 1/62;
        # doc 30: 1/63
        assert out[20][0] == 1
        assert out[20][1] == round(1 / 62 + 1 / 61, 6)
        assert out[10] == (2, round(1 / 61, 6))
        assert out[40] == (3, round(1 / 62, 6))
        assert out[30] == (4, round(1 / 63, 6))

    def test_single_source_survives_full_outer(self, spark):
        """A doc present in only one list still fuses (full outer, not
        inner)."""
        a = spark.createDataFrame(
            [(0, 1, 10)], "query_id long, rank long, doc_id long"
        )
        b = spark.createDataFrame(
            [], "query_id long, rank long, doc_id long"
        )
        out = rrf_fuse(a, b, k=5).collect()
        assert len(out) == 1 and out[0]["doc_id"] == 10

    def test_driver_fusion_equals_rrf_fuse(self, spark):
        """Seeded property: the driver fusion (``_fuse_rows``) returns
        the rows of the Spark composition it replaces — the lexical
        self-hit drop and re-rank, then ``rrf_fuse`` — on random ranked
        lists with score ties, documents in only one list and
        self-hits."""
        import random

        from pyspark.sql import Window
        from pyspark.sql import types as T

        from lakehouse_to_rag_spark.operators.retrieval import _fuse_rows

        rng = random.Random(9)
        schema = "query_id long, rank long, doc_id long"
        for k, candidates, c in ((3, 4, 60), (5, 6, 1), (8, 3, 0), (4, 5, 2)):
            lex, vec = [], []
            for q in range(4):
                ld = rng.sample(range(12), rng.randint(0, 8))
                if q not in ld and rng.random() < 0.7:
                    ld.insert(rng.randrange(len(ld) + 1), q)  # self-hit
                vd = rng.sample([d for d in range(12) if d != q],
                                rng.randint(0, 6))
                lex += [(q, r, d) for r, d in enumerate(ld, 1)]
                vec += [(q, r, d) for r, d in enumerate(vd, 1)]
            ranked = Window.partitionBy("query_id").orderBy("rank")
            lex_df = (
                spark.createDataFrame(lex, schema)
                .filter(F.col("query_id") != F.col("doc_id"))
                .withColumn("rank", F.row_number().over(ranked))
                .filter(F.col("rank") <= candidates)
            )
            want = rrf_fuse(
                lex_df, spark.createDataFrame(vec, schema), k=k, c=c
            ).collect()
            got = _fuse_rows(spark, lex, vec, k, candidates, c, T.LongType())
            assert sorted(got) == sorted(map(tuple, want)), (k, candidates, c)
            assert want


class TestHybrid:
    def test_contract(self, spark, sf_dir):
        from lakehouse_to_rag_spark.sources.tables import load_table

        d = load_table(spark, sf_dir, "documents")
        e = load_table(spark, sf_dir, "embeddings")
        out = hybrid_retrieval_rrf(d, e, query_ids=[0, 1, 2], k=5).collect()
        assert len(out) == 15
        for qid in (0, 1, 2):
            rows = sorted(
                (r for r in out if r["query_id"] == qid),
                key=lambda r: r["rank"],
            )
            assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
            assert all(r["doc_id"] != qid for r in rows), "self excluded"
            scores = [r["rrf_score"] for r in rows]
            assert scores == sorted(scores, reverse=True)

    def test_pluggable_vector_backend_ivf_full_nprobe_equals_bruteforce(
        self, spark, sf_dir
    ):
        """ADVICE/VERDICT r4: the vector side is a backend parameter.
        IVF probing ALL centroids scores every corpus vector, so the
        fused output must be identical to the default brute-force
        backend — same rows, same scores."""
        from lakehouse_to_rag_spark.operators.similarity import ivf_topk
        from lakehouse_to_rag_spark.sources.tables import load_table

        d = load_table(spark, sf_dir, "documents")
        e = load_table(spark, sf_dir, "embeddings")
        base = sorted(
            map(
                tuple,
                hybrid_retrieval_rrf(d, e, query_ids=[0, 1, 2], k=5).collect(),
            )
        )
        ivf = sorted(
            map(
                tuple,
                hybrid_retrieval_rrf(
                    d,
                    e,
                    query_ids=[0, 1, 2],
                    k=5,
                    vector_topk=lambda emb, q, k: ivf_topk(
                        emb, q, k, num_centroids=8, nprobe=8
                    ),
                ).collect(),
            )
        )
        assert base == ivf and len(base) == 15


class TestPersistedBm25Index:
    def test_persisted_equals_in_memory(self, spark, sf_dir, tmp_path):
        """write_bm25_index + bm25_topk_from_index must reproduce
        bm25_topk EXACTLY (ranks and 4dp scores) — the scoring tail is
        shared code, so any gap would mean the persisted layout lost
        information."""
        from lakehouse_to_rag_spark.sources.tables import load_table

        d = load_table(spark, sf_dir, "documents")
        queries = d.filter(F.col("doc_id") < 3).select(
            F.col("doc_id").alias("query_id"), F.col("text").alias("query")
        )
        path = str(tmp_path / "bm25_index")
        write_bm25_index(d, path, n_buckets=32)
        got = sorted(
            map(
                tuple,
                bm25_topk_from_index(spark, path, queries, k=5).collect(),
            )
        )
        want = sorted(map(tuple, bm25_topk(d, queries, k=5).collect()))
        assert got == want and len(got) == 15

    def test_bucket_pruning_on_query_terms(self, spark, sf_dir, tmp_path):
        """A short query touches few word-hash buckets: the executed
        postings scan must report numPartitions == the query's distinct
        bucket count, not the full bucket fan-out (same directory-level
        pruning contract as the IVF index)."""
        import pathlib

        from test_sources import _scan_metrics

        from lakehouse_to_rag_spark.sources.tables import load_table

        d = load_table(spark, sf_dir, "documents")
        path = str(tmp_path / "bm25_index")
        write_bm25_index(d, path, n_buckets=64)
        bucket_dirs = {
            p.name
            for p in pathlib.Path(path).iterdir()
            if p.name.startswith("bucket=")
        }
        assert len(bucket_dirs) >= 16  # real corpus fans out widely

        queries = _queries(spark, [(0, "the data pipeline")])
        res = bm25_topk_from_index(spark, path, queries, k=5)
        assert res.collect()
        scans = _scan_metrics(res, {"numPartitions"})
        parts = [m["numPartitions"] for m in scans if "numPartitions" in m]
        assert parts, "no partitioned scan found in executed plan"
        # <= 3 distinct words -> <= 3 buckets listed
        assert max(parts) <= 3 < len(bucket_dirs)


class TestMMRRerank:
    """mmr_rerank: greedy diversity re-ranking over kNN candidates."""

    def _mk(self, spark, vecs):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )

    def test_lambda_one_is_pure_relevance(self, spark, sf_dir):
        """At lam=1 the penalty term vanishes: MMR order == kNN order."""
        from lakehouse_to_rag_spark.operators.retrieval import mmr_rerank
        from lakehouse_to_rag_spark.operators.similarity import knn_bruteforce

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = e.filter(F.col("vec_id") < 3)
        got = {
            (r["query_id"], r["mmr_rank"]): r["neighbor_id"]
            for r in mmr_rerank(e, q, k_candidates=10, k=5, lam=1.0).collect()
        }
        want = {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in knn_bruteforce(e, q, k=5).collect()
        }
        assert got == want

    def test_redundant_candidate_demoted(self, spark):
        """Corpus: query q=e1; a=e1-ish, a2=duplicate of a, b=diagonal.
        Raw kNN ranks (a, a2, b); MMR at lam=0.5 must pick a then skip
        the duplicate a2 in favor of the diverse b."""
        from lakehouse_to_rag_spark.operators.retrieval import mmr_rerank

        vecs = [
            [1.0, 0.0, 0.0],        # 0: the query
            [0.99, 0.14, 0.0],      # 1: best hit (rel .9901)
            [0.99, 0.141, 0.0],     # 2: near-duplicate of 1 (psim 1.0)
            [0.7, -0.7, 0.0],       # 3: diverse (psim .5657, rel .7071)
        ]
        c = self._mk(spark, vecs)
        q = c.filter(F.col("vec_id") == 0)
        rows = {
            r["mmr_rank"]: r["neighbor_id"]
            for r in mmr_rerank(c, q, k_candidates=3, k=2, lam=0.5).collect()
        }
        assert rows == {1: 1, 2: 3}

    def test_selection_is_subset_of_candidates_no_repeats(self, spark, sf_dir):
        from lakehouse_to_rag_spark.operators.retrieval import mmr_rerank

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = e.filter(F.col("vec_id") < 5)
        out = mmr_rerank(e, q, k_candidates=8, k=8, lam=0.3).collect()
        per_q = {}
        for r in out:
            per_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
        for qid, ids in per_q.items():
            assert len(ids) == len(set(ids)) == 8
            assert qid not in ids

    def test_k_exceeds_candidates_raises(self, spark, sf_dir):
        import pytest

        from lakehouse_to_rag_spark.operators.retrieval import mmr_rerank

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        with pytest.raises(ValueError, match="k_candidates"):
            mmr_rerank(e, e.limit(1), k_candidates=3, k=5)

    def test_plan_no_cartesian_broadcast_candidates(self, spark, sf_dir):
        """The candidate-vector fetch must be a broadcast hash join
        (cand is queries x k_candidates rows); the only shuffle after
        the kNN is the per-query Arrow group — never an all-pairs
        corpus product."""
        from lakehouse_to_rag_spark.operators.retrieval import mmr_rerank

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = e.filter(F.col("vec_id") < 3)
        plan = (
            mmr_rerank(e, q, k_candidates=10, k=5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
        assert "FlatMapGroupsInPandas" in plan or "ApplyInPandas" in plan


class TestMMRScored:
    """mmr_rerank_scored: the pre-scored-relevance form sharing
    _mmr_greedy with mmr_rerank."""

    def test_cosine_rel_equals_mmr_rerank(self, spark, sf_dir):
        """Feeding the kNN's own (query_id, neighbor_id, cosine) as
        rel through the scored form must reproduce mmr_rerank exactly
        — the refactor's no-drift guarantee, checked end to end."""
        from lakehouse_to_rag_spark.operators.retrieval import (
            mmr_rerank,
            mmr_rerank_scored,
        )
        from lakehouse_to_rag_spark.operators.similarity import knn_bruteforce

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = e.filter(F.col("vec_id") < 3)
        cand = knn_bruteforce(e, q, k=10).select(
            "query_id", "neighbor_id", F.col("cosine").alias("rel")
        )
        got = sorted(
            tuple(r) for r in mmr_rerank_scored(cand, e, k=4, lam=0.6).collect()
        )
        want = sorted(
            tuple(r)
            for r in mmr_rerank(e, q, k_candidates=10, k=4, lam=0.6).collect()
        )
        assert got == want

    def test_external_scores_steer_selection(self, spark):
        """rel comes from the caller, not the vectors: give the
        geometrically-worst candidate the best rel at lam=1 and it
        must win rank 1."""
        from lakehouse_to_rag_spark.operators.retrieval import mmr_rerank_scored

        vecs = spark.createDataFrame(
            [
                (1, [1.0, 0.0]),
                (2, [0.99, 0.14]),
                (3, [-1.0, 0.0]),
            ],
            "vec_id long, embedding array<double>",
        )
        cand = spark.createDataFrame(
            [(0, 1, 0.2), (0, 2, 0.3), (0, 3, 0.9)],
            "query_id long, neighbor_id long, rel double",
        )
        rows = {
            r["mmr_rank"]: r["neighbor_id"]
            for r in mmr_rerank_scored(cand, vecs, k=3, lam=1.0).collect()
        }
        assert rows == {1: 3, 2: 2, 3: 1}


class TestRagReadPath:
    """rag_read_path: the composed serve chain. Value parity vs the
    fused oracle runs in test_oracle_parity.py; here the composition
    contract."""

    def test_contract(self, spark, sf_dir):
        from lakehouse_to_rag_spark.operators.retrieval import rag_read_path

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out = rag_read_path(d, e, query_ids=[0, 1, 2], candidates=10,
                            kc=8, k=4).collect()
        per_q = {}
        for r in out:
            per_q.setdefault(r["query_id"], []).append(r)
        assert set(per_q) == {0, 1, 2}
        emb_ids = {
            r["vec_id"] for r in e.select("vec_id").collect()
        }
        for qid, rows in per_q.items():
            assert sorted(r["mmr_rank"] for r in rows) == [1, 2, 3, 4]
            ids = [r["doc_id"] for r in rows]
            assert len(set(ids)) == 4 and qid not in ids
            for r in rows:
                assert r["doc_id"] in emb_ids  # embedded-store closure
                assert 0.0 <= r["rel"] <= 1.0
                assert r["content_length"] >= 1 and r["source"] is not None

    def test_rel_normalization_minmax(self, spark, sf_dir):
        """Per query, the best fused candidate gets rel 1.0 and the
        worst rel 0.0 (strict min-max over the kc-deep list)."""
        from lakehouse_to_rag_spark.operators.retrieval import rag_read_path

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        # lam=1 => MMR keeps pure-rel order; k=kc surfaces the whole
        # candidate list with its rel values
        out = rag_read_path(d, e, query_ids=[0], candidates=10, kc=8,
                            k=8, lam=1.0).collect()
        rels = sorted(r["rel"] for r in out)
        assert rels[0] == 0.0 and rels[-1] == 1.0

    def test_plan_shape(self, spark, sf_dir):
        """Spark's part of the read path is the two backend top-lists:
        neither plans a cartesian product, and each broadcasts its
        query side onto its one corpus scan."""
        from lakehouse_to_rag_spark.operators.retrieval import rag_read_path
        from lakehouse_to_rag_spark.operators.similarity import knn_bruteforce

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        built = []

        def record(backend):
            def run(*a, **kw):
                built.append(backend(*a, **kw))
                return built[-1]

            return run

        rag_read_path(
            d, e, query_ids=[0, 1, 2],
            lexical_topk=record(bm25_topk),
            vector_topk=record(knn_bruteforce),
        ).collect()
        assert len(built) == 2
        for df in built:
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in plan
            assert "BroadcastExchange" in plan

    def test_duplicate_ids_keep_join_multiplicity(self, spark):
        """A candidate with two (identical) embedding rows and a
        document with two metadata rows: every vector row enters MMR,
        and each pick joins back every fused row of its id and every
        metadata row — the rows the composed Spark plan returned
        before the tail moved to the driver."""
        from lakehouse_to_rag_spark.operators.retrieval import rag_read_path

        docs = spark.createDataFrame(
            [
                (0, "red apple pie recipe", "q"),
                (1, "red apple tart", "s1"),
                (2, "green apple pie", "s2"),
                (3, "apple pie with red berries", "s3"),
                (4, "pie crust recipe", "s4"),
                (5, "red apple", "a"),
                (5, "red apple cider recipe", "b"),
                (6, "banana bread", "s6"),
            ],
            "doc_id long, text string, source string",
        )
        emb = spark.createDataFrame(
            [
                (0, [1.0, 0.5, 0.0]),
                (1, [0.9, 0.4, 0.1]),
                (2, [0.2, 0.9, 0.3]),
                (3, [0.8, 0.1, 0.6]),
                (3, [0.8, 0.1, 0.6]),
                (4, [0.1, 0.2, 0.9]),
                (5, [0.7, 0.7, 0.0]),
                (6, [0.0, 0.1, 1.0]),
            ],
            "vec_id long, embedding array<double>",
        )
        out = rag_read_path(docs, emb, [0], candidates=6, kc=6, k=6, lam=0.7)
        assert sorted(map(tuple, out.collect())) == [
            (0, 1, 5, 0.032522, 1.0, 0.7, "a", 9),
            (0, 1, 5, 0.032522, 1.0, 0.7, "b", 22),
            (0, 2, 1, 0.032018, 0.7125, 0.2202, "s1", 14),
            (0, 3, 3, 0.031498, 0.4159, 0.1428, "s3", 26),
            (0, 3, 3, 0.031746, 0.5573, 0.1428, "s3", 26),
            (0, 4, 3, 0.031498, 0.4159, 0.0901, "s3", 26),
            (0, 4, 3, 0.031746, 0.5573, 0.0901, "s3", 26),
            (0, 5, 4, 0.031281, 0.2921, -0.0015, "s4", 16),
            (0, 6, 3, 0.031498, 0.4159, -0.0089, "s3", 26),
            (0, 6, 3, 0.031746, 0.5573, -0.0089, "s3", 26),
        ]
        assert out.schema.simpleString() == (
            "struct<query_id:bigint,mmr_rank:bigint,doc_id:bigint,"
            "rrf_score:double,rel:double,mmr_score:double,source:string,"
            "content_length:bigint>"
        )


class TestRagIndexBuild:
    """build_rag_indexes: the write-side capstone."""

    def test_built_indexes_serve_identically(self, spark, sf_dir, tmp_path):
        """Round trip: the persisted BM25 and IVF layouts must serve
        EXACTLY what the in-memory operators compute over the same
        chunk set — the write path cannot change a single ranking."""
        from lakehouse_to_rag_spark.functions.chunker import (
            fixed_stride_chunks,
        )
        from lakehouse_to_rag_spark.operators.retrieval import (
            bm25_topk,
            bm25_topk_from_index,
            build_rag_indexes,
        )
        from lakehouse_to_rag_spark.operators.similarity import (
            ivf_topk,
            ivf_topk_from_index,
        )
        from lakehouse_to_rag_spark.operators.text_analysis import (
            embed_hashed_tf,
        )

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        base = str(tmp_path / "ragidx")
        manifest = {
            (r["index"], r["part"]): r["n_rows"]
            for r in build_rag_indexes(d, base, dim=64, num_centroids=16).collect()
        }

        docs = d.filter(F.col("text").isNotNull())
        chunks = docs.select(
            "doc_id",
            F.posexplode(fixed_stride_chunks(F.col("text"), 200, 10)).alias(
                "chunk_index", "chunk"
            ),
        ).select(
            (F.col("doc_id").cast("long") * 1_000_000
             + F.col("chunk_index").cast("long")).alias("chunk_id"),
            "chunk",
        )
        assert manifest[("stats", -1)] == chunks.count()
        emb = embed_hashed_tf(
            chunks, dim=64, id_col="chunk_id", text_col="chunk"
        ).filter(
            F.aggregate(F.col("embedding"), F.lit(0.0),
                        lambda a, x: a + F.abs(x)) > 0
        )
        assert sum(v for (i, _), v in manifest.items() if i == "ivf") == emb.count()

        q = spark.createDataFrame(
            [(0, "spark table join"), (1, "fast vector scan")],
            "query_id long, query string",
        )
        served = sorted(
            tuple(r)
            for r in bm25_topk_from_index(spark, f"{base}/bm25", q, k=5).collect()
        )
        direct = sorted(
            tuple(r)
            for r in bm25_topk(
                chunks, q, k=5, id_col="chunk_id", text_col="chunk"
            ).collect()
        )
        assert served == direct and served

        vq = emb.limit(3)
        vserved = sorted(
            tuple(r)
            for r in ivf_topk_from_index(
                spark, f"{base}/ivf", vq, k=5, nprobe=4,
                id_col="chunk_id", vec_col="embedding",
            ).collect()
        )
        vdirect = sorted(
            tuple(r)
            for r in ivf_topk(
                emb, vq, k=5, num_centroids=16, nprobe=4,
                id_col="chunk_id", vec_col="embedding",
            ).collect()
        )
        assert vserved == vdirect and vserved

    def test_build_jobs_keep_caller_job_group(self, spark, sf_dir, tmp_path):
        """Every job the build launches — including those submitted
        from its thread pools — carries the caller's job group, so
        cancelJobGroup can stop a build."""
        from lakehouse_to_rag_spark.operators.retrieval import (
            build_rag_indexes,
        )

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        base = str(tmp_path / "ragidx")
        _, launched, in_group = jobs_between_markers(
            spark,
            lambda: build_rag_indexes(d, base, num_centroids=8).collect(),
        )
        assert launched and launched <= in_group

    def test_manifest_read_from_footers(self, spark, sf_dir, tmp_path):
        """A fresh build's manifest equals a Spark read-back of the
        written layout, and collecting it launches no job."""
        from lakehouse_to_rag_spark.operators.retrieval import (
            build_rag_indexes,
        )

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        base = str(tmp_path / "ragidx")
        manifest = build_rag_indexes(d, base, num_centroids=8)
        rows, launched, _ = jobs_between_markers(spark, manifest.collect)
        assert launched == set()
        assert sorted(map(tuple, rows)) == _spark_manifest(spark, base)
        assert [f.name for f in manifest.schema] == ["index", "part", "n_rows"]

    @pytest.mark.parametrize("plant", ["stray_file", "delta_log"])
    def test_manifest_falls_back_to_spark_read(
        self, spark, served_indexes, tmp_path, plant
    ):
        """The manifest has no Spark-read fallback: on a layout its
        footer reader does not recognise (a part file without the
        .parquet suffix in every cluster and bucket dir, or a
        ``_delta_log`` at the root) it launches no job and raises the
        layout error naming the path."""
        from lakehouse_to_rag_spark.operators.retrieval import _index_manifest

        _, _, _, bm25, ivf = served_indexes
        _plant_foreign_layout(tmp_path, bm25, ivf, plant)
        err, launched, _ = jobs_between_markers(
            spark,
            lambda: _layout_error(lambda: _index_manifest(spark, str(tmp_path))),
        )
        assert launched == set() and str(tmp_path) in str(err)

    def test_index_trees_stay_parquet_on_delta_platform(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """With delta-spark on the classpath, index trees are still
        plain parquet: the build, a BM25 and an IVF append, both
        backends and both compactions write no ``_delta_log`` and give
        the rows of a run without it."""
        from lakehouse_to_rag_spark.operators import retrieval as R
        from lakehouse_to_rag_spark.operators import similarity as S
        from lakehouse_to_rag_spark.sources import lakehouse
        from lakehouse_to_rag_spark.sources.tables import local_df

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        q = _local_text(spark, [(0, "spark table join"), (1, "fast scan")])
        new = d.filter("doc_id % 2 = 1").selectExpr(
            "doc_id * 1000000 AS chunk_id", "text AS chunk"
        )

        def run(base, delta):
            monkeypatch.setattr(lakehouse, "_delta_available", lambda s: delta)
            bm25, ivf = f"{base}/bm25", f"{base}/ivf"
            out = [R.build_rag_indexes(d.filter("doc_id % 2 = 0"), base).collect()]
            out.append(R.append_to_bm25_index(spark, bm25, new, "chunk_id", "chunk"))
            rows = spark.read.parquet(ivf).select("chunk_id", "embedding")
            top = rows.orderBy("chunk_id").limit(20).collect()
            vecs = local_df(spark, [(-i, v) for i, v in top], rows.schema)
            out.append(S.append_to_ivf_index(spark, ivf, vecs, "chunk_id"))
            for compacted in (False, True):
                if compacted:
                    out.append(R.compact_bm25_index(spark, bm25))
                    out.append(S.compact_ivf_index(spark, ivf))
                hits = S.ivf_topk_from_index(spark, ivf, vecs, id_col="chunk_id")
                out.append(sorted(hits.collect()))
                out.append(sorted(R.bm25_topk_from_index(spark, bm25, q).collect()))
            return out

        assert run(tmp_path / "delta", True) == run(tmp_path / "plain", False)
        assert not list((tmp_path / "delta").rglob("_delta_log"))

    def test_pool_task_without_pinned_threads(self, spark, monkeypatch):
        """With pinned threads off, pyspark's thread-target helper hands
        back the session instead of a decorator; pool_task must then
        return the callable itself."""
        from pyspark import SparkContext

        from lakehouse_to_rag_spark.session import pool_task

        def fn(x):
            return x + 1

        monkeypatch.setattr(SparkContext, "_gateway", object())
        assert pool_task(spark, fn) is fn


def _spark_manifest(spark, base):
    """The manifest as Spark jobs compute it from the written layout:
    per-cluster ivf counts, the bm25 posting total and _stats.n_docs."""
    ivf = (
        spark.read.parquet(f"{base}/ivf")
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("ivf"), F.col("cluster").cast("long"), "n")
    )
    bm25 = spark.read.parquet(f"{base}/bm25").agg(F.count(F.lit(1)))
    stats = spark.read.parquet(f"{base}/bm25/_stats").select("n_docs")
    return sorted(
        [tuple(r) for r in ivf.collect()]
        + [("bm25", -1, bm25.collect()[0][0])]
        + [("stats", -1, stats.collect()[0][0])]
    )


def test_rag_read_path_served_equals_in_memory(spark, sf_dir):
    """The persisted-index serving stack (BM25 posting layout +
    full-probe IVF layout plugged into rag_read_path's backend slots)
    must reproduce the composed in-memory plan EXACTLY — same rows,
    same scores, same MMR picks."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    served = sorted(tuple(r) for r in qs["rag_read_path_served"](spark, sf_dir).collect())
    direct = sorted(tuple(r) for r in qs["rag_read_path"](spark, sf_dir).collect())
    assert served == direct and served


def test_corpus_datacard_null_source_group(spark):
    """A NULL-source group must report its REAL median and dup counts
    (null-safe group joins — a non-null-safe join would coalesce them
    to zeros while both engines agreed; review finding)."""
    from lakehouse_to_rag_spark.operators.analytics import corpus_datacard

    df = spark.createDataFrame(
        [
            (0, None, "same text"),
            (1, None, "same text"),
            (2, None, "zzz longer text"),
            (3, "s", None),
            (4, "s", "a b"),
        ],
        "doc_id long, source string, text string",
    )
    rows = {r["source"]: r for r in corpus_datacard(df).collect()}
    n = rows[None]
    assert n["n_docs"] == 3 and n["dup_docs"] == 2 and n["median_len"] == 9
    s = rows["s"]
    assert s["n_null_text"] == 1 and s["median_len"] == 3 and s["dup_docs"] == 0


def test_append_to_bm25_index_equals_rebuild(spark, sf_dir, tmp_path):
    """Incremental BM25 maintenance: bootstrap on the even-id half,
    append the odd-id half, and the served top-k must EXACTLY equal
    an index rebuilt on the full corpus. This is the strong form: it
    proves the additive _stats arithmetic (exact integer sum_dl) AND
    that the serve path never reads the stale denormalized df of
    previously-written rows (term dfs change on every append)."""
    from lakehouse_to_rag_spark.operators.retrieval import (
        append_to_bm25_index,
        bm25_topk,
        bm25_topk_from_index,
        write_bm25_index,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = spark.createDataFrame(
        [(0, "spark table join"), (1, "fast vector scan"),
         (2, "the data pipeline")],
        "query_id long, query string",
    )

    inc = str(tmp_path / "inc")
    write_bm25_index(d.filter("doc_id % 2 = 0"), inc)
    n = append_to_bm25_index(spark, inc, d.filter("doc_id % 2 = 1"))
    assert n > 0

    full = str(tmp_path / "full")
    write_bm25_index(d, full)

    got = sorted(
        tuple(r) for r in bm25_topk_from_index(spark, inc, q, k=5).collect()
    )
    want = sorted(
        tuple(r) for r in bm25_topk_from_index(spark, full, q, k=5).collect()
    )
    mem = sorted(tuple(r) for r in bm25_topk(d, q, k=5).collect())
    assert got == want == mem and got

    # exact additive stats: appended == rebuilt, bit for bit
    s_inc = spark.read.parquet(f"{inc}/_stats").collect()[0]
    s_full = spark.read.parquet(f"{full}/_stats").collect()[0]
    assert (s_inc["n_docs"], s_inc["sum_dl"], s_inc["avgdl"]) == (
        s_full["n_docs"], s_full["sum_dl"], s_full["avgdl"]
    )

    # old-layout refusal: _stats without sum_dl must fail loudly
    import pytest

    old = str(tmp_path / "old")
    write_bm25_index(d.filter("doc_id % 2 = 0"), old)
    legacy = spark.read.parquet(f"{old}/_stats").drop("sum_dl").collect()
    spark.createDataFrame(
        legacy, "n_docs long, avgdl double, n_buckets long"
    ).write.mode("overwrite").parquet(f"{old}/_stats")
    with pytest.raises(ValueError, match="sum_dl"):
        append_to_bm25_index(spark, old, d.filter("doc_id % 2 = 1"))


def test_compact_bm25_index_preserves_serving(spark, sf_dir, tmp_path):
    """Compact-then-serve equality for the BM25 layout: appends
    fragment the bucket=N/ dirs; compaction must shrink the file
    count, keep served top-k bit-equal, and preserve the _stats row."""
    import pathlib

    from lakehouse_to_rag_spark.operators.retrieval import (
        append_to_bm25_index,
        bm25_topk_from_index,
        compact_bm25_index,
        write_bm25_index,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "bm25")
    write_bm25_index(d.filter("doc_id % 4 = 0"), path)
    for m in (1, 2, 3):
        append_to_bm25_index(spark, path, d.filter(f"doc_id % 4 = {m}"))
    # a streaming sink keeps its ledger under the index root — the
    # ADVICE r7 bug: compaction dropped it, so a post-compaction
    # foreachBatch re-delivery would re-append absorbed postings
    spark.createDataFrame([(0,)], "batch_id long").write.parquet(
        f"{path}/_ledger"
    )

    def files():
        return [
            f for f in pathlib.Path(path).rglob("*.parquet")
            if f.is_file() and "_stats" not in f.parts
            and "_ledger" not in f.parts and "_ids" not in f.parts
        ]

    q = spark.createDataFrame(
        [(0, "spark table join"), (1, "fast vector scan")],
        "query_id long, query string",
    )
    before = sorted(
        tuple(r) for r in bm25_topk_from_index(spark, path, q, k=5).collect()
    )
    stats_before = spark.read.parquet(f"{path}/_stats").collect()
    n_before = len(files())

    n_written = compact_bm25_index(spark, path)
    assert len(files()) == n_written < n_before
    after = sorted(
        tuple(r) for r in bm25_topk_from_index(spark, path, q, k=5).collect()
    )
    assert after == before and after
    assert spark.read.parquet(f"{path}/_stats").collect() == stats_before
    # ledger survives the swap (mirrors the IVF twin's assertion)
    assert spark.read.parquet(f"{path}/_ledger").collect()[0]["batch_id"] == 0


def test_append_bm25_check_disjoint_fail_closed(spark, sf_dir, tmp_path):
    """A re-sent doc id would double its tf rows; the default
    check_disjoint=True must refuse BEFORE anything is written, and
    the explicit opt-out must keep the old (documented-unsafe)
    behavior for callers with upstream admission."""
    import pytest

    from lakehouse_to_rag_spark.operators.retrieval import (
        append_to_bm25_index,
        write_bm25_index,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "bm25")
    write_bm25_index(d.filter("doc_id % 2 = 0"), path)
    before_rows = spark.read.parquet(path).count()
    before_stats = spark.read.parquet(f"{path}/_stats").collect()
    resent = d.filter("doc_id % 4 = 0")  # subset of what's indexed
    with pytest.raises(ValueError, match="already exist"):
        append_to_bm25_index(spark, path, resent)
    # fail-CLOSED: nothing was appended, stats untouched
    assert spark.read.parquet(path).count() == before_rows
    assert spark.read.parquet(f"{path}/_stats").collect() == before_stats
    # disjoint batch passes the check unchanged
    n = append_to_bm25_index(spark, path, d.filter("doc_id % 2 = 1"))
    assert n > 0
    # opt-out keeps the unguarded append for admission-guaranteed callers
    append_to_bm25_index(spark, path, resent, check_disjoint=False)


def test_append_bm25_batch_internal_duplicates_fail_closed(
    spark, sf_dir, tmp_path
):
    """check_disjoint guards the WHOLE uniqueness invariant: a batch
    whose ids are disjoint from the index but duplicated WITHIN the
    batch is the same tf-doubling corruption (the .distinct()'d
    overlap scan alone would pass it). Must refuse before writing."""
    import pytest

    from lakehouse_to_rag_spark.operators.retrieval import (
        append_to_bm25_index,
        write_bm25_index,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "bm25")
    write_bm25_index(d.filter("doc_id % 2 = 0"), path)
    before_rows = spark.read.parquet(path).count()
    before_stats = spark.read.parquet(f"{path}/_stats").collect()
    odd = d.filter("doc_id % 2 = 1")
    doubled = odd.union(odd.limit(3))  # index-disjoint, batch-internal dups
    with pytest.raises(ValueError, match="within one batch|distinct non-null"):
        append_to_bm25_index(spark, path, doubled)
    assert spark.read.parquet(path).count() == before_rows
    assert spark.read.parquet(f"{path}/_stats").collect() == before_stats
    # the deduped batch then passes
    assert append_to_bm25_index(spark, path, odd) > 0


def test_rebuild_bm25_stats_reconciles_half_commit(spark, sf_dir, tmp_path):
    """The documented half-commit window: postings appended but the
    _stats swap never landed. rebuild_bm25_stats must reconstruct
    _stats from the postings alone, bit-equal to an uninterrupted
    append's stats."""
    from lakehouse_to_rag_spark.operators.retrieval import (
        append_to_bm25_index,
        rebuild_bm25_stats,
        write_bm25_index,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "bm25")
    write_bm25_index(d.filter("doc_id % 2 = 0"), path)
    stale = spark.read.parquet(f"{path}/_stats").collect()
    append_to_bm25_index(spark, path, d.filter("doc_id % 2 = 1"))
    good = spark.read.parquet(f"{path}/_stats").collect()
    # simulate the crash: postings are in, but _stats rolled back
    schema = "n_docs long, sum_dl long, avgdl double, n_buckets long"
    spark.createDataFrame(stale, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/_stats")
    assert spark.read.parquet(f"{path}/_stats").collect() == stale != good
    rebuild_bm25_stats(spark, path)
    assert spark.read.parquet(f"{path}/_stats").collect() == good
    # r14: the rebuild also reconciles the _ids membership sidecar to
    # exactly the distinct indexed ids (count == n_docs again)
    n_ids = spark.read.parquet(f"{path}/_ids").count()
    assert n_ids == good[0]["n_docs"]


def test_append_bm25_ids_sidecar_trust_rule(spark, sf_dir, tmp_path):
    """r14: the fail-closed disjointness check reads the O(n_docs)
    `_ids` sidecar instead of the O(index) posting scan — but ONLY
    when the sidecar provably covers the index (rows >= n_docs).

    (a) in-sync sidecar: overlap still refused, disjoint still passes,
        and each append keeps the sidecar in sync (count == n_docs);
    (b) STALE-LOW sidecar (postings appended without ids — the
        pre-r14-writer window): must NOT be trusted; the full-scan
        fallback still catches the overlap;
    (c) SUPERSET sidecar (the ids-append crash window: ids landed,
        postings did not): re-sending those ids is REJECTED — the
        documented fail-closed direction — and rebuild_bm25_stats
        restores the exact id set, after which the batch appends."""
    import pytest

    from lakehouse_to_rag_spark.operators.retrieval import (
        append_to_bm25_index,
        rebuild_bm25_stats,
        write_bm25_index,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "bm25")
    write_bm25_index(d.filter("doc_id % 4 = 0"), path)
    stats0 = spark.read.parquet(f"{path}/_stats").collect()[0]
    assert spark.read.parquet(f"{path}/_ids").count() == stats0["n_docs"]

    # (a) overlap refused via the trusted sidecar; disjoint passes
    with pytest.raises(ValueError, match="already exist"):
        append_to_bm25_index(spark, path, d.filter("doc_id % 8 = 0"))
    assert append_to_bm25_index(spark, path, d.filter("doc_id % 4 = 1")) > 0
    n_docs = spark.read.parquet(f"{path}/_stats").collect()[0]["n_docs"]
    assert spark.read.parquet(f"{path}/_ids").count() == n_docs

    # (b) stale-low sidecar: shrink it below n_docs — the check must
    # fall back to the full scan and still refuse the overlap
    ids_now = spark.read.parquet(f"{path}/_ids")
    ids_now.limit(3).write.mode("overwrite").parquet(str(tmp_path / "few"))
    spark.read.parquet(str(tmp_path / "few")).write.mode(
        "overwrite"
    ).parquet(f"{path}/_ids")
    with pytest.raises(ValueError, match="already exist"):
        append_to_bm25_index(spark, path, d.filter("doc_id % 4 = 1"))
    rebuild_bm25_stats(spark, path)  # restore the sidecar for (c)

    # (c) superset (ids-append crash window): plant ids whose postings
    # never landed — their re-send is refused fail-closed; the rebuild
    # reconciles and the append then succeeds
    orphan = d.filter("doc_id % 4 = 2")
    orphan.select(F.col("doc_id").alias("id")).write.mode("append").parquet(
        f"{path}/_ids"
    )
    with pytest.raises(ValueError, match="already exist"):
        append_to_bm25_index(spark, path, orphan)
    rebuild_bm25_stats(spark, path)
    assert append_to_bm25_index(spark, path, orphan) > 0


def test_retrieval_metrics_hand_case(spark):
    """Known-answer IR metrics at k=3: recall/MRR/nDCG, zero-hit and
    missing-from-runs queries score 0, non-qrels queries are absent,
    ranks past k ignored, k<1 raises."""
    import pytest

    from lakehouse_to_rag_spark.operators.retrieval import retrieval_metrics

    runs = spark.createDataFrame(
        [
            (1, "a", 1), (1, "x", 2), (1, "b", 3), (1, "c", 4),
            (2, "p", 1), (2, "q", 2), (2, "r", 3),
            (4, "a", 1),                       # not in qrels: absent
        ],
        "query_id long, doc_id string, rank long",
    )
    qrels = spark.createDataFrame(
        [
            (1, "a"), (1, "b"), (1, "c"), (1, "d"),
            (2, "z"),
            (3, "a"),                           # never retrieved
        ],
        "query_id long, doc_id string",
    )
    got = {
        r["query_id"]: (
            r["n_rel"], r["n_hits"], r["recall_at_k"],
            r["mrr_at_k"], r["ndcg_at_k"],
        )
        for r in retrieval_metrics(runs, qrels, k=3).collect()
    }
    # q1: hits at ranks 1,3 (c is rank 4 > k) -> dcg = 1 + 1/log2(4)
    # = 1.5; idcg(3) = 1 + 1/log2(3) + 0.5 = 2.130929...
    assert got[1] == (4, 2, 0.5, 1.0, 0.7039)
    assert got[2] == (1, 0, 0.0, 0.0, 0.0)
    assert got[3] == (1, 0, 0.0, 0.0, 0.0)
    assert set(got) == {1, 2, 3}
    with pytest.raises(ValueError, match="k >= 1"):
        retrieval_metrics(runs, qrels, k=0)


def test_retrieval_metrics_rejects_duplicate_qrels(spark):
    """A duplicated judgment row would inflate n_rel, n_hits and the
    DCG via the hit join — malformed input fails closed, LAZILY at
    first execution (the raise_error rides the n_rel aggregate; the
    operator stays a pure transform — building the plan runs no
    job)."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from lakehouse_to_rag_spark.operators.retrieval import (
        retrieval_metrics,
    )

    runs = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, doc_id long, rank long"
    )
    qrels = spark.createDataFrame(
        [(1, 10), (1, 10)], "query_id long, doc_id long"
    )
    out = retrieval_metrics(runs, qrels, k=10)  # plan builds fine
    with pytest.raises(SparkRuntimeException, match="duplicate judgments"):
        out.collect()


@pytest.fixture(scope="module")
def served_indexes(spark, sf_dir, tmp_path_factory):
    """BM25 (64 buckets) and IVF (16 centroids) indexes over the
    embedded store, as rag_read_path_served builds them."""
    from lakehouse_to_rag_spark.operators.retrieval import (
        rag_store,
        write_bm25_index,
    )
    from lakehouse_to_rag_spark.operators.similarity import write_ivf_index
    from lakehouse_to_rag_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    store, emb_store = rag_store(d, e)
    base = tmp_path_factory.mktemp("served")
    write_bm25_index(store, str(base / "bm25"))
    write_ivf_index(emb_store, str(base / "ivf"), num_centroids=16)
    return d, e, emb_store, str(base / "bm25"), str(base / "ivf")


def _plant_foreign_layout(tmp_path, bm25, ivf, plant):
    """Copies of the ``bm25`` and ``ivf`` roots under ``tmp_path`` with
    what the written layout never holds: a ``_delta_log`` at the root,
    a suffix-less part file in every partition dir, a root dir that is
    not ``{col}=N``, or (``missing``) no tree at all. Returns the two
    copied roots."""
    import shutil

    for src, col in ((bm25, "bucket"), (ivf, "cluster")):
        root = tmp_path / src.rsplit("/", 1)[1]
        shutil.copytree(src, root)
        part = next(root.glob(f"{col}=*/*.parquet"))
        plants = {
            "delta_log": [root / "_delta_log"],
            "stray_file": list(root.glob(f"{col}=*")),
            "foreign_dir": [root / "x"],
        }
        if plant == "missing":
            shutil.rmtree(root)
        for pdir in plants.get(plant, []):
            pdir.mkdir(exist_ok=True)
            shutil.copy(part, pdir / "part-stray")
    return str(tmp_path / "bm25"), str(tmp_path / "ivf")


def _layout_error(call):
    """The layout ``ValueError`` that ``call()`` raises."""
    with pytest.raises(ValueError, match="rebuild the index") as err:
        call()
    return err.value


def _local_text(spark, rows):
    """(query_id, query) rows as a driver-local frame."""
    from pyspark.sql import types as T

    from lakehouse_to_rag_spark.sources.tables import local_df

    return local_df(
        spark, rows, T.StructType.fromDDL("query_id long, query string")
    )


def _serve(spark, d, e, bm25, ivf, query_ids, nprobe=4):
    from lakehouse_to_rag_spark.operators.retrieval import rag_read_path
    from lakehouse_to_rag_spark.operators.similarity import (
        ivf_topk_from_index,
    )

    return rag_read_path(
        d, e, query_ids,
        lexical_topk=lambda docs, q, k, id_col, text_col:
            bm25_topk_from_index(spark, bm25, q, k=k),
        vector_topk=lambda emb, q, k:
            ivf_topk_from_index(spark, ivf, q, k=k, nprobe=nprobe),
    )


class TestServePath:
    """The served read path: the query side is evaluated on the driver
    and index partitions are read by path, so a served query costs a
    fixed, small number of Spark jobs."""

    def test_backends_launch_no_job_before_collect(
        self, spark, served_indexes
    ):
        """Given driver-local queries, neither index backend launches a
        job while its DataFrame is built."""
        from lakehouse_to_rag_spark.operators.similarity import (
            ivf_topk_from_index,
        )
        from lakehouse_to_rag_spark.sources.tables import local_df

        _, _, emb_store, bm25, ivf = served_indexes
        q = _local_text(spark, [(0, "the data pipeline"), (1, "Fast  SCAN")])
        res, launched, _ = jobs_between_markers(
            spark, lambda: bm25_topk_from_index(spark, bm25, q, k=5)
        )
        assert launched == set()
        assert res.collect()
        qv = local_df(
            spark,
            [tuple(r) for r in emb_store.filter("vec_id < 3").collect()],
            emb_store.schema,
        )
        res, launched, _ = jobs_between_markers(
            spark,
            lambda: ivf_topk_from_index(spark, ivf, qv, k=5, nprobe=4),
        )
        assert launched == set()
        assert res.collect()

    def test_served_read_path_job_budget(self, spark, served_indexes):
        """One served query — the query collects, the two backend
        top-lists and the candidate fetch — stays within 13 Spark
        jobs."""
        d, e, _, bm25, ivf = served_indexes
        rows, launched, _ = jobs_between_markers(
            spark, lambda: _serve(spark, d, e, bm25, ivf, [0]).collect()
        )
        assert rows
        assert len(launched) <= 13

    def test_served_result_collects_without_job(self, spark, served_indexes):
        """The served read path returns a driver-local frame: collecting
        it launches no Spark job."""
        d, e, _, bm25, ivf = served_indexes
        out = _serve(spark, d, e, bm25, ivf, [0])
        rows, launched, _ = jobs_between_markers(spark, out.collect)
        assert rows
        assert launched == set()

    def test_driver_probes_match_query_probes(self, spark):
        """_driver_probes ranks as _query_probes does: an exact 12dp tie
        between two identical centroids goes to the smaller id, and a
        zero-norm query (null cosine to every centroid) probes the
        smallest ids."""
        from lakehouse_to_rag_spark.operators.similarity import (
            _driver_probes,
            _query_probes,
        )

        cent_rows = [
            (0, [0.0, 1.0, 0.0]),
            (1, [1.0, 1.0, 0.0]),
            (2, [1.0, 0.0, 0.5]),
            (3, [1.0, 1.0, 0.0]),  # exact tie with centroid 1
            (4, [-1.0, 0.0, 0.0]),
        ]
        queries = spark.createDataFrame(
            [(10, [2.0, 2.0, 0.0]), (11, [0.0, 0.0, 0.0]),
             (12, [0.3, 0.7, 0.1])],
            "vec_id long, embedding array<float>",
        )
        cent = spark.createDataFrame(
            cent_rows, "centroid_id long, cvec array<float>"
        )
        for nprobe in (1, 2, 3):
            want = sorted(
                (r["query_id"], r["cluster"])
                for r in _query_probes(
                    queries, cent, nprobe, "vec_id", "embedding"
                ).collect()
            )
            probes, clusters = _driver_probes(
                spark, queries, cent_rows, nprobe, "vec_id", "embedding"
            )
            got = sorted(
                (r["query_id"], r["cluster"]) for r in probes.collect()
            )
            assert got == want
            assert clusters == sorted({c for _, c in want})
            if nprobe == 1:  # the tie goes to the smaller id
                assert (10, 1) in got and (10, 3) not in got

    def test_local_query_terms_match_query_terms(self, spark):
        """The driver term derivation equals _query_terms on repeated
        spaces, the empty string, a null text and mixed or non-ASCII
        case."""
        from lakehouse_to_rag_spark.operators.retrieval import (
            _local_query_terms,
            _query_terms,
        )

        rows = [
            (0, "Data  PIPELINE data "),
            (1, ""),
            (2, None),
            (3, "ÄÖÜ Straße İstanbul ΣΊΣΥΦΟΣ"),
            (4, "MiXeD mixed"),
        ]
        q = _queries(spark, rows)
        want = sorted(map(tuple, _query_terms(q, "query_id", "query").collect()))
        got = sorted(
            map(tuple, _local_query_terms(q, "query_id", "query").collect())
        )
        assert got == want and (1, "") in got

    @pytest.mark.parametrize(
        "plant", ["delta_log", "stray_file", "foreign_dir", "missing"]
    )
    def test_foreign_layout_is_refused(
        self, spark, served_indexes, tmp_path, plant
    ):
        """What the written layout never holds — a ``_delta_log`` at the
        root, a suffix-less part file in every partition dir, a root dir
        that is not ``{col}=N``, no tree at all — is refused, naming the
        path, by the manifest, both backends and (unless the plant is
        below the root, which it does not list) the BM25 append. Before
        the plant, a direct partition read has the schema of Spark's
        discovery read."""
        from lakehouse_to_rag_spark.operators import retrieval as R
        from lakehouse_to_rag_spark.operators import similarity as S
        from lakehouse_to_rag_spark.sources import index_layout

        d, _, emb_store, bm25, ivf = served_indexes
        for root, col in ((bm25, "bucket"), (ivf, "cluster")):
            direct = index_layout.read_partitions(spark, root, col, range(64))
            assert direct.schema == spark.read.parquet(root).schema
        bm25, ivf = _plant_foreign_layout(tmp_path, bm25, ivf, plant)
        calls = [
            lambda: R._index_manifest(spark, str(tmp_path)),
            lambda: bm25_topk_from_index(spark, bm25, _local_text(spark, [(0, "a")])),
            lambda: S.ivf_topk_from_index(spark, ivf, emb_store.limit(2)),
        ]
        if plant != "stray_file":
            calls.append(lambda: R.append_to_bm25_index(spark, bm25, d.limit(0)))
        for call in calls:
            assert str(tmp_path) in str(_layout_error(call))

    @pytest.mark.parametrize("plant", ["delta_log", "stray_file"])
    def test_partition_reads_fall_back_to_discovery(
        self, spark, served_indexes, tmp_path, monkeypatch, plant
    ):
        """The partition reads have no discovery fallback: on an empty
        ``_delta_log`` at the root, or a part file without the .parquet
        suffix in every partition dir, both backends raise the layout
        error before any Spark job and without a Spark read of the
        root."""
        from pyspark.sql.readwriter import DataFrameReader

        from lakehouse_to_rag_spark.operators.similarity import (
            ivf_topk_from_index,
        )

        _, _, emb_store, bm25, ivf = served_indexes
        bm25, ivf = _plant_foreign_layout(tmp_path, bm25, ivf, plant)
        from lakehouse_to_rag_spark.sources.tables import local_df

        q = _local_text(spark, [(0, "the data pipeline")])
        qv = local_df(spark, emb_store.limit(2).collect(), emb_store.schema)
        reads = []
        real_parquet = DataFrameReader.parquet

        def spy(self, *paths, **kw):
            reads.append(paths)
            return real_parquet(self, *paths, **kw)

        monkeypatch.setattr(DataFrameReader, "parquet", spy)
        for call in (
            lambda: bm25_topk_from_index(spark, bm25, q, k=5),
            lambda: ivf_topk_from_index(spark, ivf, qv, k=5, nprobe=3),
        ):
            err, launched, _ = jobs_between_markers(
                spark, lambda: _layout_error(call)
            )
            assert launched == set() and str(tmp_path) in str(err)
        assert reads == []

    def test_query_without_bucket_dirs_is_empty(self, spark, tmp_path):
        """A query whose buckets hold no postings reads no dir and
        returns no rows."""
        docs = spark.createDataFrame(
            [(0, "alpha"), (1, "alpha beta")], "doc_id long, text string"
        )
        path = str(tmp_path / "bm25")
        write_bm25_index(docs, path, n_buckets=64)
        present = {
            int(p.name.split("=")[1])
            for p in tmp_path.joinpath("bm25").iterdir()
            if p.name.startswith("bucket=")
        }
        word = next(
            w for w in (f"w{i}" for i in range(1000))
            if spark.sql(f"SELECT pmod(xxhash64('{w}'), 64)").first()[0]
            not in present
        )
        q = _local_text(spark, [(0, word)])
        served = bm25_topk_from_index(spark, path, q, k=5)
        rows, launched, _ = jobs_between_markers(spark, served.collect)
        assert rows == []
        assert launched == set()
