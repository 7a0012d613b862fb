"""Quality checks for the probabilistic/approximate operators that have
no SQL oracle: MinHash-LSH recall vs exact Jaccard, SimHash behavior on
planted near-duplicates, IVF recall vs brute-force kNN."""

import pytest
from pyspark.sql import functions as F

from lakehouse_to_rag_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from lakehouse_to_rag_spark.operators.similarity import ivf_topk, knn_bruteforce
from lakehouse_to_rag_spark.sources.tables import load_table


def _pair_set(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_minhash_recall_vs_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = _pair_set(
        ngram_jaccard_pairs(
            docs, "doc_id", "text", 3, 0.5, max_shingle_df=None
        )
    )
    lsh = _pair_set(minhash_lsh_pairs(docs, "doc_id", "text", 3, threshold=0.5))
    assert exact, "testdata should contain planted near-dups"
    # LSH verification is exact-jaccard, so no false positives possible
    assert lsh <= exact
    # b=42, r=3 banding: >=99% expected recall at j=0.5
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, (recall, len(exact))


def test_simhash_flags_planted_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = _pair_set(
        ngram_jaccard_pairs(
            docs, "doc_id", "text", 3, 0.9, max_shingle_df=None
        )
    )
    # num_bands=11: complete banding for hamming 10 (r11 — the old
    # default-4-band call was silently incomplete past hamming 3 and
    # now fails closed)
    sim = _pair_set(
        simhash_pairs(docs, "doc_id", "text", max_hamming=10, num_bands=11)
    )
    if exact:  # very-near dups must collide within 10 bits
        hit = len(sim & exact) / len(exact)
        assert hit >= 0.5, (hit, exact - sim)


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, q, k=5, num_centroids=16, nprobe=8).collect()
    }
    # approximate search: expect majority overlap with nprobe=half
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_knn_numpy_matches_jvm(spark, sf_dir):
    """The numpy GEMM fast path must return the same neighbor sets as
    the JVM expression path (identical after 4dp rounding)."""
    from lakehouse_to_rag_spark.operators.similarity import knn_bruteforce_numpy

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    jvm = {(r["query_id"], r["neighbor_id"], r["cosine"])
           for r in knn_bruteforce(emb, q, k=5).collect()}
    np_ = {(r["query_id"], r["neighbor_id"], r["cosine"])
           for r in knn_bruteforce_numpy(emb, q, k=5).collect()}
    assert jvm == np_


def test_simhash_banding_is_exact_for_hamming_radius(spark, sf_dir):
    """Pigeonhole guarantee: with num_bands=4 blocks, any pair within
    hamming distance < 4 MUST agree on at least one block, so
    simhash_pairs(max_hamming=3) is EXACT — identical to the
    brute-force all-pairs hamming join over the same signatures, not
    just high-recall."""
    from lakehouse_to_rag_spark.operators.dedup import simhash, simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    banded = {(r["id_a"], r["id_b"], r["hamming"])
              for r in simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()}
    sh = simhash(docs, "doc_id", "text")
    a = sh.selectExpr("id AS id_a", "simhash AS ha")
    b = sh.selectExpr("id AS id_b", "simhash AS hb")
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .selectExpr("id_a", "id_b", "bit_count(ha ^ hb) AS hamming")
        .filter("hamming <= 3")
        .collect()
    }
    assert banded == brute


def test_simhash_md5_banding_is_exact_for_hamming_radius(spark, sf_dir):
    """Same pigeonhole exactness for the md5-derived 60-bit variant
    (4 × 15-bit blocks): banded pairs == brute-force hamming join."""
    from lakehouse_to_rag_spark.operators.dedup import (
        simhash_md5,
        simhash_pairs_md5,
    )

    docs = load_table(spark, sf_dir, "documents")
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs_md5(
            docs, "doc_id", "text", max_hamming=3
        ).collect()
    }
    sh = simhash_md5(docs, "doc_id", "text")
    a = sh.selectExpr("id AS id_a", "simhash AS ha")
    b = sh.selectExpr("id AS id_b", "simhash AS hb")
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .selectExpr("id_a", "id_b", "bit_count(ha ^ hb) AS hamming")
        .filter("hamming <= 3")
        .collect()
    }
    assert banded == brute


def test_tf_cosine_prefix_branch_matches_dense(spark, sf_dir):
    """tf_cosine_pairs dispatches to a dense GEMM when the vocabulary
    is small (the harness corpus: 31 words) — so the L2 prefix-filter
    branch would otherwise never run against real data. Forcing
    dense_vocab_limit=0 sends the same corpus down the prefix-filter
    inverted-index path; both branches must emit the identical exact
    pair set (values included, 4dp)."""
    from lakehouse_to_rag_spark.operators.dedup import tf_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    dense = {(r["id_a"], r["id_b"], r["cosine"])
             for r in tf_cosine_pairs(docs, "doc_id", "text", 0.95).collect()}
    prefix = {(r["id_a"], r["id_b"], r["cosine"])
              for r in tf_cosine_pairs(
                  docs, "doc_id", "text", 0.95, dense_vocab_limit=0
              ).collect()}
    assert dense == prefix
    assert dense, "testdata should contain near-dup documents"


def test_embedding_lsh_recall_vs_bruteforce(spark, sf_dir):
    """Hyperplane-LSH candidates must recover most true near-dup pairs
    and (by exact verification) introduce no false positives."""
    from lakehouse_to_rag_spark.operators.dedup import (
        embedding_dup_pairs,
        embedding_lsh_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = _pair_set(embedding_dup_pairs(emb, threshold=0.4))
    lsh = _pair_set(embedding_lsh_pairs(emb, threshold=0.4))
    assert lsh <= exact  # exact-cosine verification: no false positives
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.5, (recall, len(exact))


def test_kmeans_ivf_beats_or_matches_untrained(spark, sf_dir):
    from lakehouse_to_rag_spark.operators.similarity import ivf_topk_kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce(emb, q, k=5).collect()
    }
    trained = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk_kmeans(emb, q, k=5, num_centroids=16, nprobe=4).collect()
    }
    untrained = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, q, k=5, num_centroids=16, nprobe=4).collect()
    }
    r_trained = len(exact & trained) / len(exact)
    r_untrained = len(exact & untrained) / len(exact)
    assert r_trained >= r_untrained - 0.1, (r_trained, r_untrained)
    assert r_trained >= 0.4, r_trained


def test_minhash_ml_variant_recall(spark, sf_dir):
    """spark.ml MinHashLSH path agrees with the exact jaccard pairs."""
    from lakehouse_to_rag_spark.operators.dedup import minhash_lsh_pairs_ml

    docs = load_table(spark, sf_dir, "documents")
    exact = _pair_set(
        ngram_jaccard_pairs(
            docs, "doc_id", "text", 3, 0.5, max_shingle_df=None
        )
    )
    ml = _pair_set(minhash_lsh_pairs_ml(docs, "doc_id", "text", 3))
    assert ml <= exact  # exact re-verification: no false positives
    if exact:
        assert len(ml & exact) / len(exact) >= 0.8


def test_connected_components_properties(spark):
    """CC invariants on a hand-built graph: two components + isolated
    pair, roots are component minima."""
    from lakehouse_to_rag_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        ["id_a", "id_b"],
    )
    cc = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


class TestStarCC:
    """connected_components_star: the O(log^2 n)-round twin."""

    def test_equals_min_label_on_random_graphs(self, spark):
        """Star and propagation must label identically on random
        graphs (fixed seeds; mixed component shapes and sizes)."""
        import random

        from lakehouse_to_rag_spark.operators.graph import (
            connected_components,
            connected_components_star,
        )

        rng = random.Random(7)
        for _ in range(3):
            es = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
            es = [e for e in es if e[0] != e[1]] or [(0, 1)]
            df = spark.createDataFrame(es, ["id_a", "id_b"])
            a = sorted(
                tuple(r)
                for r in connected_components(df, max_iterations=200).collect()
            )
            b = sorted(tuple(r) for r in connected_components_star(df).collect())
            assert a == b

    def test_long_chain_converges_in_log_rounds(self, spark):
        """A 4096-node path (diameter 4095) — the shape that kills
        O(diameter) propagation — must converge in ~log^2 rounds and
        label every vertex with the path minimum."""
        from lakehouse_to_rag_spark.operators.graph import (
            connected_components,
            connected_components_star,
        )

        path = spark.createDataFrame(
            [(i, i + 1) for i in range(4095)], ["id_a", "id_b"]
        )
        stats: dict = {}
        cc = connected_components_star(path, stats=stats)
        assert cc.filter("component <> 0").count() == 0
        assert cc.count() == 4096
        assert stats["rounds"] <= 15  # measured 13; bound is O(log^2 n)
        # and the propagation twin must now REFUSE (a silent return
        # would be mislabeled output), naming the star remedy
        with pytest.raises(RuntimeError, match="connected_components_star"):
            connected_components(path).collect()

    def test_hub_skew(self, spark):
        """A 1000-leaf hub (worst-case degree skew) converges in a
        handful of rounds; hub min propagates to every leaf."""
        from lakehouse_to_rag_spark.operators.graph import (
            connected_components_star,
        )

        hub = spark.createDataFrame(
            [(500, i) for i in range(1000) if i != 500], ["id_a", "id_b"]
        )
        stats: dict = {}
        cc = connected_components_star(hub, stats=stats)
        assert cc.filter("component <> 0").count() == 0
        assert stats["rounds"] <= 5


def test_prefix_filter_jaccard_equals_naive(spark, sf_dir):
    """Prefix-filtered all-pairs Jaccard must emit EXACTLY the naive
    inverted-index operator's pair set (filtering is lossless for
    jaccard >= t by the prefix-overlap theorem)."""
    from lakehouse_to_rag_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )
    from lakehouse_to_rag_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    # uncapped form: the lossless-equality theorem is about UNCAPPED
    # jaccard (the DF-capped default is separately proven equal to
    # uncapped whenever no shingle exceeds the cap)
    naive = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(
            d, "doc_id", "text", max_shingle_df=None
        ).collect()
    )
    pref = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs_prefix(d, "doc_id", "text").collect()
    )
    assert naive == pref and len(naive) > 0


def test_simhash_numpy_equals_jvm(spark, sf_dir):
    """The GROUPED_AGG numpy simhash must be bit-identical to the
    64-expression JVM form on the full corpus."""
    from lakehouse_to_rag_spark.operators.dedup import simhash, simhash_numpy
    from lakehouse_to_rag_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    a = sorted(map(tuple, simhash(d, "doc_id", "text").collect()))
    b = sorted(map(tuple, simhash_numpy(d, "doc_id", "text").collect()))
    assert a == b and len(a) > 0


def test_grouped_agg_udfs_declare_type_by_hints(spark, sf_dir):
    """Both grouped-aggregate pandas UDFs are typed by hints: building
    them raises no warning, deprecation included."""
    import warnings

    from lakehouse_to_rag_spark.operators.dedup import simhash_numpy
    from lakehouse_to_rag_spark.plans.registry import events_weighted_mean_udaf

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        simhash_numpy(load_table(spark, sf_dir, "documents"), "doc_id", "text")
        events_weighted_mean_udaf(spark, sf_dir)


def test_tf_cosine_dense_multiblock_matches_single_block(spark, sf_dir):
    """The dense regime is a distributed upper-triangular block GEMM;
    at harness scale the corpus fits one block, so the cross-block
    machinery (hash block assignment, pa<pb pair tasks, pa==pb
    self-dedup) would otherwise never execute. Forcing tiny blocks
    (64 rows -> 8 blocks, 36 block-pair tasks over ~500 docs) must
    reproduce the single-block pair set exactly."""
    from lakehouse_to_rag_spark.operators.dedup import tf_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    one = {(r["id_a"], r["id_b"], r["cosine"])
           for r in tf_cosine_pairs(docs, "doc_id", "text", 0.9).collect()}
    many = {(r["id_a"], r["id_b"], r["cosine"])
            for r in tf_cosine_pairs(
                docs, "doc_id", "text", 0.9, dense_block_rows=64
            ).collect()}
    assert one == many
    assert one  # threshold 0.9 must catch the planted near-dups


def test_tf_cosine_empty_vocabulary_returns_empty(spark):
    """An all-empty/whitespace corpus has zero distinct terms; the
    dense-regime dispatch (nv <= limit) must short-circuit to an
    empty pair set instead of dividing block size by nv == 0."""
    from lakehouse_to_rag_spark.operators.dedup import tf_cosine_pairs

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "\t\n")],
        "doc_id long, text string",
    )
    out = tf_cosine_pairs(docs, "doc_id", "text", 0.8)
    assert out.columns == ["id_a", "id_b", "cosine"]
    assert out.count() == 0


class TestProductQuantization:
    """PQ ANN: code compactness, deterministic training, shortlist
    quality, and the re-ranked production path."""

    def test_codes_are_m_bytes_and_deterministic(self, spark, sf_dir):
        from lakehouse_to_rag_spark.operators.similarity import (
            pq_encode,
            pq_train,
        )

        e = load_table(spark, sf_dir, "embeddings")
        books = pq_train(e, m=8, k=64, sample_rows=400, iters=4)
        assert books.shape == (8, 64, 8)
        a = {r["vec_id"]: bytes(r["codes"]) for r in pq_encode(e, books).collect()}
        b = {r["vec_id"]: bytes(r["codes"]) for r in pq_encode(e, books).collect()}
        assert a == b and all(len(c) == 8 for c in a.values())
        # training is RNG-free: retrain gives identical codebooks
        import numpy as np

        books2 = pq_train(e, m=8, k=64, sample_rows=400, iters=4)
        assert np.array_equal(books, books2)

    def test_rerank_recovers_exact_on_clustered_corpus(self, spark):
        """Quantization error scrambles fine intra-cluster order (ADC
        alone), but the shortlist contains the true neighbors, so
        exact re-ranking recovers recall 1.0."""
        import numpy as np

        from lakehouse_to_rag_spark.operators.similarity import (
            knn_bruteforce,
            knn_pq_rerank,
            pq_train,
        )

        rng = np.random.default_rng(0)
        centers = rng.normal(size=(20, 64))
        pts = np.repeat(centers, 50, axis=0) + rng.normal(
            scale=0.15, size=(1000, 64)
        )
        df = spark.createDataFrame(
            [(i, [float(x) for x in pts[i]]) for i in range(1000)],
            "vec_id long, embedding array<double>",
        )
        q = df.filter(F.col("vec_id") < 10)
        books = pq_train(df, m=8, k=64, sample_rows=1000, iters=5)
        approx = knn_pq_rerank(df, q, books, k=10, rerank=50).collect()
        exact = knn_bruteforce(df, q, k=10).collect()
        ex, ap = {}, {}
        for r in exact:
            ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        for r in approx:
            ap.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        assert sum(len(ex[i] & ap[i]) / len(ex[i]) for i in ex) / len(ex) == 1.0

    def test_rerank_recall_improves_with_shortlist(self, spark, sf_dir):
        """On the (near-random, distance-concentrated) harness vectors
        recall must rise monotonically-ish with the shortlist size and
        clear 0.9 at rerank=100."""
        from lakehouse_to_rag_spark.operators.similarity import (
            knn_bruteforce,
            knn_pq_rerank,
            pq_train,
        )

        e = load_table(spark, sf_dir, "embeddings")
        q = e.filter(F.col("vec_id") < 10)
        books = pq_train(e, m=8, k=64, sample_rows=500, iters=5)
        exact = knn_bruteforce(e, q, k=10).collect()
        ex = {}
        for r in exact:
            ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])

        def rec(rr):
            ap = {}
            for r in knn_pq_rerank(e, q, books, k=10, rerank=rr).collect():
                ap.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            return sum(len(ex[i] & ap[i]) / len(ex[i]) for i in ex) / len(ex)

        r25, r100 = rec(25), rec(100)
        assert r100 >= r25
        assert r100 >= 0.9


class TestIvfPq:
    """IVF-PQ: coarse pruning x residual codes, re-ranked; persisted
    index equivalence."""

    def test_clustered_corpus_exact_recall(self, spark):
        import numpy as np

        from lakehouse_to_rag_spark.operators.similarity import (
            knn_bruteforce,
            knn_ivfpq_rerank,
        )

        rng = np.random.default_rng(0)
        centers = rng.normal(size=(20, 64))
        pts = np.repeat(centers, 50, axis=0) + rng.normal(
            scale=0.15, size=(1000, 64)
        )
        df = spark.createDataFrame(
            [(i, [float(x) for x in pts[i]]) for i in range(1000)],
            "vec_id long, embedding array<double>",
        )
        q = df.filter(F.col("vec_id") < 10)
        ex, ap = {}, {}
        for r in knn_bruteforce(df, q, k=10).collect():
            ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        for r in knn_ivfpq_rerank(
            df, q, k=10, num_centroids=20, nprobe=3, rerank=50,
            sample_rows=1000,
        ).collect():
            ap.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        rec = sum(len(ex[i] & ap.get(i, set())) / len(ex[i]) for i in ex) / len(ex)
        assert rec == 1.0

    def test_nprobe_monotone_on_harness_vectors(self, spark, sf_dir):
        """Structureless vectors: recall tracks the scanned fraction
        (nprobe/C) — the documented IVF property. More probes must not
        hurt, and half-the-corpus probing must clear 0.6."""
        from lakehouse_to_rag_spark.operators.similarity import (
            knn_bruteforce,
            knn_ivfpq_rerank,
        )

        e = load_table(spark, sf_dir, "embeddings")
        q = e.filter(F.col("vec_id") < 10)
        ex = {}
        for r in knn_bruteforce(e, q, k=10).collect():
            ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])

        def rec(npb):
            ap = {}
            for r in knn_ivfpq_rerank(
                e, q, k=10, num_centroids=16, nprobe=npb, rerank=100,
                sample_rows=500,
            ).collect():
                ap.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            return sum(
                len(ex[i] & ap.get(i, set())) / len(ex[i]) for i in ex
            ) / len(ex)

        r4, r8 = rec(4), rec(8)
        assert r8 >= r4
        assert r8 >= 0.6

    def test_persisted_index_matches_in_memory(self, spark, sf_dir, tmp_path):
        import numpy as np

        from lakehouse_to_rag_spark.operators.similarity import (
            ivfpq_encode,
            ivfpq_topk,
            ivfpq_topk_from_index,
            ivfpq_train,
            write_ivfpq_index,
        )

        e = load_table(spark, sf_dir, "embeddings")
        q = e.filter(F.col("vec_id") < 10)
        path = str(tmp_path / "ivfpq_index")
        write_ivfpq_index(e, path, num_centroids=8, m=8, pq_k=32,
                          sample_rows=400)
        got = {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_dist"])
            for r in ivfpq_topk_from_index(
                spark, path, q, k=5, nprobe=3
            ).collect()
        }
        coarse, books = ivfpq_train(e, 8, 8, 32, 400)
        codes = ivfpq_encode(e, coarse, books)
        want = {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_dist"])
            for r in ivfpq_topk(codes, q, coarse, books, k=5, nprobe=3).collect()
        }
        assert got == want and len(got) == 50
        # codes really are m bytes: the stored index has no vector col
        import os

        stored = spark.read.parquet(path)
        assert "embedding" not in stored.columns
        assert any(d.startswith("cluster=") for d in os.listdir(path))


def test_ngram_jaccard_df_cap_equals_uncapped_when_under_cap(spark, sf_dir):
    """An explicit cap no shingle reaches (100k) drops nothing, so
    the capped form must be bit-identical to max_shingle_df=None —
    the equality-under-the-cap property the gated uncapped pin relies
    on. (The "auto" default's cull behavior is covered separately in
    TestShingleDfCapDefault.)"""
    docs = load_table(spark, sf_dir, "documents")
    capped = {
        tuple(r)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", 3, 0.5, max_shingle_df=100_000
        ).collect()
    }
    uncapped = {
        tuple(r)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", 3, 0.5, max_shingle_df=None
        ).collect()
    }
    assert capped == uncapped and capped


def test_ngram_jaccard_stop_shingle_cap_bounds_pair_volume(spark):
    """A planted stop-shingle shared by all 40 docs creates C(40,2)=780
    join pairs uncapped; a DF cap of 10 drops it before the self-join,
    collapsing candidate volume to zero — the skew guard at work."""
    rows = [
        (i, f"the quick brown u{i}x t{i}y w{i}z e{i}q") for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(
        df, "doc_id", "text", 3, 0.01, max_shingle_df=None
    )
    assert uncapped.count() == 40 * 39 // 2
    capped = ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.01, max_shingle_df=10)
    assert capped.count() == 0


class TestSemDeDup:
    def _clustered(self, spark):
        """20 well-separated centers x 10 members; members of a center
        are tiny perturbations (cosine ~1 to each other), centers are
        near-orthogonal — every true dup pair is INTRA-cluster by
        construction."""
        import numpy as np

        rng = np.random.default_rng(7)
        centers = rng.normal(size=(20, 32))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        rows = []
        vid = 0
        for c in range(20):
            for m in range(10):
                v = centers[c] + 0.01 * rng.normal(size=32)
                rows.append((vid, [float(x) for x in v]))
                vid += 1
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_clustered_corpus_keeps_one_per_group(self, spark):
        from lakehouse_to_rag_spark.operators.dedup import semdedup

        e = self._clustered(spark)
        out = semdedup(e, num_clusters=20, threshold=0.95, iterations=3).collect()
        assert len(out) == 200
        kept = sorted(r["vec_id"] for r in out if r["kept"])
        # ~1 survivor per planted group of 10 (k-means may split a
        # group across clusters, leaving a couple extra survivors)
        assert 20 <= len(kept) <= 30, len(kept)
        # keep-smallest-id rule: the first member of each group (ids
        # 0,10,20,...) can never be dropped by a same-group sibling
        for gid in range(0, 200, 10):
            assert gid in kept, gid

    def test_no_dups_keeps_everything(self, spark):
        import numpy as np

        from lakehouse_to_rag_spark.operators.dedup import semdedup

        rng = np.random.default_rng(3)
        m = rng.normal(size=(100, 16))
        e = spark.createDataFrame(
            [(i, [float(x) for x in m[i]]) for i in range(100)],
            "vec_id long, embedding array<double>",
        )
        out = semdedup(e, num_clusters=8, threshold=0.99).collect()
        assert all(r["kept"] for r in out)

    def test_output_covers_every_vector_once(self, spark, sf_dir):
        from lakehouse_to_rag_spark.operators.dedup import semdedup

        e = load_table(spark, sf_dir, "embeddings")
        out = semdedup(e, num_clusters=16, threshold=0.4).collect()
        ids = [r["vec_id"] for r in out]
        assert len(ids) == len(set(ids)) == e.count()


class TestSemdedupAutoSplit:
    """Oversized-cluster hierarchy (VERDICT r4 #2): clusters above
    max_cluster_rows are recursively re-clustered instead of raising;
    below the cap the split never activates and output is identical to
    the flat form."""

    def _corpus(self, spark, groups=20, per_group=10, dim=32, seed=7):
        import numpy as np

        rng = np.random.default_rng(seed)
        centers = rng.normal(size=(groups, dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        rows = []
        vid = 0
        for c in range(groups):
            for _ in range(per_group):
                v = centers[c] + 0.01 * rng.normal(size=dim)
                rows.append((vid, [float(x) for x in v]))
                vid += 1
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_sampled_trainer_survives_duplicate_heavy_low_ids(self, spark):
        """Round-6 review fix: the sub-quantizer sample is the first
        split_train_rows DISTINCT vectors by id — a plain id-top-k
        sample would see ONE distinct vector here (the 120 smallest
        ids are byte-identical) and falsely raise 'irreducible' on a
        cluster that full-cluster training splits fine."""
        from lakehouse_to_rag_spark.operators.dedup import semdedup

        rows = [(i, [9.0, 0.0, 0.0, 0.0]) for i in range(50)] + [
            (50 + i, [float(1 + i % 7), float(i % 5),
                      float(1 + i % 3), float(i % 2)])
            for i in range(70)
        ]
        e = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        out = {
            r["vec_id"]: r["kept"]
            for r in semdedup(
                e,
                num_clusters=1,     # one oversized top cluster (120 > 60)
                threshold=0.95,
                max_cluster_rows=60,
                split_train_rows=16,  # << the 50-copy clique's id range
            ).collect()
        }
        assert len(out) == 120
        assert out[0] is True          # smallest id of the clique kept
        assert not any(out[i] for i in range(1, 50))  # clique dropped

    def test_inactive_split_is_identical_to_flat(self, spark):
        from lakehouse_to_rag_spark.operators.dedup import semdedup

        e = self._corpus(spark)
        flat = sorted(
            map(tuple, semdedup(e, num_clusters=8, threshold=0.95).collect())
        )
        capped = sorted(
            map(
                tuple,
                semdedup(
                    e, num_clusters=8, threshold=0.95, max_cluster_rows=10**9
                ).collect(),
            )
        )
        assert flat == capped

    def test_forced_split_completes_and_keeps_labels(self, spark):
        """num_clusters=2 over 200 rows with a 40-row cap forces the
        recursion. Invariants vs the flat form: every id exactly once,
        top-level cluster labels unchanged, kept set a superset (a
        split can only MISS pairs, never invent drops), smallest id of
        every planted group always kept, and the whole thing is
        deterministic."""
        from lakehouse_to_rag_spark.operators.dedup import semdedup

        e = self._corpus(spark)
        flat = {
            r["vec_id"]: r
            for r in semdedup(e, num_clusters=2, threshold=0.95).collect()
        }
        out = {
            r["vec_id"]: r
            for r in semdedup(
                e, num_clusters=2, threshold=0.95, max_cluster_rows=40
            ).collect()
        }
        assert sorted(out) == sorted(flat) and len(out) == 200
        for vid, r in out.items():
            assert r["cluster"] == flat[vid]["cluster"]
            if flat[vid]["kept"]:
                assert r["kept"], vid
        for gid in range(0, 200, 10):
            assert out[gid]["kept"], gid
        rerun = {
            r["vec_id"]: (r["cluster"], r["kept"])
            for r in semdedup(
                e, num_clusters=2, threshold=0.95, max_cluster_rows=40
            ).collect()
        }
        assert rerun == {
            v: (r["cluster"], r["kept"]) for v, r in out.items()
        }

    def test_irreducible_identical_cluster_raises(self, spark):
        """> cap byte-identical vectors collapse to ONE distinct
        k-means seed — re-clustering cannot make progress, so the
        refusal stays loud with the pre-dedup remedy named."""
        import pytest

        from lakehouse_to_rag_spark.operators.dedup import semdedup

        rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(40)]
        rows += [(100 + i, [float(i + 1), 0.0, 0.0, 1.0]) for i in range(5)]
        e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        with pytest.raises(NotImplementedError, match="Pre-dedup exact"):
            semdedup(
                e, num_clusters=2, threshold=0.95, max_cluster_rows=10
            )


def test_trained_persisted_ivf_matches_in_memory(spark, sf_dir, tmp_path):
    """write_ivf_index(trained=True) + probe must equal the in-memory
    trained path (ivf_topk_kmeans) exactly: the persisted quantizer IS
    the k-means centroids, and the probe path is shared."""
    from lakehouse_to_rag_spark.operators.similarity import (
        ivf_topk_from_index,
        ivf_topk_kmeans,
        write_ivf_index,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivf_trained")
    write_ivf_index(e, path, num_centroids=16, trained=True, iterations=3)
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in ivf_topk_from_index(spark, path, q, k=5, nprobe=4).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in ivf_topk_kmeans(
            e, q, k=5, num_centroids=16, nprobe=4, iterations=3
        ).collect()
    }
    assert got == want and len(got) == 50


def test_semdedup_survives_zero_vector(spark):
    """A zero-norm embedding must not crash assignment (NaN sims ->
    deterministic lowest-centroid fallback) and must always be kept
    (undefined cosine can never witness a duplicate)."""
    import numpy as np

    from lakehouse_to_rag_spark.operators.dedup import semdedup

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(30)]
    rows.append((30, [0.0] * 8))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in semdedup(e, num_clusters=4, threshold=0.9).collect()}
    assert len(out) == 31
    assert out[30]["kept"] is True


class TestZeroNormCentroidGuard:
    """Engine/oracle parity guard (ADVICE r4): a zero-vector centroid
    would be never-selected by Spark's NaN->-inf argmax but
    first-selected by a DuckDB NaN-first ORDER BY — the quantizers
    must refuse it loudly instead of diverging silently."""

    def test_ivf_assign_refuses_zero_seed(self, spark):
        import pytest

        from lakehouse_to_rag_spark.operators.similarity import ivf_assign

        corpus = spark.createDataFrame(
            [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(ValueError, match="zero vector"):
            ivf_assign(corpus, num_centroids=2)

    def test_kmeans_refuses_zero_seed(self, spark):
        import pytest

        from lakehouse_to_rag_spark.operators.similarity import (
            kmeans_centroids,
        )

        corpus = spark.createDataFrame(
            [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(ValueError, match="zero vector"):
            kmeans_centroids(corpus, num_centroids=2, iterations=1)

    def test_clean_corpus_unaffected(self, spark):
        from lakehouse_to_rag_spark.operators.similarity import (
            kmeans_centroids,
        )

        corpus = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0]), (3, [2.0, 0.1])],
            "vec_id long, embedding array<double>",
        )
        cents = kmeans_centroids(corpus, num_centroids=2, iterations=2)
        assert cents.count() == 2


class TestShingleDfCapDefault:
    """ngram_jaccard_pairs' DF cap default is "auto" since r10
    (VERDICT r9 task 4, superseding the ADVICE-r4 opt-in this class
    used to pin): an unbounded shingle self-join was the one
    remaining quadratic-by-default path in the dedup family. The
    fraction-of-corpus cap clamp(ceil(1% of docs), 16, 1000) is a
    no-op below 17 documents (the floor exceeds any possible df), so
    hand-sized exactness tests keep whole-corpus semantics by
    construction; gated oracle entries pin max_shingle_df=None."""

    def test_default_is_auto(self):
        import inspect

        from lakehouse_to_rag_spark.operators.dedup import (
            ngram_containment_pairs,
        )

        for fn in (ngram_jaccard_pairs, ngram_containment_pairs):
            sig = inspect.signature(fn)
            assert sig.parameters["max_shingle_df"].default == "auto"

    def test_auto_culls_planted_boilerplate_true_pairs_survive(self, spark):
        """A boilerplate trigram shared by ALL 40 docs contributes
        C(40,2)=780 join rows uncapped; at 40 docs the auto cap is 16,
        so it is dropped BEFORE the self-join — while a planted true
        near-dup pair (distinctive shared shingles, df=2) survives
        with its jaccard computed over the filtered universe."""
        boiler = "copyright footer boilerplate text"
        rows = [
            (i, f"{boiler} unique{i}a unique{i}b unique{i}c unique{i}d")
            for i in range(38)
        ]
        # a true near-dup pair: same distinctive body, one token off
        body = "quantum flux capacitor alignment manifold resonance"
        rows += [(100, f"{boiler} {body} alpha"),
                 (101, f"{boiler} {body} omega")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", 3, 0.3
            ).collect()
        }
        assert got == {(100, 101)}
        # uncapped, the boilerplate shingles glue unrelated docs into
        # candidate pairs (none clear the threshold here, but the pair
        # VOLUME is the scale hazard the default now bounds)
        uncapped_pairs = ngram_jaccard_pairs(
            df, "doc_id", "text", 3, 0.3, max_shingle_df=None
        )
        assert (100, 101) in {
            (r["id_a"], r["id_b"]) for r in uncapped_pairs.collect()
        }

    def test_auto_equals_uncapped_below_floor(self, spark):
        """<= 16 docs: df can never exceed the floor-16 cap, so the
        auto default is bit-identical to None."""
        rows = [
            (i, f"shared prefix words here tail{i} tok{i}")
            for i in range(12)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        auto = {
            tuple(r)
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", 3, 0.1
            ).collect()
        }
        unc = {
            tuple(r)
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", 3, 0.1, max_shingle_df=None
            ).collect()
        }
        assert auto == unc and auto


class TestAnnRecall:
    """ann_recall: the ANN-vs-exact quality gauge."""

    def test_self_recall_is_one(self, spark, sf_dir):
        from lakehouse_to_rag_spark.operators.similarity import ann_recall

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = e.filter("vec_id < 5")
        exact = knn_bruteforce(e, q, k=5)
        rows = ann_recall(exact, exact, k=5).collect()
        assert len(rows) == 5
        assert all(r["n_hits"] == 5 and r["recall"] == 1.0 for r in rows)

    def test_missing_query_scores_zero_not_dropped(self, spark, sf_dir):
        """A query the approximate side never answered must appear
        with recall 0 — the gauge cannot hide broken probe sets."""
        from pyspark.sql import functions as F

        from lakehouse_to_rag_spark.operators.similarity import ann_recall

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = e.filter("vec_id < 5")
        exact = knn_bruteforce(e, q, k=5)
        approx = exact.filter(F.col("query_id") != 0)
        rows = {r["query_id"]: r for r in ann_recall(exact, approx, k=5).collect()}
        assert rows[0]["n_hits"] == 0 and rows[0]["recall"] == 0.0
        assert rows[1]["recall"] == 1.0

    def test_partial_overlap_counts_hits(self, spark):
        from lakehouse_to_rag_spark.operators.similarity import ann_recall

        exact = spark.createDataFrame(
            [(1, n) for n in (10, 11, 12, 13, 14)],
            "query_id long, neighbor_id long",
        )
        approx = spark.createDataFrame(
            [(1, n) for n in (10, 11, 99, 98, 97)],
            "query_id long, neighbor_id long",
        )
        [r] = ann_recall(exact, approx, k=5).collect()
        assert r["n_hits"] == 2 and r["recall"] == 0.4


class TestBinaryANN:
    """Sign-bit quantization family: packing exactness, the
    rerank-equals-exact limit, and shortlist recall."""

    def test_packing_matches_numpy_reference(self, spark):
        """dim=128 (two words, bit 63 = the long sign bit exercised)
        against an independent numpy packing."""
        import numpy as np

        from lakehouse_to_rag_spark.operators.similarity import quantize_binary

        rng = np.random.default_rng(11)
        vecs = rng.standard_normal((20, 128)).astype("float32")
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(20)],
            "vec_id long, embedding array<float>",
        )
        got = {
            r["vec_id"]: list(r["words"])
            for r in quantize_binary(df, dim=128).collect()
        }
        for i in range(20):
            bits = (vecs[i] > 0).astype(np.uint64)
            for w in range(2):
                word = np.uint64(0)
                for j in range(64):
                    word |= bits[w * 64 + j] << np.uint64(j)
                assert got[i][w] == np.int64(word), (i, w)

    def test_hamming_counts_sign_disagreements(self, spark):
        """Two crafted vectors disagreeing in exactly 3 sign positions
        (one of them position 63) have hamming 3."""
        from lakehouse_to_rag_spark.operators.similarity import knn_binary

        a = [1.0] * 64
        b = [1.0] * 64
        for p in (0, 31, 63):
            b[p] = -1.0
        df = spark.createDataFrame(
            [(0, a), (1, b)], "vec_id long, embedding array<float>"
        )
        rows = knn_binary(df, df.filter("vec_id = 0"), dim=64, k=1).collect()
        assert len(rows) == 1 and rows[0]["hamming"] == 3

    def test_rerank_full_shortlist_equals_bruteforce(self, spark, sf_dir):
        """With rerank >= corpus size the shortlist is everything, so
        the rerank path must reproduce knn_bruteforce EXACTLY."""
        from lakehouse_to_rag_spark.operators.similarity import (
            knn_binary_rerank,
            knn_bruteforce,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n = e.count()
        q = e.filter(F.col("vec_id") < 5)
        exact = sorted(tuple(r) for r in knn_bruteforce(e, q, k=5).collect())
        full = sorted(
            tuple(r)
            for r in knn_binary_rerank(e, q, dim=64, k=5, rerank=n).collect()
        )
        assert exact == full

    def test_shortlist_recall_floor(self, spark, sf_dir):
        """A fixed-FRACTION Hamming shortlist (10% of the corpus) +
        exact rerank keeps mean recall@5 far above the 10% a random
        shortlist would score. (Measured with rerank=50 absolute:
        0.68 at sf0.01 / 500 vectors, 0.48 at sf0.1 / 2000 — 1-bit
        signatures price recall in shortlist FRACTION, hence the
        corpus-proportional rerank here so the test means the same
        thing at every SF.)"""
        from lakehouse_to_rag_spark.operators.similarity import (
            ann_recall,
            knn_binary_rerank,
            knn_bruteforce,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = e.filter(F.col("vec_id") < 10)
        rerank = max(50, e.count() // 10)
        exact = knn_bruteforce(e, q, k=5)
        approx = knn_binary_rerank(e, q, dim=64, k=5, rerank=rerank)
        rec = ann_recall(exact, approx, k=5).agg(F.avg("recall")).collect()[0][0]
        assert rec >= 0.4, (rec, rerank)


class TestHashedEmbedder:
    """embed_hashed_tf: the model-free feature-hashing embedder."""

    def test_shape_zero_vector_and_determinism(self, spark):
        from lakehouse_to_rag_spark.operators.text_analysis import (
            embed_hashed_tf,
        )

        df = spark.createDataFrame(
            [
                (0, "spark table join"),
                (1, "spark table join"),  # identical text
                (2, ""),  # splits to no words -> zero vector
                (3, None),  # dropped by the not-null contract
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: list(r["embedding"])
               for r in embed_hashed_tf(df, dim=32).collect()}
        assert set(out) == {0, 1, 2}
        assert all(len(v) == 32 for v in out.values())
        assert out[0] == out[1]  # same text -> identical vector
        assert out[2] == [0.0] * 32
        # signed tf sums: integer-valued entries, total mass = 3 words
        assert all(float(x).is_integer() for x in out[0])
        assert sum(abs(x) for x in out[0]) == 3.0

    def test_tf_weighting_counts_occurrences(self, spark):
        """A repeated word contributes its multiplicity, not 1."""
        from lakehouse_to_rag_spark.operators.text_analysis import (
            embed_hashed_tf,
        )

        df = spark.createDataFrame(
            [(0, "ha"), (1, "ha ha ha")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r["embedding"]
               for r in embed_hashed_tf(df, dim=8).collect()}
        assert [3 * x for x in out[0]] == list(out[1])

    def test_exact_dup_texts_have_cosine_one(self, spark, sf_dir):
        """Composition: hashed embeddings feed the cosine dedup ops —
        planted exact-duplicate texts land at cosine 1.0."""
        from lakehouse_to_rag_spark.operators.dedup import embedding_dup_pairs
        from lakehouse_to_rag_spark.operators.text_analysis import (
            embed_hashed_tf,
        )

        base = load_table(spark, sf_dir, "documents")
        # plant exact duplicates: re-id copies of docs 0..4 at +100000
        planted = base.filter("doc_id < 5").withColumn(
            "doc_id", F.col("doc_id") + F.lit(100_000)
        )
        docs = base.unionByName(planted)
        dups = {(i, i + 100_000) for i in range(5)}
        emb = embed_hashed_tf(docs, dim=64).withColumnRenamed("doc_id", "vec_id")
        pairs = {
            (r["id_a"], r["id_b"])
            for r in embedding_dup_pairs(emb, threshold=0.9999).collect()
        }
        assert dups <= pairs  # identical text => identical vector => cos 1


def test_append_to_ivf_index_equals_rebuild(spark, sf_dir, tmp_path):
    """Incremental maintenance: building an index on half the corpus
    then appending the other half must serve IDENTICALLY to an index
    built in one shot with the SAME quantizer (centroids come from the
    first build's half, so we pin equality by seeding both from it)."""
    from lakehouse_to_rag_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_topk_from_index,
        write_ivf_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    first = e.filter("vec_id % 2 = 0")
    second = e.filter("vec_id % 2 = 1")

    inc_path = str(tmp_path / "inc")
    write_ivf_index(first, inc_path, num_centroids=16)
    n = append_to_ivf_index(spark, inc_path, second)
    assert n == second.count()

    q = e.filter("vec_id < 6")
    served_inc = sorted(
        tuple(r)
        for r in ivf_topk_from_index(spark, inc_path, q, k=5, nprobe=4).collect()
    )

    # one-shot reference sharing the incremental build's quantizer:
    # assign the FULL corpus against the persisted centroids and probe
    from lakehouse_to_rag_spark.operators.similarity import (
        _gemm_assign,
        _score_probed,
        _query_probes,
    )
    from lakehouse_to_rag_spark.sources.lakehouse import read_layer

    cent_df = read_layer(spark, f"{inc_path}/_centroids")
    cent_rows = [
        (int(r["centroid_id"]), [float(x) for x in r["cvec"]])
        for r in cent_df.collect()
    ]
    assigned = _gemm_assign(e, cent_rows, "vec_id", "embedding")
    probes = _query_probes(q, F.broadcast(cent_df), 4, "vec_id", "embedding")
    direct = sorted(
        tuple(r) for r in _score_probed(assigned, probes, 5, "vec_id", "embedding").collect()
    )
    assert served_inc == direct and served_inc


def test_compact_ivf_index_preserves_serving(spark, sf_dir, tmp_path):
    """Compact-then-serve equality: repeated appends fragment the
    cluster=N/ directories into one file per batch; compaction must
    (a) actually shrink the file count, (b) keep probe results
    bit-equal, and (c) preserve the _centroids quantizer and the
    streaming sink's _ledger across the swap (the generic
    compact_layer would destroy both — that's why the index-aware
    pass exists)."""
    import pathlib

    from lakehouse_to_rag_spark.operators.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
        ivf_topk_from_index,
        write_ivf_index,
    )
    from lakehouse_to_rag_spark.sources.lakehouse import write_layer

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    write_ivf_index(e.filter("vec_id % 4 = 0"), path, num_centroids=16)
    for m in (1, 2, 3):
        append_to_ivf_index(spark, path, e.filter(f"vec_id % 4 = {m}"))
    write_layer(
        spark.createDataFrame([(0,)], "batch_id long"),
        f"{path}/_ledger",
    )

    def files(p):
        return [
            f for f in pathlib.Path(p).rglob("*.parquet")
            if f.is_file()
            and "_centroids" not in f.parts and "_ledger" not in f.parts
        ]

    def cents(p):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(f"{p}/_centroids").collect()
        )

    q = e.filter("vec_id < 6")
    before = sorted(
        tuple(r)
        for r in ivf_topk_from_index(spark, path, q, k=5, nprobe=4).collect()
    )
    n_before, cents_before = len(files(path)), cents(path)
    assert n_before > 16  # fragmentation actually present

    n_written = compact_ivf_index(spark, path)
    assert len(files(path)) == n_written < n_before
    after = sorted(
        tuple(r)
        for r in ivf_topk_from_index(spark, path, q, k=5, nprobe=4).collect()
    )
    assert after == before and after
    assert cents(path) == cents_before
    assert spark.read.parquet(f"{path}/_ledger").collect()[0]["batch_id"] == 0


class TestPageRank:
    """pagerank_micro: exact integer-micro PageRank."""

    def test_hand_computed_two_rounds(self, spark):
        """1->2, 2->1, 3->1 for two rounds, every value hand-derived
        (pr0 = 1e6; pr' = 150000 + 85*sum(pr//outdeg)//100)."""
        from lakehouse_to_rag_spark.operators.graph import pagerank_micro

        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (3, 1)], ["src", "dst"]
        )
        pr = {
            r["id"]: r["pr_micro"]
            for r in pagerank_micro(edges, 85, iterations=2).collect()
        }
        assert pr == {1: 1_127_500, 2: 1_722_500, 3: 150_000}

    def test_checkpoint_interval_never_changes_scores(self, spark):
        """The r13 periodic-checkpoint knob is pure materialization
        policy: any checkpoint_every value (including intervals that
        do not divide iterations) and the no-checkpoint plan-debug
        form must produce bit-identical micros."""
        from lakehouse_to_rag_spark.operators.graph import pagerank_micro

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (2, 4)],
            ["src", "dst"],
        )
        ref = sorted(
            tuple(r)
            for r in pagerank_micro(
                edges, 85, iterations=7, checkpoint_every=1
            ).collect()
        )
        for every in (2, 5, 100):
            got = sorted(
                tuple(r)
                for r in pagerank_micro(
                    edges, 85, iterations=7, checkpoint_every=every
                ).collect()
            )
            assert got == ref, every
        flat = sorted(
            tuple(r)
            for r in pagerank_micro(
                edges, 85, iterations=7, checkpoint_rounds=False
            ).collect()
        )
        assert flat == ref
        import pytest

        with pytest.raises(ValueError, match="checkpoint_every"):
            pagerank_micro(edges, 85, 2, checkpoint_every=0)

    def test_hub_outranks_leaves(self, spark):
        """A node every other node points at must rank first; floor
        division keeps everything deterministic (re-run identical)."""
        from lakehouse_to_rag_spark.operators.graph import pagerank_micro

        edges = spark.createDataFrame(
            [(i, 0) for i in range(1, 20)] + [(0, 1)], ["src", "dst"]
        )
        a = sorted(tuple(r) for r in pagerank_micro(edges, 85, 5).collect())
        b = sorted(tuple(r) for r in pagerank_micro(edges, 85, 5).collect())
        assert a == b
        top = max(a, key=lambda t: t[1])
        assert top[0] == 0


def test_knn_binary_ivf_full_probe_equals_flat_scan(spark, sf_dir):
    """At nprobe == num_centroids every bucket is scanned, so binary
    IVF must reproduce the flat Hamming scan EXACTLY — the pruning
    changes candidates, never arithmetic."""
    from lakehouse_to_rag_spark.operators.similarity import (
        knn_binary,
        knn_binary_ivf,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    flat = sorted(tuple(r) for r in knn_binary(e, q, dim=64, k=5).collect())
    full = sorted(
        tuple(r)
        for r in knn_binary_ivf(
            e, q, dim=64, k=5, num_centroids=16, nprobe=16
        ).collect()
    )
    assert flat == full and flat


def test_knn_binary_ivf_pruned_recall(spark, sf_dir):
    """nprobe=4 of 16 buckets keeps majority overlap with the flat
    scan's neighbor set (the standard IVF recall/probes trade)."""
    from lakehouse_to_rag_spark.operators.similarity import (
        knn_binary,
        knn_binary_ivf,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    flat = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_binary(e, q, dim=64, k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_binary_ivf(
            e, q, dim=64, k=5, num_centroids=16, nprobe=4
        ).collect()
    }
    assert len(flat & ivf) / len(flat) >= 0.4, len(flat & ivf) / len(flat)


def test_minhash_distinct_first_equals_direct(spark, sf_dir):
    """Exact-dedup-first MinHash must emit EXACTLY the direct
    operator's pair set, values included — both on the raw corpus and
    with planted exact-duplicate cliques (where the factoring's
    within-clique expansion carries the load)."""
    from lakehouse_to_rag_spark.operators.dedup import (
        minhash_lsh_pairs_distinct,
    )

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.filter("doc_id < 20").withColumn(
        "doc_id", F.col("doc_id") + F.lit(500_000)
    )
    for d in (docs, docs.unionByName(planted)):
        a = sorted(
            tuple(r)
            for r in minhash_lsh_pairs(d, "doc_id", "text", 3, threshold=0.5).collect()
        )
        b = sorted(
            tuple(r)
            for r in minhash_lsh_pairs_distinct(
                d, "doc_id", "text", 3, threshold=0.5
            ).collect()
        )
        assert a == b and a


def test_minhash_auto_dispatch(spark, sf_dir):
    """The auto entry point must (a) return the identical pair set
    whichever branch the cutover forces, and (b) pick the branch the
    corpus shape calls for: the direct form on the mostly-distinct
    raw documents, the distinct-first form once the corpus is
    replica-heavy."""
    from unittest.mock import patch

    import lakehouse_to_rag_spark.operators.dedup as dd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    want = sorted(
        tuple(r)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", 3, threshold=0.5
        ).collect()
    )
    for cutover in (0.0, 2.0):  # force distinct-first / force direct
        got = sorted(
            tuple(r)
            for r in dd.minhash_lsh_pairs_auto(
                docs, "doc_id", "text", 3,
                threshold=0.5, dup_ratio_cutover=cutover,
            ).collect()
        )
        assert got == want and got

    # dispatch direction: spy on the distinct-first form only (the
    # distinct form calls the direct one internally on the rep table,
    # so "direct was called" can't discriminate)
    heavy = docs
    for i in range(1, 8):  # 8 copies => dup ratio 0.875, above cutover
        heavy = heavy.unionByName(
            docs.withColumn(
                "doc_id", F.col("doc_id") + F.lit(i * 10_000_000)
            )
        )
    for data, expect_distinct in ((docs, False), (heavy, True)):
        with patch.object(
            dd,
            "minhash_lsh_pairs_distinct",
            wraps=dd.minhash_lsh_pairs_distinct,
        ) as dist:
            dd.minhash_lsh_pairs_auto(data, "doc_id", "text", 3)
            assert dist.called == expect_distinct


class TestWinnowing:
    """Winnowing fingerprints (Schleimer et al. 2003): the guarantee,
    the boundary, and the sketch-size economics."""

    def test_shared_substring_guarantee(self, spark):
        """Any substring of length >= k + w - 1 shared between two
        documents must land at least one identical fingerprint in
        both — the paper's correctness property, on a planted
        plagiarism pair with otherwise unrelated text. The guarantee
        is HASH-AGNOSTIC (it needs only that both docs hash a gram
        identically), so it must hold for the md5 oracle form AND the
        xxhash64 production form alike."""
        from lakehouse_to_rag_spark.operators.text_analysis import (
            winnow_fingerprints,
        )

        stolen = "the quick brown fox jumps over the lazy dog tonight"
        docs = spark.createDataFrame(
            [
                (0, "aaaa bbbb cccc " + stolen + " dddd eeee"),
                (1, "zzzz yyyy " + stolen + " xxxx wwww vvvv"),
                (2, "completely unrelated content with no overlap 12345"),
            ],
            "doc_id long, text string",
        )
        for hash_fn in ("md5", "xxhash64"):
            fps = {
                i: {
                    r["fp"]
                    for r in winnow_fingerprints(
                        docs.filter(f"doc_id = {i}"), k=8, w=4,
                        hash_fn=hash_fn,
                    ).collect()
                }
                for i in range(3)
            }
            assert fps[0] & fps[1], f"planted substring missed ({hash_fn})"
            assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])

    def test_rejects_unknown_hash_fn(self, spark):
        import pytest

        from lakehouse_to_rag_spark.operators.text_analysis import (
            winnow_fingerprints,
        )

        docs = spark.createDataFrame(
            [(0, "some text")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="hash_fn"):
            winnow_fingerprints(docs, hash_fn="sha1")

    def test_boundary_and_sketch_size(self, spark):
        from lakehouse_to_rag_spark.operators.text_analysis import (
            winnow_fingerprints,
        )

        # shorter than k + w - 1 = 11 chars: no full window, no rows
        short = spark.createDataFrame(
            [(0, "ten chars!"), (1, "0123456789a")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]
            for r in winnow_fingerprints(short, k=8, w=4).collect()
        }
        assert got == {1}  # exactly the 11-char doc fingerprints

        # sketch is materially smaller than the full k-gram set
        long_doc = spark.createDataFrame(
            [(0, " ".join(f"tok{i}" for i in range(200)))],
            "doc_id long, text string",
        )
        n_fp = winnow_fingerprints(long_doc, k=8, w=4).count()
        n_grams = len(" ".join(f"tok{i}" for i in range(200))) - 7
        assert 0 < n_fp < n_grams / 2  # ~2/(w+1) of the gram set

    def test_rejects_bad_params(self, spark):
        import pytest

        from lakehouse_to_rag_spark.operators.text_analysis import (
            winnow_fingerprints,
        )

        docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
        for k, w in ((0, 4), (8, 0)):
            with pytest.raises(ValueError, match="winnow"):
                winnow_fingerprints(docs, k=k, w=w)

    def test_matches_find_planted_plagiarism(self, spark):
        """winnow_matches pairs exactly the planted copy pair; the
        boilerplate cap drops a fingerprint shared by every doc (a
        common header must not make everything match everything)."""
        from lakehouse_to_rag_spark.operators.text_analysis import (
            winnow_matches,
        )

        header = "standard corporate header line "
        stolen = "the quick brown fox jumps over the lazy dog tonight"
        docs = spark.createDataFrame(
            [
                (0, header + "aaa bbb " + stolen),
                (1, header + "zzz yyy " + stolen + " xxx"),
                (2, header + "totally unrelated content 12345 seven"),
                (3, header + "another unrelated body entirely 99 ok"),
            ],
            "doc_id long, text string",
        )
        for hash_fn in ("md5", "xxhash64"):
            got = {
                (r["id_a"], r["id_b"])
                for r in winnow_matches(
                    docs, k=8, w=4, min_shared=2, max_fp_df=2,
                    hash_fn=hash_fn,
                ).collect()
            }
            assert got == {(0, 1)}, hash_fn

    def test_matches_pair_enumeration_equals_self_join(self, spark):
        """The fused per-fingerprint pair enumeration (r13: one
        fp-partitioned collect + nested explode of i<j combinations)
        must equal the self-join form it replaced — exercised where
        it can diverge: a fingerprint shared by MORE than two docs
        (every clique pair must appear exactly once, id_a < id_b) and
        overlapping cliques (n_shared accumulates across fps)."""
        from lakehouse_to_rag_spark.operators.text_analysis import (
            winnow_fingerprints,
            winnow_matches,
        )

        span_a = "the quick brown fox jumps over the lazy dog tonight"
        span_b = "pack my box with five dozen liquor jugs right now ok"
        docs = spark.createDataFrame(
            [
                (0, f"zero {span_a} and {span_b}"),
                (1, f"one unrelated prefix {span_a} tail"),
                (2, f"two other prefix {span_a} {span_b} more"),
                (3, f"three has only {span_b} here"),
                (4, "four shares nothing with anyone at all ever"),
            ],
            "doc_id long, text string",
        )
        got = {
            (r["id_a"], r["id_b"]): r["n_shared"]
            for r in winnow_matches(
                docs, k=8, w=4, min_shared=1, max_fp_df=1000
            ).collect()
        }
        # reference: brute-force the same pair counts from the
        # fingerprint table in plain Python
        from collections import defaultdict

        by_fp = defaultdict(set)
        for r in winnow_fingerprints(docs, k=8, w=4).collect():
            by_fp[r["fp"]].add(r["doc_id"])
        want: dict = defaultdict(int)
        for members in by_fp.values():
            ms = sorted(members)
            for i, a in enumerate(ms):
                for b in ms[i + 1:]:
                    want[(a, b)] += 1
        assert got == dict(want)
        # the cliques overlap as planted: 0-1-2 share span_a,
        # 0-2-3 share span_b, so (0,2) counts both
        assert set(got) >= {(0, 1), (0, 2), (1, 2), (0, 3), (2, 3)}
        assert (4, 0) not in got and all(a < b for a, b in got)

    def test_topm_report_is_bounded_truncation_of_full_report(self, spark):
        """winnow_matches_topm == the symmetrized exhaustive report
        truncated per doc at rank m under the (n_shared DESC,
        match_id ASC) order — and at m >= #matches it IS the
        symmetrized report. Dup-saturated corpus: one span family of
        5 docs, so each family member has 4 matches."""
        from lakehouse_to_rag_spark.operators.text_analysis import (
            winnow_matches,
            winnow_matches_topm,
        )

        span = "the quick brown fox jumps over the lazy dog tonight"
        docs = spark.createDataFrame(
            [(i, f"doc {i} prefix {'ab' * i} " + span) for i in range(5)]
            + [(9, "unrelated filler body with nothing shared at all")],
            "doc_id long, text string",
        )
        full = winnow_matches(docs, k=8, w=4, min_shared=2).collect()
        sym = {}
        for r in full:
            sym.setdefault(r["id_a"], []).append((r["id_b"], r["n_shared"]))
            sym.setdefault(r["id_b"], []).append((r["id_a"], r["n_shared"]))
        for m in (2, 100):
            got = winnow_matches_topm(
                docs, k=8, w=4, min_shared=2, m=m
            ).collect()
            # per-doc bound + rank contract
            by_doc = {}
            for r in got:
                by_doc.setdefault(r["doc_id"], []).append(r)
            for doc, rows in by_doc.items():
                rows.sort(key=lambda r: r["rank"])
                assert len(rows) <= m
                assert [r["rank"] for r in rows] == list(
                    range(1, len(rows) + 1)
                )
                want = sorted(
                    sym[doc], key=lambda t: (-t[1], t[0])
                )[:m]
                assert [(r["match_id"], r["n_shared"]) for r in rows] == want
        # saturation check: at m=2 the family emits 5*2 rows, not 5*4
        assert sum(1 for r in winnow_matches_topm(
            docs, k=8, w=4, min_shared=2, m=2
        ).collect()) == 10

    def test_auto_cap_drops_boilerplate_keeps_planted(self, spark):
        """max_fp_df='auto' derives the cap from the corpus size
        (1% of docs, clamped to [16, 1000]): a footer shared by EVERY
        doc (df 30, inside the static 1000 cap) is culled, the
        planted 2-doc copy (df 2) survives — on a boilerplate-heavy
        corpus auto is strictly tighter than the absolute default."""
        import pytest

        from lakehouse_to_rag_spark.operators.text_analysis import (
            winnow_matches,
        )

        footer = " common legal boilerplate footer shared everywhere"
        stolen = "the quick brown fox jumps over the lazy dog tonight"
        rows = [(i, f"unique body {i} {'xy' * (i + 2)}" + footer)
                for i in range(28)]
        rows += [(100, "alpha " + stolen + footer),
                 (101, "omega " + stolen + footer)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        static = {
            (r["id_a"], r["id_b"])
            for r in winnow_matches(docs, min_shared=2).collect()
        }
        auto = {
            (r["id_a"], r["id_b"])
            for r in winnow_matches(
                docs, min_shared=2, max_fp_df="auto"
            ).collect()
        }
        assert (100, 101) in auto           # true positive survives
        assert auto < static                # boilerplate pairs culled
        assert len(static) > len(rows)      # footer made everything match
        with pytest.raises(ValueError, match="max_fp_df"):
            winnow_matches(docs, max_fp_df="p99")


def test_fuzzy_decontaminate_planted_leak(spark, sf_dir):
    """Near-dup decontamination: a training doc that lightly edits a
    benchmark item must be flagged; unrelated training docs must not
    be; and (exact verification) nothing below the threshold sneaks
    through. Also the no-false-positive property against the exact
    two-table Jaccard join on the real corpus split."""
    from lakehouse_to_rag_spark.operators.dedup import (
        fuzzy_decontaminate,
        ngram_jaccard_pairs,
    )

    bench_text = ("which planet is known as the red planet in our "
                  "solar system answer mars the fourth planet")
    train = spark.createDataFrame(
        [
            # paraphrase-lite leak: one word changed
            (100, bench_text.replace("fourth", "4th")),
            (101, "totally unrelated training document about spark "
                  "shuffle partitions and broadcast joins"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, bench_text)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["bench_id"])
        for r in fuzzy_decontaminate(train, bench, threshold=0.5).collect()
    }
    assert got == {(100, 0)}

    # corpus split: flagged set == exact two-table jaccard (banding
    # recall 1.0 here, and verification guarantees no false positives)
    docs = load_table(spark, sf_dir, "documents")
    flagged = {
        (r["doc_id"], r["bench_id"], r["jaccard"])
        for r in fuzzy_decontaminate(
            docs.filter("doc_id % 17 != 0"), docs.filter("doc_id % 17 = 0")
        ).collect()
    }
    exact_pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", 3, 0.5, max_shingle_df=None
    )
    exact = {
        (a, b) if a % 17 != 0 else (b, a)
        for a, b in (
            (r["id_a"], r["id_b"]) for r in exact_pairs.collect()
        )
        if (a % 17 == 0) != (b % 17 == 0)
    }
    assert {(t, b) for t, b, _ in flagged} == exact and flagged


def test_fuzzy_decontaminate_shuffle_fallback(spark, sf_dir):
    """Past max_broadcast_rows the broadcast hints are dropped and
    both joins run as shuffle joins — results must be IDENTICAL (the
    hint changes strategy, never semantics). max_broadcast_rows=0
    forces the fallback on any non-empty bench."""
    from lakehouse_to_rag_spark.operators.dedup import fuzzy_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter("doc_id % 17 != 0")
    bench = docs.filter("doc_id % 17 = 0")
    bcast = sorted(
        tuple(r) for r in fuzzy_decontaminate(train, bench).collect()
    )
    shuffled = sorted(
        tuple(r)
        for r in fuzzy_decontaminate(
            train, bench, max_broadcast_rows=0
        ).collect()
    )
    assert bcast == shuffled


def test_append_ivf_check_disjoint(spark, sf_dir, tmp_path):
    """Opt-in fail-closed id admission for the IVF append (symmetry
    with the BM25 default): a re-sent batch raises before anything is
    written; the default stays permissive because the IVF serve path
    absorbs duplicates."""
    import pytest

    from lakehouse_to_rag_spark.operators.similarity import (
        append_to_ivf_index,
        write_ivf_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    write_ivf_index(e.filter("vec_id % 2 = 0"), path, num_centroids=16)
    n_before = spark.read.parquet(path).count()
    with pytest.raises(ValueError, match="already exist"):
        append_to_ivf_index(
            spark, path, e.filter("vec_id % 4 = 0"), check_disjoint=True
        )
    assert spark.read.parquet(path).count() == n_before  # fail-closed
    n = append_to_ivf_index(
        spark, path, e.filter("vec_id % 2 = 1"), check_disjoint=True
    )
    assert n == e.filter("vec_id % 2 = 1").count()


def test_append_ivf_batch_internal_duplicates(spark, sf_dir, tmp_path):
    """check_disjoint=True also refuses duplicate ids WITHIN the
    batch (index-disjoint, so the overlap scan alone would pass
    them); the permissive default still appends, relying on
    serve-time duplicate absorption."""
    import pytest

    from lakehouse_to_rag_spark.operators.similarity import (
        append_to_ivf_index,
        write_ivf_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    write_ivf_index(e.filter("vec_id % 2 = 0"), path, num_centroids=16)
    n_before = spark.read.parquet(path).count()
    odd = e.filter("vec_id % 2 = 1")
    doubled = odd.union(odd.limit(2))
    with pytest.raises(ValueError, match="within one batch"):
        append_to_ivf_index(spark, path, doubled, check_disjoint=True)
    assert spark.read.parquet(path).count() == n_before  # fail-closed
    # default check_disjoint=False keeps the unguarded append
    assert append_to_ivf_index(spark, path, doubled) == doubled.count()


def test_compact_remnant_recovery_glob_metachar_path(tmp_path):
    """An index path containing glob metacharacters ([, ?, *) must
    still be repaired: the remnant patterns glob.escape the base so
    only the appended suffix is a wildcard. Pure-filesystem check
    (between-renames crash state staged by hand)."""
    import os

    from lakehouse_to_rag_spark.sources.dirswap import recover

    base = str(tmp_path / "ivf[v2]")
    os.makedirs(f"{base}._old_cafef00d/cluster=0")
    with open(f"{base}._old_cafef00d/cluster=0/part-0", "w") as f:
        f.write("x")
    os.makedirs(f"{base}._compact_deadbeef")
    recover(base)
    assert os.path.exists(f"{base}/cluster=0/part-0")
    assert not os.path.exists(f"{base}._old_cafef00d")
    assert not os.path.exists(f"{base}._compact_deadbeef")


def test_compact_remnant_recovery(spark, sf_dir, tmp_path):
    """Crash recovery around the two-rename swap: (a) a dangling
    ._compact_ tmp dir is discarded, (b) path missing + ._old_
    present (death between the renames) restores the old layout,
    (c) path + ._old_ both present (death before cleanup) drops the
    old dir. After each repair the layout must serve."""
    import os
    import shutil

    from lakehouse_to_rag_spark.operators.similarity import (
        compact_ivf_index,
        ivf_topk_from_index,
        write_ivf_index,
    )
    from lakehouse_to_rag_spark.sources.dirswap import recover

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    write_ivf_index(e, path, num_centroids=16)
    q = e.filter("vec_id < 6")

    def served():
        return sorted(
            tuple(r)
            for r in ivf_topk_from_index(
                spark, path, q, k=5, nprobe=4
            ).collect()
        )

    want = served()

    # (a) dangling tmp from a compaction that died before its renames
    os.makedirs(f"{path}._compact_deadbeef/cluster=0", exist_ok=True)
    # (b)+(c) staged via a real crash simulation: move the layout to
    # the _old_ name (exactly the state between the two renames)
    shutil.move(path, f"{path}._old_cafef00d")
    recover(path)
    assert not os.path.exists(f"{path}._compact_deadbeef")
    assert not os.path.exists(f"{path}._old_cafef00d")
    assert served() == want

    # (c) death after the second rename, before cleanup: old copy left
    shutil.copytree(path, f"{path}._old_12345678")
    recover(path)
    assert not os.path.exists(f"{path}._old_12345678")
    assert served() == want

    # and a full compaction pass runs recovery implicitly
    os.makedirs(f"{path}._compact_feedface", exist_ok=True)
    compact_ivf_index(spark, path)
    assert not os.path.exists(f"{path}._compact_feedface")
    assert served() == want


def test_knn_self_ivf_equals_ivf_topk_kmeans(spark, sf_dir):
    """The broadcast-free self-kNN factoring must equal
    ivf_topk_kmeans(corpus, corpus) row-for-row at the same
    (k, C, nprobe, iterations) — same quantizer, same rounding
    discipline, different join strategy only."""
    from lakehouse_to_rag_spark.operators.similarity import (
        ivf_topk_kmeans,
        knn_self_ivf,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mine = sorted(
        tuple(r)
        for r in knn_self_ivf(
            e, k=5, num_centroids=16, nprobe=4, iterations=3
        ).collect()
    )
    ref = sorted(
        tuple(r)
        for r in ivf_topk_kmeans(
            e, e, k=5, num_centroids=16, nprobe=4, iterations=3
        ).collect()
    )
    assert mine == ref and mine


def test_knn_edges_auto_dispatch(spark, sf_dir):
    """Below the cutover the dispatcher must emit exactly the
    brute-force edge set; above it, exactly the self-IVF edge set
    with C = max(16, isqrt(n)) — the minhash_lsh_pairs_auto contract
    (dispatch changes cost, and past the cutover recall, never
    correctness of the chosen form)."""
    from lakehouse_to_rag_spark.operators.similarity import (
        knn_bruteforce_numpy,
        knn_edges_auto,
        knn_self_ivf,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    brute = sorted(
        tuple(r)
        for r in knn_bruteforce_numpy(e, e, k=5)
        .select("query_id", "neighbor_id")
        .collect()
    )
    auto_small = sorted(
        tuple(r) for r in knn_edges_auto(e, k=5).collect()
    )
    assert auto_small == brute and auto_small

    n = e.count()
    ann = sorted(
        tuple(r)
        for r in knn_self_ivf(
            e, k=5, num_centroids=max(16, int(n ** 0.5)), nprobe=8
        )
        .select(
            F.col("query_id").alias("src"),
            F.col("neighbor_id").alias("dst"),
        )
        .collect()
    )
    auto_big = sorted(
        tuple(r)
        for r in knn_edges_auto(e, k=5, cutover_rows=1).collect()
    )
    assert auto_big == ann and auto_big


def test_knn_self_ivf_salting_equality(spark, sf_dir):
    """The skew guard: a duplicate-heavy corpus collapses into a
    mega-cluster; salting must bound the per-task GEMM WITHOUT
    changing results — salted (tiny salt_cap forcing shards on the
    harness data AND on a 90%-duplicate corpus) == unsalted,
    row-for-row."""
    from lakehouse_to_rag_spark.operators.similarity import knn_self_ivf

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def run(df, cap, blk=50_000_000):
        return sorted(
            tuple(r)
            for r in knn_self_ivf(
                df, k=5, num_centroids=16, nprobe=4, salt_cap=cap,
                gemm_block_elems=blk,
            ).collect()
        )

    assert run(e, 10) == run(e, 200_000)
    # tiny GEMM block forces many query chunks per group: chunked
    # scoring must equal the one-shot matrix exactly
    assert run(e, 200_000, blk=64) == run(e, 200_000)

    # 90%-duplicate corpus: every copy of vec 0's embedding assigns to
    # ONE cluster — exactly the skew case the cap exists for
    base = e.filter("vec_id < 50").select("vec_id", "embedding")
    dup = (
        e.filter("vec_id = 0")
        .select(F.explode(F.sequence(F.lit(1), F.lit(450))).alias("j"), "embedding")
        .select((F.col("j") + 1000).alias("vec_id"), "embedding")
    )
    skewed = base.unionByName(dup).localCheckpoint(eager=True)
    assert run(skewed, 25) == run(skewed, 200_000)


def test_compact_ivf_multi_file_target(spark, sf_dir, tmp_path):
    """target_rows_per_file: hot cluster directories split into
    multiple files (range split on the secondary id key) while serve
    results stay bit-equal — the 100 TB file-count policy the
    one-file-per-value default can't provide."""
    import pathlib

    from lakehouse_to_rag_spark.operators.similarity import (
        compact_ivf_index,
        ivf_topk_from_index,
        write_ivf_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    write_ivf_index(e, path, num_centroids=4)  # few clusters => hot dirs
    q = e.filter("vec_id < 6")
    before = sorted(
        tuple(r)
        for r in ivf_topk_from_index(spark, path, q, k=5, nprobe=2).collect()
    )

    n_written = compact_ivf_index(spark, path, target_rows_per_file=50)
    per_dir: dict[str, int] = {}
    for f in pathlib.Path(path).rglob("*.parquet"):
        if f.is_file() and "_centroids" not in f.parts:
            d = [p for p in f.parts if p.startswith("cluster=")][0]
            per_dir[d] = per_dir.get(d, 0) + 1
    assert sum(per_dir.values()) == n_written
    assert max(per_dir.values()) > 1  # a hot cluster actually split
    after = sorted(
        tuple(r)
        for r in ivf_topk_from_index(spark, path, q, k=5, nprobe=2).collect()
    )
    assert after == before and after


def test_knn_self_ivf_recall_vs_bruteforce(spark, sf_dir):
    """Recall floor for the graph-build ANN branch (knn_edges_auto's
    past-cutover form): self-IVF top-5 neighbor pairs vs the exact
    brute-force graph, same floor as the query-side IVF pin."""
    from lakehouse_to_rag_spark.operators.similarity import (
        knn_bruteforce_numpy,
        knn_self_ivf,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce_numpy(e, e, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_self_ivf(e, k=5, num_centroids=16, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall
    # the dispatch DEFAULT (nprobe=8): SCALE.md r9 measured 1.000 on
    # structured corpora at 100k-400k; the sf0.01 gate corpus is small
    # and only weakly clustered (0.823 measured), so the in-suite
    # tripwire pins just below that — a regression to the
    # uniform-noise floor (~0.28) trips it loudly
    approx8 = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_self_ivf(e, k=5, num_centroids=16, nprobe=8).collect()
    }
    recall8 = len(exact & approx8) / len(exact)
    assert recall8 >= 0.8, recall8


def test_knn_self_ivf_zero_norm_rows_never_rank(spark):
    """A zero-norm vector has UNDEFINED cosine to everything: without
    the isfinite guard a shard with < k+1 finite members emits
    NaN-cosine candidates that Spark's desc rank promotes to rank 1.
    The zero row must appear as neither neighbor nor query, and every
    emitted cosine must be finite. (C=1 keeps the k-means centroid —
    the mean of all members — nonzero, isolating the member-side
    guard.)"""
    import math

    from lakehouse_to_rag_spark.operators.similarity import knn_self_ivf

    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.1, 0.9, 0.0]),
            (9, [0.0, 0.0, 0.0]),  # zero-norm: cosine undefined
        ],
        "vec_id long, embedding array<double>",
    )
    rows = knn_self_ivf(
        corpus, k=5, num_centroids=1, nprobe=1, iterations=1
    ).collect()
    assert rows, "finite rows must still be emitted"
    for r in rows:
        assert r["neighbor_id"] != 9, "zero-norm row served as neighbor"
        assert r["query_id"] != 9, "zero-norm row emitted as query"
        assert math.isfinite(r["cosine"]), r
    # each of the 4 finite rows keeps its 3 finite non-self neighbors
    assert len(rows) == 12


def test_semantic_decontaminate_planted_and_guards(spark, sf_dir):
    """The embedding rung of the decontamination family: a train
    vector colinear with a bench item is flagged at the threshold, an
    orthogonal one is not; threshold=None audits every non-zero train
    row; zero-norm rows are excluded; the bench-side broadcast is
    fail-closed past max_broadcast_rows."""
    import pytest

    from lakehouse_to_rag_spark.operators.dedup import (
        semantic_decontaminate,
    )

    bench = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    train = spark.createDataFrame(
        [
            (100, [2.0, 0.0, 0.0, 0.0]),   # colinear with bench 0 -> cos 1
            (101, [0.0, 0.0, 3.0, 0.0]),   # orthogonal to both -> cos 0
            (102, [0.0, 0.0, 0.0, 0.0]),   # zero norm -> excluded
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["vec_id"], r["bench_id"], r["cosine"])
        for r in semantic_decontaminate(train, bench, threshold=0.9).collect()
    }
    assert got == {(100, 0, 1.0)}

    audit = {
        r["vec_id"]: (r["bench_id"], r["cosine"])
        for r in semantic_decontaminate(
            train, bench, threshold=None
        ).collect()
    }
    assert set(audit) == {100, 101}  # zero-norm 102 emits nothing
    assert audit[100] == (0, 1.0)
    assert audit[101][1] == 0.0
    # exact tie (cos 0 against both bench items) -> smallest bench id
    assert audit[101][0] == 0

    with pytest.raises(ValueError, match="max_broadcast_rows"):
        semantic_decontaminate(train, bench, max_broadcast_rows=1)


def test_containment_catches_quote_jaccard_misses(spark):
    """A short doc quoted wholesale inside a long one: containment
    (short in long) = 1.0 while Jaccard is far below any useful
    threshold — the asymmetric metric's whole reason to exist. Also:
    asymmetry is real (long in short << 1), unrelated docs emit
    nothing, and the Jaccard operator at the same threshold misses
    the pair."""
    from lakehouse_to_rag_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy sleeping dog tonight"
    filler = " ".join(f"tok{i} filler word" for i in range(60))
    docs = spark.createDataFrame(
        [
            (0, quote),                       # the short original
            (1, filler + " " + quote),        # quotes it wholesale
            (2, "totally unrelated body of text about spark shuffles"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): (
            r["containment_a_in_b"], r["containment_b_in_a"]
        )
        for r in ngram_containment_pairs(
            docs, "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert set(got) == {(0, 1)}
    c_ab, c_ba = got[(0, 1)]
    assert c_ab == 1.0          # the quote is fully contained
    assert c_ba < 0.2           # and the reverse direction is tiny
    # symmetric Jaccard at the same bar misses it entirely
    jac = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.8
    ).collect()
    assert jac == []


def test_dedup_keep_best_quality_aware_survivor(spark):
    """Keep-best: the cluster keeper is the highest-score member (min
    id on ties), not the min id; singletons keep themselves."""
    from lakehouse_to_rag_spark.operators.dedup import dedup_keep_best

    scored = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 7), (4, 3), (5, 9)],
        "doc_id long, score long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: (r["cluster_root"], r["is_kept"])
        for r in dedup_keep_best(scored, pairs, score_col="score").collect()
    }
    # cluster {1,2,3}: keeper is 2 (score 9) — min-id policy kept 1
    assert got == {
        1: (1, False), 2: (1, True), 3: (1, False),
        4: (4, True), 5: (5, True),   # singletons
    }
    # exact-score tie -> min id wins
    pairs2 = spark.createDataFrame([(2, 5)], "id_a long, id_b long")
    got2 = {
        r["doc_id"]: r["is_kept"]
        for r in dedup_keep_best(scored, pairs2, score_col="score").collect()
    }
    assert got2[2] and not got2[5]


def test_shingle_novelty_boilerplate_scores_low(spark):
    """Novelty: shared shingles drag the ratio down; a fully unique
    doc scores 1.0; docs shorter than n words are absent."""
    from lakehouse_to_rag_spark.operators.dedup import shingle_novelty

    docs = spark.createDataFrame(
        [
            (1, "x y z a b"),          # shingles {xyz, yza, zab}
            (2, "x y z q r"),          # shares xyz -> 2/3 unique
            (3, "p q"),                # < 3 words: no shingles
            (4, "u v w t s"),          # fully unique -> 1.0
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_unique"], r["novelty"])
        for r in shingle_novelty(docs).collect()
    }
    assert got == {
        1: (3, 2, 0.6667),
        2: (3, 2, 0.6667),
        4: (3, 3, 1.0),
    }


def test_char_shingle_unit_catches_cjk_dups_word_mode_misses(spark):
    """The unsegmented-script gap (VERDICT r10): whitespace-split
    shingling gives a CJK document ONE giant token, so word mode
    produces zero shingles and the planted near-dup pair silently
    escapes. unit='char' must catch it; word mode must provably miss
    it; an unrelated CJK doc must not pair. Also pins exclusivity of
    the unit values and array/exploded form agreement."""
    import pytest

    from lakehouse_to_rag_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
        shingle_arrays,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "深度学习模型训练需要大量高质量语料数据支撑"),
            (2, "深度学习模型训练需要大量高质量语料数据支持"),  # 1-char edit
            (3, "完全不同的另一段文字内容与前两者毫无相似之处"),
            (4, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    word = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.3, max_shingle_df=None
    ).collect()
    assert word == []  # the miss is real, not hypothetical
    char = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=5, threshold=0.3,
            max_shingle_df=None, unit="char",
        ).collect()
    }
    assert set(char) == {(1, 2)}
    # 21 chars -> 17 5-grams each; only the single gram containing
    # the edited final char differs: 16 shared / 18 union = 0.8889
    assert char[(1, 2)] == pytest.approx(16 / 18, abs=1e-4)

    # containment: doc 2 quoted inside a longer wrapper
    wrapped = spark.createDataFrame(
        [
            (2, "深度学习模型训练需要大量高质量语料数据支持"),
            (9, "前言部分深度学习模型训练需要大量高质量语料数据支持结尾附注"),
        ],
        "doc_id long, text string",
    )
    cont = ngram_containment_pairs(
        wrapped, "doc_id", "text", n=5, threshold=0.9,
        max_shingle_df=None, unit="char",
    ).collect()
    assert len(cont) == 1 and cont[0]["containment_a_in_b"] == 1.0

    # the banded scale path catches the same pair: MinHash+LSH over
    # char shingles (signatures/banding/verification unit-agnostic)
    from lakehouse_to_rag_spark.operators.dedup import minhash_lsh_pairs

    banded = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", n=5, threshold=0.3, unit="char"
        ).collect()
    }
    assert banded == char  # identical pair set AND exact jaccards

    # exploded and array forms agree on the char universe
    exploded = {
        (r["id"], r["shingle"])
        for r in word_shingles(docs, "doc_id", "text", n=5, unit="char").collect()
    }
    arrays = {
        (r["id"], s)
        for r in shingle_arrays(docs, "doc_id", "text", n=5, unit="char").collect()
        for s in r["shingles"]
    }
    assert exploded == arrays and len(exploded) > 0

    with pytest.raises(ValueError, match="unit"):
        ngram_jaccard_pairs(docs, "doc_id", "text", unit="byte")

    # decontamination: a CJK benchmark item near-duplicated in the
    # training set is INVISIBLE to word-mode fuzzy decontamination
    # (zero word shingles on both sides) and caught in char mode
    from lakehouse_to_rag_spark.operators.dedup import fuzzy_decontaminate

    train = docs.filter("doc_id != 2")
    bench = docs.filter("doc_id = 2")
    assert fuzzy_decontaminate(train, bench, threshold=0.3).collect() == []
    hits = fuzzy_decontaminate(
        train, bench, n=5, threshold=0.3, unit="char"
    ).collect()
    assert [(r["doc_id"], r["bench_id"]) for r in hits] == [(1, 2)]

    # novelty in char mode scores the CJK docs word mode omits: the
    # near-identical pair loses its shared shingles (novelty << 1),
    # the unrelated doc keeps all of its own (novelty 1.0); in word
    # mode all three CJK docs are absent (one giant "word" < n=3)
    from lakehouse_to_rag_spark.operators.dedup import shingle_novelty

    nov_w = {r["doc_id"] for r in shingle_novelty(docs).collect()}
    assert nov_w == {4}
    nov_c = {
        r["doc_id"]: r["novelty"]
        for r in shingle_novelty(docs, n=5, unit="char").collect()
    }
    assert set(nov_c) == {1, 2, 3, 4}
    assert nov_c[3] == 1.0 and nov_c[1] < 0.2 and nov_c[2] < 0.2

    # winnowing needs no unit knob: its fingerprints are character
    # k-grams by construction (Schleimer et al.), so the MOSS report
    # already catches the CJK copied span word-shingling misses —
    # pinned here so the family's no-gap claim stays tested
    from lakehouse_to_rag_spark.operators.text_analysis import (
        winnow_matches,
    )

    wm = winnow_matches(docs, k=8, w=4, min_shared=1)
    assert {(r["id_a"], r["id_b"]) for r in wm.collect()} >= {(1, 2)}


def test_chunked_char_shingles_equal_naive_and_long_docs_bounded(spark):
    """r12 (VERDICT r11 task 5): char shingling is CHUNKED in the
    exploded form (4 KB slices with n-1 overlap — per-row memory
    O(slice), not O(document)) and BOUNDED in the array form (lazy
    fail-closed max_text_len). The chunked set must equal the naive
    all-positions set at every slice-boundary length, and a long doc
    must flow through the exploded form while the array form refuses
    it."""
    import hashlib

    import pytest
    from pyspark.sql import functions as F

    from lakehouse_to_rag_spark.operators.dedup import (
        _char_slices_expr,
        _slice_shingle_expr,
        minhash_lsh_pairs,
        shingle_arrays,
        word_shingles,
    )

    def synth(length: int) -> str:
        out = []
        i = 0
        while len("".join(out)) < length:
            out.append(hashlib.md5(str(i).encode()).hexdigest())
            i += 1
        return "".join(out)[:length]

    # every boundary around a small slice width S=16: empty, sub-n,
    # exactly n, around S, around the slice width S+n-1, multi-slice
    n, S = 5, 16
    lengths = [0, 1, n - 1, n, S - 1, S, S + 1, S + n - 2, S + n - 1,
               S + n, 2 * S, 2 * S + 3, 3 * S + 1]
    rows = [(i, synth(ln)) for i, ln in enumerate(lengths)]
    df = spark.createDataFrame(rows, "id long, _text string")
    sliced = (
        df.select("id", F.explode_outer(_char_slices_expr(n, S)).alias("_slice"))
        .filter(F.col("_slice").isNotNull())
    )
    got = {
        (r["id"], r["s"])
        for r in sliced.select(
            "id", F.explode_outer(_slice_shingle_expr(n)).alias("s")
        ).filter(F.col("s").isNotNull()).collect()
    }
    want = {
        (i, t[p:p + n])
        for i, t in rows
        for p in range(len(t) - n + 1)
    }
    assert got == want

    # end-to-end: a "long" document through the production slice width
    # (the 4096 default — one doc spanning several slices) yields the
    # exact naive shingle set, and the planted near-dup pair is found
    # by the banded scale path over chunked shingles
    long_a = synth(13_000)
    long_b = long_a[:6_500] + "X" + long_a[6_501:]  # 1-char edit
    docs = spark.createDataFrame(
        [(1, long_a), (2, long_b), (3, synth(400)[::-1])],
        "doc_id long, text string",
    )
    exploded = {
        (r["id"], r["shingle"])
        for r in word_shingles(docs, "doc_id", "text", n=n, unit="char")
        .collect()
    }
    want_long = {
        (i, t[p:p + n])
        for i, t in [(1, long_a), (2, long_b), (3, synth(400)[::-1])]
        for p in range(len(t) - n + 1)
    }
    assert exploded == want_long
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", n=n, threshold=0.5, unit="char",
            max_text_len=None,
        ).collect()
    }
    assert pairs == {(1, 2)}

    # the ARRAY form fails closed past max_text_len (default 100k; an
    # explicit small bound here so the test corpus stays small), and
    # None opts out
    with pytest.raises(Exception, match="max_text_len"):
        shingle_arrays(
            docs, "doc_id", "text", n=n, unit="char", max_text_len=1000
        ).collect()
    ok = shingle_arrays(
        docs, "doc_id", "text", n=n, unit="char", max_text_len=None
    ).collect()
    assert {r["id"] for r in ok} == {1, 2, 3}
    with pytest.raises(ValueError, match="max_text_len"):
        shingle_arrays(docs, "doc_id", "text", unit="char", max_text_len=0)


def test_auto_unit_dispatch_finds_pairs_in_both_regimes(spark):
    """r12 (VERDICT r11 task 4): a mixed ASCII/CJK corpus dispatches
    per document — the planted word-regime pair and the planted
    unsegmented-regime pair are BOTH found, each tagged with the unit
    that found it, and neither regime's control doc pairs. Without
    the dispatch a user must pre-split the corpus by script
    themselves (word mode alone misses the CJK pair; char-5 mode
    alone misses nothing here but scores a different universe)."""
    from lakehouse_to_rag_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_auto_unit,
        split_by_script,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "completely different english words appear in this one"),
        (4, "深度学习模型训练需要大量高质量语料数据支撑实验结论"),
        (5, "深度学习模型训练需要大量高质量语料数据支撑实验结果"),
        (6, "完全不同的另一段文字内容与前两者毫无相似之处没有重复"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    w, c = split_by_script(docs, "doc_id", "text")
    assert {r["doc_id"] for r in w.collect()} == {1, 2, 3}
    assert {r["doc_id"] for r in c.collect()} == {4, 5, 6}

    got = {
        (r["id_a"], r["id_b"]): (r["unit"], r["jaccard"])
        for r in ngram_jaccard_pairs_auto_unit(
            docs, "doc_id", "text", threshold=0.5, max_shingle_df=None
        ).collect()
    }
    assert set(got) == {(1, 2), (4, 5)}
    assert got[(1, 2)][0] == "word" and got[(4, 5)][0] == "char"
    # regime jaccards equal the single-unit operators run on the
    # pre-split subsets — the dispatch adds routing, never semantics
    jw = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            w, "doc_id", "text", 3, 0.5, None
        ).collect()
    }
    jc = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            c, "doc_id", "text", 5, 0.5, None, unit="char"
        ).collect()
    }
    assert got[(1, 2)][1] == jw[(1, 2)]
    assert got[(4, 5)][1] == jc[(4, 5)]

    # the banded SCALE form routes identically and finds the same
    # pairs with the same exact-verified jaccards
    from lakehouse_to_rag_spark.operators.dedup import (
        minhash_lsh_pairs_auto_unit,
    )

    banded = {
        (r["id_a"], r["id_b"]): (r["unit"], r["jaccard"])
        for r in minhash_lsh_pairs_auto_unit(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert banded == got

    # decontamination: a word-regime AND an unsegmented benchmark item
    # both screened — word mode alone misses the CJK leak, char mode
    # alone misses the word leak (its regime filter excludes prose)
    from lakehouse_to_rag_spark.operators.dedup import (
        fuzzy_decontaminate,
        fuzzy_decontaminate_auto_unit,
    )

    train = docs.filter("doc_id in (1, 4)")
    bench = docs.filter("doc_id in (2, 5)")
    hits = {
        (r["doc_id"], r["bench_id"]): r["unit"]
        for r in fuzzy_decontaminate_auto_unit(
            train, bench, threshold=0.5
        ).collect()
    }
    assert hits == {(1, 2): "word", (4, 5): "char"}
    word_only = fuzzy_decontaminate(train, bench, threshold=0.5).collect()
    assert {(r["doc_id"], r["bench_id"]) for r in word_only} == {(1, 2)}


def test_band_candidate_rate_flags_char5_on_prose(spark):
    """r12 probe find: char 5-gram banding on space-delimited prose
    prunes nothing (background Jaccard ~0.4 -> band collision ~j^2
    per band over 32 bands), so the pre-flight estimator must read
    HOT there and COLD for word mode on the same corpus — the number
    that tells a user to dispatch by script or raise n before a
    corpus-scale run."""
    from lakehouse_to_rag_spark.operators.dedup import (
        estimate_band_candidate_rate,
    )

    # prose-shaped fixture: every doc is a pseudo-random PERMUTATION
    # of one shared vocabulary — word 3-grams are distinct sequences
    # (near-zero word background), while char 5-grams inside the
    # shared words are identical everywhere (high char background) —
    # the same decoupling real templated prose shows
    import hashlib

    vocab = [hashlib.md5(str(k).encode()).hexdigest()[:8] for k in range(40)]
    rows = []
    for i in range(64):
        order = sorted(
            range(40),
            key=lambda k: hashlib.md5(f"{i}:{k}".encode()).hexdigest(),
        )
        rows.append((i, " ".join(vocab[k] for k in order)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hot = estimate_band_candidate_rate(
        docs, "doc_id", "text", n=5, unit="char", sample_docs=64
    )
    cold = estimate_band_candidate_rate(
        docs, "doc_id", "text", n=3, unit="word", sample_docs=64
    )
    assert hot > 0.5
    assert cold < 0.05
    # degenerate inputs
    one = docs.limit(1)
    assert estimate_band_candidate_rate(one, "doc_id", "text") == 0.0


def test_split_by_script_nondeterministic_lineage_fails_closed(spark):
    """ADVICE r12: with materialize=False the dispatch predicate runs
    in two independent scans, so a rand-derived lineage could land a
    document in BOTH regimes or NEITHER. The plan scan must refuse
    such lineages and name materialize=True; materialize=True (one
    pinned evaluation) must accept them. Deterministic lineages are
    untouched."""
    import pytest

    from lakehouse_to_rag_spark.operators.dedup import split_by_script

    docs = spark.createDataFrame(
        [(1, "plain deterministic text here")], "doc_id long, text string"
    )
    # deterministic lineage: fine
    w, c = split_by_script(docs, "doc_id", "text")
    assert w.count() + c.count() == 1

    risky = docs.withColumn("r", F.rand(seed=7)).drop("r")
    # column pruning may drop the rand column, but the ANALYZED plan
    # (pre-optimization) still carries it — which is the right
    # severity: the lineage was BUILT non-deterministic
    with pytest.raises(ValueError, match="materialize=True"):
        split_by_script(risky, "doc_id", "text")
    w, c = split_by_script(risky, "doc_id", "text", materialize=True)
    assert w.count() + c.count() == 1

    # the auto-unit operators surface the same contract
    from lakehouse_to_rag_spark.operators.dedup import (
        ngram_jaccard_pairs_auto_unit,
    )

    with pytest.raises(ValueError, match="materialize=True"):
        ngram_jaccard_pairs_auto_unit(risky, "doc_id", "text")
    assert (
        ngram_jaccard_pairs_auto_unit(
            risky, "doc_id", "text", materialize=True
        ).count()
        == 0
    )


def test_nondeterminism_guard_is_class_exact(spark):
    """r13 self-review: the guard used to lowercase-substring-match
    the analyzed plan's toString, so a column NAMED
    ``current_timestamp`` or a string LITERAL containing ``now()`` /
    ``rand(`` tripped it — breaking composition with any pipeline
    whose plans carry those tokens as data. The rewrite walks the
    Catalyst tree by class identity: user data can never collide,
    while every genuinely risky expression class still fails closed
    (including via subqueries and Sample's partitioning-dependent row
    membership)."""
    import pytest

    from lakehouse_to_rag_spark.operators.dedup import (
        _plan_nondeterminism_marker,
        split_by_script,
    )

    # 1. FALSE POSITIVES of the old guard — must all pass now.
    lit_collide = spark.createDataFrame(
        [(1, "call now() or rand( the uuid( shuffle( deal ends")],
        "doc_id long, text string",
    ).filter(F.col("text") != F.lit("current_timestamp and now()"))
    assert _plan_nondeterminism_marker(lit_collide) is None
    w, c = split_by_script(lit_collide, "doc_id", "text")
    assert w.count() + c.count() == 1

    name_collide = spark.createDataFrame(
        [(1, "plain text", "x")],
        "doc_id long, text string, current_timestamp string",
    ).withColumnRenamed("current_timestamp", "monotonically_increasing_id")
    assert _plan_nondeterminism_marker(name_collide) is None

    # 2. TRUE positives, named by Catalyst class.
    base = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    assert _plan_nondeterminism_marker(
        base.withColumn("u", F.expr("uuid()"))
    ) == "Uuid"
    assert _plan_nondeterminism_marker(
        base.withColumn("i", F.monotonically_increasing_id())
    ) == "MonotonicallyIncreasingID"
    # per-query clock: deterministic WITHIN a query, differs across
    # the two regime scans — stays flagged (a later filter on the
    # injected column would change row membership)
    assert _plan_nondeterminism_marker(
        base.withColumn("ts", F.current_timestamp())
    ) == "CurrentTimestamp"
    # Sample: seeded but membership depends on partitioning
    assert _plan_nondeterminism_marker(base.sample(0.5, seed=1)) == "Sample"
    # nondeterministic subquery fails closed too
    sub = spark.range(4).withColumn("r", F.rand(seed=3))
    sub.createOrReplaceTempView("nd_sub_r13")
    via_subq = spark.sql(
        "select id as doc_id, 'x' as text from range(3) "
        "where id in (select cast(r*4 as long) from nd_sub_r13)"
    )
    assert _plan_nondeterminism_marker(via_subq) is not None
    # ...while a deterministic subquery is clean
    spark.range(4).createOrReplaceTempView("det_sub_r13")
    via_det = spark.sql(
        "select id as doc_id, 'x' as text from range(3) "
        "where id in (select id from det_sub_r13)"
    )
    assert _plan_nondeterminism_marker(via_det) is None
    # a clock INSIDE a subquery: Catalyst marks the subquery
    # deterministic, but its value still differs across the two
    # regime scans — the walk descends into subquery plans
    via_clock_subq = spark.sql(
        "select id as doc_id, 'x' as text from range(3) "
        "where id < (select unix_timestamp(current_timestamp()) % 4)"
    )
    assert _plan_nondeterminism_marker(via_clock_subq) == "CurrentTimestamp"

    # 3. The medallion composition case the old guard broke: bronze's
    # deterministic literal mode composes with auto-unit dispatch.
    from lakehouse_to_rag_spark.operators.bronze import bronze_transform

    raw = spark.createDataFrame(
        [("u1", "s", "t", "enough content to pass the bronze filter")],
        "url string, source string, title string, content string",
    )
    det_bronze = bronze_transform(raw, processed_at="2026-01-01T00:00:00")
    assert _plan_nondeterminism_marker(det_bronze) is None
    w, c = split_by_script(det_bronze, "url", "content")
    assert w.count() + c.count() == 1
    # and the clock mode still fails closed, naming the fix
    with pytest.raises(ValueError, match="processed_at"):
        split_by_script(bronze_transform(raw), "url", "content")


def test_cross_regime_paraphrase_handoff_to_semantic(spark):
    """r13 (VERDICT r12 task 3): the decontamination ladder's
    documented hand-off, previously asserted only in docstrings — an
    UNSEGMENTED benchmark item paraphrased into SPACE-DELIMITED
    training text shares no shingle universe with it in either unit,
    so both shingle regimes must miss it (that is the contract, not a
    silent gap), and the semantic rung (embedding cosine) must be the
    one that catches it."""
    from lakehouse_to_rag_spark.operators.dedup import (
        fuzzy_decontaminate,
        fuzzy_decontaminate_auto_unit,
        semantic_decontaminate,
    )

    # benchmark: one unsegmented (Japanese) item; train: its English
    # paraphrase + an unrelated control
    cjk = "今日の天気は快晴で気温は摂氏二十五度まで上がり散歩日和になりました"
    para = ("the weather today is perfectly clear and the temperature "
            "rises to twenty five degrees celsius a fine day for a walk")
    train = spark.createDataFrame(
        [(1, para),
         (2, "unrelated training text about shuffle partitions and "
             "broadcast joins in a distributed query engine")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, cjk)], "doc_id long, text string")

    # both shingle regimes miss the cross-regime paraphrase — via the
    # dispatcher (train is all word-regime, bench all char-regime, so
    # each regime screens against an empty benchmark / empty corpus)
    assert fuzzy_decontaminate_auto_unit(
        train, bench, threshold=0.1
    ).collect() == []
    # ... and via BOTH single units over everything: word mode sees
    # the benchmark item as one giant token (zero 3-gram shingles);
    # char mode finds zero shared 5-grams across scripts — exact
    # verification guarantees emptiness either way
    assert fuzzy_decontaminate(train, bench, threshold=0.1).collect() == []
    assert fuzzy_decontaminate(
        train, bench, n=5, threshold=0.1, unit="char"
    ).collect() == []

    # the semantic rung catches it: embeddings of the SAME ids — the
    # embedding model's job is the geometry (paraphrase lands next to
    # the item), the engine's job is this hand-off; deterministic
    # stand-in vectors assert the plumbing
    bench_emb = spark.createDataFrame(
        [(100, [0.6, 0.8, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    train_emb = spark.createDataFrame(
        [(1, [0.6, 0.8, 0.05, 0.0]),   # cosine ~0.9988 vs item 100
         (2, [0.0, 0.0, 1.0, 0.0])],   # orthogonal control
        "vec_id long, embedding array<double>",
    )
    hits = semantic_decontaminate(
        train_emb, bench_emb, threshold=0.9
    ).collect()
    assert {(r["vec_id"], r["bench_id"]) for r in hits} == {(1, 100)}
    assert all(r["cosine"] >= 0.99 for r in hits)


def test_char_minhash_preflight_fails_closed_on_template_corpus(spark):
    """r13 (VERDICT r12 task 4): the banding pre-flight existed but
    was manual — a template-heavy genuinely-unsegmented corpus (the
    case script routing cannot help) still hit the e~2 candidate
    floor silently at corpus scale. With preflight='auto' (default),
    corpora past preflight_min_docs sample their candidate rate and
    fail closed past the threshold, naming the n-lever and the
    measured rate; preflight=None opts out; small corpora skip the
    probe entirely (gated plans unchanged)."""
    import hashlib

    import pytest

    from lakehouse_to_rag_spark.operators.dedup import minhash_lsh_pairs

    # template-heavy unsegmented corpus: a shared 60-char boilerplate
    # block dominates every doc, unique tails keep true Jaccard below
    # threshold — banding collides on the boilerplate grams anyway
    template = "共通の定型文がすべての文書に繰り返し出現する" * 3
    rows = [
        (i, template + hashlib.md5(f"u{i}".encode()).hexdigest())
        for i in range(80)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    with pytest.raises(ValueError, match="candidate rate"):
        minhash_lsh_pairs(
            docs, "doc_id", "text", n=5, unit="char",
            preflight_min_docs=64,
        )
    # the raise happens at BUILD time, before any corpus-scale work;
    # the opt-out accepts the cost deliberately and still returns the
    # exact-verified output
    out = minhash_lsh_pairs(
        docs, "doc_id", "text", n=5, unit="char", preflight=None,
    )
    assert out.count() >= 0  # builds and runs

    # a benign unsegmented corpus (no shared grams) passes the
    # pre-flight at the same size and finds its planted pair
    uniq = [
        (i, hashlib.md5(f"a{i}".encode()).hexdigest()
            + hashlib.md5(f"b{i}".encode()).hexdigest())
        for i in range(78)
    ]
    uniq += [(900, "x" * 40), (901, "x" * 39 + "y")]
    benign = spark.createDataFrame(uniq, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            benign, "doc_id", "text", n=5, unit="char",
            preflight_min_docs=64, threshold=0.5,
        ).collect()
    }
    assert (900, 901) in pairs

    # corpora under preflight_min_docs never probe (the gate-scale
    # path): the same template corpus builds fine at default bounds
    assert minhash_lsh_pairs(
        docs, "doc_id", "text", n=5, unit="char"
    ).count() >= 0

    with pytest.raises(ValueError, match="preflight"):
        minhash_lsh_pairs(docs, "doc_id", "text", unit="char",
                          preflight="always")


def test_fuzzy_decontaminate_char_preflight(spark):
    """r13: the char-banding pre-flight extended to the two-table
    decontamination form — a template-heavy unsegmented TRAIN corpus
    past the size floor fails closed (the candidate join would emit
    ~rate x |train| x |bench| rows); preflight=None opts out and
    still returns the exact-verified hits; small corpora skip the
    probe (gated plans unchanged)."""
    import hashlib

    import pytest

    from lakehouse_to_rag_spark.operators.dedup import fuzzy_decontaminate

    template = "共通の定型文がすべての文書に繰り返し出現する" * 3
    train = spark.createDataFrame(
        [(i, template + hashlib.md5(f"u{i}".encode()).hexdigest())
         for i in range(80)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(900, template + "x" * 32)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="candidate rate"):
        fuzzy_decontaminate(
            train, bench, n=5, unit="char", preflight_min_docs=64,
        )
    # opt-out builds and still exact-verifies (the shared template is
    # ~70% of each doc, so hits exist at a low threshold)
    hits = fuzzy_decontaminate(
        train, bench, n=5, unit="char", threshold=0.3, preflight=None,
    )
    assert hits.count() > 0
    # under the size floor: no probe, builds fine at defaults
    assert fuzzy_decontaminate(
        train, bench, n=5, unit="char", threshold=0.3
    ).count() > 0


def test_gated_char_minhash_entry_is_scale_independent(spark, tmp_path):
    """r13 self-review: the registry's dedup_minhash_char is the
    documented correctness-gate-only pin of char-5 banding on prose —
    the exact corpus shape the preflight refuses. With the default
    preflight='auto' the GATED plan would have raised at any corpus
    past the 10k-doc probe floor (sf0.1 documents holds 5k rows; sf1
    would abort the gate run). The entry must opt out explicitly so
    its behavior is a function of the query, not the corpus size:
    building it against a 10k+ prose corpus runs no probe and raises
    nothing."""
    import importlib

    entrymod = importlib.import_module("__spark_entry__")

    n_docs = 10_050  # past _PREFLIGHT_MIN_DOCS (10k)
    prose = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank while the miller grinds wheat for the village market "
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(prose), F.lit("doc "), F.col("id").cast("string")
        ).alias("text"),
        F.lit("synthetic").alias("source"),
    )
    sf_dir = str(tmp_path / "sf_big")
    docs.write.parquet(f"{sf_dir}/documents.parquet")

    # plan BUILD must not raise and must not run the rate estimator
    # (with preflight=None there is no build-time job at all)
    out = entrymod.queries()["dedup_minhash_char"](spark, sf_dir)
    assert set(out.columns) == {"id_a", "id_b", "jaccard"}

    # the library default on the same corpus DOES refuse — proving
    # the gate entry's opt-out is load-bearing, not redundant
    import pytest

    from lakehouse_to_rag_spark.operators.dedup import minhash_lsh_pairs

    with pytest.raises(ValueError, match="candidate rate"):
        minhash_lsh_pairs(
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            "doc_id", "text", n=5, unit="char",
        )
