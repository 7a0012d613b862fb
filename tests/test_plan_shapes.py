"""Physical-plan shape assertions: the properties that matter at
100 TB, checked mechanically so a refactor can't silently regress them
(SURVEY.md §4.2-4.3).

- filters/projections reach the parquet scan (PushedFilters/ReadSchema)
- dimension joins broadcast (no fact-table shuffle)
- top-k compiles to TakeOrderedAndProject (no global sort)
- aggregations are 2-phase (partial before the exchange)
"""

from pyspark.sql import functions as F

from lakehouse_to_rag_spark.operators import tpch
from lakehouse_to_rag_spark.operators.analytics import word_frequency
from lakehouse_to_rag_spark.sources.tables import load_table
from tools.explain import plan_counts, plan_text


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return plan_text(df)


def _final_plan(df) -> str:
    """Execute (so AQE finalizes) and return the final physical plan."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_parquet(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1999-01-01").cast("timestamp")
    ).select("l_quantity")
    plan = _formatted(l)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan reads only the referenced columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_q5_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(tpch.q5_regional_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4, plan
    # the only shuffle join allowed is orders⋈lineitem
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_topk_uses_take_ordered(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    plan = _plan(word_frequency(d, content_col="text"))
    assert "TakeOrderedAndProject" in plan
    # no global Sort node — top-k must not totally sort
    assert "Sort [frequency" not in plan


def test_q1_two_phase_aggregate(spark, sf_dir):
    plan = _plan(tpch.q1_pricing_summary(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "partial_sum" in plan or "partial" in plan.lower()


def test_semi_join_for_exists(spark, sf_dir):
    plan = _plan(tpch.q4_order_priority(spark, sf_dir))
    assert "LeftSemi" in plan


def test_anti_join_shape(spark, sf_dir):
    plan = _plan(tpch.customers_without_orders(spark, sf_dir))
    assert "LeftAnti" in plan


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    plan = _final_plan(tpch.q1_pricing_summary(spark, sf_dir))
    # codegen'd operators print with a "*(stageId)" prefix
    assert "WholeStageCodegen" in plan or "*(" in plan


def test_q8_single_fact_shuffle_join(spark, sf_dir):
    # 7 joins total; every dim broadcast, only orders⋈lineitem may shuffle
    plan = _plan(tpch.q8_market_share(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 6, plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_q18_aggregates_before_join(spark, sf_dir):
    # the lineitem HAVING-aggregate must sit below the orders join:
    # no join node may appear beneath the quantity aggregate
    plan = _plan(tpch.q18_large_orders(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    agg_pos = plan.find("sum(l_quantity")
    assert agg_pos != -1
    # customer join is broadcast
    assert "BroadcastHashJoin" in plan


def test_q11_threshold_is_broadcast(spark, sf_dir):
    # scalar total joined via BroadcastNestedLoopJoin (1-row side),
    # never a cartesian shuffle
    plan = _plan(tpch.q11_important_parts(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_lang_id_single_scan_no_shuffle(spark, sf_dir):
    # argmax is row-local: one documents scan, zero exchanges
    from lakehouse_to_rag_spark.operators.text_analysis import language_id

    d = load_table(spark, sf_dir, "documents")
    plan = _plan(language_id(d))
    assert plan.count("Exchange") == 0, plan
    assert plan.count("documents.parquet") == 1


def test_runtime_bloom_filter_injects_on_selective_fact_join(spark, sf_dir):
    """Spark's runtime bloom-filter join pruning must be available in
    our sessions: a selective filter on one fact side injects a bloom
    might_contain predicate into the other side's scan, cutting the
    shuffle of a fact⋈fact join before it happens. The default
    application-side threshold (10 GB scan) is sized for real
    clusters, so the test lowers it to prove the mechanism."""
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 400000
        ).select("o_orderkey", "o_orderdate")
        l = load_table(spark, sf_dir, "lineitem")
        j = (
            l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderdate")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_headline_plan_count_regression(spark, sf_dir):
    """Plan-count ceilings for headline queries: a refactor that adds
    a table re-scan or an exchange passes value tests and hides in
    bench noise locally, but costs hours at 100 TB. Bounds are the
    current counts (tools/explain.py --all) — raise them only with a
    reason in SCALE.md."""
    from lakehouse_to_rag_spark.plans.registry import QUERIES

    bounds = {
        # name: (max_scans, max_exchanges)
        "q1_pricing_summary": (1, 1),
        "q3_shipping_priority": (3, 3),
        "q5_regional_revenue": (6, 6),
        "silver_docs": (1, 1),
        "gold_chunks_recursive": (1, 1),
        "word_freq_top10": (1, 1),
        "events_hourly": (1, 1),
        "events_sessionize": (1, 1),
        "dedup_exact_groups": (1, 1),
        "lang_id": (1, 0),
        "token_counts": (1, 0),
        "q21_sole_late_suppliers": (3, 5),
        # round-2 curation ops: one exchange on the group key, no more
        "sequence_pack": (1, 1),
        "quality_prune": (1, 1),
        # corpus-assembly ops: broadcast the small side (bit positions /
        # rates / fingerprints), never sort-merge the corpus
        "per_group_cap": (1, 1),
        "bloom_decontaminate": (2, 3),
        "training_shuffle": (1, 1),
        "domain_mix": (2, 4),
        "dedup_incremental": (2, 3),
        "knn_int8": (2, 3),
        # r11 char-shingle entries: plan shape must stay EXACTLY the
        # word twins' (6/4 exchanges, broadcast band/verify joins) —
        # only the shingle expression differs
        "dedup_ngram_jaccard_char": (2, 6),
        "dedup_minhash_char": (2, 4),
    }
    for name, (max_scans, max_ex) in bounds.items():
        c = plan_counts(QUERIES[name](spark, sf_dir))
        assert c["scans"] <= max_scans, (name, c)
        assert c["exchanges"] <= max_ex, (name, c)


def test_bm25_broadcasts_query_terms_no_cartesian(spark, sf_dir):
    """The posting-list join must broadcast the query-term side; no
    cartesian product or sort-merge join anywhere in lexical
    retrieval."""
    from lakehouse_to_rag_spark.operators.retrieval import bm25_topk

    d = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        [(0, "spark table join")], "query_id long, query string"
    )
    plan = _plan(bm25_topk(d, q, k=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_dsir_select_uses_take_ordered(spark, sf_dir):
    """The Gumbel draw must be a distributed top-n, never a global
    single-partition window over the corpus."""
    from lakehouse_to_rag_spark.operators.curation import dsir_select

    d = load_table(spark, sf_dir, "documents")
    target = d.filter(F.col("source").isin("src0", "src1"))
    plan = _plan(dsir_select(d, target, n=50))
    assert "TakeOrderedAndProject" in plan, plan


def test_dsir_weights_two_phase_aggregates(spark, sf_dir):
    """Bucket counting must partially aggregate before its exchange
    (map-side combine on the token table)."""
    from lakehouse_to_rag_spark.operators.curation import dsir_log_weights

    d = load_table(spark, sf_dir, "documents")
    target = d.filter(F.col("source").isin("src0", "src1"))
    plan = _plan(dsir_log_weights(d, target))
    assert "partial_count" in plan, plan


def test_line_dedup_two_keyed_exchanges_no_cartesian(spark, sf_dir):
    """Line dedup must stay keyed: a hash exchange for the line-hash
    window and one for reassembly — no join at all, so no cartesian
    or broadcast explosion is possible."""
    from lakehouse_to_rag_spark.operators.text_analysis import line_dedup

    d = load_table(spark, sf_dir, "documents")
    plan = _plan(line_dedup(d))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan


def test_nb_quality_broadcasts_model_state(spark, sf_dir):
    """Scoring must broadcast the (2 x num_buckets) ratio table onto
    the document bucket counts — never shuffle-join corpus-sized data
    against model state."""
    from lakehouse_to_rag_spark.operators.text_analysis import (
        nb_quality_scores,
    )

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    train = d.filter(F.col("doc_id") % 2 == 0).withColumn(
        "is_hq", F.col("source").isin("src0", "src1", "src2")
    )
    plan = _plan(nb_quality_scores(train, d.filter(F.col("doc_id") % 2 == 1)))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semdedup_single_repartition_for_cluster_groups(spark, sf_dir):
    """The in-cluster scan is ONE grouped Arrow pass: the plan shuffles
    the assigned corpus by cluster exactly once into FlatMapGroups —
    no self-join of the corpus anywhere."""
    from lakehouse_to_rag_spark.operators.dedup import semdedup

    e = load_table(spark, sf_dir, "embeddings")
    plan = _plan(semdedup(e, num_clusters=8, threshold=0.4, iterations=1))
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroups" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_prototype_scores_single_arrow_pass_no_shuffle(spark, sf_dir):
    """Scoring is ONE mapInPandas over the scan against the broadcast
    centroid matrix riding the closure — no join, no exchange in the
    returned plan (training ran eagerly before)."""
    from lakehouse_to_rag_spark.operators.curation import prototype_scores

    e = load_table(spark, sf_dir, "embeddings")
    plan = _plan(prototype_scores(e, num_clusters=8, iterations=1))
    assert "MapInPandas" in plan or "mapInPandas" in plan, plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_pretrain_pipeline_no_cartesian_anti_join_final(spark, sf_dir):
    """The composed pipeline stays keyed end-to-end: the near-dup drop
    is a left-anti equi-join, and nothing anywhere degenerates to a
    cartesian product."""
    from lakehouse_to_rag_spark.plans.registry import QUERIES

    plan = _plan(QUERIES["pretrain_pipeline"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan, plan


def test_pretrain_corpus_full_materializes_each_stage_once(spark, sf_dir):
    """The capstone chain's multi-consumer intermediates (line-dedup
    output, Gopher keepers, survivor set, NB-selected set) are lazily
    checkpointed, so every downstream consumer SCANS the materialized
    RDD instead of replaying the producing chain: the final plan shows
    checkpoint-boundary scans and contains NONE of the expensive
    upstream shapes (the corpus+recrawl Union, the shingle explode,
    the Jaccard self-join) — each stage runs once per pipeline, not
    once per consumer."""
    from lakehouse_to_rag_spark.plans.registry import QUERIES

    plan = _plan(QUERIES["pretrain_corpus_full"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # `selected` feeds both the mix-rate computation and the join-back
    # (plus sel_in upstream): at least 2 checkpoint scans must appear
    assert plan.count("Scan ExistingRDD") >= 2, plan
    # upstream chains stay behind their checkpoints
    assert "Union" not in plan, plan
    assert "Generate" not in plan, plan  # no shingle explode replay


def test_perceptual_dedup_joins_signatures_not_media(spark, sf_dir):
    """Image/audio perceptual dedup: the decode+hash Arrow pass runs
    ONCE into a checkpoint, and the banded self-join reads that
    8-byte-signature table from both sides — the final plan must show
    two checkpoint scans and ZERO MapInPandas (a plan that re-decodes
    media per join side would shuffle pixels/samples and double the
    codec cost), an equi-join (never a cartesian)."""
    from lakehouse_to_rag_spark.plans.registry import QUERIES

    for name in ("image_phash_dedup", "audio_fingerprint_dedup"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert plan.count("MapInPandas") == 0, (name, plan)
        assert plan.count("Scan ExistingRDD") == 2, (name, plan)
        assert "CartesianProduct" not in plan, name


def test_knn_binary_pure_codegen_no_python(spark, sf_dir):
    """The binary-ANN hot path must be JVM-only (XOR+popcount are
    codegen expressions — a Python eval node anywhere means the 32x
    storage cut bought a 100x scoring slowdown) with the query side
    broadcast."""
    from lakehouse_to_rag_spark.operators.similarity import knn_binary

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter("vec_id < 10")
    plan = (
        knn_binary(e, q, dim=64, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast queries, non-equi self-exclusion


def test_wordpiece_encode_map_only_no_exchange(spark, sf_dir):
    """The WordPiece encoder is the scaling path (the trainer sees a
    sample): one Arrow pass, zero shuffles — an Exchange here means
    the 100 TB encode pays a sort/shuffle it doesn't need."""
    from lakehouse_to_rag_spark.functions.wordpiece import (
        wordpiece_encode,
        wordpiece_train,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = wordpiece_train(d, vocab_multi=50, sample_rows=100)
    plan = (
        wordpiece_encode(d, vocab)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "mapinpandas" in plan.lower()


def test_medallion_admission_prunes_to_url_column(spark, sf_dir, tmp_path):
    """The maintained-mode medallion's admission anti-join must read
    ONLY the url column from the bronze layer — at 100 TB the seen-set
    scan is the per-batch cost floor, and a scan that also reads
    content would make every batch pay a corpus-text read."""
    from lakehouse_to_rag_spark.operators.bronze import bronze_transform
    from lakehouse_to_rag_spark.operators.pipeline import documents_as_raw
    from lakehouse_to_rag_spark.sources.lakehouse import read_layer

    raw = documents_as_raw(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    bronze_path = str(tmp_path / "bronze")
    bronze_transform(
        raw, id_cols=("url", "source", "title", "doc_id", "lang"),
        processed_at="2025-01-01 00:00:00",
    ).write.parquet(bronze_path)

    seen = read_layer(spark, bronze_path).select("url").distinct()
    fresh = raw.join(seen, "url", "left_anti")
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    # the bronze-layer scan is the one whose projection collapsed to
    # the join key alone; the corpus scan keeps its full schema
    pruned = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "ReadSchema: struct<url:string>" in ln
    ]
    assert len(pruned) == 1, plan
    assert "LeftAnti" in plan


def test_pagerank_hoists_loop_invariant_degree_join(spark):
    """pagerank_micro's degree-annotated edge table (e ⋈ outdeg) is
    loop-invariant and must be joined ONCE (checkpointed) before the
    rounds, not re-joined per iteration: with checkpointing disabled
    so the full lineage is visible, the optimized plan must contain
    exactly 2 joins per round (score ⋈ edges, nodes ⟕ contrib) and
    not the 3 the pre-hoist form paid. Oracle-value equality with the
    checkpointed production form is asserted alongside."""
    from lakehouse_to_rag_spark.operators.graph import pagerank_micro

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)], "src long, dst long"
    )
    iters = 3
    flat = pagerank_micro(edges, iterations=iters, checkpoint_rounds=False)
    plan = flat._jdf.queryExecution().optimizedPlan().toString()
    n_joins = plan.count("Join ")
    assert n_joins == 2 * iters, f"expected {2 * iters} joins, plan has {n_joins}"
    # and the un-checkpointed plan computes the same exact micros
    prod = sorted(
        tuple(r) for r in pagerank_micro(edges, iterations=iters).collect()
    )
    assert sorted(tuple(r) for r in flat.collect()) == prod


def test_scd2_single_exchange_both_window_passes(spark, sf_dir):
    """SCD2's two window passes (lag change detection + lead interval
    close) share one (key) partitioning — Catalyst must plan exactly
    ONE Exchange and a column-pruned scan; a second exchange means
    the dimension build shuffles the fact history twice at 100 TB."""
    from lakehouse_to_rag_spark.operators.events import scd2_dimension

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = (
        scd2_dimension(e)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window") == 2
    # pruned scan: value/props never leave the file
    assert "value" not in plan.split("ReadSchema")[1][:200]


def test_sessionize_capped_single_exchange(spark, sf_dir):
    """The session-start window partitions by (user, session_seq) — a
    SUBSET-satisfying clustering of the gap window's user_id hash, so
    the whole operator must ride ONE Exchange."""
    from lakehouse_to_rag_spark.operators.events import sessionize_capped

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = (
        sessionize_capped(e)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_embedding_diversity_two_partial_aggregates_no_pairs(spark, sf_dir):
    """The pair-free diversity statistic must plan as partial-agg
    groupBys (HashAggregate pairs) with NO join anywhere — a join in
    this plan means someone reintroduced the O(n²) pair form."""
    from lakehouse_to_rag_spark.operators.similarity import (
        embedding_diversity,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = (
        embedding_diversity(e)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 4  # 2 aggs x partial+final


def test_scd2_snapshots_deletes_one_key_exchange(spark, sf_dir):
    """Tombstone SCD2 (r10): all window passes (lag marking, running
    version/valid_from carry, lead run-end) must share ONE
    hashpartitioning(user_id) exchange; the snapshot grid rides a
    1-row aggregate + BroadcastExchange (bounded by calendar cadence,
    never data volume) — its SinglePartition exchange is the only one
    allowed, and no Window may run single-partition."""
    import re

    from pyspark.sql import functions as F

    from lakehouse_to_rag_spark.operators.events import (
        scd2_from_snapshots_with_deletes,
    )

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    snaps = e.groupBy(
        "user_id",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
            "snap_day"
        ),
    ).agg(
        F.max_by(
            "event_type", F.struct(F.col("ts"), F.col("event_id"))
        ).alias("event_type")
    )
    plan = (
        scd2_from_snapshots_with_deletes(snaps)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # exactly one key-only hash exchange feeds every window pass
    assert len(re.findall(r"Exchange hashpartitioning\(user_id#\d+L, \d+\)", plan)) == 1, plan
    assert plan.count("Window") >= 2
    assert "BroadcastExchange" in plan
    # windows are keyed, never global: every windowspec names user_id
    specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert specs and all(s.startswith("user_id#") for s in specs), specs


def test_r9_window_operators_never_single_partition(spark, sf_dir):
    """The 100 TB window discipline, applied to every r9 operator
    that ranks or carries with a Window: each executed plan's Window
    must run PARTITIONED (by doc/user/source), never over
    SinglePartition — a global window funnels the corpus through one
    task."""
    from lakehouse_to_rag_spark.operators.curation import (
        quality_calibrated_select,
    )
    from lakehouse_to_rag_spark.operators.events import (
        asof_nearest,
        scd2_dimension,
        sessionize_capped,
    )
    from lakehouse_to_rag_spark.operators.text_analysis import (
        quality_scores,
        winnow_matches_topm,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    scored = quality_scores(d, carry_cols=["source"]).select(
        "doc_id", "source", "quality_score"
    )
    plans = {
        "winnow_topm": winnow_matches_topm(d, m=2),
        "qcal_exact": quality_calibrated_select(scored, frac=0.2),
        "scd2": scd2_dimension(e),
        "sess_capped": sessionize_capped(e),
        "asof_nearest": asof_nearest(e),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan, name


def test_shingle_novelty_keeps_shingling_out_of_the_scan_stage(spark, sf_dir):
    """Regression tripwire for the InferFiltersFromGenerate pushdown:
    plain explode() made Catalyst synthesize a size>0/isnotnull filter
    over the WHOLE shingle expression and push it below the
    parallelizing repartition — the shingling then ran twice per row
    inside the single-split scan stage (7.5 s vs 0.8 s at sf0.1). The
    explode_outer form must keep every array_distinct above the
    repartition, and the whole plan at two HASH exchanges."""
    import re

    from lakehouse_to_rag_spark.operators.dedup import shingle_novelty
    from lakehouse_to_rag_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    plan = shingle_novelty(d)._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan
    below_scan = plan.split("RoundRobinPartitioning", 1)[1]
    assert "array_distinct" not in below_scan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2


def test_plan_audit_tripwire_rc_semantics(spark, sf_dir, capsys):
    """tools/plan_audit.py is a GATE, not just a report (VERDICT r10
    task 5): a deliberately regressed plan (filter over a derived
    expensive-array column, which Catalyst inlines into the scan
    Filter) must flag; a cheap-predicate plan must not; and classify()
    must return rc=1 for any new flag or stale allowlist row, rc=0
    only when flags match the allowlist exactly."""
    from pyspark.sql import functions as F

    from lakehouse_to_rag_spark.sources.tables import load_table
    from tools.plan_audit import ALLOWLIST, classify, flag_for

    d = load_table(spark, sf_dir, "documents")
    regressed = (
        d.withColumn(
            "sh",
            F.transform(
                F.split(F.col("text"), " ", -1), lambda x: F.upper(x)
            ),
        )
        .filter(F.size("sh") > 1)
        .select("doc_id", "sh")
    )
    plan = regressed._jdf.queryExecution().executedPlan().toString()
    assert flag_for(plan) is not None, "regressed plan did not flag"

    clean = d.filter(F.length("text") > 10).select("doc_id")
    plan = clean._jdf.queryExecution().executedPlan().toString()
    assert flag_for(plan) is None

    # rc semantics against a FIXTURE allowlist (the committed
    # ALLOWLIST is empty since the r13 embed_hashed_tf rewrite
    # retired its one row; the semantics must stay pinned regardless)
    fix = {"some_entry": ("Filter (size(transform(", "triaged benign")}
    allowed = [(n, f"{marker}...)") for n, (marker, _) in fix.items()]
    assert classify(allowed, fix) == 0
    assert classify(allowed + [("new_entry", "Filter transform(...)")], fix) == 1
    assert classify([], fix) == 1  # every allowlist row is now stale
    # an allowlisted NAME does not launder a different problem (r11
    # self-review): PLAN-ERR and a filter WITHOUT the triaged marker
    # are both NEW, and both also leave the allowlist row stale
    assert classify([("some_entry", "PLAN-ERR boom")], fix) == 1
    assert classify([("some_entry", "Filter (aggregate(other_expr))")], fix) == 1
    # and the COMMITTED allowlist (currently empty): clean sweep is
    # green, any flag is a NEW failure
    assert classify([]) == (1 if ALLOWLIST else 0)
    assert classify([("x", "Filter transform(...)")]) == 1
    capsys.readouterr()


def test_explain_writes_plan_and_counts(spark, sf_dir, tmp_path, capsys):
    """tools/explain.py on the caller's session: with --out it writes
    the entry's formatted plan followed by its counts line, and leaves
    the session usable."""
    from lakehouse_to_rag_spark.plans.registry import QUERIES
    from tools.explain import counts_line, run

    run(spark, ["--sf", sf_dir, "--out", str(tmp_path), "silver_docs"])
    text = (tmp_path / "silver_docs.txt").read_text()
    assert text.startswith("== Physical Plan ==")
    want = counts_line(
        "silver_docs", plan_counts(QUERIES["silver_docs"](spark, sf_dir))
    )
    assert text.splitlines()[-1] == want
    assert capsys.readouterr().out == want + "\n"
    assert spark.range(3).count() == 3
