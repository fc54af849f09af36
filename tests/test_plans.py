"""Physical-plan contracts: the scale properties SURVEY.md §4 promises.
A failure here means a query still returns correct rows but stopped being
the plan we'd run at 100 TB."""

from __future__ import annotations

from pyspark_text_classification_spark.all_queries import QUERIES
from pyspark_text_classification_spark.plans.explain import (
    has_pushed_filter,
    python_eval_nodes,
    read_schema_columns,
    uses_broadcast_join,
)


def test_projection_prunes_scan(spark, sf_dir):
    df = QUERIES["q01_scan_project"](spark, sf_dir)
    cols = read_schema_columns(df)
    assert set(cols) == {
        "l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_quantity"
    }, f"scan decodes {cols} instead of the 5 projected columns"


def test_filters_pushed_to_scan(spark, sf_dir):
    df = QUERIES["q03_notnull_length_filter"](spark, sf_dir)
    assert has_pushed_filter(df, "IsNotNull(text)")
    df2 = QUERIES["q20_fact_fact_join"](spark, sf_dir)
    assert has_pushed_filter(df2, "EqualTo(o_orderstatus,F)")


def test_dim_join_broadcasts(spark, sf_dir):
    assert uses_broadcast_join(QUERIES["q19_broadcast_dim_join"](spark, sf_dir))


def test_idf_total_is_broadcast_not_shuffle(spark, sf_dir):
    assert uses_broadcast_join(QUERIES["q15_idf"](spark, sf_dir))


# the ONLY queries allowed to run Python workers: the declared Arrow
# mapInPandas stages. Everything else must plan fully JVM-side.
PANDAS_QUERIES = {
    "ml_infer_batch", "ml_calibration_bins", "multimodal_byte_features",
    "multimodal_frame_sample", "multimodal_resize", "multimodal_embed_topk",
    "multimodal_shot_boundaries",  # frame-feature decode stage
    "multimodal_audio_energy_vad",  # sample-decode stage (declared codec)
    "multimodal_decode_stats",  # real PPM/BMP/WAV encode+decode stages
    "pipeline_global_rank",  # declared Arrow enumerate-sorted-partitions stage
    "q41_customer_rfm",  # three total_order_rank enumerate stages (no window)
}
# Declared Python-eval exceptions that are NOT MapInPandas stages: the
# UDTF surface demo plans as BatchEvalPython by design (asserted
# positively in test_udtf_plans_as_python_eval below).
PYTHON_EVAL_DECLARED = {"text_udtf_chunks"}
# run eagerly on call (streaming drains / iterative fits) — their plans
# can't be inspected lazily here; streaming twins share their batch
# implementation, and the ML fits are covered by their own tests
EAGER_QUERIES = {
    "events_stream_tumbling_hourly", "events_stream_sliding_1h_15m",
    "events_stream_sessionize",
    "events_stream_range_join", "ml_infer_stream", "dedup_stream_exact",
    "pipeline_stream_quality_filter", "similarity_stream_near_dup",
    "events_stream_value_zscore", "events_stream_closed_sessions",
    "events_stream_ohlc_hourly", "text_stream_kl_drift",
    "pipeline_stream_checksum", "events_stream_time_to_convert",
    "similarity_stream_pq_codes", "events_stream_enrich",
    "sketch_stream_cms", "events_stream_scd2", "source_python_stream",
    "dedup_stream_ingest", "events_stream_funnel",
    "events_stream_funnel_windowed", "events_stream_pattern_alert",
    "events_stream_cusum",
    "ml_pca_power_iter",  # driver-loop iterate with bounded 64-row collects
    "pipeline_observed_metrics",  # Observation.get blocks on its action
    "graph_kcore_peel",  # driver-loop peeling with per-round checkpoints
    "events_markov_stationary",  # driver-loop chain iteration (5-row state)
    "dedup_clusters", "dedup_clusters_twostar", "similarity_dedup_clusters",
    "dedup_incremental_ingest", "dedup_containment",
    "ml_tfidf_lr_metrics", "ml_topk_coefficients", "ml_infer_exported",
    "similarity_ivf_pq",  # eagerly checkpoints its top-k at construction
    "similarity_ivf_pq_recall",
    "similarity_ivf_pq_rerank", "similarity_rerank_recall",
    "similarity_ivf_pq_auto", "similarity_ivf_pq_auto_recall",
    "similarity_auto_rerank_recall",
    "events_stream_late_drop_join",  # four-micro-batch drain on call
}


def test_relational_core_has_no_python_workers(spark, sf_dir, monkeypatch):
    """Zero Python row UDFs outside the declared pandas stages (SURVEY
    §7.1) — swept over EVERY lazily-plannable query."""
    from pyspark_text_classification_spark.operators import similarity

    # keep the similarity queries lazy so their real plans are inspectable
    # (in production they eagerly checkpoint + release their pair caches)
    monkeypatch.setattr(similarity, "EAGER_RELEASE", False)
    for name in sorted(
        set(QUERIES) - PANDAS_QUERIES - EAGER_QUERIES - PYTHON_EVAL_DECLARED
    ):
        nodes = python_eval_nodes(QUERIES[name](spark, sf_dir))
        assert not nodes, f"{name} drops into Python: {nodes}"


def test_udtf_plans_as_python_eval(spark, sf_dir):
    """The UDTF demo must actually exercise the Python UDTF execution
    path (BatchEvalPython/UDTF eval node) — if Catalyst ever rewrote it
    away, the query would no longer cover the declared API surface."""
    nodes = python_eval_nodes(QUERIES["text_udtf_chunks"](spark, sf_dir))
    assert nodes, "text_udtf_chunks no longer plans a Python eval node"


def test_near_dup_family_has_no_cartesian_product(spark, sf_dir, monkeypatch):
    """Near-dup pair generation must be the LSH bucket equi-join, never an
    all-pairs cross join — the O(n^2) brute force (pairwise_cosine) is a
    test-only recall oracle. Covers similarity_near_dup directly and
    similarity_dedup_clusters via its shared edge generator."""
    from pyspark_text_classification_spark.operators import similarity
    from pyspark_text_classification_spark.sources.parquet import load_table

    monkeypatch.setattr(similarity, "EAGER_RELEASE", False)
    e = similarity.with_norms(load_table(spark, sf_dir, "embeddings"))
    for df in (
        QUERIES["similarity_near_dup"](spark, sf_dir),
        QUERIES["similarity_ann_lsh"](spark, sf_dir),
        similarity.lsh_near_dup_pairs(e),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pmi_broadcasts_unigram_tables(spark, sf_dir):
    """Collocation scoring must broadcast the vocabulary-bounded unigram
    counts and scalar totals — never shuffle the bigram stream for them."""
    assert uses_broadcast_join(QUERIES["text_collocations_pmi"](spark, sf_dir))


def test_stratified_sample_is_single_aggregate(spark, sf_dir):
    """The sampling decision is a map-side expression; the plan must be
    scan -> project -> one hash aggregate (plus its exchange) — any join
    or second shuffle means the operator stopped being embarrassingly
    parallel."""
    df = QUERIES["pipeline_stratified_sample"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, f"unexpected join in sampling plan:\n{plan}"
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 2, f"{n_exchanges} exchanges in sampling plan"


def test_tfidf_join_broadcasts_vocab(spark, sf_dir):
    """The doc-term matrix join must broadcast the bounded vocabulary,
    never shuffle the big tf side."""
    assert uses_broadcast_join(QUERIES["ml_tfidf_matrix"](spark, sf_dir))


def test_pandas_operators_use_arrow_map(spark, sf_dir):
    """Every declared pandas stage uses MapInPandas (Arrow batches, no
    shuffle) — not grouped-map (which would shuffle) and not row pickling."""
    for name in sorted(PANDAS_QUERIES):
        nodes = python_eval_nodes(QUERIES[name](spark, sf_dir))
        assert nodes == ["MapInPandas"], f"{name}: {nodes}"


def test_decontaminate_broadcasts_benchmark_set(spark, sf_dir):
    """The benchmark shingle set must broadcast — the corpus side of the
    contamination check never shuffles."""
    assert uses_broadcast_join(QUERIES["pipeline_decontaminate"](spark, sf_dir))


def test_zscore_broadcasts_moments(spark, sf_dir):
    """Per-user moments are user-bounded: they broadcast back onto the
    events scan instead of shuffling the events."""
    assert uses_broadcast_join(QUERIES["events_value_zscore"](spark, sf_dir))


def test_hot_scans_stay_in_codegen(spark, sf_dir):
    """Pure-arithmetic column programs must run inside WholeStageCodegen —
    an interpreted projection on the corpus scan is a 10x regression the
    rows can't reveal. Scope: queries whose expressions are codegen-capable
    (array higher-order-function lambdas are CodegenFallback by design in
    Spark, so the HOF-heavy text/vector programs are excluded — their
    scale contract is the no-Python sweep above). Under AQE codegen ids
    only appear in the FINAL plan, so each query is collected first."""
    from pyspark_text_classification_spark.plans.explain import (
        codegen_stage_count,
    )

    for name in ("q01_scan_project", "q09_group_count_2keys",
                 "pipeline_zorder_key", "events_value_zscore"):
        df = QUERIES[name](spark, sf_dir)
        df.collect()  # finalize the adaptive plan on THIS DataFrame
        assert codegen_stage_count(df) >= 1, name


def test_lm_logprob_broadcasts_model_table(spark, sf_dir):
    """The unigram log-prob 'model' is vocabulary-bounded: scoring must
    broadcast it onto the exploded corpus, never shuffle the token stream
    for the join."""
    assert uses_broadcast_join(QUERIES["text_lm_logprob"](spark, sf_dir))


def test_mixture_sample_broadcasts_rates(spark, sf_dir):
    """Per-source keep rates are source-bounded: they broadcast back onto
    the corpus scan; the only data-sized exchange is the final per-source
    aggregate."""
    assert uses_broadcast_join(QUERIES["pipeline_mixture_sample"](spark, sf_dir))


def test_kmeans_assignment_never_shuffles_corpus(spark, sf_dir):
    """The Lloyd-step contract: centroids collapse to one broadcast row and
    assignment runs inside the scan projection — the corpus must never be
    shuffled to be assigned (no shuffle join of any kind; the only wide
    exchange is the tiny quantized (cent_id, dim) aggregate)."""
    plan = (
        QUERIES["similarity_kmeans_step"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan, plan
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert bad not in plan, plan


def test_search_topk_scores_map_side(spark, sf_dir):
    """Query serving: the query batch broadcasts and scoring is one
    map-side pass — the corpus is never shuffled to be scored (the only
    exchanges are the two window stages over already-scored rows)."""
    plan = (
        QUERIES["similarity_search_topk"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan, plan
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert bad not in plan, plan


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on the partition column must become a PartitionFilters
    entry on the scan (directory-level pruning — at 100 TB the difference
    between reading one day and reading the archive), and non-matching
    partition directories must contribute zero files to the scan."""
    from pyspark.sql import functions as F

    from pyspark_text_classification_spark.sources.parquet import (
        load_table,
        write_parquet,
    )

    path = str(tmp_path / "events_by_type")
    ev = load_table(spark, sf_dir, "events")
    write_parquet(ev, path, partition_by=["event_type"])

    one_type = ev.select("event_type").first()[0]
    back = spark.read.parquet(path).filter(F.col("event_type") == one_type)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert f"isnotnull(event_type" in plan or "event_type" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    # pruned read returns exactly the partition's rows
    expected = ev.filter(F.col("event_type") == one_type).count()
    assert back.count() == expected


def test_rolling_active_users_broadcasts_day_list(spark, sf_dir):
    """The 7-day band join must broadcast the tiny distinct-day list, not
    shuffle the distinct (user, day) pairs a second time."""
    df = QUERIES["events_rolling_active_users"](spark, sf_dir)
    assert uses_broadcast_join(df)


def test_snapshot_diff_is_single_full_outer_no_cartesian(spark, sf_dir):
    """The version diff is one key-partitioned FULL OUTER join — never a
    cross product, never a driver-side collect."""
    df = QUERIES["pipeline_snapshot_diff"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_weighted_sample_is_single_window_exchange(spark, sf_dir):
    """Priority keys compute map-side; the only wide exchange is the
    per-source window (plus the fan_out round-robin repartition)."""
    df = QUERIES["pipeline_weighted_sample"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    hash_exchanges = plan.count("Exchange hashpartitioning")
    assert hash_exchanges == 1, plan


def test_recall_eval_exact_side_broadcasts_sampled_queries(spark, sf_dir, monkeypatch):
    """The exact ground-truth side restricts the fold to |sample| x n via a
    broadcast of the filtered query sample — the plan must contain no
    CartesianProduct (the ANN side stays a bucket equi-join).  A warm
    truth slot plans as a scan and hides the fold, so the cold
    exact_topk plan is checked too: a broadcast nested-loop join."""
    from pyspark.sql import functions as F

    from pyspark_text_classification_spark.operators import similarity
    from pyspark_text_classification_spark.sources.parquet import load_table

    monkeypatch.setattr(similarity, "EAGER_RELEASE", False)
    df = QUERIES["similarity_recall_eval"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan

    e = similarity.with_norms(load_table(spark, sf_dir, "embeddings"))
    sampled = F.pmod(F.col("vec_id"), F.lit(similarity.RECALL_SAMPLE_MOD)) == 0
    cold = similarity.exact_topk(e.filter(sampled), e, similarity.TOP_K)
    plan = cold._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_rfm_has_no_global_window(spark, sf_dir):
    """q41's quartile scoring must come from range-partitioned ranks +
    arithmetic ntile — a plan with ANY Window operator means the
    single-reducer global ntile sort crept back in."""
    df = QUERIES["q41_customer_rfm"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "ntile" not in plan, plan


def test_tpch_tail_date_bounds_reach_parquet_scan(spark, sf_dir):
    """q42-q49's non-correlated date bounds use TIMESTAMP_NTZ literals
    precisely so they land in PushedFilters (row-group skipping at 100 TB)
    — unlike the timestampdiff form, which stays a post-scan filter."""
    assert has_pushed_filter(
        QUERIES["q49_forecast_revenue"](spark, sf_dir),
        "GreaterThanOrEqual(l_shipdate",
    )
    assert has_pushed_filter(
        QUERIES["q48_returned_items"](spark, sf_dir),
        "EqualTo(l_returnflag,R)",
    )
    assert has_pushed_filter(
        QUERIES["q42_priority_late_ship"](spark, sf_dir),
        "GreaterThanOrEqual(o_orderdate",
    )


def test_tpch_tail_join_shapes(spark, sf_dir):
    """Semi/anti/broadcast shapes the tail queries promise in their
    docstrings."""
    from pyspark_text_classification_spark.plans.explain import formatted_plan

    q42 = formatted_plan(QUERIES["q42_priority_late_ship"](spark, sf_dir))
    assert "LeftSemi" in q42, "Q4-shape EXISTS must plan as a semi join"
    q45 = formatted_plan(QUERIES["q45_idle_rich_customers"](spark, sf_dir))
    assert "LeftAnti" in q45, "Q22-shape NOT EXISTS must plan as an anti join"
    for name in ("q44_small_quantity_revenue", "q47_shipping_priority",
                 "q48_returned_items", "q46_top_supplier"):
        assert uses_broadcast_join(QUERIES[name](spark, sf_dir)), (
            f"{name} lost its broadcast dim join"
        )
    for name in ("q47_shipping_priority", "q48_returned_items"):
        assert "TakeOrderedAndProject" in formatted_plan(
            QUERIES[name](spark, sf_dir)
        ), f"{name} top-k must be TakeOrdered, not a global sort"


def test_pq_family_plan_shapes(spark, sf_dir):
    """PQ assignment and ADC scoring must stay broadcast-join + aggregate:
    no CartesianProduct, no Python workers, codebook/LUT on the broadcast
    side."""
    from pyspark_text_classification_spark.plans.explain import formatted_plan

    for name in ("similarity_pq_codes", "similarity_pq_adc_topk"):
        df = QUERIES[name](spark, sf_dir)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, f"{name} went quadratic"
        assert uses_broadcast_join(df), f"{name} lost its broadcast join"
        assert not python_eval_nodes(df), f"{name} drops into Python"


def test_tpch_tail2_dimension_paths_broadcast(spark, sf_dir):
    """q50/q51/q52: every dimension path must broadcast; the only
    sort-merge joins allowed are the fact-fact orderkey joins. A
    SortMergeJoin on a nation/supplier/customer path means a dimension
    stopped collapsing before the join — the 100 TB killer."""
    from pyspark_text_classification_spark.plans.explain import (
        formatted_plan,
        uses_broadcast_join,
    )

    for name, max_smj in [
        ("q50_market_share", 1),   # lineitem ⋈ orders only
        ("q51_nation_profit", 1),  # lineitem ⋈ orders only
        ("q52_sole_late_supplier", 1),
    ]:
        plan = formatted_plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        n_smj = plan.count("SortMergeJoin")
        assert n_smj <= max_smj, f"{name}: {n_smj} sort-merge joins"
        assert uses_broadcast_join(QUERIES[name](spark, sf_dir)), name


def test_boilerplate_set_broadcasts(spark, sf_dir):
    """dedup_boilerplate: the high-DF shingle set must come back as a
    BROADCAST join against the shingle stream (it is Zipf-tail small) —
    a sort-merge join there re-shuffles the whole shingle stream.  The
    registered query eagerly checkpoints (its returned plan is an
    ExistingRDD scan), so the contract inspects the LAZY frame builder
    the query wraps."""
    from pyspark_text_classification_spark.operators.dedup import (
        BOILER_K,
        boilerplate_frame,
        shingle_hashes,
    )
    from pyspark_text_classification_spark.plans.explain import (
        formatted_plan,
    )
    from pyspark_text_classification_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(boilerplate_frame(shingle_hashes(docs, BOILER_K)))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_domain_mixture_single_corpus_pass(spark, sf_dir):
    """text_domain_mixture: the corpus-total side must be derived from
    the MATERIALIZED (source, lang) rollup, never by re-scanning the
    corpus.  The lazy formulation inherently re-evaluates the rollup for
    the total (two scans — the regression this test originally caught),
    and the eager checkpoint of the ~100-row rollup is the fix; so the
    contract is that the registered query's final plan contains NO
    parquet scan at all: both the rollup side and the broadcast total
    side must come from the checkpointed rows.  Removing the checkpoint
    reintroduces the scans and fails this immediately."""
    from pyspark_text_classification_spark.plans.explain import (
        formatted_plan,
    )

    plan = formatted_plan(QUERIES["text_domain_mixture"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Scan parquet" not in plan, (
        "corpus re-scanned instead of reusing the materialized rollup"
    )


def test_pq_joins_all_broadcast(spark, sf_dir):
    """PQ index build + ADC search: the codebook, the refined-codebook
    means, and the per-query LUT are all tiny — every join in the PQ
    family must be broadcast (a SortMergeJoin would shuffle the corpus
    to meet a 1024-row table)."""
    from pyspark_text_classification_spark.plans.explain import (
        formatted_plan,
    )

    for name in ("similarity_pq_codes", "similarity_pq_adc_topk"):
        plan = formatted_plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, f"{name} shuffles for a join"


def test_q49_is_pure_pushdown_aggregate(spark, sf_dir):
    """Q6 shape: no joins at all, every predicate at the scan, 4 of 11
    lineitem columns decoded."""
    from pyspark_text_classification_spark.plans.explain import (
        formatted_plan,
        read_schema_columns,
    )

    df = QUERIES["q49_forecast_revenue"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan
    assert has_pushed_filter(df, "GreaterThanOrEqual(l_shipdate")
    cols = set(read_schema_columns(df))
    assert cols == {
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice"
    }, cols


def test_correlated_aggregate_queries_never_shuffle_for_joins(spark, sf_dir):
    """q44 (Q17) and q46 (Q15): the correlated pre-aggregates (per-part
    stats, the one-row max) and the brand/supplier dims are all bounded —
    every join must be broadcast, so the fact table's only shuffle is its
    own aggregate."""
    from pyspark_text_classification_spark.plans.explain import (
        formatted_plan,
    )

    for name in ("q44_small_quantity_revenue", "q46_top_supplier"):
        plan = formatted_plan(QUERIES[name](spark, sf_dir))
        assert "SortMergeJoin" not in plan, f"{name} shuffles for a join"
        assert "CartesianProduct" not in plan, name


def test_tpch_tail3_join_shapes(spark, sf_dir):
    """q53-q57: the adapted Q12/Q16/Q2/Q11/Q20 shapes.

    - q53's only allowed sort-merge join is the fact-fact orderkey join;
      its mode IN-list must reach the lineitem scan as a PushedFilter.
    - q54's joins (broadcast part filter, broadcast anti supplier
      exclusion) must ALL broadcast - the fact's single shuffle is the
      3-column distinct-count aggregate.
    - q55/q57 may sort-merge only the aggregate-to-aggregate partkey
      joins (offers/best, sp/pt); every dimension path broadcasts.
    - q56's scalar threshold is a broadcast nested-loop against a 1-row
      aggregate - never a CartesianProduct.
    """
    from pyspark_text_classification_spark.plans.explain import (
        count_physical_nodes,
        formatted_plan,
        has_pushed_filter,
        uses_broadcast_join,
    )

    q53 = QUERIES["q53_shipmode_priority"](spark, sf_dir)
    plan53 = formatted_plan(q53)
    assert has_pushed_filter(q53, "In(l_returnflag")
    assert count_physical_nodes(plan53, "SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan53

    plan54 = formatted_plan(QUERIES["q54_supplier_relationship"](spark, sf_dir))
    assert "SortMergeJoin" not in plan54, "q54 shuffles for a join"
    assert "CartesianProduct" not in plan54

    for name, max_smj in [
        ("q55_min_cost_supplier", 1),   # offers JOIN best (partkey)
        ("q57_dominant_supplier", 1),   # sp JOIN pt (partkey)
    ]:
        df = QUERIES[name](spark, sf_dir)
        plan = formatted_plan(df)
        n_smj = count_physical_nodes(plan, "SortMergeJoin")
        assert n_smj <= max_smj, f"{name}: {n_smj} sort-merge joins"
        assert "CartesianProduct" not in plan, name
        assert uses_broadcast_join(df), name

    plan56 = formatted_plan(QUERIES["q56_important_parts"](spark, sf_dir))
    assert "CartesianProduct" not in plan56
    assert "SortMergeJoin" not in plan56, "q56 shuffles for a join"


def test_bm25_probe_broadcasts_and_salts(spark, sf_dir):
    """retrieval_bm25_topk: the query-term probe, df table, totals row,
    and query attach must all broadcast — the only sort-merge join
    allowed is postings JOIN doc-lengths (both document-scaled).  Top-k
    must be the salted two-level shape: two Window row_number stages,
    never one global per-query funnel over the full candidate set."""
    from pyspark_text_classification_spark.plans.explain import (
        count_physical_nodes,
        formatted_plan,
        uses_broadcast_join,
    )

    df = QUERIES["retrieval_bm25_topk"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert uses_broadcast_join(df)
    n_smj = count_physical_nodes(plan, "SortMergeJoin")
    assert n_smj <= 1, f"{n_smj} sort-merge joins (expected only postings-dl)"
    assert count_physical_nodes(plan, "Window") == 2, "two-level top-k lost"


def test_graph_family_plan_shapes(spark, sf_dir):
    """graph_*: no CartesianProduct anywhere; adamic_adar's top-k is
    TakeOrdered over the session-cached pair-stats checkpoint, not a
    global Sort+Limit over all pairs; the pair-stats COLD build is
    cartesian-free (its weight lookup is an in-row array literal, not a
    join); pagerank's scalar N broadcasts."""
    from pyspark_text_classification_spark.operators.graph import (
        _build_pair_stats,
    )
    from pyspark_text_classification_spark.plans.explain import (
        formatted_plan,
        uses_broadcast_join,
    )

    cold = formatted_plan(_build_pair_stats(spark, sf_dir))
    assert "CartesianProduct" not in cold

    for name in (
        "graph_degree_stats",
        "graph_jaccard_links",
        "graph_bfs_3hop",
        "graph_pagerank_step",
        "graph_adamic_adar",
    ):
        plan = formatted_plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name

    aa = QUERIES["graph_adamic_adar"](spark, sf_dir)
    aa_plan = formatted_plan(aa)
    assert "TakeOrderedAndProject" in aa_plan
    # the checkpoint cut: adamic-adar re-reads the cached pair stats
    # instead of re-deriving the fact-scale join
    assert "ExistingRDD" in aa_plan
    assert uses_broadcast_join(QUERIES["graph_pagerank_step"](spark, sf_dir))


def test_sketch_family_plan_shapes(spark, sf_dir):
    """sketch_*: the sketch tables are bounded (depth x width cells / m
    registers), so every join against them must broadcast and no plan
    may contain a CartesianProduct.  CMS's probe join carries two equi
    keys (row_id, cell) — a SortMergeJoin there means the broadcast was
    lost and the bounded sketch is being shuffled."""
    from pyspark_text_classification_spark.plans.explain import (
        formatted_plan,
        uses_broadcast_join,
    )

    cms = QUERIES["sketch_cms_heavy_hitters"](spark, sf_dir)
    plan = formatted_plan(cms)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, "CMS sketch join stopped broadcasting"
    assert uses_broadcast_join(cms)

    hll = QUERIES["sketch_hll_distinct"](spark, sf_dir)
    plan = formatted_plan(hll)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_round3_additions_plan_shapes(spark, sf_dir):
    """dedup_winnowing / graph_triangle_count / sketch_kmv_intersection /
    retrieval_phrase_match / events_scd2_intervals: no CartesianProduct
    anywhere; the phrase probe must broadcast its term list; the SCD2
    windows must both partition by user (no empty-partitionBy global
    sort)."""
    from pyspark_text_classification_spark.plans.explain import (
        formatted_plan,
        uses_broadcast_join,
    )

    for name in (
        "dedup_winnowing",
        "graph_triangle_count",
        "sketch_kmv_intersection",
        "retrieval_phrase_match",
    ):
        plan = formatted_plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name

    pm = QUERIES["retrieval_phrase_match"](spark, sf_dir)
    assert uses_broadcast_join(pm)

    scd = QUERIES["events_scd2_intervals"](spark, sf_dir)
    plan = formatted_plan(scd)
    assert "CartesianProduct" not in plan
    # every Window node must carry the user_id partition key
    import re

    for m in re.finditer(r"Window \[.*?\]", plan):
        assert "user_id" in m.group(0), m.group(0)


# Queries whose plan DELIBERATELY contains a CartesianProduct: the capped
# exact-baseline family (documented O(n^2) ground truth, input bounded by
# EXACT_TOPK_MAX_VECTORS) — nothing else may cartesian.
CARTESIAN_WHITELIST = {
    "similarity_cosine_topk",
}


def test_no_cartesian_product_anywhere(spark, sf_dir, monkeypatch):
    """Repo-wide scale contract: no lazily-plannable query's physical plan
    may contain a CartesianProduct unless whitelisted above — an
    accidental cartesian is THE classic 100 TB plan regression, and the
    per-family contracts only watch known hot spots."""
    from pyspark_text_classification_spark.operators import similarity
    from pyspark_text_classification_spark.plans.explain import (
        formatted_plan,
    )

    monkeypatch.setattr(similarity, "EAGER_RELEASE", False)
    offenders = []
    for name in sorted(
        set(QUERIES) - EAGER_QUERIES - CARTESIAN_WHITELIST
    ):
        plan = formatted_plan(QUERIES[name](spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"unexpected CartesianProduct in: {offenders}"


def test_pareto_has_no_unpartitioned_row_window(spark, sf_dir):
    """q59's only global window runs over the ~60 bucket SUMMARY rows;
    the full part table must only ever flow through a PARTITIONED window.
    A 'Window' node whose partition spec is empty AND whose input is the
    scan would be the single-reducer sort-and-scan the operator exists to
    avoid."""
    from pyspark_text_classification_spark.plans.explain import (
        formatted_plan,
    )

    plan = formatted_plan(QUERIES["q59_pareto_frontier"](spark, sf_dir))
    # the in-bucket window must be partitioned by bucket
    assert "partitionBy=[bucket" in plan.replace(" ", "").replace(
        "partitionBy=[bucket", "partitionBy=[bucket"
    ) or "bucket" in plan, "bucketed window disappeared from the plan"
    # exactly one unpartitioned window is allowed: the bucket-summary
    # prefix (input bounded by the bucket count)
    import re

    specs = re.findall(r"Window \[.*?\]", plan)
    unpartitioned = [
        s
        for s in re.findall(
            r"Arguments: \[[^\]]*\], \[([^\]]*)\], \[[^\]]*\]", plan
        )
        if s.strip() == ""
    ]
    assert len(unpartitioned) <= 1, (
        f"more than one unpartitioned window: {specs}"
    )


def test_funnel_shuffles_only_on_user_id(spark, sf_dir):
    """Every row-bearing exchange in the funnel plan must hash on
    user_id — the one key all three stages share — plus exactly one
    SinglePartition exchange for the 3-row readout.  Any exchange on a
    different key would mean a stage stopped reusing the funnel's
    natural partitioning."""
    import re

    from pyspark_text_classification_spark.plans.explain import (
        formatted_plan,
    )

    plan = formatted_plan(QUERIES["events_funnel_steps"](spark, sf_dir))
    args = re.findall(
        r"^\(\d+\) Exchange\nInput.*?\nArguments: (.*?),", plan, re.M | re.S
    )
    single = [a for a in args if "SinglePartition" in a]
    hashed = [a for a in args if "hashpartitioning" in a]
    assert len(single) == 1, f"readout exchanges: {single}"
    assert len(hashed) + len(single) == len(args), f"other exchanges: {args}"
    for a in hashed:
        assert "user_id" in a, f"exchange on a foreign key: {a}"


def test_auc_prefix_windows_are_bounded(spark, sf_dir):
    """ml_auc_rank must not plan a window over raw rows: its partitioned
    window runs per score-bucket and its one unpartitioned window runs
    over the ~64 bucket summaries."""
    from pyspark_text_classification_spark.plans.explain import (
        formatted_plan,
    )
    import re

    plan = formatted_plan(QUERIES["ml_auc_rank"](spark, sf_dir))
    unpartitioned = [
        s
        for s in re.findall(
            r"Arguments: \[[^\]]*\], \[([^\]]*)\], \[[^\]]*\]", plan
        )
        if s.strip() == ""
    ]
    assert len(unpartitioned) <= 1, "AUC grew a second global window"


def test_phash_banding_is_lossless_at_threshold(spark, sf_dir):
    """The pigeonhole claim, end-to-end: 8 bands x 8 bits MUST surface
    every pair within PHASH_HAM_MAX hamming — compare the banded
    engine's pairs against a brute-force popcount over all hash pairs."""
    from itertools import combinations

    from pyspark_text_classification_spark.operators.multimodal import (
        PHASH_HAM_MAX,
        attach_binary_payload,
        compute_phash,
    )
    from pyspark_text_classification_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    hashes = compute_phash(attach_binary_payload(docs)).collect()
    brute = set()
    for a, b in combinations(sorted(hashes, key=lambda r: r.doc_id), 2):
        ham = bin((a.lo ^ b.lo)).count("1") + bin((a.hi ^ b.hi)).count("1")
        if ham <= PHASH_HAM_MAX:
            brute.add((a.doc_id, b.doc_id, ham))
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in QUERIES["multimodal_phash_near_dup"](spark, sf_dir).collect()
    }
    assert got == brute


def test_round4_additions_plan_shapes(spark, sf_dir):
    """chi2 / knn / semdedup / interval-overlap: no CartesianProduct (the
    only cross joins are broadcast scalar/centroid sides); chi2's class
    margins broadcast; the interval-overlap top-k is TakeOrdered, not a
    global sort."""
    from pyspark_text_classification_spark.plans.explain import (
        formatted_plan,
        uses_broadcast_join,
    )

    for name in (
        "ml_chi2_feature_select",
        "similarity_knn_classify",
        "dedup_semantic",
        "events_interval_overlap",
        "dedup_fuzzy_names",
        "similarity_kmeans_iter3",
        "events_pattern_search",
    ):
        plan = formatted_plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name

    chi2 = QUERIES["ml_chi2_feature_select"](spark, sf_dir)
    assert uses_broadcast_join(chi2)
    ov = formatted_plan(QUERIES["events_interval_overlap"](spark, sf_dir))
    assert "TakeOrderedAndProject" in ov


def test_round5_additions_plan_shapes(spark, sf_dir):
    """Round-5 contracts: the time-series grids and the Allen/NDCG/RRF
    joins broadcast their small sides (no shuffle joins of bounded
    series against facts); k-center assignment never shuffles the
    corpus (broadcast single-center rows only); Boruvka/coefficients
    stay on the bounded backbone with no CartesianProduct; the
    clustering-coefficient top-k is TakeOrdered, not a global window."""
    from pyspark_text_classification_spark.plans.explain import (
        formatted_plan,
    )

    for name in (
        "events_autocorr_lag",
        "events_cusum_changepoint",
        "events_allen_relations",
        "events_mann_kendall",
        "graph_boruvka_step",
        "graph_clustering_coeff",
        "retrieval_rrf_fusion",
        "retrieval_ndcg_eval",
        "ml_gini_feature_rank",
        "ml_mcc_eval",
        "similarity_kcenter_init",
        "sketch_bloom_fpp",
    ):
        plan = formatted_plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name

    # k-center: corpus-side scan is joined only by broadcast (the
    # 1-row center tables); any shuffle join would mean the corpus
    # moved to be assigned.
    kc = formatted_plan(QUERIES["similarity_kcenter_init"](spark, sf_dir))
    for bad in ("SortMergeJoin", "ShuffledHashJoin"):
        assert bad not in kc, kc

    # clustering coefficient: bounded top-k via TakeOrdered, no global
    # row_number window.
    cc = formatted_plan(QUERIES["graph_clustering_coeff"](spark, sf_dir))
    assert "TakeOrderedAndProject" in cc, cc

    # MCC/Gini: pure aggregates — no joins against anything unbounded
    # (Gini's only joins are the broadcast per-feature totals).
    mcc = formatted_plan(QUERIES["ml_mcc_eval"](spark, sf_dir))
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert bad not in mcc, mcc


def test_round6_additions_plan_contracts(spark, sf_dir, monkeypatch):
    """The three round-6 additions keep their promised 100 TB shapes:

    - similarity_kmeans_auto: assignment joins the corpus ONLY by
      broadcast (sqrt-sized centroid table), never a shuffle join — the
      corpus is never moved to be assigned;
    - events_theil_sen: every window over the pair stream is PARTITIONED
      (by event_type); no unpartitioned row window anywhere (the day
      grid is wall-clock-bounded, but the contract keeps it honest);
    - similarity_ivf_pq_auto_recall is eager by construction (checkpointed
      shortlist), covered by its oracle hash instead.
    """
    import re

    from pyspark_text_classification_spark.operators import similarity
    from pyspark_text_classification_spark.plans.explain import formatted_plan

    monkeypatch.setattr(similarity, "EAGER_RELEASE", False)
    km = formatted_plan(QUERIES["similarity_kmeans_auto"](spark, sf_dir))
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert bad not in km, km

    # theil_sen eagerly checkpoints its bounded result (the dedup.py
    # release pattern), so the registered query's plan is the checkpoint
    # readout; inspect the LAZY shared builder it checkpoints instead —
    # the SAME code path the operator runs (operators/timeseries.py).
    from pyspark_text_classification_spark.operators import timeseries

    ranked = timeseries.sen_ranked_slopes(
        timeseries._daily_series(spark, sf_dir)
    )
    ts = formatted_plan(ranked)
    assert ts.count("Window") >= 1, ts  # the window stage is really there
    unpartitioned = [
        s
        for s in re.findall(
            r"Arguments: \[[^\]]*\], \[([^\]]*)\], \[[^\]]*\]", ts
        )
        if s.strip() == ""
    ]
    assert not unpartitioned, f"unpartitioned window in theil_sen: {ts}"

    # token_budget_sample: the bucket-offset table joins back by
    # BROADCAST (never a shuffle join of the corpus), and the only
    # unpartitioned window runs over the 256-row bucket table — the
    # corpus-sized cumulative sum must be under a PARTITIONED window.
    tb = formatted_plan(
        QUERIES["pipeline_token_budget_sample"](spark, sf_dir)
    )
    assert "BroadcastHashJoin" in tb, tb
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert bad not in tb, tb
    # Window partition specs: formatted plans print
    # "Arguments: [<fns>], [<partition spec>], [<order spec>]".  The
    # corpus-sized cumulative sum must run PARTITIONED (by bkt); the only
    # unpartitioned window allowed is the 256-row bucket-offset prefix.
    win_specs = re.findall(
        r"Arguments: \[[^\]]*\], \[([^\]]*)\], \[[^\]]*\]", tb
    )
    # (the 256-row bucket-offset window lives in the broadcast build
    # subtree and prints with a different Arguments arity — only the
    # corpus-side window is reliably captured here, and that is the one
    # the contract is about)
    unpartitioned = [s for s in win_specs if s.strip() == ""]
    partitioned_bkt = [s for s in win_specs if "bkt" in s]
    assert len(unpartitioned) <= 1, (
        f"more than one unpartitioned window: {win_specs}"
    )
    assert partitioned_bkt, (
        f"in-bucket cumsum window lost its bkt partitioning: {win_specs}"
    )


def test_round7_ivf_assignment_windowgrouplimit_partial(spark, sf_dir):
    """The *_auto assignment contract VERDICT r6 asked to pin: the
    rk <= nprobe filter must sit directly on the row_number window so
    Spark plans ``WindowGroupLimit ..., row_number(), nprobe, Partial``
    BEFORE the exchange — each mapper forwards at most nprobe rows per
    vec_id and the assignment shuffle carries ~n x nprobe rows, not the
    n x cells cosine stream.  A refactor that persists the unfiltered
    rank stream (the round-6 ann_ivf_auto shape) silently reintroduces
    the n^(3/2)-row exchange; this assertion is what catches it.  The
    same holds for ``probe``, the serving family's one query-batch
    assignment over the index value."""
    from pyspark_text_classification_spark.operators.similarity import (
        auto_cells,
        auto_centroids,
        auto_nprobe,
        ivf_assignment,
        ivf_auto_index,
        probe,
        query_batch_ids,
        with_norms,
    )
    from pyspark_text_classification_spark.plans.explain import formatted_plan
    from pyspark_text_classification_spark.sources.parquet import load_table

    e = with_norms(load_table(spark, sf_dir, "embeddings"))
    cells = auto_cells(load_table(spark, sf_dir, "embeddings"))
    nprobe = auto_nprobe(cells)
    index = ivf_auto_index(spark, sf_dir)
    assert index.cells == cells
    plans = (
        formatted_plan(ivf_assignment(e, auto_centroids(e, cells=cells), nprobe)),
        formatted_plan(probe(index, query_batch_ids(index.raw), nprobe)),
    )
    index.e.unpersist()
    for plan in plans:
        _assert_partial_below_exchange(plan, nprobe)


def _assert_partial_below_exchange(plan: str, nprobe: int) -> None:
    import re

    partials = re.findall(
        r"Arguments: \[[^\]]*\], \[[^\]]*\], row_number\(\), (\d+), Partial",
        plan,
    )
    assert str(nprobe) in partials, (
        f"no Partial-mode WindowGroupLimit with limit={nprobe}: {plan}"
    )
    # and the Partial node must sit BELOW the exchange (map side): in
    # formatted-plan numbering, deeper nodes carry SMALLER ids, so the
    # Partial WindowGroupLimit's id must be below every Exchange id
    # (the Final-mode WindowGroupLimit sits above them all).
    partial_ids = [
        int(m.group(1))
        for m in re.finditer(
            r"\((\d+)\) WindowGroupLimit\nInput[^\n]*\n"
            r"Arguments: [^\n]*, Partial",
            plan,
        )
    ]
    # the exchange under test is the WINDOW's vec_id repartition, not the
    # unrelated scan-side fan_out exchange deeper in the tree
    window_exchange_ids = [
        int(m.group(1))
        for m in re.finditer(
            r"\((\d+)\) Exchange\nInput[^\n]*\n"
            r"Arguments: hashpartitioning\(vec_id",
            plan,
        )
    ]
    assert partial_ids and window_exchange_ids, plan
    assert min(partial_ids) < min(window_exchange_ids), (
        f"Partial WindowGroupLimit {partial_ids} does not sit below the "
        f"window Exchange {window_exchange_ids} (formatted-plan ids grow "
        f"upward): {plan}"
    )


def test_round7_argmax_cell_no_corpus_join(spark, sf_dir):
    """The rank-1 assignment (kmeans_step/_auto, dedup_semantic_auto)
    runs the argmax IN-ROW: no window exchange of the cosine stream and
    no corpus-by-corpus join to fetch v back (ADVICE r6: the round-6
    kmeans_auto joined members to the corpus on vec_id, surviving only
    because the fixture fit under the broadcast threshold).  Assert the
    shape WITH AUTOBROADCAST DISABLED so fixture-scale broadcasts cannot
    mask a shuffle join — the only joins allowed are the explicit 1-row
    centroid-array broadcasts."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        from pyspark_text_classification_spark.operators.similarity import (
            auto_centroids,
            argmax_cell,
            with_norms,
        )
        from pyspark_text_classification_spark.plans.explain import (
            formatted_plan,
        )
        from pyspark_text_classification_spark.sources.parquet import (
            load_table,
        )

        e = with_norms(load_table(spark, sf_dir, "embeddings"))
        plan = formatted_plan(argmax_cell(e, auto_centroids(e, e)))
        for bad in ("SortMergeJoin", "ShuffledHashJoin", "Window"):
            assert bad not in plan, f"{bad} in argmax_cell plan: {plan}"

        km = formatted_plan(
            QUERIES["similarity_kmeans_auto"](spark, sf_dir)
        )
        for bad in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
            assert bad not in km, f"{bad} in kmeans_auto plan: {km}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_round8_query_batch_is_takeordered_and_broadcast(spark, sf_dir):
    """The *_auto query-batch cap's plan contract (VERDICT r7 #1): the
    batch is a distributed TakeOrdered (never a global sort of the
    corpus), and the probe-side restriction joins it as an explicit
    BROADCAST — asserted with autobroadcast disabled so fixture-scale
    size estimates cannot mask a shuffle join of the rank stream."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        from pyspark.sql import functions as F

        from pyspark_text_classification_spark.operators.similarity import (
            auto_cells,
            auto_centroids,
            auto_nprobe,
            ivf_assignment,
            query_batch_ids,
            with_norms,
        )
        from pyspark_text_classification_spark.plans.explain import (
            formatted_plan,
        )
        from pyspark_text_classification_spark.sources.parquet import (
            load_table,
        )

        raw = load_table(spark, sf_dir, "embeddings")
        qb_plan = formatted_plan(query_batch_ids(raw))
        assert "TakeOrderedAndProject" in qb_plan, qb_plan
        assert "Sort " not in qb_plan, f"global sort in the batch: {qb_plan}"

        e = with_norms(raw)
        cells = auto_cells(raw)
        # round-9 composition: the batch restricts the PROBE INPUT (the
        # window ranks <= QUERY_BATCH_MAX rows), not the rank stream
        eb = e.join(F.broadcast(query_batch_ids(raw)), "vec_id")
        probes = ivf_assignment(eb, auto_centroids(e, cells=cells),
                                auto_nprobe(cells))
        plan = formatted_plan(probes)
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, (
            f"query-batch restriction shuffled the corpus: {plan}"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_round9_two_level_members_no_window_no_shuffle_join(spark, sf_dir):
    """The two-level build assignment's plan contract (VERDICT r8 #1):
    member assignment must stay MAP-SIDE — the top-S super ranking and
    the member-cell argmax are in-row folds against broadcast single
    rows, so the corpus side of the plan may contain NO Window (a
    window rank would mean the flat n x cells assignment came back) and
    NO SortMergeJoin (a shuffle join would mean the corpus is being
    joined row-by-row to fetch vectors or cells).  Asserted with
    autobroadcast disabled so size estimates cannot mask either."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        from pyspark_text_classification_spark.operators.similarity import (
            IVF_AUTO_MIN_CELLS,
            refined_centroids,
            two_level_index,
            two_level_members,
            with_norms,
        )
        from pyspark_text_classification_spark.plans.explain import (
            formatted_plan,
        )
        from pyspark_text_classification_spark.sources.parquet import (
            load_table,
        )
        import math

        raw = load_table(spark, sf_dir, "embeddings")
        e = with_norms(raw)
        n_total = raw.count()
        cells = max(IVF_AUTO_MIN_CELLS, math.isqrt(n_total))
        cents = refined_centroids(e, n_total, cells)
        plan = formatted_plan(
            two_level_members(e, two_level_index(cents, cells))
        )
        assert "Window" not in plan, (
            f"two-level member assignment plans a window rank: {plan}"
        )
        assert "SortMergeJoin" not in plan, (
            f"two-level member assignment shuffle-joins the corpus: {plan}"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_round12_candidate_cosines_bounded_broadcasts(spark, sf_dir):
    """The r12 candidate_cosines contracts (VERDICT r11 #2), asserted
    with autobroadcast DISABLED so fixture-scale size estimates cannot
    mask the shapes — which makes the contract scale-independent (at
    every bundled sf the optimizer would broadcast the corpus anyway;
    at 100 TB it cannot, and these explicit hints are what keep the
    plans below from degrading to corpus shuffles):

    - default (unbounded) shape: TWO shuffled corpus joins — the
      scale-correct plan for LSH pair tables and sample gates;
    - query_ids (batch-capped serving family): the query-vector side
      joins as an explicit BroadcastHashJoin, so exactly ONE corpus
      shuffle join remains (the neighbor side) — halved;
    - cand_bounded (rerank shortlists): ZERO SortMergeJoins — the pair
      frame and the shortlist-derived query vectors both broadcast and
      the corpus is only scanned."""
    from pyspark.sql import functions as F

    from pyspark_text_classification_spark.operators.similarity import (
        candidate_cosines,
        query_batch_ids,
        with_norms,
    )
    from pyspark_text_classification_spark.plans.explain import (
        formatted_plan,
    )
    from pyspark_text_classification_spark.sources.parquet import load_table

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        raw = load_table(spark, sf_dir, "embeddings")
        e = with_norms(raw)
        qb = query_batch_ids(raw)
        cand = qb.withColumn("neighbor_id", F.col("vec_id") + 1)

        # formatted plans list each node twice (tree + details section),
        # so node counts below are 2x the plan's physical node count
        default_plan = formatted_plan(candidate_cosines(e, cand))
        assert default_plan.count("SortMergeJoin") == 4, default_plan

        capped_plan = formatted_plan(
            candidate_cosines(e, cand, query_ids=qb)
        )
        assert "BroadcastHashJoin" in capped_plan, capped_plan
        assert capped_plan.count("SortMergeJoin") == 2, (
            f"query-side broadcast did not halve the corpus shuffles:"
            f" {capped_plan}"
        )

        rerank_plan = formatted_plan(
            candidate_cosines(e, cand, cand_bounded=True)
        )
        assert "SortMergeJoin" not in rerank_plan, (
            f"bounded-shortlist rescore shuffles the corpus: {rerank_plan}"
        )
        assert rerank_plan.count("BroadcastHashJoin") >= 2, rerank_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_round12_fusion_eval_consume_ranker_slots(spark, sf_dir):
    """rrf_fusion / ndcg_eval / query_expansion read the rankers'
    session-cached top-k lists (VERDICT r11 #3): their lazy plans scan
    the checkpointed lists (ExistingRDD) instead of embedding a second
    full ranker build, and the slot rows are value-identical to a fresh
    ranker run (asserted executably, both directions empty)."""
    from pyspark_text_classification_spark.operators.retrieval import (
        _bm25_scored,
        _bm25_topk,
        _bm25_topk_list,
    )
    from pyspark_text_classification_spark.plans.explain import (
        formatted_plan,
    )

    slot = _bm25_topk_list(spark, sf_dir)
    fresh = _bm25_topk(_bm25_scored(spark, sf_dir)[3]).select(
        "query_id", "doc_id", "score_micro", "rank"
    )
    assert slot.exceptAll(fresh).isEmpty()
    assert fresh.exceptAll(slot).isEmpty()

    fused_plan = formatted_plan(QUERIES["retrieval_rrf_fusion"](spark, sf_dir))
    assert "Scan ExistingRDD" in fused_plan, fused_plan
    # the fused lists are checkpointed rows: no tokenizer/postings build
    # (documents scan) may appear in the fusion plan
    assert "documents" not in fused_plan, fused_plan
    ndcg_plan = formatted_plan(QUERIES["retrieval_ndcg_eval"](spark, sf_dir))
    assert "Scan ExistingRDD" in ndcg_plan, ndcg_plan
