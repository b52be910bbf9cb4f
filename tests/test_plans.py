"""Plan audits: the 100 TB properties must be visible in the physical plan.

These tests pin the *shape* of the plan, not results — a regression here
means a query silently got a scale-hostile strategy (lost pushdown, lost
broadcast, gained a cartesian) even though results stay correct.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_sql_dsv2_extension_spark.plans.explain import (
    count_exchanges,
    formatted_plan,
    has_broadcast_hash_join,
    has_cartesian,
    physical_plan,
    pushed_filters,
    read_schema,
    unpartitioned_windows,
)
from spark_sql_dsv2_extension_spark.registry import load_all
from spark_sql_dsv2_extension_spark.tables import load

SPECS = load_all()


def test_projection_prunes_read_schema(spark, sf_dir):
    df = SPECS["scan_projection_pushdown"].fn(spark, sf_dir)
    rs = read_schema(df)
    assert "l_orderkey" in rs and "l_extendedprice" in rs
    # none of the other 9 lineitem columns may be read
    for col in ("l_quantity", "l_discount", "l_shipdate", "l_partkey"):
        assert col not in rs, f"column {col} not pruned: {rs}"


def test_filter_reaches_parquet(spark, sf_dir):
    df = SPECS["scan_filter_pushdown"].fn(spark, sf_dir)
    pf = pushed_filters(df)
    assert "l_quantity" in pf, f"filter not pushed: {pf}"


def test_broadcast_hint_produces_broadcast_join(spark, sf_dir):
    df = SPECS["join_broadcast_hint"].fn(spark, sf_dir)
    assert has_broadcast_hash_join(df)


def test_flagship_join_strategies(spark, sf_dir):
    df = SPECS["join_multi_key_chain"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan  # customer dim is broadcast
    assert not has_cartesian(df)
    # top-k must not be a global sort
    assert "TakeOrderedAndProject" in plan


def test_topk_avoids_global_sort(spark, sf_dir):
    df = SPECS["topk_limit"].fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_agg_has_partial_aggregation(spark, sf_dir):
    df = SPECS["agg_hash_group"].fn(spark, sf_dir)
    # map-side partial + final = two HashAggregate nodes around one shuffle
    assert physical_plan(df).count("HashAggregate") >= 2


def test_asof_join_is_single_shuffle_window(spark, sf_dir):
    df = SPECS["join_asof_time"].fn(spark, sf_dir)
    assert not has_cartesian(df), "as-of join must not be a nested-loop join"
    assert count_exchanges(df) <= 1  # one hash exchange on user_id


def test_bucketed_join_has_no_join_shuffle(spark, sf_dir):
    df = SPECS["join_bucketed_colocated"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "SortMergeJoin" in plan
    # the ONLY shuffle is the final aggregation; the join reads co-located
    # buckets directly (bucket i ⋈ bucket i, no exchange on either side)
    assert count_exchanges(df) == 1, plan


def test_banded_range_join_is_equi_join(spark, sf_dir):
    df = SPECS["join_range_banded"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the whole point: bucketization turns the range predicate into an
    # equi-join on bucket id — a nested-loop join here means it regressed
    assert "BroadcastNestedLoopJoin" not in plan and not has_cartesian(df), plan


def test_minhash_lsh_no_cartesian(spark, sf_dir):
    df = SPECS["ext_near_dedup_minhash"].fn(spark, sf_dir)
    assert not has_cartesian(df), "LSH dedup must never cross-join documents"


def test_knn_broadcasts_queries(spark, sf_dir):
    df = SPECS["ext_knn_cosine"].fn(spark, sf_dir)
    # query side is broadcast → the corpus never shuffles for the join
    assert "BroadcastNestedLoopJoin" in physical_plan(df) or has_broadcast_hash_join(df)


def test_knn_lsh_bucket_join_is_broadcast_equi(spark, sf_dir):
    """The ANN scale shape: candidates come from an equi-join on the LSH
    signature with the (tiny) query side broadcast — never a corpus-side
    shuffle or a nested-loop scan."""
    df = SPECS["ext_knn_lsh"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_broadcast_hash_join(df), plan
    assert not has_cartesian(df)


def test_knn_ivf_trained_cell_join_is_broadcast_equi(spark, sf_dir):
    """Trained-IVF serving: the cell search is an equi-join on the centroid
    id with the query side broadcast; the only nested-loop joins are the
    deliberate broadcast-codebook assignments (K rows broadcast, so they
    are NOT counted as cartesians here — only a true CartesianProduct
    regression fails)."""
    df = SPECS["ext_knn_ivf_trained"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_tpch_q1_pushdown_and_partial_agg(spark, sf_dir):
    df = SPECS["tpch_q1_pricing_summary"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "l_shipdate" in pushed_filters(df), "date filter must reach parquet"
    assert plan.count("HashAggregate") >= 2  # map-side partial aggregation
    # only the needed 7 of 11 lineitem columns may be read
    assert "l_partkey" not in read_schema(df)


def test_tpch_q5_star_join_broadcasts_dims(spark, sf_dir):
    df = SPECS["tpch_q5_local_volume"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert not has_cartesian(df)


def test_count_star_reads_no_columns(spark, sf_dir):
    df = SPECS["count_star_fastpath"].fn(spark, sf_dir)
    rs = read_schema(df)
    assert "struct<>" in rs.replace(" ", ""), f"count(*) should read zero columns: {rs}"


def test_formatted_plan_smoke(spark, sf_dir):
    # .explain('formatted') support for every registered batch key
    df = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 1).select("l_orderkey")
    text = formatted_plan(df)
    assert "PushedFilters" in text and "ReadSchema" in text


def test_tpch_q3_topk_and_broadcast(spark, sf_dir):
    df = SPECS["tpch_q3_shipping_priority"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan  # top-10 must not be a global sort
    assert "BroadcastHashJoin" in plan  # segment-filtered customer broadcasts
    assert "o_orderdate" in pushed_filters(df) or "l_shipdate" in pushed_filters(df)


def test_tpch_q18_semi_join_broadcasts(spark, sf_dir):
    df = SPECS["tpch_q18_large_volume"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftSemi" in plan  # HAVING subquery becomes a semi join
    assert not has_cartesian(df)


def test_bm25_broadcasts_stats_sides(spark, sf_dir):
    df = SPECS["ext_bm25"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # df-per-term and the corpus stats are scalar-sized: both broadcast
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_stratified_sample_no_shuffle(spark, sf_dir):
    df = SPECS["ext_stratified_sample"].fn(spark, sf_dir)
    assert count_exchanges(df) == 0, "hash-sample must be a pure filter, no shuffle"


def test_shuffle_hash_hint_picks_shj(spark, sf_dir):
    df = SPECS["join_shuffle_hash_hint"].fn(spark, sf_dir)
    assert "ShuffledHashJoin" in physical_plan(df), "hint must force SHJ over SMJ"


def test_corpus_pipeline_all_jvm_bounded_shuffles(spark, sf_dir):
    """The composed corpus pipeline must stay whole-plan JVM (no Python
    boundary) and shuffle only for the dedup window + final agg (+ the
    deliberate fan-out repartition): 3 exchanges, no cartesian."""
    df = SPECS["ext_corpus_pipeline"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Python" not in plan, "pipeline dropped out of codegen into Python"
    assert not has_cartesian(df)
    assert count_exchanges(df) <= 3, plan


def test_tpch_q8_broadcasts_dims_no_cartesian(spark, sf_dir):
    """Deepest join in the suite (8 tables): part/supplier/nations/region
    broadcast; only fact joins shuffle; never a cartesian."""
    df = SPECS["tpch_q8_market_share"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_chunk_documents_is_mapside(spark, sf_dir):
    """Token chunking must stay a map-side explode: no shuffle and no
    Python boundary."""
    df = SPECS["ext_chunk_documents"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert count_exchanges(df) == 0, plan
    assert "Python" not in plan


def test_dataset_mixture_quotas_broadcast(spark, sf_dir):
    """Mixture quotas (per-language caps) must reach the ranked rows via
    broadcast joins — no driver collect, no cartesian."""
    df = SPECS["ext_dataset_mixture"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    """Dynamic Partition Pruning must fire: the partitioned fact scan's
    partition filters carry a runtime dynamicpruning subquery fed by the
    dim side — the 100 TB star-join mechanism."""
    df = SPECS["join_dpp_partition_prune"].fn(spark, sf_dir)
    assert "dynamicpruning" in physical_plan(df)


def test_tpch_q2_broadcasts_dims_topk(spark, sf_dir):
    df = SPECS["tpch_q2_min_cost_supp"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan  # part filter + supplier/nation/region
    assert not has_cartesian(df)
    assert "TakeOrderedAndProject" in plan  # top-100, never a global sort


def test_q11_scalar_total_is_broadcast(spark, sf_dir):
    df = SPECS["tpch_q11_important_stock"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the 1-row global total joins in as a broadcast, not a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_hypertable_rollup_single_fact_scan(spark, sf_dir):
    df = SPECS["ext_hypertable_rollup"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # hierarchical re-aggregation: all three grains read the cached
    # day-level aggregate (the explain text re-prints the cached
    # relation's FileScan under each InMemoryTableScan, but execution
    # populates the cache with ONE parquet scan)
    assert plan.count("InMemoryTableScan") == 3, plan


def test_densify_joins_on_user_day(spark, sf_dir):
    df = SPECS["ext_timeseries_densify"].fn(spark, sf_dir)
    assert not has_cartesian(df)


def test_cross_source_matrix_broadcasts_dims(spark, sf_dir):
    df = SPECS["ext_cross_source_dup_rate"].fn(spark, sf_dir)
    assert has_broadcast_hash_join(df)
    assert not has_cartesian(df)


def test_merge_hint_picks_sort_merge(spark, sf_dir):
    df = SPECS["join_merge_hint"].fn(spark, sf_dir)
    assert "SortMergeJoin" in physical_plan(df)


def test_shared_span_no_cartesian(spark, sf_dir):
    df = SPECS["ext_shared_span_dedup"].fn(spark, sf_dir)
    assert not has_cartesian(df), "span join must be an equi-join on span"


def test_skew_report_two_aggregates_no_join(spark, sf_dir):
    df = SPECS["ext_join_skew_report"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Join" not in plan  # pure re-aggregation, no join anywhere
    assert plan.count("HashAggregate") >= 2


def test_funnel_stage_joins_are_hash_joins(spark, sf_dir):
    df = SPECS["ext_funnel_analysis"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the only nested-loop joins are the three 1-row stage-count combines
    assert "CartesianProduct" not in plan


def test_multimodal_meta_prune_never_reads_payload(spark, sf_dir):
    """Metadata-only asset query must prune the binary payload column out
    of the parquet scan entirely."""
    df = SPECS["ext_multimodal_meta_prune"].fn(spark, sf_dir)
    rs = read_schema(df)
    assert "payload" not in rs, f"payload column not pruned: {rs}"
    assert "n_bytes" in rs


def test_bloom_runtime_filter_injected(spark, sf_dir):
    # with the shuffle-join confs the key pins, Catalyst must inject a
    # bloom-filter probe into the fact-side scan
    from spark_sql_dsv2_extension_spark.operators.joins import _bloom_runtime_join

    pinned = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in pinned}
    try:
        for k, v in pinned.items():
            spark.conf.set(k, v)
        df = _bloom_runtime_join(spark, sf_dir)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in optimized, optimized[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cms_cells_join_is_broadcast(spark, sf_dir):
    df = SPECS["ext_cms_heavy_hitters"].fn(spark, sf_dir)
    assert has_broadcast_hash_join(df)
    assert not has_cartesian(df)


def test_bloom_probe_bits_broadcast_no_cartesian(spark, sf_dir):
    df = SPECS["ext_bloom_probe"].fn(spark, sf_dir)
    assert has_broadcast_hash_join(df)
    assert not has_cartesian(df)


def test_dsir_single_vocab_aggregation_broadcasts(spark, sf_dir):
    df = SPECS["ext_dsir_importance"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_broadcast_hash_join(df)  # vocab joins back broadcast
    # single-row totals broadcast is a BNLJ by design; only a true
    # CartesianProduct (shuffled all-pairs) is scale-hostile
    assert "CartesianProduct" not in plan
    # one-pass vocab: the second consumer must reuse the cached vocab
    # instead of re-aggregating the token stream
    assert "InMemoryTableScan" in plan, plan[:3000]


def test_pq_codebook_broadcast_no_cartesian(spark, sf_dir):
    df = SPECS["ext_product_quantize"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan  # tiny codebook x corpus
    assert "CartesianProduct" not in plan


def test_adc_lut_join_is_broadcast_hash(spark, sf_dir):
    df = SPECS["ext_pq_adc_search"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_broadcast_hash_join(df)  # (s, code) equi-join against LUT
    assert "CartesianProduct" not in plan


def test_kneser_ney_topk_and_broadcasts(spark, sf_dir):
    df = SPECS["ext_kneser_ney_bigrams"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_broadcast_hash_join(df)  # type-table stats broadcast back
    assert "TakeOrderedAndProject" in plan  # top-20 is not a global sort


def test_token_budget_single_lang_window(spark, sf_dir):
    df = SPECS["ext_token_budget_trim"].fn(spark, sf_dir)
    # one shuffle to (lang) for the running window, nothing else
    assert count_exchanges(df) <= 1, physical_plan(df)[:2000]


def test_ivfpq_probe_join_shapes(spark, sf_dir):
    df = SPECS["ext_ivfpq_search"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_broadcast_hash_join(df)  # LUT + probe joins
    assert "CartesianProduct" not in plan  # codebook BNLJs only


def test_aqe_splits_skewed_join(spark, sf_dir):
    """AQE skew handling must actually fire: build a deliberately skewed
    join (90% of fact rows on one key), lower the skew thresholds so the
    fixture-sized partitions qualify, execute, and assert the FINAL
    adaptive plan marked the sort-merge join as skew-handled. This is the
    runtime half of the skew story (join_skew_salted is the explicit
    half): at 100 TB, AQE splitting oversized partitions is what keeps a
    hot key from pinning one executor for hours."""
    pinned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # threshold sits ABOVE every dim partition (so the build side is
        # never itself flagged skewed, which would veto the split) and far
        # below the hot fact partition
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in pinned}
    try:
        for k, v in pinned.items():
            spark.conf.set(k, v)
        # single-file fixture => repartition first: a skewed REDUCE
        # partition is split along MAP-output boundaries, so one mapper
        # means nothing to split
        li = load(spark, sf_dir, "lineitem").repartition(8)
        # 90% of rows collapse onto key 1 => one partition dwarfs the rest
        skewed = li.select(
            F.when(F.col("l_orderkey") % 10 != 0, 1)
            .otherwise(F.col("l_orderkey"))
            .alias("k"),
            "l_extendedprice",
        )
        # dim keys are naturally unique (orders PK) — a distinct() here
        # would interpose a HashAggregate between the shuffle stage and the
        # join, and OptimizeSkewedJoin only matches SMJ(Sort(shuffle),
        # Sort(shuffle)) directly
        dim = load(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k")
        )
        j = skewed.join(dim, "k")
        j.collect()  # execute the JOIN itself so AQE finalizes its stages
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, final[:3000]
        assert "AQEShuffleRead skewed" in final
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_point_in_time_join_single_entity_shuffle(spark, sf_dir):
    df = SPECS["ext_point_in_time_join"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    # the union+window PIT shape: no inequality join anywhere
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_hybrid_retrieval_stage2_broadcasts(spark, sf_dir):
    df = SPECS["ext_hybrid_retrieval"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_broadcast_hash_join(df)  # candidate/emb join is broadcast
    assert "CartesianProduct" not in plan


def test_fuzzy_levenshtein_blocks_on_length_band(spark, sf_dir):
    """Candidate generation must join on (lang, length-band), never lang
    alone: a lang-only self-join is all-pairs within each language — the
    quadratic scale-killer flagged in round 3. The band column must appear
    among the join keys of the candidate equi-join."""
    df = SPECS["ext_fuzzy_dedup_levenshtein"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert not has_cartesian(df)
    import re

    join_lines = [
        ln for ln in plan.splitlines() if "Join" in ln and "lang" in ln
    ]
    assert join_lines, plan[:2000]
    for ln in join_lines:
        assert re.search(r"band#\d+", ln), f"lang-only candidate join: {ln}"


def test_containment_prefix_filter_no_raw_shingle_self_join(spark, sf_dir):
    """Candidates must come from the document-frequency-ordered PREFIX
    probe (AllPairs prefix filtering), not the raw shingle self-join whose
    hot-shingle buckets are quadratic. The prefix ranking window (pos by
    df) must exist, and every shingle equi-join must have the pruned
    prefix side (a Filter on pos) below it rather than two full shingle
    relations."""
    df = SPECS["ext_near_dup_containment"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert not has_cartesian(df)
    assert "RunningWindowFunction" in plan or "Window" in plan, plan[:2000]
    # the prefix filter on the rank column must be present in the plan
    assert "pos" in plan and "df#" in plan, plan[:2000]


def test_retrieval_auc_broadcasts_query(spark, sf_dir):
    df = SPECS["ext_retrieval_auc"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the 1-row query side must come in as a broadcast, never a shuffle join
    assert "BroadcastNestedLoopJoin" in plan or has_broadcast_hash_join(df)
    assert "CartesianProduct" not in plan


def test_weighted_sample_is_takeordered(spark, sf_dir):
    df = SPECS["ext_weighted_sample_aes"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_embedding_outliers_is_takeordered(spark, sf_dir):
    df = SPECS["ext_embedding_outliers"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_cdc_chunking_is_mapside(spark, sf_dir):
    """Content-defined chunking must stay a pure per-row HOF expression:
    no shuffle at all (the only exchange would be the fan_out
    round-robin, which count_exchanges excludes by... it doesn't - so
    allow exactly the fan_out repartition) and no Python boundary."""
    df = SPECS["ext_cdc_chunking"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Python" not in plan
    assert count_exchanges(df) <= 1, plan[:2000]  # fan_out round-robin only


def test_boilerplate_topk_not_global_sort(spark, sf_dir):
    df = SPECS["ext_boilerplate_sentences"].fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_inverted_index_topk_and_single_term_shuffle(spark, sf_dir):
    df = SPECS["ext_inverted_index"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_code_detect_no_shuffle(spark, sf_dir):
    df = SPECS["ext_code_detect"].fn(spark, sf_dir)
    assert count_exchanges(df) == 0
    assert "Python" not in physical_plan(df)


def test_markov_normalizer_broadcast(spark, sf_dir):
    df = SPECS["ext_markov_transitions"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_broadcast_hash_join(df), plan[:2000]
    assert not has_cartesian(df)


def test_target_encoding_group_broadcast(spark, sf_dir):
    df = SPECS["ext_target_encoding_loo"].fn(spark, sf_dir)
    assert has_broadcast_hash_join(df)
    assert not has_cartesian(df)


def test_ndcg_ideal_table_broadcast_topk(spark, sf_dir):
    df = SPECS["ext_ndcg_eval"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_broadcast_hash_join(df)  # 10-row ideal-DCG table
    assert "TakeOrderedAndProject" in plan  # top-50, no global sort
    assert not has_cartesian(df)


def test_prefix_dedup_never_shuffles_text(spark, sf_dir):
    df = SPECS["ext_doc_prefix_dedup"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # hash computed map-side: no Exchange carries the raw text column
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text#" not in m.group(0), m.group(0)
    assert "TakeOrderedAndProject" in plan


def test_bootstrap_resamples_single_scan_no_join(spark, sf_dir):
    df = SPECS["ext_poisson_bootstrap_ci"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # fan-out is a Generate (explode), not a join against a perm table;
    # the only join is the broadcast of two ONE-ROW aggregates (the
    # scalar base × ci combine — a keyless BNLJ of 1×1 rows is fine)
    assert "Generate" in plan
    assert "CartesianProduct" not in plan


def test_permutation_test_no_cartesian(spark, sf_dir):
    df = SPECS["ext_permutation_test"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Generate" in plan
    assert "CartesianProduct" not in plan


def test_salted_twophase_has_two_aggregate_stages(spark, sf_dir):
    df = SPECS["agg_salted_twophase"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # phase-1 (salted) and phase-2 (merge) aggregations both present,
    # i.e. at least two distinct HashAggregate pairs in the plan
    assert plan.count("HashAggregate") >= 4, plan.count("HashAggregate")


def test_cooccurrence_lift_support_joins_broadcast(spark, sf_dir):
    df = SPECS["ext_item_cooccurrence_lift"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_broadcast_hash_join(df)  # item supports broadcast onto pairs
    # the only keyless join is the 1-row user-count scalar (BNLJ of 1 row);
    # a true item×item cartesian would surface as CartesianProduct
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_neyman_normalizer_broadcast(spark, sf_dir):
    df = SPECS["ext_neyman_allocation"].fn(spark, sf_dir)
    assert has_broadcast_hash_join(df) or "BroadcastNestedLoopJoin" in physical_plan(df)


def test_twap_single_user_exchange(spark, sf_dir):
    df = SPECS["ext_time_weighted_avg"].fn(spark, sf_dir)
    # window + groupBy both keyed on user_id: Catalyst reuses the
    # partitioning, so only the one shuffle into the window remains
    assert count_exchanges(df) <= 2


def test_mann_kendall_pairs_are_day_bounded(spark, sf_dir):
    df = SPECS["ext_mann_kendall_trend"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the day-pair theta join is over the aggregated daily relation, so a
    # BroadcastNestedLoopJoin over days is acceptable; a CartesianProduct
    # over raw events is not
    assert "CartesianProduct" not in plan


def test_khop_frontier_joins_no_cartesian(spark, sf_dir):
    df = SPECS["ext_khop_neighborhood"].fn(spark, sf_dir)
    assert "CartesianProduct" not in physical_plan(df)


def test_dup_pair_bleu_totals_broadcast(spark, sf_dir):
    df = SPECS["ext_dup_pair_bleu"].fn(spark, sf_dir)
    assert has_broadcast_hash_join(df)
    assert "CartesianProduct" not in physical_plan(df)


def test_recall_curve_no_cartesian_over_corpus(spark, sf_dir):
    df = SPECS["ext_ann_recall_curve"].fn(spark, sf_dir)
    # the k-threshold join is over top-k relations (queries x k rows);
    # the corpus-sized side appears only inside the kNN operators
    assert "CartesianProduct" not in physical_plan(df)


def test_string_extras_no_shuffle(spark, sf_dir):
    df = SPECS["fn_string_extras"].fn(spark, sf_dir)
    assert count_exchanges(df) == 0


def test_aspect_buckets_broadcast_and_mapinpandas(spark, sf_dir):
    df = SPECS["ext_multimodal_aspect_buckets"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "MapInPandas" in plan  # decode stays Arrow-batched
    assert "BroadcastNestedLoopJoin" in plan or has_broadcast_hash_join(df)


def test_walk_forward_bounds_broadcast(spark, sf_dir):
    df = SPECS["ext_walk_forward_splits"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # bounds (1 row) and folds (4 rows) fan out via broadcast, never shuffle
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_burrows_delta_stats_broadcast(spark, sf_dir):
    df = SPECS["ext_burrows_delta"].fn(spark, sf_dir)
    assert has_broadcast_hash_join(df)
    assert "CartesianProduct" not in physical_plan(df)


def test_equidepth_prefix_sum_is_block_partitioned(spark, sf_dir):
    """The value-domain cumulative count must run as the two-level
    distributed prefix sum: the window over the big histogram is
    PARTITIONED by the coarse block key, never a global Window.orderBy
    over the whole domain."""
    df = SPECS["ext_equidepth_histogram"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "windowspecdefinition(blk" in plan, plan[:2000]


def test_interval_overlap_is_banded_equi(spark, sf_dir):
    """The interval-overlap join must run as the week-banded equi-join —
    a nested-loop interval×interval join is the regression this guards."""
    df = SPECS["join_interval_overlap_banded"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert has_broadcast_hash_join(df), plan[:1500]


def test_quantified_all_is_broadcast_scalar(spark, sf_dir):
    df = SPECS["subq_quantified_all"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the ALL/ANY subquery collapses to one aggregate row, broadcast —
    # never a join against the subquery's row set
    assert "BroadcastNestedLoopJoin" in plan or has_broadcast_hash_join(df)
    assert "CartesianProduct" not in plan


def test_ablation_single_pair_shuffle(spark, sf_dir):
    df = SPECS["ext_ablation_leave_one_source"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert has_broadcast_hash_join(df)  # exclusive-word set broadcast


def test_python_ds_pushdown_removes_range_from_post_scan_filter(spark, sf_dir):
    """The range conjuncts must be PUSHED into the Python reader: the only
    residual post-scan Filter is the unsupported isnotnull — seeing
    '>= 30' or '<= 45' above the BatchScan means pushdown regressed."""
    df = SPECS["scan_python_datasource_pushdown"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BatchScan engine_table" in plan
    import re

    post_scan_filters = " ".join(
        l for l in plan.splitlines() if re.search(r"\bFilter\b", l)
    )
    assert ">= 30" not in post_scan_filters, post_scan_filters
    assert "<= 45" not in post_scan_filters, post_scan_filters


def test_listagg_is_ordered_aggregate(spark, sf_dir):
    df = SPECS["agg_listagg_ordered"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "listagg" in plan.lower()


# --- round 5: the 8 former global-ntile operators now run through the
# shared distributed quantile helper (operators/quantiles.py) ---

_DISTRIBUTED_QUANTILE_KEYS = (
    "ext_file_skip_effectiveness",
    "ext_rfm_segmentation",
    "ext_calibration_ece",
    "ext_conversion_deciles",
    "ext_knee_point",
    "ext_curriculum_order",
    "ext_dup_saturation_curve",
    "ext_quantile_align_sources",
)


def test_no_global_ntile_single_task_sort(spark, sf_dir):
    """Round-4 verdict ask #3: none of the 8 operators may rank the full
    relation through an unpartitioned ntile window (single-task global
    sort). After the swap to distributed_ntile/distributed_row_number the
    physical plan contains NO ntile at all — buckets are closed-form
    arithmetic on the distributed rank — and every remaining big window
    is PARTITIONED (by the range-exchange pid or a data key). Mirrors
    test_equidepth_prefix_sum_is_block_partitioned."""
    import re

    for key in _DISTRIBUTED_QUANTILE_KEYS:
        df = SPECS[key].fn(spark, sf_dir)
        plan = physical_plan(df)
        if key == "ext_quantile_align_sources":
            # its per-source ntile window is PARTITIONED by source —
            # allowed; only the pooled decile had the global window
            for m in re.finditer(
                r"ntile\(10\) windowspecdefinition\(([^)]*)\)", plan
            ):
                assert "source#" in m.group(1), (
                    f"{key}: unpartitioned ntile window: {m.group(1)}"
                )
            continue
        assert "ntile(" not in plan, f"{key}: global ntile survives"
        # any row_number must run inside a partitioned window (_qpid or a
        # data key), never windowspecdefinition(<order> ASC ...) alone
        for m in re.finditer(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan):
            spec = m.group(1)
            assert "_qpid" in spec or "ch#" in spec, (
                f"{key}: unpartitioned row_number window: {spec}"
            )


def test_distributed_ntile_window_is_pid_partitioned(spark, sf_dir):
    """The helper's in-partition rank window must be partitioned by the
    range-exchange pid column."""
    df = SPECS["ext_calibration_ece"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "windowspecdefinition(_qpid" in plan, plan[:2000]


def test_tfidf_df_join_is_aqe_broadcast(spark, sf_dir):
    """Round-4 verdict ask #8: the tf×df (vocabulary) join must not FORCE
    a broadcast — vocabulary is sublinear (Heaps' law) but unbounded, so
    the hint would OOM at web scale. Contract: no broadcast hint in the
    code; AQE converts the join to broadcast-hash at test scale (vocab ≪
    autoBroadcastJoinThreshold), visible in the executed adaptive plan."""
    df = SPECS["ext_tfidf_topterms"].fn(spark, sf_dir)
    df.collect()  # execute THIS queryExecution so its AQE plan finalizes
    plan = physical_plan(df)
    assert "isFinalPlan=true" in plan, plan[:500]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "CartesianProduct" not in plan


_DISTRIBUTED_QUANTILE_KEYS_W2 = (
    "ext_wasserstein_1d",
    "ext_gini_concentration",
    "ext_lorenz_curve",
    "ext_theil_sen_slope",
    "ext_retrieval_auc",
    "ext_zipf_fit",
    "ext_vocab_coverage_curve",
    "ext_rank_fusion_rrf",
)


def test_wave2_ranks_are_distributed(spark, sf_dir):
    """Round-5 wave 2 (ADVICE's 'etc.' list): every rank/ntile over an
    unbounded relation (events, users, vocabulary, embeddings, day-pair
    slopes) runs through the distributed helper — no unpartitioned ntile
    anywhere, and any remaining row_number window is either
    _qpid-partitioned or over a bounded (top-k / fused-20) relation."""
    import re

    for key in _DISTRIBUTED_QUANTILE_KEYS_W2:
        df = SPECS[key].fn(spark, sf_dir)
        plan = physical_plan(df)
        assert "ntile(" not in plan, f"{key}: global ntile survives"
        assert "windowspecdefinition(_qpid" in plan, f"{key}: helper missing"


def test_hill_tail_index_is_take_ordered(spark, sf_dir):
    """The top-(k+1) selection must compile to TakeOrderedAndProject —
    round 5 fixed the rank-then-filter shape that sorted ALL documents
    in one task."""
    df = SPECS["ext_hill_tail_index"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_psm_fill_windows_are_pid_partitioned(spark, sf_dir):
    """PSM's sorted-merge carry must run through distributed_fill: the
    last/first IGNORE NULLS windows over users are partitioned by the
    range-exchange pid, never unpartitioned over the full user relation."""
    import re

    df = SPECS["ext_psm_nearest_match"].fn(spark, sf_dir)
    plan = physical_plan(df)
    for m in re.finditer(r"(?:last|first)\(_qval[^)]*\) windowspecdefinition\(([^)]*)\)", plan):
        assert "_qpid" in m.group(1), f"unpartitioned fill window: {m.group(1)}"
    assert "windowspecdefinition(_qpid" in plan


def test_shard_pack_prefix_sum_is_pid_partitioned(spark, sf_dir):
    """The shard-packing byte prefix sum must be the distributed
    two-level version — in-partition sum windows partitioned by the
    range-exchange pid, never one global ordering window over the full
    manifest."""
    import re

    df = SPECS["ext_multimodal_shard_pack"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "windowspecdefinition(_qpid" in plan, plan[:2000]
    for m in re.finditer(r"sum\(n_bytes[^)]*\) windowspecdefinition\(([^)]*)\)", plan):
        assert "_qpid" in m.group(1), f"unpartitioned prefix sum: {m.group(1)}"


def test_design_effect_totals_are_broadcast(spark, sf_dir):
    """ICC grand totals must be a broadcast 1-row join, not an
    empty-partitionBy window funneling all users through one task."""
    df = SPECS["ext_design_effect_icc"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "windowspecdefinition()" not in plan.replace(" ", "")


def test_ecdf_prefix_sums_are_distributed(spark, sf_dir):
    """KS / Mann-Whitney / Tukey cumulative counts over the value-domain
    histogram must run through distributed_running_sum — in-partition sum
    windows partitioned by the range-exchange pid, no unpartitioned
    ordering window over the step table."""
    import re

    for key in ("ext_ks_two_sample", "ext_mann_whitney_u", "ext_tukey_fences"):
        df = SPECS[key].fn(spark, sf_dir)
        plan = physical_plan(df)
        assert "windowspecdefinition(_qpid" in plan, f"{key}: helper missing"
        for m in re.finditer(
            r"sum\((?:k0|k1|cnt)[^)]*\) windowspecdefinition\(([^)]*)\)", plan
        ):
            assert "_qpid" in m.group(1), f"{key}: unpartitioned prefix sum"


def test_round6_window_keys_plan_shapes(spark, sf_dir):
    """Bespoke audits for the scale-critical round-6 driver-window keys
    (the inventory guardrails already cover their window/UDF hygiene;
    these pin the join/exchange strategy each key's docstring promises)."""
    # mutual-kNN pairs: the pair relation comes from an equi-join (SMJ or
    # BHJ), never a cartesian, and both rank windows partition by the
    # anchor vector id
    p = physical_plan(SPECS["ext_mutual_knn_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p)
    assert "windowspecdefinition(u" in p  # partitioned by anchor id
    # rolling regression: one hash exchange, window partitioned by user
    df = SPECS["win_rolling_regression"].fn(spark, sf_dir)
    p = physical_plan(df)
    assert "windowspecdefinition(user_id" in p
    assert count_exchanges(df) <= 1, p
    # split leakage: every fingerprint/membership join broadcasts or
    # hash-joins — no nested-loop between data-sized sides
    df = SPECS["ext_split_leakage"].fn(spark, sf_dir)
    assert not has_cartesian(df)
    assert has_broadcast_hash_join(df)
    # z-order layout: bit interleaving is map-side arithmetic; the only
    # shuffle is the helper's range exchange
    df = SPECS["ext_zorder_layout"].fn(spark, sf_dir)
    assert count_exchanges(df) <= 2, physical_plan(df)
    # label centroids: one hash shuffle (groupBy label), map-side partials
    df = SPECS["ext_label_centroids"].fn(spark, sf_dir)
    p = physical_plan(df)
    assert count_exchanges(df) <= 1 and p.count("HashAggregate") >= 2, p


# Shuffle budgets: census of each key's healthy plan (2026-08-14, under
# the cache-cleared sweep) plus slack 2 for AQE/stats drift. A failure
# means a rewrite silently added exchanges — the scale cost the census
# was taken to pin. Together with the bespoke audits above, EVERY one of
# the registered keys (435 after the round-8 thaw) has its planned
# shuffle width pinned in CI
# (391 budgeted here + 34 bespoke-audited). Windows/UDF/cartesian
# hygiene for the same keys is covered by the inventory-wide guardrails.
#
# RE-CENSUS PROCEDURE (r6 verdict ask #7) — this table is point-in-time:
# a Spark version bump or an AQE/stats-default change can shift planned
# widths en masse and produce a wall of false failures. Do NOT hand-edit
# 390+ entries one at a time. Instead:
#
#   1. Regenerate under the same cache-cleared sweep the census used:
#          python tests/recensus_budgets.py > /tmp/census.json
#      (get_spark session + conftest default SF + clearCache() per key +
#      the shared count_budget_exchanges formula — identical to
#      ``_all_plans`` and this test; prints {key: observed_width} as JSON).
#   2. Diff observed+2 (the standing slack) against this table and
#      adjudicate per key:
#        - width DECREASED  -> accept silently; tighten the entry to
#          observed+2 so the budget keeps teeth.
#        - width UNCHANGED  -> keep the entry.
#        - width INCREASED  -> investigate BEFORE updating: read the new
#          plan (``physical_plan(spec.fn(...))``), name the extra
#          Exchange's cause (Spark planner change vs. a repo rewrite).
#          Only a planner-level cause justifies raising the budget, and
#          the commit message must cite it (e.g. the Spark JIRA / release
#          note); a repo rewrite that widened the plan is the regression
#          this table exists to catch — fix the plan, not the budget.
#   3. Re-run ``pytest tests/test_plans.py -k exchange_budgets`` and
#      commit the regenerated table in ONE commit, message citing the
#      Spark version before/after and counts of decreased/raised entries.
_EXCHANGE_BUDGETS = {
    "ext_quantile_treatment_effect": 6,
    "ext_sliding_active_users": 7,
    "ext_cross_correlation_lags": 5,
    "ext_share_of_parent": 6,
    "ext_dedup_threshold_curve": 8,
    "ext_sample_representativeness": 6,
    "ext_chi2_terms": 3,
    "ext_log_odds_terms": 4,
    "ext_tokenizer_fertility": 3,
    "ext_user_trend_slope": 3,
    "ext_acf_daily": 5,
    "ext_interarrival_stats": 4,
    "ext_effective_sample_size": 3,
    "ext_source_cap": 3,
    "agg_hll_native_union": 4,
    "ext_readability": 0,   # map-side only: any exchange is a regression
    "ext_kanonymity_audit": 3,
    "ext_winsorized_stats": 4,
    "ext_schema_profile": 6,
    "ext_ewma_events": 3,
    "ext_bpe_apply_merge": 5,
    "ext_silhouette_labels": 6,
    # static plan re-reads cached minhash branches; runtime collapses via
    # .cache() — budget bounds the PLANNED width
    "ext_dup_transitivity_audit": 40,
    # --- round-7 window heads (censused 2026-08-14, same +2 slack) ---
    "ext_embedding_outliers": 4,
    "ext_mutual_knn_pairs": 6,
    "ext_zorder_layout": 3,
    "ext_feature_hashing": 3,
    "ext_target_encoding_loo": 3,
    "ext_weighted_sample_aes": 2,
    "ext_group_kfold": 4,
    "ext_multimodal_payload_dedup": 3,
    "ext_multimodal_shard_pack": 4,
    "fn_interval_arith": 2,
    "ext_ctr_wilson": 3,
    "ext_jackknife_blocks": 4,
    "ext_ks_two_sample": 5,
    "ext_holdout_lm_eval": 5,
    "ext_sequential_patterns": 4,
    "ext_source_vocab_overlap": 9,
    "ext_rake_keyphrases": 8,
    "ext_embedding_whitening": 3,
    "ext_churn_labels": 3,
    "ext_extractive_summary": 8,
    "ext_kmv_intersection": 14,
    "ext_power_analysis": 3,
    "ext_did_estimate": 7,
    "ext_wasserstein_1d": 10,
    "ext_gini_concentration": 4,
    "ext_mutual_information": 9,
    "ext_simpson_diversity": 3,
    "ext_sample_k_per_group": 3,
    "ext_mad_outliers": 2,
    "ext_seasonal_profile": 5,
    "ext_join_cardinality_estimate": 6,
    "ext_classifier_metrics": 9,
    "ext_epoch_shuffle_plan": 3,
    "ext_learning_curve_subsets": 3,
    "ext_repetition_clip": 4,
    "ext_retrieval_auc": 4,
    "ext_zipf_fit": 4,
    "ext_burstiness_fano": 4,
    "ext_heaps_law_points": 4,
    "ext_good_turing": 6,
    "scan_union_multiformat": 3,
    "ext_knn_lsh_multiprobe": 4,
    "ext_run_length_stats": 3,
    "ext_freshness_lag": 4,
    "ext_first_touch_attribution": 3,
    # iterative wedge joins over cached edge branches: planned width only
    "ext_triangle_count": 55,
    # --- round-8 queue (keys 101-150, censused 2026-08-14 cache-clear) ---
    "ext_consistent_hash_ring": 2,
    "udtf_arrow": 2,
    "ext_knn_ivf_trained": 17,
    "tpch_q4_order_priority": 3,
    "tpch_q6_forecast_revenue": 2,
    "tpch_q7_volume_shipping": 3,
    "tpch_q8_market_share": 3,
    "tpch_q9_product_profit": 3,
    "tpch_q12_late_shipments": 3,
    "tpch_q14_promo_revenue": 2,
    "tpch_q15_top_supplier": 4,
    "tpch_q17_small_quantity": 3,
    "tpch_q19_disjunctive": 2,
    "tpch_q22_global_sales": 3,
    "ext_chunk_documents": 2,
    "ext_repetition_score": 2,
    "ext_ngram_topk": 3,
    "ext_length_histogram": 3,
    "ext_label_balance": 4,
    "agg_percentile_exact": 3,
    "agg_min_by_max_by": 3,
    "pivot_wide": 4,
    "unpivot_long": 2,
    "ext_semdedup": 27,
    "ext_unigram_logprob": 5,
    "scan_text": 2,
    "agg_stats_exact": 3,
    "ext_dataset_mixture": 5,
    "fn_datetime_arith": 2,
    "agg_approx_percentile_invariant": 3,
    "win_time_range_rolling": 3,
    "ext_dedup_incremental": 3,
    "ext_fuzzy_dedup_levenshtein": 2,  # r7: distinct removed, pairs unique by construction
    "join_dpp_partition_prune": 2,
    "tpch_q13_customer_distribution": 4,
    "tpch_q21_waiting_supplier": 7,
    "ext_pmi_bigrams": 6,
    "scan_csv_malformed": 2,
    # eqNullSafe hash-partitions on (coalesce(key,_), isnull(key)), which
    # Catalyst cannot prove equal to the groupBy's partitioning on the raw
    # key — so the two pre-agg exchanges are NOT reused by the join. The
    # budget of 3 holds only because both aggregated sides are <=101 rows
    # and BROADCAST at census stats (measured 2 exchanges at sf0.001); if a
    # stats/threshold change ever de-broadcasts them the plan reads 4 —
    # that would be this documented dependency, not a regression.
    "join_null_safe_eq": 3,
    "fn_try_arith": 2,
    "udf_map_in_pandas": 2,
    "agg_grouping_id": 3,
    "ext_word_entropy": 4,
    "fn_printf_format": 2,
    "scan_parquet_schema_evolution": 2,
    "ext_source_quality_report": 4,
    "tpch_q2_min_cost_supp": 4,
    "tpch_q11_important_stock": 4,
    # --- remainder of the registry (censused 2026-08-14,
    # cache-clear sweep, +2 slack; iterative/cached-branch keys
    # like khop/pagerank/burrows/link-prediction carry their
    # documented unrolled-plan widths) ---
    "tpch_q20_potential_promo": 3,
    "ext_dedup_survivorship": 6,
    "ext_near_dup_containment": 8,
    "ext_lang_confusion": 4,
    "ext_type_token_ratio": 4,
    "fn_url_parse": 2,
    "ext_timeseries_densify": 4,
    "stream_complete_topk": 2,
    "stream_foreach_batch_sink": 4,
    "ext_hypertable_rollup": 7,
    "ext_ann_recall_eval": 7,
    "ext_cross_source_dup_rate": 8,
    "udf_arrow_scalar": 2,
    "fn_variant_extract": 2,
    "ext_vocab_oov_rate": 4,
    "ext_curriculum_order": 5,
    "ext_length_outliers": 3,
    "join_merge_hint": 4,
    "fn_from_csv": 2,
    "fn_base_conv": 2,
    "ext_bigram_logprob": 6,
    "ext_span_corruption": 2,
    "agg_bitmap_distinct": 3,
    "ext_label_cohesion": 5,
    "ext_join_skew_report": 3,
    "ext_packing_efficiency": 5,
    "fn_map_hof": 4,
    "fn_array_hof": 2,
    "subq_scalar_correlated_select": 4,
    "ext_shared_span_dedup": 5,
    "ext_funnel_analysis": 8,
    "ext_retention_cohorts": 5,
    "ext_multimodal_meta_prune": 3,
    "ext_minhash_fidelity": 7,
    "ext_ndcg_eval": 3,
    "ext_mrr_eval": 4,
    "ext_spearman_corr": 3,
    "ext_poisson_bootstrap_ci": 3,
    "ext_doc_prefix_dedup": 4,
    "ext_ngram_overlap_diversity": 5,
    "ext_neyman_allocation": 4,
    "win_cumulative_distinct": 4,
    "ext_output_file_planner": 3,
    "ext_mann_whitney_u": 4,
    "ext_cramers_v": 10,
    "ext_permutation_test": 3,
    "agg_salted_twophase": 5,
    "ext_incremental_agg_merge": 4,
    "ext_item_cooccurrence_lift": 11,
    "ext_cooccurrence_degree_dist": 10,
    "ext_time_weighted_avg": 3,
    "ext_mann_kendall_trend": 5,
    "ext_khop_neighborhood": 28,
    "ext_dup_pair_bleu": 13,
    "fn_string_extras": 2,
    "ext_ann_recall_curve": 8,
    "ext_kaplan_meier_retention": 4,
    "ext_entropy_rate_markov": 10,
    "ext_theil_sen_slope": 5,
    "ext_multimodal_aspect_buckets": 5,
    "ext_walk_forward_splits": 4,
    "ext_burrows_delta": 27,
    "ext_cohens_kappa": 2,
    "ext_srm_check": 2,
    "ext_cuped_adjustment": 3,
    "ext_tukey_fences": 10,
    "ext_shapley_attribution": 5,
    "ext_link_prediction_jaccard": 58,
    "ext_ucb_ranking": 4,
    "ext_equidepth_histogram": 11,
    "ext_functional_dependency": 5,
    "ext_ablation_leave_one_source": 9,
    "subq_quantified_all": 2,
    "join_interval_overlap_banded": 5,
    "ext_conformal_interval": 9,
    "ext_mase_seasonal_naive": 3,
    "ext_psm_nearest_match": 8,
    "ext_design_effect_icc": 5,
    "ext_shuffle_quality_audit": 2,
    "ext_bh_fdr": 5,
    "ext_als_rank1": 6,
    "ext_hll_union": 11,
    "ext_cms_heavy_hitters": 5,
    "ext_bloom_probe": 5,
    "join_bloom_runtime": 2,
    "ext_bpe_pair_stats": 4,
    "ext_winnow_fingerprints": 3,
    "ext_perplexity_buckets": 6,
    "scan_file_metadata": 2,
    "fn_collation": 4,
    "ext_dsir_importance": 10,
    "ext_shard_manifest": 3,
    "ext_token_budget_trim": 3,
    "ext_temperature_mixture": 4,
    "ext_sentence_segmentation": 2,
    "ext_kneser_ney_bigrams": 8,
    "ext_hard_negatives": 3,
    "ext_product_quantize": 4,
    "ext_pq_adc_search": 5,
    "ext_ivfpq_search": 10,
    "join_asof_nearest": 3,
    "ext_quality_funnel": 2,
    "ext_ohlc_resample": 3,
    "ext_dataset_card": 3,
    "win_gap_islands": 4,
    "ext_benford_audit": 4,
    "sql_recursive_hierarchy": 2,
    "sink_python_stream": 2,
    "ext_scd2_versions": 4,
    "ext_negative_sampling_table": 4,
    "fn_xml": 2,
    "ext_minhash_band_tuning": 7,
    "ext_sentiment_lexicon": 3,
    "ext_intradoc_dedup": 4,
    "ext_html_extract": 2,
    "ext_hybrid_retrieval": 10,
    "ext_pagerank_bounded": 28,
    "ext_knn_label_agreement": 3,
    "ext_distribution_drift": 7,
    "ext_lsa_power_step": 6,
    "ext_kcenter_coreset": 2,
    "ext_split_doc_detect": 2,
    "ext_session_bounce_rate": 4,
    "ext_ab_test_lift": 6,
    "ext_forget_cascade": 2,
    "ext_integrity_audit": 2,
    "ext_ngram_novelty": 6,
    "ext_dataset_diff": 5,
    "ext_point_in_time_join": 4,
    "agg_approx_count_distinct": 4,
    "agg_collect_sorted": 3,
    "fn_array": 2,
    "fn_map": 2,
    "ext_exact_dedup": 3,
    "ext_near_dedup_minhash": 7,
    "ext_ngram_jaccard": 5,
    "ext_near_dedup_simhash": 5,
    "ext_dedup_clusters": 3,
    "ext_knn_cosine": 3,
    "ext_knn_lsh": 3,
    "ext_knn_ivf": 5,
    "ext_embedding_near_dup": 2,
    "ext_kmeans_train": 7,
    "ext_text_stats": 3,
    "ext_token_count": 2,
    "ext_quality_score": 2,
    "ext_langid": 2,
    "ext_tfidf_topterms": 6,
    "ext_fingerprint": 2,
    "ext_hash_split": 2,
    "ext_pii_scrub": 2,
    "ext_text_normalize": 2,
    "ext_sequence_packing": 3,
    "ext_decontamination": 5,
    "ext_validate_rules": 2,
    "ext_bm25": 6,
    "ext_stratified_sample": 2,
    "ext_multimodal_struct": 2,
    "ext_multimodal_decode": 3,
    "ext_multimodal_frames": 2,
    "ext_multimodal_resize": 3,
    "stream_stateful_user_profile": 3,
    "tpch_q1_pricing_summary": 3,
    "tpch_q3_shipping_priority": 3,
    "tpch_q5_local_volume": 3,
    "tpch_q10_returned_items": 3,
    "tpch_q16_supplier_cnt": 4,
    "tpch_q18_large_volume": 4,
    "ext_corpus_pipeline": 4,
    "stream_sink_catalog_table": 4,
    "ext_embedding_quantize": 2,
    "ext_knn_int8": 3,
    "udaf_pandas_grouped": 3,
    "udaf_grouped_map_zscore": 3,
    "subq_lateral": 4,
    "set_union_distinct": 3,
    "set_intersect": 3,
    "set_except": 3,
    "set_except_all": 3,
    "set_intersect_all": 3,
    "distinct_rows": 3,
    "dedup_by_key": 3,
    "topk_per_group": 3,
    "win_nth_value": 3,
    "win_fill_forward": 3,
    "fn_struct": 3,
    "join_multi_key_chain": 3,
    "join_full_outer": 4,
    "join_range_banded": 3,
    "join_broadcast_hint": 3,
    "join_skew_salted": 3,
    "join_bucketed_colocated": 3,
    "join_asof_time": 3,
    "join_shuffle_hash_hint": 4,
    "agg_hash_group": 3,
    "agg_count_distinct": 4,
    "agg_multi_distinct": 4,
    "agg_having": 3,
    "agg_rollup": 3,
    "agg_cube": 3,
    "agg_grouping_sets": 3,
    "agg_pivot": 4,
    "agg_unpivot": 2,
    "agg_percentile": 3,
    "agg_stats_corr": 3,
    "agg_max_by_min_by": 3,
    "agg_filtered": 3,
    "agg_histogram": 3,
    "agg_mode": 4,
    "agg_bool_countif": 3,
    "win_row_number": 3,
    "win_rank_dense": 3,
    "win_lag_lead": 3,
    "win_running_sum_rows": 3,
    "win_ntile_first_last": 3,
    "win_cume_percent": 3,
    "win_session_gaps": 3,
    "agg_percentile_exact": 3,
    # --- final batch: scan/filter/fn/subq/stream/sink keys (all
    # censused at 0 planned exchanges; streaming fixtures plan
    # map-side; ext_coverage_maximization reads its eager
    # localCheckpoints, so its RETURNED plan is exchange-free) ---
    "ext_coverage_maximization": 2,
    "join_multi_exists_onepass": 3,
    "stream_chained_dedup_daily_active": 2,
    "stream_document_etl": 2,
    "stream_restart_incremental": 2,
    "stream_tumbling_agg": 2,
    "stream_sliding_agg": 2,
    "stream_session_window": 2,
    "stream_dedup_watermark": 2,
    "stream_watermark_late_drop": 2,
    "stream_static_join": 2,
    "stream_sink_files": 2,
    "stream_stream_join": 2,
    "stream_stream_left_outer": 2,
    "scan_python_datasource": 2,
    "scan_python_stream_source": 2,
    "sink_python_datasource": 2,
    "sink_overwrite_dynamic": 2,
    "sink_sorted_layout": 2,
    "sink_merge_upsert": 2,
    "sink_compaction": 2,
    "scan_csv": 2,
    "scan_json": 2,
    "scan_orc": 2,
    "scan_partition_prune": 2,
    "scan_ignore_corrupt": 2,
    "udf_pandas_scalar": 2,
    "subq_scalar": 2,
    "subq_in": 2,
    "subq_exists_correlated": 2,
    "subq_not_in_null": 2,
    "set_union_all": 2,
    "set_union_by_name": 2,
    "fn_string": 2,
    "fn_regex": 2,
    "fn_date": 2,
    "fn_math": 2,
    "fn_conditional": 2,
    "fn_cast": 2,
    "fn_array_explode": 2,
    "fn_json": 2,
    "fn_bitwise": 2,
    "fn_hash": 2,
    "fn_json_nested": 2,
    "scan_parquet": 2,
    "project_expr": 2,
    "filter_compound": 2,
    "filter_null_semantics": 2,
    "filter_in_between_like": 2,
    "join_inner_equi": 2,
    "join_left_outer": 2,
    "join_right_outer": 2,
    "join_left_semi": 2,
    "join_left_anti": 2,
    "join_cross": 2,
    "join_theta_range": 2,
    "agg_global": 2,
    # --- round-8 thawed keys (censused at registration, one per commit) ---
    "ext_paragraph_dedup": 2,
    "ext_dedup_cascade_report": 5,
    "join_asof_tolerance": 1,
    "join_interval_point_containment": 3,
    "agg_kll_quantile_invariant": 2,
    # mutual-kNN base (brute-force at this sf) + 3 unrolled min-label
    # rounds — the ext_dedup_survivorship cost class; wide by design
    "ext_label_propagation_bounded": 22,
    "ext_holt_winters_additive": 1,
    "ext_anomaly_mad_rolling": 5,
    "ext_shard_skew_rebalance": 6,
    "ext_ann_ivf_nprobe_curve": 9,
    # --- round-9 tranche-2 thaw registrations ---
    # grouped-weight agg + partitioned cum-sum over the bounded
    # (flag, price) value domain (matches the ROADMAP_r9 pre-census)
    "ext_weighted_median": 2,
    # bounded 100-vector brute-force base (the ext_knn_cosine baseline
    # class) + one map-side-combinable neighbor-count aggregate
    "ext_dbscan_core_points": 1,
    # QI-tuple hash agg with one distinct (the ext_kanonymity_audit class
    # plus the countDistinct expand)
    "ext_l_diversity_audit": 2,
    # three bounded-cloud pair bases (declared sampled-slice baseline)
    # + broadcast 1-row combines: zero shuffles by design
    "ext_energy_distance": 0,
    # per-source count agg + 2-row broadcast FPP dim, integer-only math
    "ext_bloom_size_planner": 1,
    # --- round-10 tranche-3 thaw registrations (ROADMAP_r10 pre-census) ---
    # mutual-kNN edge list (checkpointed) + community aggregates, all
    # post-edge relations community-cardinality-sized
    "ext_graph_modularity": 4,
    # one community aggregate over the checkpointed edge list + broadcast
    # edge-count scalar
    "ext_conductance_communities": 1,
    # events->daily reduction + calendar-bounded pair aggregate (series
    # indexed via distributed_row_number, broadcast-joined expansions)
    "ext_matrix_profile_daily": 2,
    # events->daily + full-week census + ONE applyInPandas group over two
    # calendar-bounded 7-point profiles
    "ext_dtw_bounded": 4,
    # posexplode + (label, dim) integer moment agg + label^2 pair arithmetic
    "ext_embedding_centroid_drift": 3,
    # groups x buckets densify + QI-partitioned cumulative windows +
    # triangular broadcast global cumulative over the bounded bucket domain
    "ext_t_closeness_audit": 6,
    # --- round-10 tranche-2 leftover registrations ---
    # shared mutual-kNN edge list (checkpointed) + degree groupBy +
    # broadcast moment scalar (pre-census 26 was the unshared prototype)
    "ext_degree_assortativity": 2,
    # bounded 16-query score pass + two query-partitioned top-5 windows +
    # the agreement equi-join (matches the ROADMAP_r9 pre-census)
    "ext_mips_cosine_reduction": 5,
    # adjacent-pair broadcast equi-join + per-row map-side folds: zero
    # shuffles by design (matches the ROADMAP_r9 pre-census)
    "ext_random_projection_jl": 0,
    # events->daily reduction + broadcast moment row (pre-census 2)
    "ext_sax_symbols": 2,
    # events->daily reduction + ONE applyInPandas group over the
    # calendar-bounded gap-filled series (pre-census 1)
    "ext_holt_winters_seasonal": 1,
    # --- round-11 thaw registrations ---
    # bounded directed-kNN edge base (one u-partitioned window) + two
    # unrolled HITS rounds (per-round groupBy against a broadcast
    # node-score aggregate, each aggregate's own exchange counted once
    # standalone and once inside the broadcast subtree) + the node-set
    # union distinct; all post-edge relations node-cardinality-sized
    "ext_hits_bounded": 8,
    # r12 thaw registration: mutual-kNN base lineage (pre-checkpoint) +
    # one groupBy per unrolled peel round; the alive-set joins broadcast
    "ext_graph_degeneracy_core": 27,
    # r12-close registrations (tranche 5): per-truncation-dim window +
    # recall join (4 rankings); hamming cascade is one window pair over
    # the broadcast-kNN base
    "ext_mrl_truncation_curve": 12,
    "ext_knn_binary_hamming": 1,
    # r12-close tranche-6: minhash pipeline + one extra 96-MIN signature
    # aggregation + the pair-list joins
    "ext_minhash_jaccard_estimate": 7,
    # one corpus tokenization to the distinct-word table, then three
    # unrolled merge rounds of (map-side pair explosion + pair-domain
    # aggregate + 1-row TakeOrdered winner + broadcast splice): the word
    # agg + ~1-2 pair aggs visible per round behind the lazy checkpoints
    # — every exchange vocabulary-sized, none corpus-sized
    "ext_bpe_train_k_rounds": 6,
    # r13 tranche-7 registrations (SHAPE telemetry): each is one
    # map-side-combinable groupBy over its scan — measured 1 exchange
    # each at sf0.01; +2 slack per census convention
    "ext_embedding_width_audit": 3,
    "ext_payload_shape_profile": 3,
    "ext_text_shape_audit": 3,
}


# One shared plan sweep for the inventory-wide guardrails below: Catalyst
# analysis/optimization for 435 keys is the dominant cost of these tests,
# so compute each key's physical plan ONCE per session and let every
# guardrail run its string checks against the memo (round-6 review:
# the three guardrails + the budget audit were each re-planning the
# full registry independently).
_PLAN_MEMO: dict[str, str] = {}


def _all_plans(spark, sf_dir) -> dict[str, str]:
    if not _PLAN_MEMO:
        for key, spec in SPECS.items():
            # cache state changes plan text (cached subtrees lose
            # ReusedExchange and re-expand per reference), which made
            # exchange counts depend on which tests ran earlier in the
            # session; clearing per key pins each plan to its own
            # fn-internal caches only — deterministic in any test order
            spark.catalog.clearCache()
            try:
                _PLAN_MEMO[key] = physical_plan(spec.fn(spark, sf_dir))
            except Exception:
                continue  # non-batch keys (streaming fixtures) are exempt
        spark.catalog.clearCache()
    return _PLAN_MEMO


def count_budget_exchanges(plan: str) -> int:
    """The ONE census formula — shared by the budget test below and
    ``tests/recensus_budgets.py`` so the regeneration script can never
    drift from what CI actually counts (r7 review finding)."""
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )


def test_driver_window_exchange_budgets(spark, sf_dir):
    plans = _all_plans(spark, sf_dir)
    over = {}
    for key, budget in _EXCHANGE_BUDGETS.items():
        n = count_budget_exchanges(plans[key])
        if n > budget:
            over[key] = (n, budget)
    assert not over, f"exchange budget exceeded (got, budget): {over}"


def test_win_range_frame_is_banded_join_no_window(spark, sf_dir):
    """win_range_frame (round-6 rewrite) must plan as per-key aggregates
    + banded bucket equi-joins: NO window node at all (the RANGE frame
    collapsed to arithmetic), no cartesian, and the frame-table join back
    onto part is an equi-join on p_size."""
    df = SPECS["win_range_frame"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "windowspecdefinition" not in plan, plan[:1500]
    assert not has_cartesian(df)
    assert "HashAggregate" in plan  # per-distinct-size partial aggregates


def test_sort_multi_dir_rank_is_distributed(spark, sf_dir):
    """The §2B multi-dir sort demo ranks through distributed_row_number;
    the only sort of the full customer table is the final parallel range
    sort the key demonstrates."""
    df = SPECS["sort_multi_dir"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "windowspecdefinition(_qpid" in plan, plan[:1500]


def test_behavior_similarity_ranks_after_limit(spark, sf_dir):
    """The top-20 pair selection must TakeOrdered BEFORE the rank window
    so a large tie-group expansion never feeds a global window."""
    df = SPECS["ext_behavior_similarity"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:1500]


# Keys whose plans legitimately keep an unpartitioned window: the window
# input is bounded by a PLAN CONSTANT or by a value-domain cardinality
# (TakeOrdered top-k output, per-test p-values, calendar days, deciles,
# histogram bins), never by raw data volume. Every entry must name its
# bound. Widened in round 6 from rank-family-only to ALL window functions
# (verdict ask #4): the old regex was blind to aggregate windows, which is
# how win_range_frame's unpartitioned SUM-over-RANGE survived round 5.
_BOUNDED_WINDOW_ALLOWLIST = {
    "ext_behavior_similarity",   # rank over limit(20) output
    "ext_bh_fdr",                # p-values: one row per test
    "ext_coverage_maximization", # running sum over COVERAGE_ROUNDS rows (plan constant)
    "ext_cusum_changepoint",     # running stats over per-DAY aggregates
    "ext_embedding_outliers",    # rank over top-k limit output
    "ext_equidepth_histogram",   # bin boundaries (B rows) + block offsets
    "ext_hill_tail_index",       # rank over limit(K+1) output
    "ext_hybrid_retrieval",      # rank over top-candidate set
    "ext_join_order_cost_model", # join-order permutations (3! rows)
    "ext_kaplan_meier_retention",# survival curve: one row per DAY
    "ext_knee_point",            # cumulative over decile relation (10)
    "ext_lorenz_curve",          # cumulative over decile relation (10)
    "ext_lsh_bucket_stats",      # cum over bucket-SIZE histogram (tiny)
    "ext_mase_seasonal_naive",   # lag over per-DAY series
    "ext_ndcg_eval",             # ideal-DCG table: NDCG_K rows
    "ext_ngram_topk",            # rank over limit(NGRAM_TOPK) output
    "ext_rank_fusion_rrf",       # bm25 top-20 + fused <=20 rows
    "ext_seasonal_decompose",    # trend/seasonal over per-DAY series
    "ext_shuffle_quality_audit", # lead over limit(10000) hash sample
    "ext_weighted_sample_aes",   # rank over limit(k) output
}


def test_no_unpartitioned_window_outside_allowlist(spark, sf_dir):
    """Inventory-wide 100 TB guardrail (round 5, widened round 6): NO
    registered key may run ANY window function — rank family, SUM/COUNT/
    AVG frames, lag/lead, nth_value — through an unpartitioned window
    unless its window input is bounded by a plan constant or value-domain
    cardinality (documented allowlist above). A new key failing here needs
    the distributed helpers (operators/quantiles.py), an orderBy().limit()
    before the window, or an allowlist entry explaining the bound."""
    offenders = {}
    for key, plan in _all_plans(spark, sf_dir).items():
        if key in _BOUNDED_WINDOW_ALLOWLIST:
            continue
        offs = unpartitioned_windows(plan)
        if offs:
            offenders[key] = offs
    assert not offenders, f"unpartitioned windows: {offenders}"


def test_no_cartesian_product_anywhere(spark, sf_dir):
    """Inventory-wide 100 TB guardrail (round 6): NO registered key may
    plan a CartesianProduct — the non-broadcast cross join of two
    data-sized sides, quadratic shuffle IO at scale. (BroadcastNestedLoop
    is deliberately NOT checked here: a no-condition broadcast of a 1-row
    aggregate — the 'attach a broadcast scalar' pattern — plans as BNLJ
    and is benign; ~98 keys use it. The cross-join API demo `join_cross`
    also resolves to a broadcast nested loop, never CartesianProduct, at
    every tested sf.)"""
    offenders = [
        key
        for key, plan in _all_plans(spark, sf_dir).items()
        if "CartesianProduct" in plan
    ]
    assert not offenders, f"CartesianProduct in: {sorted(offenders)}"


# Keys that legitimately plan a row-at-a-time Python eval: the two keys
# whose PURPOSE is to exercise that API surface (SURVEY §2B udf rows).
# Every other Python boundary in the inventory must be Arrow-batched
# (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas).
_ROW_UDF_ALLOWLIST = {
    "udf_python_scalar",  # the row-UDF API demo key itself
    "udtf_python",        # Python UDTFs are row-based by API design
}


def test_no_row_python_udf_outside_demo_keys(spark, sf_dir):
    """Inventory-wide 100 TB guardrail (round 6): row-at-a-time Python
    UDFs (BatchEvalPython nodes — ~10-100x slower than Arrow-batched
    pandas UDFs) may appear ONLY in the two API-demo keys. A new key
    failing here should use @pandas_udf / mapInPandas instead."""
    offenders = [
        key
        for key, plan in _all_plans(spark, sf_dir).items()
        if key not in _ROW_UDF_ALLOWLIST and "BatchEvalPython" in plan
    ]
    assert not offenders, f"row-at-a-time Python UDFs: {sorted(offenders)}"


def test_unpartitioned_window_checker_catches_aggregates(spark, sf_dir):
    """Negative control for the guardrail: a synthetic unpartitioned
    SUM-over-RANGE window — the exact shape that escaped the round-5
    rank-only regex — must be flagged by the widened checker, including
    when the windowed expression and the order key contain nested parens."""
    from pyspark.sql import Window

    part = load(spark, sf_dir, "part")
    w = Window.orderBy(F.round(F.col("p_size") + 0.0)).rangeBetween(-5, 0)
    bad = part.select(
        F.sum(F.round(F.col("p_retailprice") * 100).cast("long"))
        .over(w)
        .alias("s")
    )
    assert unpartitioned_windows(physical_plan(bad))
    # and the benign helper shape (window over the P-row offsets relation,
    # ordered by _qpid) stays exempt
    from spark_sql_dsv2_extension_spark.operators.quantiles import (
        distributed_row_number,
    )

    good = distributed_row_number(
        part.select("p_partkey", "p_size"), ["p_size", "p_partkey"]
    )
    assert not unpartitioned_windows(physical_plan(good))
