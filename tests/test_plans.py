"""Plan-shape regression tests (SURVEY.md 'Optimize for scale'): assert
the physical plans keep the properties the 100 TB design depends on —
filter pushdown into parquet, broadcast joins for dims, top-k without a
global sort, and partition pruning on date-partitioned sinks."""

from __future__ import annotations

from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark import registry
from tests.conftest import SF_ORACLE, formatted_plan as _plan

QUERIES, _ = registry.load()


def test_filtered_page_pushes_predicates(spark):
    plan = _plan(QUERIES["transactions_filtered_page"](spark, SF_ORACLE))
    # date range reaches the scan as timestamp bounds; IN-list pushed
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "In(l_suppkey" in plan
    # pagination compiles to top-k, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_dim_joins_broadcast(spark):
    plan = _plan(QUERIES["category_group_chain_join"](spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_column_pruning_reaches_scan(spark):
    plan = _plan(QUERIES["cashflow_by_merchant"](spark, SF_ORACLE))
    # lineitem scan must not read unused columns like l_comment-ish ones
    assert "l_shipdate" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_point_lookup_pushes_key_filter(spark):
    plan = _plan(QUERIES["transaction_point_lookup"](spark, SF_ORACLE))
    # the decomposed natural-key equalities must reach the parquet scan
    # (row-group pruning); the composite txn_id equality stays residual
    assert "EqualTo(l_orderkey" in plan
    assert "EqualTo(l_partkey" in plan


def test_curation_anti_join_broadcasts(spark):
    plan = _plan(QUERIES["corpus_curation"](spark, SF_ORACLE))
    # the near-dup loser set must broadcast (tiny vs corpus): the anti
    # join must not sort-merge
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_salted_aggregate_two_phase(spark):
    plan = _plan(QUERIES["skew_salted_cashflow"](spark, SF_ORACLE))
    # two aggregate exchanges: (key, salt) then key — the skew spread
    assert plan.count("hashpartitioning") >= 2


def test_bucketed_join_needs_no_exchange(spark, tmp_path):
    """Co-located fact-fact join: both sides bucketed on the join key →
    the join runs with ZERO exchanges (the 100 TB shuffle cost is paid
    once at write time, not per query)."""
    from dieter___etl___monarchmoney_spark.sources.sinks import save_bucketed_table
    from dieter___etl___monarchmoney_spark.sources.star_model import transactions

    txns = transactions(spark, "/root/testdata/sf0.001")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        F.col("o_orderkey").alias("order_id"), "o_orderdate", "o_totalprice"
    )
    save_bucketed_table(txns, "b_txns", str(tmp_path / "b_txns"), "order_id", 8)
    save_bucketed_table(orders, "b_orders", str(tmp_path / "b_orders"), "order_id", 8)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_txns").join(spark.table("b_orders"), "order_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_txns")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_partition_pruning_on_date_partitioned_sink(spark, tmp_path):
    """The incremental sink story: written partitioned by month, a month
    filter must prune partitions at the scan (PartitionFilters)."""
    from dieter___etl___monarchmoney_spark.sources.star_model import transactions

    path = str(tmp_path / "txns_by_month")
    txns = transactions(spark, "/root/testdata/sf0.001").withColumn(
        "month", F.date_trunc("month", "txn_date").cast("date")
    )
    txns.write.partitionBy("month").parquet(path)
    scan = spark.read.parquet(path).filter(F.col("month") == "1995-01-01")
    plan = _plan(scan)
    assert "PartitionFilters: [isnotnull(month" in plan
    # pruned scan reads only the one month
    n_all = spark.read.parquet(path).count()
    n_month = scan.count()
    assert 0 < n_month < n_all

def test_ngram_jaccard_tokenizes_once(spark):
    """Regression: plain explode over the shingle array let Catalyst
    infer a size()>0 filter whose pushdown re-inlined the tokenize+
    shingle pipeline into a scan-level Filter (split() appeared 11x in
    the optimized plan; the query ran ~6x slower at sf0.1). explode_outer
    must keep the expensive expression in exactly one Project.

    Targets the OPERATOR directly: the registered query now reads the
    shared materialized edge table (a parquet scan with no tokenizer in
    its plan at all), but the operator is what the first consumer of
    that materialization executes."""
    from dieter___etl___monarchmoney_spark.operators.dedup import ngram_jaccard_pairs
    from dieter___etl___monarchmoney_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", SF_ORACLE)
    df = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5, doc_freq_cap=64)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("split(") == 1


def test_decontamination_broadcasts_benchmark(spark):
    """The eval-suite shingle set must broadcast (map-side semi-join);
    the 100 TB corpus side must never shuffle on the shingle."""
    df = QUERIES["decontamination_overlap"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the 4-gram pipeline must run once per branch (see the explode_outer
    # note in the query: inferred size()>0 pushdown once inlined it 26x)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("split(") == 2


def test_chunk_windows_shuffle_free(spark):
    """Chunk planning is per-row integer math — the plan must contain no
    Exchange at all (AQE leaves nothing to re-plan)."""
    plan = _plan(QUERIES["chunk_sliding_windows"](spark, SF_ORACLE))
    assert "Exchange" not in plan


def test_language_sample_single_shuffle(spark):
    """Quota sampling ranks within lang partitions: exactly one exchange
    (hash by lang, no global sort), and the rank<=20 filter must push
    into a PARTIAL WindowGroupLimit so each map task ships at most 20
    rows per lang — the property that makes the window skew-safe."""
    plan = _plan(QUERIES["language_balanced_sample"](spark, SF_ORACLE))
    assert plan.count("Exchange (") == 1
    assert "hashpartitioning(lang" in plan
    assert "rangepartitioning" not in plan
    assert "row_number(), 20, Partial" in plan


def test_boilerplate_flagging_broadcasts(spark):
    """The surviving boilerplate set is tiny relative to the corpus, so
    the flagging pass must be a broadcast left join (the corpus is never
    shuffled on the segment for the audit), and the tokenize+segment
    pipeline must run once per branch — not re-inlined into scans by an
    inferred size()>0 filter (see ngram_jaccard_pairs)."""
    df = QUERIES["boilerplate_segment_audit"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("split(") == 2


def test_global_shuffle_single_exchange_no_sort_bottleneck(spark):
    """Epoch shuffling must not plan a global sort: one hash exchange on
    the shard key, never a rangepartitioning step."""
    plan = _plan(QUERIES["global_shuffle_assignment"](spark, SF_ORACLE))
    assert plan.count("Exchange (") == 1
    assert "hashpartitioning(shard" in plan
    assert "rangepartitioning" not in plan


def test_pii_redaction_shuffle_free(spark):
    """Redaction is pure per-row regexp math — no Exchange at all."""
    plan = _plan(QUERIES["pii_redaction_audit"](spark, SF_ORACLE))
    assert "Exchange" not in plan


def test_source_mixture_broadcasts_weights(spark):
    """The per-source weight table is #sources rows: it must broadcast
    back onto the corpus scan; the corpus is never shuffled for the
    keep/drop decision (the only exchanges are the token-total agg)."""
    plan = _plan(QUERIES["source_mixture_sample"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quality_deciles_bucketed_rank_no_global_sort(spark):
    """Decile ranking (round 11): the two-phase exact NTILE's ranking
    window hash-partitions by (lang, bucket id) — parallelism
    |langs| x num_buckets, never one task per language — and nothing
    in the plan range-partitions / globally sorts the fact."""
    import re

    plan = _plan(QUERIES["quality_decile_assignment"](spark, SF_ORACLE))
    assert re.search(r"hashpartitioning\(lang#\d+, __egr_bkt#\d+", plan), plan[-2000:]
    assert "rangepartitioning" not in plan


def test_calibration_and_lift_rank_windows_bucketed(spark):
    """source_quality_calibration / decile_lift_table share the
    two-phase NTILE: their ranking windows carry the synthetic bucket
    id in the partition key (VERDICT r10 #1 'plan test pinning >group
    count tasks in the ranking stage')."""
    import re

    plan = _plan(QUERIES["source_quality_calibration"](spark, SF_ORACLE))
    assert re.search(r"hashpartitioning\(source#\d+, __egr_bkt#\d+", plan), plan[-2000:]
    # the only range partitioning is the final ORDER BY over the 20-row
    # result — never the fact (a fact-side rangepartitioning would sort
    # on (source, q), which would carry the q column)
    assert not re.search(r"rangepartitioning\([^)]*q#", plan)
    plan = _plan(QUERIES["decile_lift_table"](spark, SF_ORACLE))
    assert re.search(r"hashpartitioning\(c_mktsegment#\d+, __egr_bkt#\d+", plan), (
        plan[-2000:]
    )


def test_band_filter_and_packing_windows_bucketed(spark):
    """doc_length_band_filter (grouped exact rank) and sequence_packing
    (grouped two-phase prefix sum) carry the bucket id in their window
    partition keys — the round-11 class fix applied beyond the NTILE
    trio."""
    import re

    plan = _plan(QUERIES["doc_length_band_filter"](spark, SF_ORACLE))
    assert re.search(r"hashpartitioning\(source#\d+, __egr_bkt#\d+", plan), (
        plan[-2000:]
    )
    plan = _plan(QUERIES["sequence_packing"](spark, SF_ORACLE))
    assert re.search(r"hashpartitioning\(lang#\d+, __egr_bkt#\d+", plan), plan[-2000:]


def test_moving_average_aggregates_before_window(spark):
    """The 7-day range-frame window runs over the DAILY aggregate (O(days)
    rows), never the raw event stream: the plan's Window sits above a
    final HashAggregate, and the fact is scanned once."""
    plan = _plan(QUERIES["moving_average_7d"](spark, SF_ORACLE))
    assert "Window" in plan
    assert plan.count("InMemoryFileIndex") == 1
    assert plan.index("Window") < plan.index("Scan parquet")  # formatted plan lists top-down


def test_pivot_single_pass(spark):
    """Explicit pivot values ⇒ one aggregate pass over one scan — no
    value-inferring distinct job, no second scan of the fact."""
    plan = _plan(QUERIES["event_type_daily_pivot"](spark, SF_ORACLE))
    assert plan.count("InMemoryFileIndex") == 1
    assert "Expand" not in plan  # pivot compiles to conditional aggs, not grouping-set expand


def test_funnel_single_scan_no_join(spark):
    """The four-stage funnel folds each user's time-sorted events once:
    one fact scan, one user_id shuffle, zero joins (the oracle runs the
    4-join chain — two algorithms, same rows)."""
    plan = _plan(QUERIES["conversion_funnel"](spark, SF_ORACLE))
    assert plan.count("InMemoryFileIndex") == 1
    assert "Join" not in plan


def test_retention_cohorts_window_not_join(spark):
    """Cohort derivation is a window MIN over user_id — no self-join; the
    only exchanges are the user_id clustering and the final group-by."""
    plan = _plan(QUERIES["weekly_retention_cohorts"](spark, SF_ORACLE))
    assert plan.count("InMemoryFileIndex") == 1
    assert "Join" not in plan
    assert "hashpartitioning(user_id" in plan


def test_percentile_stats_exact_aggregate(spark):
    """Exact percentile runs as an ObjectHashAggregate partial/final pair
    over one scan (the 100 TB swap is percentile_approx; this exact form
    is its oracle-checked ground truth)."""
    plan = _plan(QUERIES["percentile_stats_by_lang"](spark, SF_ORACLE))
    assert plan.count("InMemoryFileIndex") == 1
    assert "percentile" in plan


def test_range_join_no_nested_loop(spark):
    """The banded interval join must plan as an equi-join on
    (key, bucket) — never a broadcast-nested-loop or cartesian product
    (what Spark falls back to for raw inequality join conditions)."""
    plan = _plan(QUERIES["range_banded_join"](spark, SF_ORACLE))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_dense_rank_windows_aggregate_not_fact(spark):
    """Top-3 per month ranks the (month × merchant) aggregate, not the
    fact: the Window sits above the final HashAggregate, partitioned by
    month (hash exchange, no global rangepartitioning sort)."""
    plan = _plan(QUERIES["monthly_merchant_dense_rank"](spark, SF_ORACLE))
    assert "Window" in plan
    assert "hashpartitioning(month" in plan
    assert "rangepartitioning" not in plan


def test_cdc_latest_state_no_window(spark):
    """Changelog compaction runs as a partial-aggregable MAX(struct),
    never a per-key ROW_NUMBER window — map-side combine shrinks each
    partition to one candidate per key before the single shuffle."""
    plan = _plan(QUERIES["cdc_latest_state"](spark, SF_ORACLE))
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan
    # partial + final aggregate around ONE key exchange (struct MAX
    # plans as SortAggregate — struct buffers aren't hash-aggregable)
    assert "partial_max" in plan
    assert plan.count("hashpartitioning(user_id") == 1


def test_table_profile_pruned_scans_no_expand(spark):
    """The profiler reads each column once: a cheap null/min/max pass
    plus one column-pruned scan per DISTINCT count — never the
    Expand-based multi-distinct (5x row inflation, measured 4x slower)
    and never a UNION ALL of full-width scans."""
    plan = _plan(QUERIES["table_profile"](spark, SF_ORACLE))
    assert "Expand" not in plan
    assert "Union" not in plan
    # the distinct-count scans are pruned to their single column
    assert plan.count("ReadSchema: struct<l_orderkey:bigint>") == 1
    assert plan.count("ReadSchema: struct<l_returnflag:string>") == 1


def test_pagination_no_single_partition_sort(spark):
    """W5 registered evidence runs the scale-safe offset/limit plan:
    TakeOrderedAndProject (per-partition top-k, driver merge) — never a
    row_number window funneling the fact through one partition."""
    plan = _plan(QUERIES["row_number_pagination"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan
    assert "Window" not in plan


def test_prefix_sum_single_exchange(spark):
    """distributed_prefix_sum moves the data through exactly ONE
    shuffle: the range exchange on the explicit bucket id satisfies the
    window's clustering requirement, so Catalyst inserts no second
    (hash) exchange — the failure mode of partitioning the window by
    spark_partition_id(). The offset join stays broadcast."""
    import pyspark.sql.functions as F

    from dieter___etl___monarchmoney_spark.operators.prefix import (
        distributed_prefix_sum,
    )

    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet").select(
        "event_id", "ts", F.col("value").cast("decimal(18,6)").alias("amount")
    )
    out = distributed_prefix_sum(ev, ["ts", "event_id"], "amount", "bal")
    plan = _plan(out)
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    # one range exchange in the live subtree (the InMemoryRelation
    # stringifies its stored plan a second time — count distinct ids)
    import re

    ids = {m for m in re.findall(r"Exchange rangepartitioning[^\[]*\[plan_id=(\d+)\]", plan)}
    assert len(ids) <= 2  # live subtree + its cached-plan rendering
    assert "BroadcastExchange" in plan


def test_cashflow_report_single_scan_grouping_sets(spark):
    """The four-section cashflow report (SURVEY §3.3) runs as ONE
    grouping-sets aggregate: one lineitem scan, an Expand (the
    grouping-set row replication), broadcast dim joins — not four
    scans unioned."""
    plan = _plan(QUERIES["cashflow_report_all"](spark, SF_ORACLE))
    # the FACT appears in exactly one scan — counting total
    # InMemoryFileIndex occurrences would conflate a regression (an
    # extra fact scan) with plan-format/scan-reuse changes in the dims
    assert plan.count("lineitem.parquet") == 1
    assert "Expand" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Union" not in plan


def test_cube_single_pass(spark):
    """CUBE compiles to Expand + one aggregate over one scan."""
    plan = _plan(QUERIES["cashflow_cube"](spark, SF_ORACLE))
    assert plan.count("InMemoryFileIndex") == 1
    assert "Expand" in plan
    assert "Union" not in plan


def test_except_all_no_join_explosion(spark):
    """exceptAll plans as aggregation-based set difference, not a
    nested-loop or cartesian join."""
    plan = _plan(QUERIES["exact_dedup_removed"](spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_prefix_filter_jaccard_no_cartesian(spark):
    """The prefix index is a hash-keyed posting join — never a
    cartesian/nested-loop pair enumeration, and no Python UDFs."""
    plan = _plan(QUERIES["prefix_filter_jaccard"](spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_table_checksum_single_shuffle(spark):
    """Checksumming is one scan + one map-side-combined aggregate: the
    plan carries exactly one Exchange (the bucket groupBy) and partial
    aggregation below it."""
    plan = _plan(QUERIES["table_checksum"](spark, SF_ORACLE))
    # formatted mode prints each node in the tree AND the detail list,
    # so one physical Exchange appears as one "+- Exchange" tree entry
    assert plan.count("+- Exchange") == 1
    assert "partial_sum" in plan  # map-side combine below the shuffle
    assert "Exchange SinglePartition" not in plan


def test_bigram_lm_stays_jvm_side(spark):
    """LM fit + scoring is pure column algebra: no Python evaluation
    nodes, no cartesian joins (the vocab-size frame broadcasts)."""
    plan = _plan(QUERIES["bigram_lm_quality"](spark, SF_ORACLE))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_dedup_blocked_equijoin_no_cartesian(spark):
    # the levenshtein self-join must ride the (brand, first_tok) equi-key:
    # hash/sort-merge join, never a nested-loop over all pairs
    plan = _plan(QUERIES["fuzzy_name_dedup"](spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_countmin_probe_broadcasts_topk(spark):
    plan = _plan(QUERIES["countmin_heavy_hitters"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_vocab_rank_bounded_topk_not_global_sort(spark):
    # the frequency rank must come from TakeOrderedAndProject over the
    # k finalists, not a vocabulary-wide single-partition sort
    plan = _plan(QUERIES["vocab_id_assignment"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan


def test_round3_ops_stay_jvm_side(spark):
    # none of the round-3 operators may fall back to Python evaluation
    for name in (
        "hll_distinct_users",
        "countmin_heavy_hitters",
        "fuzzy_name_dedup",
        "embedding_quantization",
        "vocab_id_assignment",
        "incremental_agg_merge",
        "zorder_layout_keys",
    ):
        plan = _plan(QUERIES[name](spark, SF_ORACLE))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_quantization_shuffle_free(spark):
    # per-vector quantization is a pure scan: no Exchange at all
    plan = _plan(QUERIES["embedding_quantization"](spark, SF_ORACLE))
    assert "Exchange" not in plan


def test_label_noise_audit_blocked_equijoin_no_bnlj(spark):
    """The r7 `weak` fix: kNN candidates come from an LSH-bucket
    EQUI-join (each query exploded into its multiprobe signatures, hash
    join on the bucket id), never the broadcast nested-loop n·(n/25)
    product the old exact scorer planned."""
    plan = _plan(QUERIES["knn_label_noise_audit"](spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_triangle_join_no_cartesian(spark):
    plan = _plan(QUERIES["similarity_graph_triangles"](spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zscore_stats_broadcast_back(spark):
    # the |event_types|-row stats frame must broadcast onto the fact
    plan = _plan(QUERIES["value_outliers_zscore"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_trend_regression_single_aggregate_pass(spark):
    # OLS from sufficient statistics: one aggregate over one scan, no
    # join, no window, no Python
    plan = _plan(QUERIES["event_trend_regression"](spark, SF_ORACLE))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_contingency_margins_broadcast(spark):
    # chi2: margins/cols/total derive from the tiny contingency table
    # and broadcast — the fact is aggregated exactly once
    plan = _plan(QUERIES["weekday_type_chi2"](spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_winsorize_bounds_broadcast(spark):
    plan = _plan(QUERIES["winsorized_stats"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_keyness_topk_uses_window_group_limit(spark):
    # per-source top-10 must push the rank bound into the window
    # operator so partitions emit at most 10 survivors
    plan = _plan(QUERIES["source_keyness_g2"](spark, SF_ORACLE))
    assert "WindowGroupLimit" in plan


def test_whole_registry_plan_hygiene(spark):
    """Sweeping net over EVERY registered query's physical plan: no
    row-at-a-time Python evaluation anywhere, Arrow-batched Python only
    in the multimodal stubs (by design), and no cartesian products."""
    arrow_allowed = {
        "multimodal_decode_fake",
        "multimodal_feature_extract",
        "multimodal_frame_sample",
        "multimodal_resize",
        # wave 13/16: the sanctioned Python/Arrow lanes, each pinned to
        # a JVM twin by tests/test_wave13_ops.py — grouped-agg pandas
        # UDAF, Arrow scalar UDF, mapInArrow. (The grouped-map lane,
        # event_transition_matrix, registered its JVM LAG-window form
        # in round 8; the applyInPandas walk lives on as the twin in
        # tests/test_wave13_ops.py.)
        "returnflag_quantity_iqr",
        "arrow_udf_text_normalize",
        "embedding_range_audit",
        # wave 31: the fourth sanctioned lane — the Python UDTF runs
        # Arrow-batched (ArrowEvalPythonUDTF; the query function sets
        # spark.sql.execution.pythonUDTF.arrow.enabled)
        "udtf_chunk_explode",
    }
    offenders = []
    for name, fn in QUERIES.items():
        plan = _plan(fn(spark, SF_ORACLE))
        if "BatchEvalPython" in plan:
            offenders.append((name, "BatchEvalPython"))
        if (
            (
                "ArrowEvalPython" in plan
                or "MapInPandas" in plan
                or "MapInArrow" in plan
                or "FlatMapGroupsInPandas" in plan
                or "AggregateInPandas" in plan
            )
            and name not in arrow_allowed
        ):
            offenders.append((name, "unexpected-arrow"))
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
    assert not offenders, offenders


def test_pricing_summary_scan_shape(spark):
    plan = _plan(QUERIES["pricing_summary_report"](spark, SF_ORACLE))
    # shipdate cutoff reaches the parquet scan; only the 7 referenced
    # columns are read; the aggregate partial-combines before the
    # 4-group shuffle
    assert "LessThan(l_shipdate" in plan
    assert "ReadSchema: struct<l_quantity" in plan
    assert "l_orderkey" not in plan.split("ReadSchema", 1)[1][:400]
    assert "partial_sum" in plan


def test_regional_rollup_dims_broadcast(spark):
    plan = _plan(QUERIES["regional_revenue_rollup"](spark, SF_ORACLE))
    # the snowflake dim chain broadcasts end to end at this SF (AQE
    # upgrades even the fact joins here; at scale lineitem x orders
    # degrades to shuffle while the hinted dims stay broadcast)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_shipping_priority_pushdown_and_topk(spark):
    plan = _plan(QUERIES["shipping_priority_topk"](spark, SF_ORACLE))
    # both date predicates reach their parquet scans; the top-10 is a
    # TakeOrderedAndProject, never a global sort of the aggregate
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan or "GreaterThan(l_shipdate" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_large_volume_customers_prunes_before_join(spark):
    plan = _plan(QUERIES["large_volume_customers"](spark, SF_ORACLE))
    # the per-order quantity aggregate partial-combines, its HAVING cut
    # runs before the joins, and the top-100 is a TakeOrderedAndProject
    assert "partial_sum" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_forecast_revenue_change_scan_only(spark):
    plan = _plan(QUERIES["forecast_revenue_change"](spark, SF_ORACLE))
    # all three predicates reach the scan; one fact scan, no joins
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan
    # formatted explain names each scan twice (tree node + detail
    # block), so ONE physical scan == exactly 2 mentions
    assert plan.count("Scan parquet") == 2
    assert "Join" not in plan


def test_returned_items_filters_before_join(spark):
    plan = _plan(QUERIES["returned_items_ranking"](spark, SF_ORACLE))
    # the returnflag and order-date filters push to their scans and the
    # top-20 is a TakeOrderedAndProject
    assert "EqualTo(l_returnflag,R)" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_intra_doc_dedup_doc_local_keys(spark):
    plan = _plan(QUERIES["intra_doc_dedup"](spark, SF_ORACLE))
    # no cross-document traffic: no joins beyond the doc_id attach, no
    # cartesian, no python
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_benford_single_scan_aggregate(spark):
    plan = _plan(QUERIES["benford_digit_audit"](spark, SF_ORACLE))
    # the orders fact is scanned exactly once; everything else is 9 rows
    assert plan.count("Scan parquet") <= 2  # orders + 9-row literal frame
    assert "partial_count" in plan or "partial_sum" in plan


def test_skew_profile_histogram_reduction(spark):
    plan = _plan(QUERIES["hot_key_skew_profile"](spark, SF_ORACLE))
    # per-key histograms partial-aggregate before any window/sort
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_ks_single_histogram_pass(spark):
    plan = _plan(QUERIES["ks_two_sample"](spark, SF_ORACLE))
    # totals and the D argmax come from whole-frame windows over the
    # one histogram, never from aggregate crossJoins that recompute the
    # fact lineage (was 4 scans; pinned at <= 2)
    assert plan.count("Scan parquet") <= 2
    assert "CartesianProduct" not in plan


def test_bucketed_join_no_exchange(spark):
    """The bucketed layout is only worth its write cost if the join it
    serves really plans shuffle-free: bucketed+sorted tables on the
    same key/count must SortMergeJoin with ZERO Exchange and ZERO Sort
    on either input."""
    from dieter___etl___monarchmoney_spark.queries.olap2 import (
        bucketed_join,
        bucketed_tables,
    )

    li_tbl, ord_tbl = bucketed_tables(spark, SF_ORACLE)
    # At sf0.01 the planner rightly broadcasts the small side and skips
    # bucketing entirely; the layout exists for the at-scale regime
    # where NEITHER side broadcasts — force that regime to audit it.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(bucketed_join(spark, li_tbl, ord_tbl))
        # the shuffle is GONE — the whole point of the layout
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        # default Spark 3+ keeps a bucket-LOCAL sort (scan sort order is
        # only reported under the legacy flag, SPARK-28632); with the
        # flag the one-file-per-bucket sortBy order is reused outright
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        try:
            plan2 = _plan(bucketed_join(spark, li_tbl, ord_tbl))
            assert "Exchange" not in plan2 and "Sort (" not in plan2
        finally:
            spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
        # the full registered query shuffles only ABOVE the join: the
        # 5-group rollup + the presentation ORDER BY (range exchange) —
        # nothing on either join input
        full = _plan(QUERIES["bucketed_join_audit"](spark, SF_ORACLE))
        assert full.count("Exchange (") == 2
        assert "hashpartitioning(o_orderpriority" in full
        assert "rangepartitioning(o_orderpriority" in full
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_olap2_decorrelation_shapes(spark):
    """The correlated-subquery anchors must plan as their decorrelated
    physical forms: EXISTS -> semi join, NOT IN/NOT EXISTS -> anti join,
    correlated scalar AVG -> grouped join-back — never a per-row
    subquery or a cartesian product."""
    plan = _plan(QUERIES["order_priority_check"](spark, SF_ORACLE))
    assert "LeftSemi" in plan
    assert "EqualTo(l_returnflag,R)" in plan  # pushed to the scan
    assert "CartesianProduct" not in plan

    plan = _plan(QUERIES["part_supplier_variety"](spark, SF_ORACLE))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan

    plan = _plan(QUERIES["idle_customer_outreach"](spark, SF_ORACLE))
    assert "LeftAnti" in plan
    # the scalar avg is a 1-row broadcast, so the only nested-loop join
    # is a broadcast one (never a CartesianProduct)
    assert "CartesianProduct" not in plan

    plan = _plan(QUERIES["small_quantity_revenue"](spark, SF_ORACLE))
    # per-part average partial-combines before its shuffle
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan

    plan = _plan(QUERIES["waiting_orders_suppliers"](spark, SF_ORACLE))
    # both quantifiers collapse into ONE per-order aggregate: the fact
    # appears in exactly one join (lineitem x orders), not three
    assert plan.count("SortMergeJoin") <= 1
    assert "TakeOrderedAndProject" in plan


def test_asof_join_plan_has_zero_joins(spark):
    """The headline claim of asof_last_signup: the as-of enrichment is
    a union + window pass, never a join — the plan must contain NO
    join operator of any kind."""
    plan = _plan(QUERIES["asof_last_signup"](spark, SF_ORACLE))
    assert "Join" not in plan
    assert "Union" in plan
    assert "Window" in plan


def test_disjunctive_derivations_reach_both_scans(spark):
    """Q19 shape: the derived part-side disjunction and the lineitem
    quantity hull must both appear as scan-level data filters, and the
    join must be broadcast."""
    plan = _plan(QUERIES["disjunctive_promo_revenue"](spark, SF_ORACLE))
    assert "Brand#12" in plan and "Brand#23" in plan
    # quantity hull pushed to the lineitem scan
    assert "l_quantity" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_important_part_stock_reuses_fact_shuffle(spark):
    """Q11 shape: the global total must RE-REDUCE the per-part
    aggregate, not rescan the fact — the second branch reads the
    first branch's shuffle via ReusedExchange.

    Checked at PLAN time with AQE off: the non-adaptive
    ReuseExchangeAndSubquery rule is deterministic on canonicalized
    subtrees, whereas AQE's stage-cache reuse is opportunistic — two
    equivalent stages submitted concurrently can both run when the
    box is loaded (observed round 12: the executed-plan form of this
    assertion flaked exactly once, under a concurrent full-suite +
    plan-sweep load, and reproduces green solo). The property worth
    pinning is that the two branches CANONICALIZE to one exchange;
    whether AQE's cache wins its race is a perf detail the plans
    must not depend on for correctness."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(QUERIES["important_part_stock"](spark, SF_ORACLE))
        assert "ReusedExchange" in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_nation_trade_flows_broadcasts_all_dims(spark):
    """Q7 shape: nation-filtered supplier and customer slices join as
    broadcasts; the only candidate for a shuffle join is the
    lineitem x orders equi-join."""
    plan = _plan(QUERIES["nation_trade_flows"](spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_min_cost_supplier_no_cartesian(spark):
    """Q2 shape: the decorrelated min join-back must stay an equi-join
    on (partkey, cost) — no nested-loop fallback."""
    plan = _plan(QUERIES["min_cost_supplier"](spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_dpp_prunes_partitioned_fact(spark):
    """dpp_top_days_rollup's whole point: the executed plan must carry
    a dynamicpruning expression in the partitioned scan's
    PartitionFilters — join-driven partition elimination, not a full
    scan plus post-filter."""
    df = QUERIES["dpp_top_days_rollup"](spark, SF_ORACLE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_aqe_skew_join_fires_on_skewed_data(spark):
    """SCALE.md claims AQE's skew-join split is the runtime backstop
    behind the manual salting patterns — pin that the mechanism
    actually engages: a deliberately skewed join, with the skew
    thresholds lowered to test scale, must show isSkew/skewed markers
    in the final adaptive plan."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
        )
    }
    try:
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        # forbid broadcast so the join stays a shuffle join AQE can split
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # AQE declines the split when it would add downstream shuffles
        # (any aggregation after the join) unless forced — the
        # documented knob for exactly this trade
        conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        # 99% of left rows share one key; right side is uniform
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 100 < 99, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(0, 1000).select(
            (F.col("id") % 1000).alias("k"), F.lit("dim").alias("v")
        )
        j = left.join(right, "k").select(F.count(F.lit(1)).alias("n"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        # markers in the final adaptive plan: the join itself and the
        # split shuffle read both record the skew handling
        assert "skew=true" in plan, plan[:2000]
        assert "skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_budget_pipeline_single_grouping_sets(spark):
    """The budget sheet's group (998) and Totals (999) rows come from ONE
    grouping-sets aggregate (one Expand) over uncached category rows, and
    the run reads lineitem once: the aggregate branch reads the category
    rows' category-month exchange through a ReusedExchange."""
    df = QUERIES["budget_pipeline_full"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand [") == 1
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
    df.collect()
    final = df._jdf.queryExecution().executedPlan().finalPhysicalPlan().toString()
    assert final.count("lineitem.parquet") == 1
    assert "ReusedExchange" in final
