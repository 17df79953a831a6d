"""Physical-plan assertions — the 100 TB design contract, pinned.

Correctness tests prove the numbers; these prove the SHAPE: filters
reach the parquet scan, bounded dims broadcast, SF-scaled tables
don't, top-k never global-sorts, and windows key on scalable columns.
A regression here is invisible at sf0.01 and fatal at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from vector_db_core_spark.operators import QUERIES
from vector_db_core_spark.sources import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _plan_simple(df) -> str:
    """One-line-per-operator tree (exchange keys inline — formatted
    mode splits them into detail blocks, so key assertions grep this)."""
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )


def test_ordinal_range_predicate_pushed_down(spark, tmp_path):
    """pullx's rowid BETWEEN must reach the parquet scan (the analog of
    the reference's O(1) offset arithmetic — row-group pruning)."""
    from vector_db_core_spark.store import OrdinalStore

    store = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT, b STRING")
    store.pushx([{"a": i, "b": str(i)} for i in range(1000)])
    plan = _plan(store.pullx(100, 50))
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(rowid,100)" in plan and "LessThanOrEqual(rowid,149)" in plan


def test_event_filter_and_projection_pushdown(spark):
    """ref queries: pushed filter + pruned ReadSchema (a 2-column
    projection must not scan all columns)."""
    ev = load_table(spark, SF_ORACLE, "events").where(
        F.col("event_id").between(10, 20)
    ).select("event_id", "user_id")
    plan = _plan(ev)
    assert "GreaterThanOrEqual(event_id,10)" in plan
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "event_id" in read_schema and "user_id" in read_schema
    assert "props" not in read_schema  # wide column pruned away


def test_bounded_dim_broadcasts(spark):
    """q5 must broadcast nation/region (bounded at any SF) — no
    shuffle of the fact for those joins."""
    plan = _plan(QUERIES["q5_local_supplier_volume"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_sf_scaled_table_not_hint_broadcast(spark):
    """join_broadcast_brand_volume must NOT carry a broadcast HINT on
    the SF-scaled part table (VERDICT r1 finding): with statistics
    small enough AQE may still choose broadcast at test scale, but the
    logical plan must leave the choice to the optimizer. We assert the
    plan prunes part to the two needed columns instead."""
    df = QUERIES["join_broadcast_brand_volume"](spark, SF_ORACLE)
    # the unresolved/analyzed logical plan would contain a ResolvedHint
    # node if F.broadcast() had been applied
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical
    read_schemas = [ln for ln in _plan(df).splitlines() if "ReadSchema" in ln]
    part_scan = [ln for ln in read_schemas if "p_brand" in ln]
    assert part_scan and all("p_type" not in ln for ln in part_scan)  # pruned


def test_topk_plans_take_ordered(spark):
    """Global top-k must be TakeOrderedAndProject (per-partition heaps),
    never a full Sort + Limit."""
    plan = _plan(QUERIES["topk_orders_by_price"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan


def test_window_rank_keys_on_high_cardinality(spark):
    """The ranking window partitions by o_custkey — parallelism scales
    with data, not with a 5-value priority column."""
    plan = _plan(QUERIES["window_rank_dense_rank"](spark, SF_ORACLE))
    assert "hashpartitioning(o_custkey" in plan  # exchange keys on the scalable column
    assert "windowspecdefinition(o_custkey" in plan
    assert "windowspecdefinition(o_orderpriority" not in plan  # the r1 anti-pattern


def test_semi_join_plans_as_semi(spark):
    plan = _plan(QUERIES["join_semi_orders_with_bulk_items"](spark, SF_ORACLE))
    assert "LeftSemi" in plan


def test_lsh_has_no_cartesian_product(spark):
    """The LSH dedup plan must contain NO cartesian/nested-loop join —
    that's the whole point versus the exact all-pairs baseline."""
    plan = _plan(QUERIES["dedup_minhash_lsh_pairs"](spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocabulary_topn_plans_take_ordered(spark):
    """top-100 vocabulary must be TakeOrderedAndProject (per-partition
    heaps), never a global Sort of the full token-count table."""
    plan = _plan(QUERIES["text_vocabulary_topn"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no standalone global sort operator


def test_pipeline_ops_are_map_only(spark):
    """split / mixture / chunking / normalization are pure per-row
    transforms — ZERO exchanges anywhere in the plan."""
    for name in (
        "pipeline_train_val_test_split",
        "pipeline_source_mixture",
        "pipeline_chunk_tokens",
        "pipeline_normalize_text",
        "pipeline_stratified_sample",
        "pipeline_pii_scrub",
        "pipeline_kfold_assign",
    ):
        plan = _plan(QUERIES[name](spark, SF_ORACLE))
        assert "Exchange" not in plan, name


def test_url_domain_stats_single_shuffle_with_partials(spark):
    """Domain frequency table: map-side combine then ONE hash exchange
    of (domain, partial) rows — never a shuffle of raw documents."""
    import re

    plan = _plan(QUERIES["pipeline_url_domain_stats"](spark, SF_ORACLE))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_pivot_two_phase_aggregate_shape(spark):
    """PIVOT with an explicit value list plans as the two-phase
    aggregate (count by (group, pivot) then pivotfirst by group) —
    both exchanges carry already-aggregated rows, and there is NO
    distinct-discovery job (a third exchange + collect that an
    implicit value list would add)."""
    plan = _plan(QUERIES["pivot_status_by_priority"](spark, SF_ORACLE))
    assert "pivotfirst" in plan
    # exactly the two agg exchanges (post-aggregation, tiny rows)
    assert plan.count("+- Exchange") == 2


def test_q6_all_predicates_pushed_to_scan(spark):
    """Q6 is the canonical pushdown probe: every predicate must reach
    the parquet scan as a PushedFilter, and the ReadSchema must carry
    only the 4 referenced columns."""
    plan = _plan(QUERIES["q6_forecast_revenue"](spark, SF_ORACLE))
    assert "PushedFilters" in plan
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
        assert frag in pushed, frag
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_returnflag" not in read_schema  # unreferenced columns pruned


def test_zscore_outliers_single_shuffle(spark):
    """The exact-moment outlier count's window and its re-aggregate
    both key on l_suppkey, so the whole query must run on ONE
    exchange — a second one would mean the groupBy failed to reuse
    the window's partitioning."""
    import re

    plan = _plan(QUERIES["window_zscore_outliers"](spark, SF_ORACLE))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_pack_sequences_single_shard_shuffle(spark):
    """Sequence packing must never run a global (single-partition)
    prefix sum: exactly one hash exchange on shard_id, and no
    SinglePartition window anywhere."""
    import re

    plan = _plan(QUERIES["pipeline_pack_sequences"](spark, SF_ORACLE))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "SinglePartition" not in plan


def test_funnel_stages_share_user_key_no_nl_join(spark):
    """The funnel's three stage aggregates and two joins all key on
    user_id: every exchange must be a user_id hash partitioning (one
    partitioning reused down the plan) and nothing may degrade to a
    nested-loop/cartesian join — the shapes that would die at 100 TB."""
    plan = _plan_simple(QUERIES["funnel_view_click_purchase"](spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    keyed = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert keyed, "expected at least one hash exchange"
    for ln in keyed:
        assert "user_id" in ln, ln


def test_boolean_filtered_agg_partials(spark):
    """count_if/bool_and/bool_or must plan as a two-phase hash
    aggregate (map-side partial_* before the exchange) so the shuffle
    carries one tiny row per group per partition."""
    plan = _plan(QUERIES["agg_boolean_filtered"](spark, SF_ORACLE))
    assert "HashAggregate" in plan
    assert "partial_" in plan


def test_assoc_pairs_join_free_two_shuffles(spark):
    """The co-occurrence rewrite's contract: pair generation happens
    inside codegen from the basket array — no join operator anywhere,
    top-k via TakeOrderedAndProject, and only the basket-build and
    pair-count hash exchanges (plus take-ordered's singlePartition)."""
    plan = _plan_simple(QUERIES["assoc_part_pairs_in_orders"](spark, SF_ORACLE))
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "Reused" not in ln
    ]
    assert 1 <= len(hash_exchanges) <= 2, hash_exchanges


def test_inverted_index_single_token_shuffle(spark):
    """Inverted-index build: per-doc distinct happens map-side
    (array_distinct before explode), so the ONLY hash exchange keys on
    the token — the index sharding."""
    plan = _plan_simple(QUERIES["text_inverted_index"](spark, SF_ORACLE))
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "Reused" not in ln
    ]
    assert len(hash_exchanges) == 1 and "token" in hash_exchanges[0], hash_exchanges


def test_ewma_window_runs_over_aggregated_series(spark):
    """EWMA: the window must consume the daily AGGREGATE (tiny), never
    the raw event rows — i.e. the plan is agg-then-window, with the
    window keyed on event_type."""
    df = QUERIES["timeseries_ewma_daily_value"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Window" in plan and "HashAggregate" in plan
    # the aggregate appears below the window in the tree: the Window
    # operator's child chain must contain the HashAggregate
    win_idx = plan.index("Window")
    assert "HashAggregate" in plan[win_idx:] or plan.index("HashAggregate") < win_idx


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling, pinned end-to-end: a sort-merge join
    whose left side concentrates ~83% of its rows on ONE key must come
    out of adaptive execution with the hot partition SPLIT
    (``SortMergeJoin(skew=true)`` + an ``AQEShuffleRead .. skewed``
    reader) — runtime mitigation, zero query rewrite.

    When to rely on which skew tool:
      * JOINS → AQE. It measures real map-output sizes at the shuffle
        boundary and splits oversized partitions (replicating the
        matching build-side rows), so no key statistics are needed
        up front. This is why session.py ships adaptive + skewJoin
        enabled. Thresholds here are shrunk only so a test-sized
        dataset crosses them; production keeps the defaults (256MB /
        5x median).
      * AGGREGATIONS → salting (functions/skew.py). AQE cannot split
        an aggregation's partition, because rows of one group must
        meet in one task; pre-spreading the key over salt buckets is
        the only lever (tested in test_stateful_skew.py).
      * Joins where AQE is blind (the skew appears only after an
        upstream transform inflates rows, or the join is already
        bucketed so there is no exchange to re-read) → manual salting
        of the join key, same pattern.
    """
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # shrink thresholds so ~7MB of hot key counts as "skewed"
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        # force a sort-merge join: broadcasting the 1000-row dim would
        # (correctly) dodge the skew entirely — but then nothing is pinned
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(120_000).select(
            F.when(F.col("id") < 100_000, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.lpad(F.col("id").cast("string"), 64, "x").alias("payload"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("dim")
        )
        joined = left.join(right, "k")
        rows = joined.collect()  # AQE decides from runtime stats — must execute
        assert len(rows) == 120_000  # skew split must not duplicate/drop rows
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
        assert any(
            "AQEShuffleRead" in ln and "skewed" in ln for ln in plan.splitlines()
        ), plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cluster_survivors_singletons_avoid_corpus_shuffle(spark):
    """dedup_cluster_survivors' scale contract: the singleton path
    (the overwhelming majority of a real corpus) must be a BROADCAST
    anti-join — document rows never hash-shuffle just to learn they
    aren't clustered; only the tiny clustered slice feeds the ranking
    window."""
    plan = _plan_simple(QUERIES["dedup_cluster_survivors"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # no sort-merge anti-join anywhere (that would be the corpus shuffle)
    assert not any(
        "SortMergeJoin" in ln and "LeftAnti" in ln for ln in plan.splitlines()
    )


def test_ann_lsh_scores_mapside_and_broadcasts_queries(spark):
    """sim_ann_lsh_topk's scale contract, pinned after the 16.8x slope
    lesson (BASELINE.md §C): the query side BROADCASTS into the bucket
    equi-join (no corpus shuffle to meet queries), candidate dedup
    happens as partial_max BELOW its exchange (map-side combine — the
    fix that keeps vectors out of the shuffle), bucket ids come from
    the Arrow kernel, and nothing plans a cartesian."""
    df = QUERIES["sim_ann_lsh_topk"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "ArrowEvalPython" in plan  # the batched bucketizer
    # partial_max (map-side) must appear below the PAIR exchange —
    # the hashpartitioning(query_id, vec_id) one that consumes it —
    # i.e. deeper in the printed tree (later in the string)
    import re

    m = re.search(r"Exchange hashpartitioning\(query_id#\d+L?, vec_id", plan)
    assert m, plan[:1500]
    assert "partial_max" in plan[m.start() :]


def test_q7_nation_filters_below_big_joins(spark):
    """Q7's 2/25 nation selectivity must reach supplier/customer BEFORE
    they meet lineitem (Catalyst can't push the disjunctive pair
    predicate through by itself — the query pre-filters each dim), and
    nation must broadcast; no nested-loop join anywhere."""
    plan = _plan(QUERIES["q7_nation_volume_shipping"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the nation-name IN filter appears as a residual on the dim scans,
    # not only above the lineitem joins
    simple = _plan_simple(QUERIES["q7_nation_volume_shipping"](spark, SF_ORACLE))
    assert simple.count("NATION_1") >= 2  # supplier side + customer side


def test_q18_aggregates_before_joining(spark):
    """Q18 must collapse lineitem with HAVING before any join
    (aggregate-then-join), and the top-100 must be per-partition heaps
    (TakeOrderedAndProject), not a global sort."""
    df = QUERIES["q18_large_order_customers"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    simple = _plan_simple(df)
    # the lineitem aggregate (sum of quantity per orderkey) sits below
    # the first SortMergeJoin/BroadcastHashJoin in the tree: find the
    # aggregate line and assert a join appears before it top-down
    lines = simple.splitlines()
    first_join = next(i for i, l in enumerate(lines) if "Join" in l)
    agg_lines = [i for i, l in enumerate(lines) if "HashAggregate" in l]
    assert any(i > first_join for i in agg_lines)  # agg deeper than the join


def test_q17_single_window_no_self_join(spark):
    """Q17's per-part average is a window over l_partkey — exactly one
    pass over the filtered lineitem, no self-join (the naive
    formulation scans lineitem twice)."""
    plan = _plan_simple(QUERIES["q17_small_quantity_revenue"](spark, SF_ORACLE))
    assert plan.count("Scan parquet") == 2  # lineitem once + part once
    assert "windowspecdefinition(l_partkey" in plan


def test_bpe_pairs_codegen_fanout_take_ordered(spark):
    """BPE pair counting: pairs generated inside codegen (zip_with of
    two slices — no posexplode self-join), one map-side-combined
    aggregate, top-200 via TakeOrderedAndProject."""
    df = QUERIES["pipeline_bpe_merge_pairs"](spark, SF_ORACLE)
    plan = _plan_simple(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") == 2  # partial + final, nothing else
    assert "Join" not in plan
    # the tokenizing split must be evaluated once per row: no Filter
    # node below the Project re-running it (the size>=2 pushdown trap)
    assert "- Filter " not in plan  # node match; scan lines say "DataFilters:"


def test_contamination_score_broadcasts_benchmark(spark):
    """The benchmark shingle set must broadcast (eval sets are tiny by
    nature); the corpus-side membership test is a broadcast left-semi —
    the corpus never shuffles for the contamination test itself."""
    plan = _plan(QUERIES["pipeline_contamination_score"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_runtime_bloom_filter_prunes_big_side(spark):
    """Runtime row-level filtering, pinned end-to-end: a shuffle join
    whose build side carries a selective filter must get a BLOOM
    FILTER injected on the probe side — lineitem rows whose orderkey
    cannot match are dropped BEFORE the shuffle, cutting exchange
    volume by the build side's selectivity. The plan shows a
    bloom_filter_agg on the filtered orders keys and a
    might_contain probe on lineitem.

    When this fires at scale: Spark injects it when the application
    side scans > applicationSideScanSizeThreshold (default 10GB —
    i.e. exactly the 100 TB fact-table case; shrunk to 0 here so a
    test-sized scan qualifies) and the creation side is under
    creationSideThreshold post-filter. It complements AQE: AQE fixes
    partition sizes after the shuffle, the bloom filter avoids
    shuffling non-joining rows at all. With broadcast joins there is
    no exchange to prune — which is why the test pins the
    sort-merge-join path."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        o = (
            spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
            .where(F.col("o_orderpriority") == "1-URGENT")
            .where(F.col("o_totalprice") > 400000)
        )
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
            "o_orderpriority"
        ).count()
        plan = _plan_simple(j)
        assert "bloom_filter_agg" in plan, plan[:1500]
        assert "might_contain" in plan, plan[:1500]
        # and the probe sits below lineitem's exchange, not above it
        lines = plan.splitlines()
        probe = next(i for i, ln in enumerate(lines) if "might_contain" in ln)
        assert any("Scan parquet" in ln and "lineitem" in ln for ln in lines[probe:])
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tokenizer_apply_vocab_topk_and_broadcast(spark):
    """Tokenizer application: the vocabulary must be learned via
    TakeOrderedAndProject (top-100 of the type table, never a global
    sort) and applied via a broadcast join on the exploded tokens —
    the corpus-side rows must not shuffle for the vocab lookup."""
    plan = _plan(QUERIES["pipeline_tokenizer_apply"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_q13_aggregates_orders_before_outer_join(spark):
    """Q13's custkey shuffle must carry one (custkey, count) row per
    customer, not raw orders: the orders-side aggregate sits BELOW the
    outer join in the plan (aggregate-before-join)."""
    df = QUERIES["q13_customer_order_distribution"](spark, SF_ORACLE)
    lines = _plan_simple(df).splitlines()
    first_join = next(i for i, l in enumerate(lines) if "Join" in l)
    assert any("HashAggregate" in l for l in lines[first_join:]), lines


def test_full_prep_three_exchanges_broadcast_anti(spark):
    """The composed prep pipeline's shuffle budget: exactly four
    exchanges — ONE corpus-sized (the content-hash dedup window) and
    three bounded/tiny (benchmark-shingle distinct over 5 docs,
    contaminated-id distinct bounded by the benchmark's reach, 3-row
    report agg). The anti join rides a BROADCAST of the contaminated
    set, never re-shuffling the deduped corpus on doc_id."""
    import re

    plan = _plan(QUERIES["pipeline_full_prep_report"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "LeftSemi" in plan  # benchmark shingles semi join
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 4


def test_q21_single_lineitem_shuffle_no_self_join(spark):
    """Q21's rewrite contract: the EXISTS/NOT-EXISTS double self-join
    becomes ONE aggregation over (order, supplier) lateness — lineitem
    is scanned exactly once, and the top-100 is per-partition heaps."""
    df = QUERIES["q21_waiting_supplier"](spark, SF_ORACLE)
    plan = _plan_simple(df)
    scan_lines = [l for l in plan.splitlines() if "Scan parquet" in l]
    assert sum("lineitem" in l for l in scan_lines) == 1, scan_lines
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q19_pushes_disjunction_implications(spark):
    """Q19's cross-side OR can't be pushed by Catalyst; the query must
    pre-push each side's common implication — brand IN (...) reaches
    the part SCAN as a pushed filter and the quantity bound reaches the
    lineitem scan — and the pruned part side must broadcast."""
    df = QUERIES["q19_disjunctive_revenue"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("In(p_brand" in l for l in pushed), pushed
    assert any("LessThanOrEqual(l_quantity,30.0)" in l for l in pushed), pushed


def test_q2_window_on_aggregated_pairs_only(spark):
    """Q2's correlated min must be a window over the ALREADY-AGGREGATED
    (part, supplier) cost rows — lineitem scanned once, the min-cost
    comparison never re-joins lineitem, and the part/supplier dims
    broadcast into the aggregated frame."""
    df = QUERIES["q2_min_cost_supplier"](spark, SF_ORACLE)
    plan = _plan_simple(df)
    scan_lines = [l for l in plan.splitlines() if "Scan parquet" in l]
    assert sum("lineitem" in l for l in scan_lines) == 1, scan_lines
    assert "windowspecdefinition(p_partkey" in plan
    assert "TakeOrderedAndProject" in plan


def test_q15_revenue_view_cached_for_both_consumers(spark):
    """Q15's revenue view feeds the max AND the equality filter; the
    plan must read it from the persisted InMemoryRelation on both
    branches instead of re-aggregating lineitem twice."""
    df = QUERIES["q15_top_supplier"](spark, SF_ORACLE)
    plan = _plan_simple(df)
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_scd2_shuffles_key_on_user_only(spark):
    """SCD2 interval construction: every exchange in the plan must
    hash on a user_id-prefixed key — no global sort, no broadcast of
    the event stream, no key change that would defeat pre-bucketing."""
    df = QUERIES["scd2_user_event_intervals"](spark, SF_ORACLE)
    simple = _plan_simple(df)
    for line in simple.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "user_id" in line, line
    assert "Exchange rangepartitioning" not in simple


def test_checksum_is_map_plus_single_row_agg(spark):
    """The table checksum must be scan → partial agg → one-row final
    agg: the only exchange is the SinglePartition gather of partial
    sums — nothing else moves."""
    import re

    plan = _plan(QUERIES["checksum_orders_table"](spark, SF_ORACLE))
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, plan
    assert "SinglePartition" in plan


def test_key_skew_profiler_heaps_before_window(spark):
    """The skew profiler must take its top-20 with per-partition heaps
    (TakeOrderedAndProject) BEFORE the rank/cumsum window — a global
    window over the full key-count table would funnel a billion-key
    keyspace through one task at 100 TB."""
    plan = _plan(QUERIES["profile_lineitem_key_skew"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan


def test_tpch_roundout_plan_shapes(spark):
    """Compact pins for the remaining round-out shapes: Q4 plans a
    LEFT SEMI (EXISTS — no fanout) with its date filter pushed to the
    orders scan; Q10's top-20 is per-partition heaps; Q16's blocklist
    is a broadcast LEFT ANTI; Q20's correlated share is a window over
    the aggregated pairs with lineitem scanned once."""
    q4 = _plan(QUERIES["q4_order_priority_checking"](spark, SF_ORACLE))
    assert "LeftSemi" in q4
    assert any("o_orderdate" in l for l in q4.splitlines() if "PushedFilters" in l)

    q10 = _plan(QUERIES["q10_returned_item_customers"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in q10

    q16 = _plan(QUERIES["q16_supplier_part_counts"](spark, SF_ORACLE))
    assert "LeftAnti" in q16 and "BroadcastHashJoin" in q16

    q20 = _plan_simple(QUERIES["q20_excess_share_suppliers"](spark, SF_ORACLE))
    scan_lines = [l for l in q20.splitlines() if "Scan parquet" in l]
    assert sum("lineitem" in l for l in scan_lines) == 1, scan_lines
    assert "windowspecdefinition(l_partkey" in q20


def test_span_dedup_join_free_two_shuffles(spark):
    """Span dedup's scale contract (mirrors assoc_part_pairs): window
    enumeration and pair generation both happen inside codegen, so the
    plan has NO join operator and exactly two hash exchanges — the
    span group-build and the pair count."""
    plan = _plan_simple(QUERIES["dedup_span_pairs"](spark, SF_ORACLE))
    assert "Join" not in plan
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "Reused" not in ln
    ]
    assert len(hash_exchanges) == 2, hash_exchanges


def test_count_min_probe_broadcasts_sketch(spark):
    """The CM sketch probe's scale contract: the counter table (<= d*w
    rows) joins as the BROADCAST side, so probing never shuffles the
    candidate stream for the join — its only hash exchanges are the
    sketch build's counter aggregate, the candidate distinct, and the
    min-fold per key."""
    plan = _plan_simple(QUERIES["sketch_count_min_md5_topk"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_tfidf_rerank_is_cartesian_free(spark):
    """The two-stage rerank composes the banded-LSH candidate plan
    with weight joins keyed on (doc, term) — every join in the final
    plan must be an equi join (no cartesian/broadcast-nested-loop
    anywhere, the same contract pinned for the LSH stage alone)."""
    plan = _plan_simple(QUERIES["sim_tfidf_rerank_pairs"](spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gopher_flags_map_only(spark):
    """The Gopher rule suite is a pure projection riding the scan: no
    Exchange, no Python, and the wide unused columns pruned away."""
    plan = _plan(QUERIES["text_gopher_quality_flags"](spark, SF_ORACLE))
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_url_normalize_dedup_single_agg_no_python(spark):
    """URL canonicalization is codegen'd regexp surgery plus the one
    dedup-key aggregation: the only exchanges are the two-phase
    distinct-count aggregation on canonical_url (partial/final of one
    logical shuffle boundary) — no Python, no join, no extra shuffle
    of the corpus."""
    df = QUERIES["pipeline_url_normalize_dedup"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "Join" not in plan
    simple = _plan_simple(df)
    exchanges = [ln for ln in simple.splitlines() if "Exchange" in ln]
    assert 1 <= len(exchanges) <= 2
    assert all("canonical_url" in ln for ln in exchanges)


def test_knn_vote_two_phase_topk_and_broadcast_queries(spark):
    """The vote pipeline keeps sim_cosine_topk's scale contract: query
    set broadcast (corpus never shuffles for the join), per-partition
    local rank prunes to <= k before the single wide top-k shuffle."""
    df = QUERIES["sim_knn_label_vote"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastExchange" in plan
    assert plan.count("SortMergeJoin") == 0
    # local-rank phase: the first window exchange keys on
    # (query_id, spark_partition_id) — materialized as _w0 — so the
    # global top-k exchange only ever sees <= k rows per partition
    simple = _plan_simple(df)
    assert any(
        "hashpartitioning(query_id" in ln and "_w0" in ln
        for ln in simple.splitlines()
        if "Exchange" in ln
    )


def test_semdedup_fixed_cells_equi_join_dominance(spark):
    """The oracled SemDeDup twin must confine its quadratic work the
    same way the k-means variant does: the dominance self-join is an
    EQUI join keyed on cell (never a cartesian/nested-loop over the
    corpus), and the only nested-loop anywhere is the deliberate
    16-row broadcast centroid assignment."""
    plan = _plan_simple(QUERIES["sim_semdedup_fixed_cells"](spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    joins = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln]
    assert any("cell" in ln for ln in joins), joins
    # nested-loop joins are ONLY the 16-row broadcast centroid
    # assignment, which the dominance self-join's lineage replays once
    # per side — bounded by construction, not a corpus-squared shape
    bnl = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(bnl) <= 2


def test_hard_negatives_broadcast_two_phase_topk(spark):
    """Hard-negative mining's scale contract (sim_cosine_topk's shape):
    the query set joins as the BROADCAST side with the label predicate
    fused into the join (no SMJ/shuffled join anywhere), and the
    two-phase top-k's per-partition prune appears as the
    spark_partition_id window BELOW the global rank window."""
    plan = _plan_simple(QUERIES["sim_hard_negatives"](spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "SPARK_PARTITION_ID" in plan.upper()


def test_span_novelty_no_pair_join_linear_output(spark):
    """Span novelty must never form a pair join: its only join is the
    span-to-df equi join (span key), and the plan has no cartesian or
    nested-loop operator — the linear-output contract that
    distinguishes it from dedup_span_pairs."""
    plan = _plan_simple(QUERIES["text_span_novelty"](spark, SF_ORACLE))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    join_lines = [
        ln for ln in plan.splitlines()
        if ("Join" in ln and "BroadcastExchange" not in ln)
    ]
    assert all("span" in ln for ln in join_lines), join_lines


def test_frame_sample_no_shuffle(spark):
    """The 1-to-N frame fan-out happens inside the Arrow batch: the
    streaming-side plan up to the digest projection has NO exchange at
    all (frames inherit the scan partitioning — the per-video locality
    contract in the docstring)."""
    plan = _plan_simple(QUERIES["multimodal_frame_sample"](spark, SF_ORACLE))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan


def test_span_dedup_gate_filters_before_collect(spark):
    """The round-6 count gate: the window count + [2,cap] filter must
    sit BELOW the collect_set object aggregate, so per-group object
    state only ever materializes for spans that emit pairs."""
    plan = _plan_simple(QUERIES["dedup_span_pairs"](spark, SF_ORACLE))
    lines = plan.splitlines()
    obj = min(i for i, ln in enumerate(lines) if "ObjectHashAggregate" in ln)
    win = min(i for i, ln in enumerate(lines) if ln.strip().startswith("+- Window") or " Window " in ln)
    flt = min(
        i for i, ln in enumerate(lines) if "Filter" in ln and "n_docs" in ln
    )
    # deeper in the tree = later line in simple-mode output
    assert obj < flt <= win or obj < win, (obj, flt, win)


def test_interval_overlap_equi_join_only(spark):
    """The binned interval join must stay an EQUI join on the bucket
    id: no cartesian, no nested-loop over the interval sets (the
    naive theta-join shape), overlap verified post-join."""
    plan = _plan_simple(QUERIES["join_interval_overlap"](spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_overlap_window_on_minute_reduction(spark):
    """The incident gaps-and-islands window is keyless by nature, so
    its SinglePartition exchange must feed from the per-MINUTE bucket
    reduction (partial/final hash aggregate — time-span-bounded rows),
    never directly from the corpus-sized error scan."""
    simple = _plan_simple(QUERIES["join_interval_overlap"](spark, SF_ORACLE))
    lines = simple.splitlines()
    (sp_idx,) = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    subtree = lines[sp_idx + 1:]
    agg_idx = next(
        i for i, ln in enumerate(subtree)
        if "HashAggregate" in ln and "partial_min" in ln
    )
    scan_idx = next(i for i, ln in enumerate(subtree) if "FileScan" in ln)
    assert agg_idx < scan_idx, simple


def test_filter_funnel_single_scan_no_join(spark):
    """All four funnel predicates ride ONE corpus scan (the 4-pass
    shape would be 4x the IO); the funnel rows explode from the
    one-row aggregate — no join, no Python."""
    df = QUERIES["pipeline_filter_funnel"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Join" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert _plan_simple(df).count("Scan parquet") == 1


def test_nb_language_filter_broadcast_scoring(spark):
    """The NB classifier's scoring join must broadcast the vocab-sized
    count table (map-side scoring — the corpus never shuffles for the
    join); the only nested loops are the one-row totals/priors. Pinned
    on the FIT plan (the registered query returns the session-shared
    scored scratch, whose plan is just the parquet scan)."""
    from vector_db_core_spark.operators.pipeline import _nb_fit_score

    plan = _plan_simple(_nb_fit_score(spark, SF_ORACLE))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_paragraph_keep_first_two_shuffles_no_join(spark):
    """Paragraph dedup is segment-enumeration in codegen + exactly two
    hash shuffles (keep-first window on seg, per-doc rollup) — no
    join, no Python, one corpus scan."""
    df = QUERIES["dedup_paragraph_keep_first"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Join" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert _plan_simple(df).count("Scan parquet") == 1
    simple = _plan_simple(df)
    exchanges = [
        ln for ln in simple.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln
    ]
    assert len(exchanges) == 2, exchanges


def test_streak_islands_windows_share_partitioning(spark):
    """Gaps-and-islands runs on the distinct (user, day) REDUCTION:
    the corpus-sized shuffle is the distinct; all per-user windows
    share the user_id partitioning (no third exchange)."""
    df = QUERIES["window_streak_islands"](spark, SF_ORACLE)
    simple = _plan_simple(df)
    exchanges = [
        ln for ln in simple.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln
    ]
    assert len(exchanges) == 2, exchanges


def test_mode_frequency_window_on_reduction(spark):
    """Mode = reduce-then-rank: the row_number window must key on the
    candidate-count reduction (o_orderstatus), never sort the fact
    table — two exchanges total."""
    df = QUERIES["agg_mode_frequency"](spark, SF_ORACLE)
    simple = _plan_simple(df)
    exchanges = [
        ln for ln in simple.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln
    ]
    assert len(exchanges) == 2, exchanges


def test_logprob_family_single_corpus_scan(spark):
    """The LM-scoring family reduces from ONE persisted doc-term-
    frequency table (the pipeline_dsir_weights replan): every
    consumer (vocab freq / corpus total / scoring) reads the cached
    InMemoryRelation, never the parquet file directly — the FileScan
    lines under each InMemoryRelation are the cache's materialization
    recipe, executed once. The vocab table broadcasts."""
    for name, n_consumers in (
        ("text_unigram_logprob", 3),
        # buckets layers a second persist (lp) with 2 consumers on top
        ("text_perplexity_buckets", 2),
    ):
        simple = _plan_simple(QUERIES[name](spark, SF_ORACLE))
        assert simple.count("InMemoryTableScan") >= n_consumers, name
        # no parquet scan OUTSIDE a cached-relation recipe: every
        # FileScan line sits under an InMemoryRelation block
        lines = simple.splitlines()
        im_cols = [len(l) - len(l.lstrip(" :+-")) for l in lines if "InMemoryRelation" in l]
        for i, l in enumerate(lines):
            if "FileScan parquet" in l:
                depth = len(l) - len(l.lstrip(" :+-"))
                assert any(c < depth for c in im_cols), (name, l)


def test_pca_exact_covariance_no_vec_keyed_self_join(spark):
    """The exact-PCA covariance build must be the zero-fan-out
    treeAggregate fold, not the (label, vec_id)-keyed self-join
    (d² = 4,096 generated rows per vector): no join or shuffle
    anywhere in the plan may key on vec_id, and the mean-vector
    join back onto the corpus must broadcast."""
    simple = _plan_simple(QUERIES["sim_pca_power_iteration_exact"](spark, SF_ORACLE))
    for ln in simple.splitlines():
        if "Exchange" in ln or "Join" in ln:
            assert "vec_id" not in ln, ln
    assert "BroadcastHashJoin" in simple


def test_zipf_fit_head_rank_take_ordered(spark):
    """The Zipf fit ranks only the top-10k head: the head selection
    must plan as TakeOrderedAndProject (per-partition heaps), so the
    only single-partition window runs on <= 10k rows — never a
    vocab-sized global sort."""
    plan = _plan(QUERIES["text_zipf_fit"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan


def test_pattern_sequences_single_shuffle_no_python(spark):
    """Sessionized pattern matching: the session aggregate is the
    only data-sized exchange; regexes run in codegen (no Python)."""
    df = QUERIES["pattern_session_sequences"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "CartesianProduct" not in plan


def test_timeseries_windows_on_reductions(spark):
    """CUSUM / MoM: every keyless or low-card window feeds from the
    day- or month-rolled reduction (partial hash aggregate before any
    SinglePartition exchange), never the raw corpus."""
    for name in ("timeseries_cusum_changepoint", "timeseries_month_over_month"):
        simple = _plan_simple(QUERIES[name](spark, SF_ORACLE))
        lines = simple.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            subtree = lines[i + 1:]
            agg = next(
                (j for j, l in enumerate(subtree) if "HashAggregate" in l and "partial_" in l),
                None,
            )
            scan = next(j for j, l in enumerate(subtree) if "FileScan" in l)
            assert agg is not None and agg < scan, (name, ln)


def test_oversample_corpus_never_shuffles(spark):
    """Rebalancing: class counts broadcast back; the document scan
    reaches the explode through zero non-broadcast exchanges."""
    df = QUERIES["pipeline_oversample_minority"](spark, SF_ORACLE)
    simple = _plan_simple(df)
    # the only exchanges allowed are broadcasts and the tiny count
    # aggregate's — no exchange may carry doc_id rows
    for ln in simple.splitlines():
        if "Exchange" in ln and "Broadcast" not in ln:
            assert "doc_id" not in ln, ln
    assert "BroadcastHashJoin" in simple


def test_drift_kl_single_scan_broadcast_totals(spark):
    """Train/val drift: both consumers (per-token rows, one-row
    totals) read the PERSISTED vocab reduction — exactly one corpus
    FileScan in the plan (inside the InMemoryRelation recipe),
    totals broadcast."""
    df = QUERIES["pipeline_unigram_drift_kl"](spark, SF_ORACLE)
    simple = _plan_simple(df)
    try:
        assert simple.count("InMemoryTableScan") >= 2, simple
        assert "BroadcastExchange" in simple
        # every FileScan sits inside a cached-relation recipe (the
        # text_unigram_logprob assertion): no direct corpus re-read
        lines = simple.splitlines()
        im_cols = [len(l) - len(l.lstrip(" :+-")) for l in lines if "InMemoryRelation" in l]
        for l in lines:
            if "FileScan parquet" in l:
                depth = len(l) - len(l.lstrip(" :+-"))
                assert any(c < depth for c in im_cols), l
    finally:
        spark.catalog.clearCache()


def test_topn_ties_rank_window_on_pruned_candidates(spark):
    """The rank window must consume the threshold-pruned join output
    (a Filter on n_orders >= thr between the window and the corpus
    aggregate), not the full customer reduction."""
    simple = _plan_simple(QUERIES["group_topn_with_ties"](spark, SF_ORACLE))
    lines = simple.splitlines()
    win = next(i for i, ln in enumerate(lines) if "Window" in ln and "rank(" in ln)
    joined = next(
        (i for i, ln in enumerate(lines[win:]) if "Join" in ln and "thr" in ln), None
    )
    assert joined is not None, simple


def test_kmeans_exact_broadcast_centroids_no_corpus_window(spark):
    """Lloyd iterations: centroid tables broadcast (k rows); the only
    row_number window is the 4-row seed pick; assignment is a
    min(struct) aggregate, so no window may key on vec_id."""
    plan = _plan_simple(QUERIES["sim_kmeans_lloyd_exact"](spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" in plan  # k-row centroid crossJoin
    for ln in plan.splitlines():
        if "Window" in ln:
            assert "vec_id" not in ln.split("windowspecdefinition")[-1].split(",")[0], ln


def test_minhash_md5_estimate_no_all_pairs(spark):
    """The gated estimator must stay banded: no cartesian, no
    nested-loop over documents. Pin the BUILD plan (what the scratch
    materializes) — the registered query itself is a scratch scan."""
    from vector_db_core_spark.operators import llm as L

    plan = _plan(L._minhash_est_build(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gini_and_theil_sen_reduce_before_ranking(spark):
    """Gini's global ranking window and Theil-Sen's pairwise self-join
    must feed from the per-customer / per-day reduction (partial hash
    aggregate between the scan and any SinglePartition exchange or
    join), never the raw fact table — the reduce-then-rank/pair
    discipline that keeps both ops corpus-size-independent past the
    first rollup."""
    for name in ("agg_gini_customer_spend", "timeseries_theil_sen_trend"):
        simple = _plan_simple(QUERIES[name](spark, SF_ORACLE))
        lines = simple.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            subtree = lines[i + 1:]
            agg = next(
                (j for j, l in enumerate(subtree) if "HashAggregate" in l and "partial_" in l),
                None,
            )
            scan = next(j for j, l in enumerate(subtree) if "FileScan" in l)
            assert agg is not None and agg < scan, (name, ln)
        assert "Python" not in simple and "CartesianProduct" not in simple


def test_gini_lorenz_rank_is_two_phase_range_sort(spark):
    """The inequality pair ranks the customer reduction with the
    DISTRIBUTED two-phase protocol (range-partitioned parallel sort +
    constant prefix offsets — store._dense_rowid_frame), replacing
    the former single-task W.orderBy window (the verdict's named
    perf-weak point): the rank sort must be within-partition only
    (global=false under a rangepartitioning exchange), and no window
    function may touch the customer rows — the only window allowed is
    Lorenz's 10-row cumulative share over the decile aggregate."""
    for name in ("agg_gini_customer_spend", "agg_lorenz_deciles"):
        simple = _plan_simple(QUERIES[name](spark, SF_ORACLE))
        assert "rangepartitioning" in simple, name
        for ln in simple.splitlines():
            if "Sort [cents" in ln:
                assert ", false, 0" in ln, (name, ln)
            if "windowspecdefinition" in ln:
                # spec may AGGREGATE cents (the cumulative share) but
                # must sort only the 10-row decile table, never the
                # customer rows
                assert "windowspecdefinition(decile" in ln, (name, ln)
        spark.catalog.clearCache()


def test_triangle_estimate_samples_before_orientation(spark):
    """The DOULION sample predicate must sit below the degree
    aggregate and wedge joins (orientation runs on the thinned graph,
    the whole point of the twin); no Python, no cartesian product."""
    plan = _plan_simple(QUERIES["graph_triangle_estimate"](spark, SF_ORACLE))
    assert "Python" not in plan and "CartesianProduct" not in plan
    # the sampled-edge relation is built once and reused (persisted):
    # its md5 filter appears, and every wedge join input is a reuse of
    # the same InMemoryRelation rather than a re-derivation
    assert "md5" in plan
    assert "InMemoryTableScan" in plan


def test_link_prediction_plans(spark):
    """Link-prediction pair: the all-pairs baseline's global top-100
    must be TakeOrderedAndProject (top-k cost, never a global sort);
    the seeded twin's query-set predicate must exist as a pushed
    filter (seed-rooted wedges only) and neither plan may fall back
    to a cartesian product or Python."""
    from vector_db_core_spark.operators.analytics import LINK_SEED_MAX_KEY

    plan = _plan_simple(QUERIES["graph_jaccard_link_prediction"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan and "Python" not in plan

    plan = _plan_simple(QUERIES["graph_link_prediction_seeded"](spark, SF_ORACLE))
    assert f"<= {LINK_SEED_MAX_KEY}" in plan  # seed filter pushed to the scan side
    assert "CartesianProduct" not in plan and "Python" not in plan
    # the top-5 cut is a per-seed window over reduced rows, not a sort
    # of the candidate space
    assert "TakeOrderedAndProject" not in plan
    spark.catalog.clearCache()


def test_phash_neardup_joins_on_lsh_bands(spark):
    """The perceptual-hash near-dup must join candidates on the LSH
    band keys (k, bv) — never all-pairs — and the signature must come
    from the Arrow mapInPandas decode path (the real multimodal
    plumbing, not a JVM re-derivation)."""
    plan = _plan_simple(QUERIES["multimodal_phash_neardup"](spark, SF_ORACLE))
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    # equi-join on both band coordinates
    assert "k#" in plan and "bv#" in plan


def test_round11_topk_cuts_are_takeordered(spark):
    """The two bounded-cut ops must plan their K-row cuts as
    TakeOrderedAndProject (per-partition top-K + merge), never a
    global sort, and BM25 must semi-join the query terms down to
    matching postings via broadcast before scoring."""
    plan = _plan_simple(QUERIES["pipeline_review_queue"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    plan = _plan_simple(QUERIES["text_bm25_ranking"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_round11_phash_wide_banded_join_plan(spark):
    """The 63-bit scale twin keeps the 28-bit op's plan shape: band
    equi-join, Arrow decode path, no all-pairs."""
    plan = _plan_simple(QUERIES["multimodal_phash_neardup_wide"](spark, SF_ORACLE))
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "k#" in plan and "bv#" in plan


def test_anova_single_corpus_scan(spark):
    """The ANOVA grand totals are windows over the 5-row priority
    grid, not crossJoins against re-aggregated branches — the corpus
    must be scanned exactly once (the contingency-marginals
    discipline)."""
    plan = (
        QUERIES["agg_anova_oneway"](spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("orders.parquet") == 1, plan.count("orders.parquet")


def test_kmeans_assignment_is_centroid_array_fold(spark):
    """The Lloyd assignment argmin folds over the centroid table
    collapsed to ONE broadcast array row (array_min over (dist, cid)
    structs) — the old form fanned the corpus out k-times and
    re-collapsed it with a groupBy(vec_id) min(struct) exchange per
    assign. The fold keeps the identical lexicographic tie-break
    (lowest cid wins) because array_min orders structs field-by-field
    exactly like the min(struct) aggregate did."""
    plan = _plan_simple(QUERIES["sim_kmeans_lloyd_exact"](spark, SF_ORACLE))
    assert "array_min" in plan
    # the one-row centroid-array crossJoin stays a broadcast NL join
    assert "BroadcastNestedLoopJoin" in plan


def test_link_prediction_degree_table_computed_once(spark):
    """graph_link_prediction_seeded's degree table is persisted
    for its three join arms (dw/du/dv) — the unpersisted plan cloned
    the union+aggregate degree subtree per consumer (22 scans of the
    edge scratch). The cached table must appear in the plan, and the
    adjacency must come from ONE exploded scan, not a two-scan union."""
    plan = _plan_simple(QUERIES["graph_link_prediction_seeded"](spark, SF_ORACLE))
    assert "InMemoryTableScan" in plan


def test_round14_shingle_hashes_no_window_no_exchange(spark):
    """The shingle-hash builder indexes the carried token array
    inside codegen (element_at over an exploded position sequence) —
    the former window-lead path paid a corpus-wide (doc_id, pos, token)
    exchange + sort per consumer. The subplan must stay shuffle-free
    and window-free; output is multiset-identical by construction."""
    from vector_db_core_spark.operators.llm import _shingle_hashes, _t

    plan = _plan(_shingle_hashes(_t(spark, SF_ORACLE, "documents")))
    assert "Window" not in plan
    assert "Exchange" not in plan
