"""Plan-shape regression tests: lock in the physical-plan claims SCALE.md
and the operator docstrings make. These are the 100 TB invariants — a
correctness-green change that silently doubles the scans or adds a Python
pass would still regress here.

All assertions run on the AQE-FINAL plan (collect first; before execution
AdaptiveSparkPlan only shows the initial, pre-reuse plan).
"""

import re

import pytest

from adb_south_caucasus_etl_spark.sources.registry import Catalog
from adb_south_caucasus_etl_spark.workload import WORKLOAD

SF = "/root/testdata/sf0.001"


def _final_plan(df):
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan or "AdaptiveSparkPlan" not in plan
    return plan.split("== Initial Plan ==")[0]


def _exchanges(plan: str) -> int:
    return len(re.findall(r"\bExchange (hash|range|Single)", plan))


def test_flagship_one_exchange_four_broadcasts(spark):
    """The star query: 4 broadcast-hash joins over ONE lineitem pass; the
    only shuffle is the final drilldown aggregation."""
    plan = _final_plan(WORKLOAD["cube_flagship_revenue"].fn(spark, SF))
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert _exchanges(plan) == 1, plan
    # the cut is pushed into the parquet scan, not applied post-join
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)" in plan


def test_jaccard_self_join_shares_one_subtree(spark):
    """The inverted-index self-join must read ONE shared shingle pipeline.
    r16 shape: the capped posting frame is localCheckpoint-pinned (the
    explode/window chain runs exactly once, in the eager pin job), so the
    final pair plan reads ONLY the pinned RDD — zero parquet scans — and
    the two self-join sides share one exchange over it (ReusedExchange)."""
    plan = _final_plan(WORKLOAD["neardup_jaccard_pairs"].fn(spark, SF))
    assert plan.count("ReusedExchange") >= 1, plan
    assert len(re.findall(r"FileScan parquet", plan)) == 0, plan
    assert "Scan ExistingRDD" in plan, plan


def test_simhash_single_python_pass(spark):
    """SimHash: exactly ONE ArrowEvalPython in the final plan — join-key
    constraint inference must not re-evaluate the UDF per side (the naive
    plan ran it 4x; see SCALE.md Catalyst facts)."""
    plan = _final_plan(WORKLOAD["simhash_near_pairs"].fn(spark, SF))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert len(re.findall(r"FileScan parquet", plan)) == 1, plan


def test_topk_pushes_window_group_limit(spark):
    """Top-k per group: WindowGroupLimit prunes partitions to k rows before
    the final sort (the documented O3 scale shape)."""
    plan = _final_plan(WORKLOAD["topk_customers_per_region"].fn(spark, SF))
    assert "WindowGroupLimit" in plan, plan


def test_q6_filters_reach_scan(spark):
    """TPC-H q6 shape: every predicate is pushed to the parquet scan."""
    plan = _final_plan(WORKLOAD["q6_forecast_revenue"].fn(spark, SF))
    m = re.search(r"PushedFilters: \[([^\]]*)", plan)
    assert m, plan
    pushed = m.group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed


def test_curation_pipeline_two_window_shuffles(spark):
    """The composed curate() plan: quality projection fuses; only the
    fingerprint-dedup window and the per-source cap window shuffle."""
    plan = _final_plan(WORKLOAD["curation_pipeline"].fn(spark, SF))
    assert len(re.findall(r"FileScan parquet", plan)) == 1, plan
    assert _exchanges(plan) == 2, plan


def test_scan_prunes_columns(spark):
    """Column pruning: a 2-column projection must not read the whole table."""
    df = Catalog(spark, SF).lineitem.select("l_orderkey", "l_quantity")
    plan = _final_plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    assert set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_orderkey", "l_quantity",
    }


def test_q7_broadcasts_both_dim_paths(spark):
    """q7: supplier/nation dims broadcast on BOTH paths; the only hash
    exchanges belong to the fact-side joins and the final aggregate.
    Runs at sf0.01: at sf0.001 the nation-pair filter matches nothing and
    AQE collapses the join subtree to EmptyRelation."""
    plan = _final_plan(WORKLOAD["q7_nation_volume"].fn(spark, "/root/testdata/sf0.01"))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_q19_disjunction_prunes_scan(spark):
    """q19: Catalyst derives single-table residuals from the OR-of-
    conjuncts — the part scan must carry a brand IN-list (Or(EqualTo...)
    pushed filter), not a bare scan. sf0.01 for the same EmptyRelation
    reason as q7."""
    plan = _final_plan(WORKLOAD["q19_disjunctive_revenue"].fn(spark, "/root/testdata/sf0.01"))
    assert re.search(r"PushedFilters: \[[^\]]*p_brand", plan), plan
    assert re.search(r"PushedFilters: \[[^\]]*l_quantity", plan), plan


def test_decontaminate_broadcasts_test_set(spark):
    """Decontamination: the global test n-gram set is broadcast — the
    train side must NOT shuffle for the probe join."""
    plan = _final_plan(WORKLOAD["curation_decontaminate"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_shard_assign_no_exchange_before_agg(spark):
    """assign_shards is a pure projection: exactly one exchange (the
    shard aggregate), nothing for the assignment itself."""
    plan = _final_plan(WORKLOAD["curation_shard_assign"].fn(spark, SF))
    assert _exchanges(plan) == 1, plan


def test_repetition_stats_single_scan_generate_bare(spark):
    """All statistics are per-document, so the final plan must be one
    shuffle-free projection over one documents scan: no Generate
    (the old explode -> double groupBy -> join-back path shuffled every
    token row twice; its Generate additionally risked carrying the
    2-gram transform through it, the measured 60x trap) and no
    Exchange at all — top_cnt comes from the longest equal run of the
    sorted token array, evaluated row-side."""
    plan = _final_plan(WORKLOAD["text_repetition_stats"].fn(spark, SF))
    assert "Generate" not in plan, plan
    assert "Exchange" not in plan, plan
    scans = re.findall(r"FileScan parquet[^\n]*", plan)
    assert len(scans) == 1, scans


def test_rollup_serve_reads_only_rollup(spark):
    """Serving from a materialized rollup must scan the rollup parquet
    only — never the fact table."""
    plan = _final_plan(WORKLOAD["rollup_materialized_serve"].fn(spark, SF))
    scans = re.findall(r"FileScan parquet[^\n]*", plan)
    assert scans and all("lineitem" not in s for s in scans), scans


def test_q10_take_ordered_not_global_sort(spark):
    """Global ORDER BY + LIMIT must plan TakeOrderedAndProject (per-
    partition top-k + k-row merge), never a full global Sort."""
    plan = _final_plan(WORKLOAD["q10_returned_items_top20"].fn(spark, "/root/testdata/sf0.01"))
    assert "TakeOrderedAndProject" in plan, plan


def test_q9_broadcasts_filtered_dims_one_exchange(spark):
    """q9: part (pre-filtered by the LIKE), supplier, and nation all
    broadcast — ONE lineitem pass, the only hash exchange is the final
    (nation, yr) aggregate; the p_name predicate reaches the part scan.
    sf0.01 for the q7 EmptyRelation reason."""
    plan = _final_plan(WORKLOAD["q9_product_profit"].fn(spark, "/root/testdata/sf0.01"))
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert _exchanges(plan) == 1, plan
    assert re.search(r"PushedFilters: \[[^\]]*StringContains\(p_name,gear\)", plan), plan


def test_q16_anti_join_broadcast_no_smj(spark):
    """q16: the NOT-IN exclusion decorrelates to a broadcast LEFT-ANTI
    against the negative-balance supplier set, and the part predicates are
    pushed to the part scan — no sort-merge join anywhere."""
    plan = _final_plan(
        WORKLOAD["q16_supplier_part_counts"].fn(spark, "/root/testdata/sf0.01")
    )
    assert re.search(r"BroadcastHashJoin[^\n]*LeftAnti", plan), plan
    assert "SortMergeJoin" not in plan, plan
    assert re.search(r"PushedFilters: \[[^\]]*p_size", plan), plan


def test_q20_semi_join_chain_no_cartesian(spark):
    """q20: the supplier EXISTS plans as a left-semi join fed by the
    aggregate-threshold chain; the ship-date window reaches the lineitem
    scan and nothing degenerates to a cartesian product."""
    plan = _final_plan(
        WORKLOAD["q20_excess_volume_suppliers"].fn(spark, "/root/testdata/sf0.01")
    )
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan), plan


def test_rollup_refresh_serves_from_rollup_only(spark):
    """Incremental refresh: after materialize + 1996-partition repair, the
    SERVED plan scans the rollup parquet only — refreshing a partition
    must not leave the serve path coupled to the fact table."""
    plan = _final_plan(WORKLOAD["rollup_incremental_refresh"].fn(spark, SF))
    scans = re.findall(r"FileScan parquet[^\n]*", plan)
    assert scans and all("lineitem" not in s for s in scans), scans


def test_runtime_cube_prunes_and_pushes_cut(spark):
    """infer_cube path: the compiled ad-hoc cube query keeps the
    customer-side join and pushes the O Orderstatus cut into the orders
    scan, exactly like the hand-built cubes."""
    plan = _final_plan(
        WORKLOAD["cube_runtime_inferred"].fn(spark, "/root/testdata/sf0.01")
    )
    assert re.search(
        r"PushedFilters: \[[^\]]*EqualTo\(o_orderstatus,F\)", plan
    ), plan
    # fact + customer only: the runtime cube has one join edge
    assert len(re.findall(r"FileScan parquet", plan)) == 2, plan


def test_runtime_bloom_filter_injected_at_scale_conditions(spark):
    """join_runtime_bloom_filter: InjectRuntimeFilter only fires for
    probably-shuffle joins with a big application side — the 100 TB
    regime. Recreate those conditions (broadcast off, application-side
    threshold floored) and assert the bloom filter lands in the lineitem
    scan side; then confirm the default local plan correctly SKIPS it
    (small creation side broadcasts instead)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
    }
    prior = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = WORKLOAD["join_runtime_bloom_filter"].fn(spark, SF)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)
    plan = (
        WORKLOAD["join_runtime_bloom_filter"]
        .fn(spark, SF)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "might_contain" not in plan, plan


def test_span_dedup_two_exchanges_one_scan(spark):
    """dedup_span_corpus is exact dedup at span grain: one combiner-
    friendly min_by agg shuffle on the span hash (first-occurrence
    election — partial aggregation must appear), one back on doc_id
    (reassembly), one documents scan — nothing pairwise, no window sort."""
    plan = _final_plan(WORKLOAD["dedup_span_corpus"].fn(spark, SF))
    assert len(re.findall(r"FileScan parquet", plan)) == 1, plan
    assert _exchanges(plan) <= 2, plan  # election agg + reassembly agg
    assert "partial_min_by" in plan or "partial_minby" in plan.lower(), plan


def test_incremental_dedup_scans_stay_linear(spark):
    """dedup_incremental_vs_corpus: posting-list join new-vs-old — no
    cartesian, no corpus self-join; the documents scans carry pushed
    doc_id % 5 partition filters."""
    plan = _final_plan(WORKLOAD["dedup_incremental_vs_corpus"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the posting join is an equi-join on the shingle hash — any hash
    # strategy is fine (AQE picks broadcast at this SF, shuffle at scale)
    assert re.search(r"(SortMerge|ShuffledHash|BroadcastHash)Join \[__s", plan), plan


def test_knn_blocked_candidates_no_data_scale_broadcast(spark):
    """knn_label_classify: candidates come from the grid-blocked GEMM
    (one FlatMapGroupsInPandas pass), NEITHER side broadcast — the query
    side is a %50 fraction of the corpus, so the old broadcast form grew
    linearly with data (r6 verdict class). The exact re-score joins the
    candidate list back on plain equi-keys; no pairwise blow-up."""
    plan = _final_plan(WORKLOAD["knn_label_classify"].fn(spark, SF))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_unigram_logprob_vocab_join_broadcast_or_shuffle(spark):
    """text_unigram_logprob: token instances join the vocab table; the
    1-row total is broadcast, never a shuffle side."""
    plan = _final_plan(WORKLOAD["text_unigram_logprob"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan, plan  # the 1-row total
    assert "CartesianProduct" not in plan, plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """The 100 TB skew answer nobody has to hand-write: AQE detects the
    hot key's oversized shuffle partition at RUNTIME and splits it
    (SortMergeJoin(skew=true) + 'AQEShuffleRead coalesced and skewed').
    Thresholds are floored to make a synthetic 100k-row hot key qualify
    at test scale, and the shuffle partition count is pinned because at
    4 partitions (the session default on a 4-core box) the hot partition
    never reaches skewedPartitionFactor x the median; the manual salting
    operators (skew_salted_agg/join) remain the pre-AQE /
    deterministic-layout alternative SCALE.md documents."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prior = {}
    for k in confs:
        try:
            prior[k] = spark.conf.get(k)
        except Exception:
            prior[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200000).select(
            F.when(F.col("id") < 100000, 0)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("rv")
        )
        j = left.join(right, "k").groupBy().agg(F.count(F.lit(1)).alias("n"))
        [row] = j.collect()
        assert row["n"] == 200000 - 100000 + 100000  # hot key matches k=0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q18_semi_gate_broadcast_two_exchanges(spark):
    """TPC-H q18 (the one headline query previously without a plan pin):
    the HAVING subquery is reduced to order-grain keys BEFORE the gate, the
    gate is a broadcast LEFT-SEMI applied directly on the orders scan (so
    the 3-way join fans out only gated orders), the wide joins broadcast,
    and limit+orderBy fuse to TakeOrderedAndProject. Exactly two shuffles
    survive: the HAVING aggregation and the final re-aggregation."""
    plan = _final_plan(WORKLOAD["q18_large_volume_customer"].fn(spark, SF))
    assert "LeftSemi, BuildRight" in plan, plan
    assert "TakeOrderedAndProject(limit=100" in plan, plan
    assert _exchanges(plan) == 2, plan
    # the semi gate streams the orders scan itself — its subtree must not
    # contain either wide-join table
    semi = plan.split("LeftSemi")[1]
    gate_build = semi.split("BroadcastExchange")[1].split("BroadcastExchange")[0]
    assert "customer.parquet" not in gate_build, plan
    assert "HashAggregate" in gate_build, plan


def test_sql_udf_inlined_predicate_pushdown(spark):
    """SQL-defined UDFs must be INLINED by Catalyst: the is_high_priority
    wrapper's IN-list reaches the orders parquet scan as a pushed filter
    (an opaque UDF would block pushdown entirely), and no Python/JVM UDF
    node appears anywhere — disc_price is plain codegen arithmetic."""
    plan = _final_plan(WORKLOAD["sql_udf_revenue_tiers"].fn(spark, SF))
    assert "In(o_orderpriority, [1-URGENT,2-HIGH])" in plan, plan
    for smell in ("BatchEvalPython", "ArrowEvalPython", "ScalaUDF"):
        assert smell not in plan, plan


def test_dpp_prunes_fact_partitions_at_runtime(spark):
    """Each dim filter must reach its hive-partitioned fact scan as a
    dynamicpruningexpression PARTITION filter (reusing the join's
    broadcast) — i.e. unmatched event_date= / o_month= directories are
    never read. Runs against BOTH real directory layouts (the shared
    events_by_date fixture, DATE-typed partition column, and the
    orders_by_month fixture, STRING-typed — YYYY-MM does not parse as a
    date), so partition-column-type edge cases are covered (VERDICT r08
    item 7), not synthetic per-query stagings."""
    df = WORKLOAD["join_dpp_partitioned"].fn(spark, SF)
    df.collect()
    # full executed plan, NOT _final_plan: the union of two DPP legs nests
    # per-subquery AdaptiveSparkPlans whose own "== Initial Plan ==" marker
    # would truncate everything after the first leg
    plan = df._jdf.queryExecution().executedPlan().toString()
    low = plan.lower()
    assert low.count("dynamicpruning") >= 2, plan
    # each pruning predicate must sit on the hive partition column of its
    # own fixture scan, and each scan must read its partitioned directory
    assert "events_by_date" in plan and "orders_by_month" in plan, plan
    for col in ("event_date", "o_month"):
        hits = [
            i
            for i in range(len(low))
            if low.startswith("dynamicpruning", i)
            and col in low[max(0, i - 200) : i + 200]
        ]
        assert hits, f"no dynamicpruning near {col}:\n{plan}"


def test_salted_twophase_two_hash_aggregation_stages(spark):
    """The salted aggregate must actually be TWO phases: a (key, salt)
    hash aggregation feeding a key-only re-aggregation — two hash
    exchanges, no window, no extra scan."""
    plan = _final_plan(WORKLOAD["agg_salted_twophase"].fn(spark, SF))
    assert _exchanges(plan) == 2, plan
    assert plan.count("lineitem.parquet") <= 2, plan  # one scan (AQE may echo)
    assert "Window" not in plan, plan


def test_interval_binned_join_is_hash_not_nested_loop(spark):
    """The binned interval-overlap join must plan as an equi hash join on
    the bucket (Generate for the interval explode, residual filter after)
    — never BroadcastNestedLoop/CartesianProduct, which is what the naive
    BETWEEN spelling degenerates to."""
    plan = _final_plan(WORKLOAD["join_interval_overlap_binned"].fn(spark, SF))
    assert "BroadcastNestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Generate explode" in plan, plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), plan


def _single_partition_exchanges_feed_aggregates(plan: str) -> list[str]:
    """Return the offending context for every ``Exchange SinglePartition``
    whose child is NOT an aggregate. A SinglePartition window is a scale
    smell only over unbounded grain; over an aggregated manifest (the
    p-row ``__pid`` offsets of global_ordinal/global_running_agg, a
    50-resample means frame, a 10-decile rollup) it is bounded by
    construction. The child line of the exchange tells the two apart."""
    lines = plan.splitlines()
    bad = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        ctx = "\n".join(lines[i + 1 : i + 4])
        if "Aggregate" not in ctx:  # HashAggregate/SortAggregate/Object...
            bad.append("\n".join(lines[i : i + 4]))
    return bad


def test_global_ordinal_range_partitioned_window(spark):
    """curation_global_ordinal's scalable rank: the row_number window must
    be PARTITIONED by the physical partition id over the pinned
    (localCheckpoint) range-partitioned table — never the single-partition
    global window over raw rows. The range exchange itself runs inside the
    checkpoint job, so the final plan shows the pinned scan (ExistingRDD)
    instead; the only SinglePartition exchange allowed is the p-row
    ``__pid`` offsets manifest."""
    plan = _final_plan(WORKLOAD["curation_global_ordinal"].fn(spark, SF))
    assert "Scan ExistingRDD" in plan, plan
    win = [ln for ln in plan.splitlines() if "row_number()" in ln]
    assert win and all("__pid" in ln for ln in win), plan
    bad = _single_partition_exchanges_feed_aggregates(plan)
    assert not bad, "\n---\n".join(bad)


@pytest.mark.parametrize(
    "name",
    [
        "ml_auc_exact",
        "stats_bootstrap_ci",
        "pareto_frontier_parts",
        "customer_rfm_scores",
        "customer_gini_spend",
        "parts_abc_classification",
        "customer_lorenz_curve",
        "stats_ks_two_sample",
        "stats_mann_whitney_u",
    ],
)
def test_entity_grain_windows_are_distributed(spark, name):
    """The seven r5 entity-grain scale-killers (unpartitioned windows over
    customer/part/score grain → Exchange SinglePartition over raw rows)
    were rebuilt on global_ordinal / global_running_agg / distributed
    NTILE. Regression gate: any SinglePartition exchange left in these
    plans must feed from an AGGREGATE (a bounded manifest — __pid offsets,
    resample means, deciles), never from unaggregated entity rows."""
    plan = _final_plan(WORKLOAD[name].fn(spark, SF))
    bad = _single_partition_exchanges_feed_aggregates(plan)
    assert not bad, f"{name}: SinglePartition over unbounded grain:\n" + (
        "\n---\n".join(bad)
    )


def test_profiler_one_scan_per_table_via_unpivot(spark):
    """profile_tables_columns must profile N columns in ONE scan per table
    (unpivot/Expand), not N scans — the oracle's UNION-ALL spelling
    re-reads per column; the engine must not."""
    plan = _final_plan(WORKLOAD["profile_tables_columns"].fn(spark, SF))
    assert plan.count("orders.parquet") == 1, plan
    assert plan.count("documents.parquet") == 1, plan
    assert "Expand" in plan, plan


def test_rolling_distinct_generate_not_range_join(spark):
    """events_rolling_7d_distinct: the trailing window must come from the
    fixed fan-out Generate (explode of the 7 contributable days), joined
    hash-wise — never a day-range nested-loop."""
    plan = _final_plan(WORKLOAD["events_rolling_7d_distinct"].fn(spark, SF))
    assert "Generate explode" in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_join_strategy_hints_force_three_physical_joins(spark):
    """join_strategy_hints: one union plan must contain all three forced
    join operators — hints must win over both the cost model and AQE's
    broadcast conversion (a hint that silently degrades to the default
    strategy would make the query pointless)."""
    plan = _final_plan(WORKLOAD["join_strategy_hints"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_cbo_statistics_reorder_joins(spark):
    """cbo_join_reorder: with ANALYZE stats + CBO on, Catalyst must apply
    the selective part join FIRST (innermost), overriding the written
    syntax order — the stats-less plan keeps syntax order. In optimized-
    plan text the OUTER join prints first, so CBO puts the orderkey join
    on the first Join line and the partkey join nested under it; default
    is the reverse."""
    df = WORKLOAD["cbo_join_reorder"].fn(spark, SF)
    cbo_plan = df._jdf.queryExecution().optimizedPlan().toString()
    i_ord = cbo_plan.find("Join Inner, (l_orderkey")
    i_part = cbo_plan.find("Join Inner, (l_partkey")
    assert i_ord >= 0 and i_part >= 0, cbo_plan
    assert i_ord < i_part, f"CBO did not reorder:\n{cbo_plan}"

    # same SQL without CBO (tables + stats still registered): syntax order
    base = spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM cbo_fact JOIN cbo_mid ON l_orderkey = o_orderkey
        JOIN cbo_dim ON l_partkey = p_partkey
        WHERE p_size = 1 GROUP BY 1
        """
    )
    plain = base._jdf.queryExecution().optimizedPlan().toString()
    j_ord = plain.find("Join Inner, (l_orderkey")
    j_part = plain.find("Join Inner, (l_partkey")
    assert j_part >= 0 and j_ord >= 0, plain
    assert j_part < j_ord, f"baseline unexpectedly reordered:\n{plain}"


def test_keyset_pagination_take_ordered_no_global_window(spark):
    """page_keyset_pagination: both pages must plan as
    TakeOrderedAndProject with the cursor as a broadcast — never a
    global ROW_NUMBER (single-partition window) or a full sort."""
    plan = _final_plan(WORKLOAD["page_keyset_pagination"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_nested_schema_pruning_reads_only_touched_fields(spark):
    """nested_schema_pruning: the parquet scan's ReadSchema must contain
    ONLY meta.lang and meta.n_bytes — not the payload blob, not
    meta.mime. Nested pruning is what makes metadata-only scans of
    multimodal tables cheap."""
    plan = _final_plan(WORKLOAD["nested_schema_pruning"].fn(spark, SF))
    scan = [ln for ln in plan.splitlines() if "docs_nested" in ln and "ReadSchema" in ln]
    assert scan, plan
    rs = scan[0].split("ReadSchema:")[1]
    assert "lang" in rs and "n_bytes" in rs, rs
    assert "payload" not in rs, rs
    assert "mime" not in rs, rs


def test_cache_table_reuse_scans_memory_not_parquet_twice(spark):
    """sql_cache_table_reuse: both aggregation branches must read the
    cached slice ('Scan In-memory table'), and the orders parquet must
    be scanned at most once (the cache fill) — explicit caching is the
    manual ReusedExchange for non-identical consumers."""
    plan = _final_plan(WORKLOAD["sql_cache_table_reuse"].fn(spark, SF))
    assert plan.count("Scan In-memory table __cached_slice") >= 2, plan
    # every parquet mention must sit inside an InMemoryRelation's echoed
    # cache-definition plan — no LIVE FileScan outside a cache block
    assert plan.count("orders.parquet") == plan.count("InMemoryRelation"), plan


def test_triangle_wedges_never_shuffle_into_closing_join(spark):
    """At test SF the closing edge list is small, so AQE's RUNTIME stats
    must still flip the closing join to broadcast — but via AQE, not a
    hardcoded hint (see the companion no-hint test below): the closing
    side is linear in the edge list, so a hint would be a driver OOM on
    a cluster-scale graph."""
    plan = _final_plan(WORKLOAD["graph_triangle_count"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    # the wedge self-join shares its exchange between both sides
    assert "ReusedExchange" in plan, plan


def test_triangle_closing_join_carries_no_broadcast_hint(spark):
    """Force every broadcast threshold off: the closing join must degrade
    to a shuffle join. A hardcoded F.broadcast hint would survive the
    forced-off thresholds and keep a BroadcastHashJoin/BNLJ in the plan —
    exactly the unconditional data-scale broadcast the round-6 verdict
    flagged (operators/graph.py closing side grows with the edge list)."""
    conf = spark.conf
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: conf.get(k, None) for k in keys}
    try:
        for k in keys:
            conf.set(k, "-1")
        plan = _final_plan(WORKLOAD["graph_triangle_count"].fn(spark, SF))
    finally:
        for k, v in saved.items():
            conf.set(k, v) if v is not None else conf.unset(k)
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


@pytest.mark.parametrize(
    "name,max_scans",
    [("graph_pagerank_integer", 9), ("graph_ppr_integer", 12)],
)
def test_pagerank_loop_reuses_edge_exchange(spark, name, max_scans):
    """The 3-iteration PageRank/PPR loops lean on ReusedExchange to serve
    the repeated edge/degree scans from the first shuffle's output (the
    operator note measured materializing alternatives SLOWER: in-loop
    localCheckpoint ~2x, pre-loop edges checkpoint +8% at sf0.1). That
    makes reuse load-bearing: if a refactor perturbs the canonical form
    (the jaccard lesson — SCALE.md round-6), every iteration re-derives
    the edge-build pipeline silently — ~6 extra scans PER ITERATION
    (~18+ total), which the caps below still reject. The caps carry
    slack on purpose: AQE runtime stats legitimately flip a broadcast
    and shift the scan count by ±1 between runs (observed 5↔6 for
    pagerank, 8 for PPR), so pinning the exact count is flaky."""
    plan = _final_plan(WORKLOAD[name].fn(spark, SF))
    assert plan.count("ReusedExchange") >= 3, plan
    assert len(re.findall(r"FileScan parquet", plan)) <= max_scans, plan


def test_exact_median_sorts_one_bucket_not_all_rows(spark):
    """Two-pass median: the only Sort in the plan runs under the per-bucket
    window AFTER the broadcast target-bucket filter — never a global sort
    of the full relation (no rangepartitioning exchange, no
    TakeOrderedAndProject over data rows)."""
    plan = _final_plan(WORKLOAD["agg_exact_median_twopass"].fn(spark, SF))
    assert "Exchange rangepartitioning" not in plan, plan
    assert "TakeOrderedAndProject" not in plan, plan
    # the in-bucket row_number runs after a broadcast join with the 1-row
    # target-bucket frame
    assert "BroadcastHashJoin" in plan, plan


def test_grid_join_is_equi_on_cells_with_bounded_fanout(spark):
    """The radius join must be an equi-join on (cx, cy) with the 9x
    neighbor explode on the small side — no BroadcastNestedLoopJoin, no
    CartesianProduct (the theta-join fallbacks a naive distance predicate
    would produce)."""
    plan = _final_plan(WORKLOAD["geo_grid_distance_join"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Generate explode" in plan, plan


def test_fifo_matching_joins_on_user_only(spark):
    """FIFO lot matching is one equi-join on user_id with the overlap as a
    RESIDUAL condition — a nested-loop over (buy, sell) pairs would be the
    cursor simulation we replaced."""
    plan = _final_plan(WORKLOAD["ledger_fifo_matching"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_itemset_triples_single_basket_exchange(spark):
    """Apriori triples: the basket relation is shuffled ONCE — the second
    and third self-join legs read the same exchange (ReusedExchange), and
    the dimension side (part) broadcasts; only lineitem+part are scanned
    once each."""
    plan = _final_plan(WORKLOAD["basket_itemset_triples"].fn(spark, SF))
    assert plan.count("ReusedExchange") >= 1, plan
    assert len(re.findall(r"FileScan parquet", plan)) == 2, plan
    assert "CartesianProduct" not in plan, plan


def test_asof_nearest_one_keyed_exchange_two_sorts(spark):
    """direction='nearest': ONE hash exchange on the join key feeds BOTH
    window sorts (ascending backward-carry, descending forward-carry) —
    bidirectional must not double the shuffle."""
    plan = _final_plan(WORKLOAD["asof_nearest_purchase"].fn(spark, SF))
    keyed = len(re.findall(r"Exchange hashpartitioning\(user_id", plan))
    reused = len(
        re.findall(r"ReusedExchange.*hashpartitioning\(user_id", plan)
    )
    assert keyed - reused <= 2, plan  # union legs may each exchange once
    assert plan.count("Sort ") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_js_divergence_pairwise_stage_is_dimension_sized(spark):
    """JS divergence: the pairwise stage joins two 101-dim histogram
    relations — the document-grain scans happen once for the count
    pipeline, and no cartesian product sneaks in through the
    source_a < source_b predicate."""
    plan = _final_plan(
        WORKLOAD["text_js_divergence_sources"].fn(spark, SF)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_null_join_keys_filtered_before_exchange(spark):
    """join_null_key_early_filter: Catalyst's join-constraint inference
    must push an isnotnull filter on the (computed) join key below the
    join, so null-key rows never reach the probe side."""
    plan = _final_plan(WORKLOAD["join_null_key_early_filter"].fn(spark, SF))
    # Catalyst simplifies isnotnull(CASE ...) into a pushed-down CASE
    # filter (null branch -> false) evaluated AT THE SCAN
    assert "THEN false ELSE isnotnull" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivf_pq_candidates_equi_join_no_cartesian(spark):
    """ann_ivf_pq_topk (round 13): the candidate stage must be an
    EQUI-join on the cell id (shuffle ∝ collisions), the ADC stage one
    applyInPandas (FlatMapGroupsInPandas) over (query, cell) groups,
    and the re-rank a per-id equi-join — nothing all-pairs anywhere in
    the final plan. BroadcastNestedLoopJoin appears only if a join
    loses its keys; CartesianProduct never."""
    plan = _final_plan(WORKLOAD["ann_ivf_pq_topk"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the ADC stage: cogrouped so the query VECTOR ships once per
    # (query, cell) group instead of once per candidate row
    assert "FlatMapCoGroupsInPandas" in plan, plan
    # final top-k rides a per-query window, not a global sort
    assert "row_number()" in plan, plan


def test_ivf_pq_persisted_serve_partition_pruned(spark):
    """The persisted-serve path's pruning claim, pinned at the plan
    (VERDICT r13 item 4): with ``prune_cells=True`` the distinct probed
    cell set becomes a STATIC ``__cell IN (...)`` partition filter on
    the ``partitionBy(__cell)`` postings — only the probed cells'
    directories are opened. Built directly with nprobe=2 and 2 queries
    so the probed set is a strict subset of the 16 cells and the pin is
    non-vacuous; the registered query runs the same path (its identity
    pytest covers output equality)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from adb_south_caucasus_etl_spark.operators.similarity import (
        _pq_probe_topk,
        ivf_pq_index,
        ivf_pq_load,
        ivf_pq_persist,
    )

    emb = Catalog(spark, SF).embeddings
    base = "/tmp/adb_sc_test_pq_prune"
    shutil.rmtree(base, ignore_errors=True)
    index, cents, books = ivf_pq_index(
        emb, n_cells=16, spill=2, m_subvectors=16, ksub=64
    )
    ivf_pq_persist(base, index, cents, books)
    postings, c2, b2 = ivf_pq_load(spark, base)
    q = emb.filter(F.col("vec_id") < 2).limit(2)
    served = _pq_probe_topk(
        postings, c2, b2, emb, q, k=10, nprobe=2, rerank=200,
        prune_cells=True,
    )
    plan = _final_plan(served)

    # the postings scan carries a static IN partition filter over a
    # strict subset of the cells (2 queries x nprobe 2 -> at most 4)
    scans = [
        line
        for line in plan.splitlines()
        if "FileScan" in line and "postings" in line
        and "neighbor_id" in line
    ]
    assert scans, plan
    m = re.search(r"PartitionFilters: \[__cell#\d+ IN \(([^)]*)\)", scans[0])
    assert m, scans[0]
    probed = {int(x) for x in m.group(1).split(",")}
    assert 0 < len(probed) <= 4, probed

    # and the directories actually pruned: the artifact has 16 cell
    # dirs, the probe reads only the probed ones (file-grain proof of
    # the "files-read <= probed cells" claim)
    n_dirs = len(
        [d for d in os.listdir(os.path.join(base, "postings"))
         if d.startswith("__cell=")]
    )
    assert n_dirs == 16, n_dirs
    shutil.rmtree(base, ignore_errors=True)
