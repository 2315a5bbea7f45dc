"""Plan-quality assertions — the 100 TB posture checks: predicate
pushdown reaches the parquet scan, column pruning reads only what the
query projects, dimension joins broadcast, and the pipeline transform
plan is shuffle-free."""

from __future__ import annotations

from etl_file_sync_spark.queries import REGISTRY
from tests.plan_util import (
    count_exchanges,
    full_plan,
    join_strategies,
    physical_plan,
    pushed_filters,
    read_schema_columns,
)


def test_q01_pushdown_and_pruning(spark, sf_dir):
    df = REGISTRY["q01_pricing_summary"].build(spark, sf_dir)
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf), pf
    cols = read_schema_columns(df)[0]
    # 7 needed columns only — not all 11 of lineitem
    assert "l_orderkey" not in cols and "l_partkey" not in cols
    assert {"l_quantity", "l_extendedprice", "l_returnflag"} <= cols


def test_q05_dimensions_broadcast(spark, sf_dir):
    js = join_strategies(REGISTRY["q05_local_supplier_volume"].build(spark, sf_dir))
    assert js["broadcast_hash"] >= 3  # supplier, nation, region at minimum
    assert js["broadcast_nested_loop"] == 0


def test_q06_selective_scan(spark, sf_dir):
    df = REGISTRY["q06_forecast_revenue"].build(spark, sf_dir)
    pf = pushed_filters(df)
    assert any("l_discount" in f for f in pf) and any("l_quantity" in f for f in pf)


def test_pipeline_transform_is_shuffle_free(spark, sf_dir):
    """The parse→validate→enrich plan must stay narrow: broadcast joins
    only, zero shuffle exchanges (SURVEY.md §3.1 — matches the
    reference's per-partition independence)."""
    from etl_file_sync_spark.pipeline.config import ServerConfig, servers_dataframe
    from etl_file_sync_spark.pipeline.transform import split_valid_dlq

    raw = spark.range(100).selectExpr("CAST(id AS STRING) AS value")
    servers = servers_dataframe(spark, [ServerConfig(hostname="A", type="local")])
    res = split_valid_dlq(raw, servers)
    assert count_exchanges(res.valid) == 0, "enrichment must not shuffle the job stream"
    assert join_strategies(res.valid)["broadcast_hash"] == 2  # src + dst lookups


def test_topn_avoids_full_sort(spark, sf_dir):
    plan = physical_plan(REGISTRY["sort_topn_global"].build(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, "global LIMIT+ORDER BY should not plan a full sort"


def test_q02_window_min_no_driver_roundtrip(spark, sf_dir):
    """The correlated min subquery must plan as a window over the grouped
    supply frame: broadcast dims, bounded shuffle count, top-k via
    TakeOrderedAndProject — no driver materialization anywhere."""
    df = REGISTRY["q02_min_cost_supplier"].build(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan
    js = join_strategies(df)
    assert js["broadcast_hash"] >= 5  # s, n, r on supply side; p, s, n on output side
    assert count_exchanges(df) <= 3  # groupBy + window partition (+AQE variance)


def test_q08_single_fact_shuffle(spark, sf_dir):
    """7-way market-share join: every dimension broadcasts; only the
    final year aggregation shuffles at this SF."""
    df = REGISTRY["q08_market_share"].build(spark, sf_dir)
    js = join_strategies(df)
    assert js["broadcast_hash"] >= 6
    assert count_exchanges(df) <= 2


def test_q20_semi_join_chain(spark, sf_dir):
    """Doubly-nested IN compiles to semi joins, not inner joins that
    would duplicate supplier rows."""
    plan = physical_plan(REGISTRY["q20_potential_promotion"].build(spark, sf_dir))
    assert "LeftSemi" in plan


def test_weighted_sample_is_topk_with_pushdown(spark, sf_dir):
    """Weighted priority sampling must be a single pushed-filter scan +
    TakeOrderedAndProject — a global Sort here would be the 100 TB bug."""
    spark.catalog.clearCache()  # a cached documents table would replace the parquet scan
    df = REGISTRY["sample_weighted_priority"].build(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "GreaterThan(n_chars" in str(pushed_filters(df))
    assert count_exchanges(df) == 0


def test_span_stats_never_cartesian(spark, sf_dir):
    """Span dedup must stay equi-join shaped (shared-span semi join) —
    no BroadcastNestedLoop/Cartesian anywhere in the plan."""
    plan = physical_plan(REGISTRY["dedup_span_stats"].build(spark, sf_dir))
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_funnel_pushes_event_type_filters(spark, sf_dir):
    """Each funnel stage scans only its event type via a pushed filter
    and joins per-user aggregates, never raw-event self-joins."""
    spark.catalog.clearCache()
    df = REGISTRY["funnel_user_conversion"].build(spark, sf_dir)
    plan = physical_plan(df)
    assert "EqualTo(event_type,view)" in plan
    assert "EqualTo(event_type,click)" in plan
    assert "EqualTo(event_type,purchase)" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_bigram_novelty_partial_agg_no_window(spark, sf_dir):
    """Round-4 de-skew: corpus bigram counts must come from partial-
    aggregated groupBys (map-side combine + AQE skew-splittable join),
    never a COUNT window over the raw bigram key (no combine, hot
    "of the"-class bigrams become single-task stragglers at scale)."""
    plan = full_plan(REGISTRY["text_bigram_novelty"].build(spark, sf_dir))
    assert "partial_count" in plan, "corpus counts must map-side combine"
    assert "Window" not in plan, "bigram counting must not use a window"


def test_rank_stats_windows_are_bucket_partitioned(spark, sf_dir):
    """Mann-Whitney / KS ranks must come from the two-phase bucketed
    plan: every Window node is PARTITIONED BY the rank bucket — a bare
    Window.orderBy would funnel the whole table through one task."""
    for name in ("stat_mannwhitney_u", "stat_ks_two_sample"):
        plan = physical_plan(REGISTRY[name].build(spark, sf_dir))
        win_lines = [l for l in plan.splitlines() if "Window" in l and "windowspecdefinition" in l]
        assert win_lines, f"{name}: expected a bucketed window in the plan"
        for line in win_lines:
            assert "_rs_bucket" in line, f"{name}: unpartitioned window: {line[:200]}"


def test_mba_pairs_join_never_cartesian(spark, sf_dir):
    """The basket self-join must be an equi-join on the order key (one
    co-partitioned shuffle, bounded per-order fan-out) — a cartesian or
    broadcast-nested-loop pair space would be quadratic in the table."""
    plan = physical_plan(REGISTRY["mba_pair_lift"].build(spark, sf_dir))
    assert "CartesianProduct" not in plan
    js = join_strategies(REGISTRY["mba_pair_lift"].build(spark, sf_dir))
    # the only nested-loop allowed is the 1-row totals broadcast
    assert js["broadcast_nested_loop"] <= 1
    assert "TakeOrderedAndProject" in plan, "top-20 lift must not plan a full sort"


def test_kmeans_assign_is_narrow_map_plus_one_agg(spark, sf_dir):
    """Cluster profiling must keep the corpus un-shuffled until the final
    per-centroid aggregate: one mapInPandas GEMM stage, then exactly the
    aggregation exchange (plus AQE coalesce bookkeeping) — no join or
    pre-assignment shuffle of the embedding table."""
    df = REGISTRY["cluster_kmeans_assign"].build(spark, sf_dir)

    plan = physical_plan(df)
    assert "MapInPandas" in plan
    assert "Join" not in plan, "assignment must broadcast centroids, not join them"
    assert count_exchanges(df) <= 2  # partial->final agg + output sort


def test_kruskal_wallis_windows_are_bucket_partitioned(spark, sf_dir):
    """Kruskal-Wallis rides the same two-phase rank plan as
    Mann-Whitney: every window node partitions by the rank bucket."""
    plan = physical_plan(REGISTRY["stat_kruskal_wallis"].build(spark, sf_dir))
    win_lines = [l for l in plan.splitlines() if "Window" in l and "windowspecdefinition" in l]
    assert win_lines, "expected a bucketed window in the plan"
    for line in win_lines:
        assert "_rs_bucket" in line, f"unpartitioned window: {line[:200]}"


def test_js_divergence_partial_aggregates(spark, sf_dir):
    """Term counting for the divergence must map-side combine (hot
    stopword terms would otherwise concentrate in single tasks)."""
    plan = full_plan(REGISTRY["stat_js_divergence"].build(spark, sf_dir))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "Window" not in plan


def test_runtime_bloom_filter_join_injects(spark, sf_dir):
    """100 TB posture: Spark's runtime Bloom-filter injection (row-level
    runtime filtering) fires for a selective-dimension shuffle join. In
    production the defaults gate on a >=10 GB application-side scan, so
    a 100 TB lineitem qualifies with stock configs; locally we lower
    that threshold (and disable broadcast, which would otherwise win at
    toy scale) purely to make the machinery observable."""
    from pyspark.sql import functions as F

    from etl_file_sync_spark.catalog import load_table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "bloom filter did not inject"
        # the filter guards the FACT scan (application side), keyed on the join key
        line = next(l for l in plan.splitlines() if "might_contain" in l)
        assert "l_orderkey" in line
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_injects(spark, sf_dir, tmp_path):
    """100 TB posture: a selective dimension predicate prunes fact
    PARTITIONS at runtime (DPP) — the fact scan's PartitionFilters gain
    a dynamicpruning subquery fed by the broadcast dimension, so a
    partitioned 100 TB fact reads only the partitions the dim selects."""
    from pyspark.sql import functions as F

    from etl_file_sync_spark.catalog import load_table

    part_dir = str(tmp_path / "orders_part")
    load_table(spark, sf_dir, "orders").write.partitionBy("o_orderstatus").parquet(part_dir)
    fact = spark.read.parquet(part_dir)
    dim = spark.createDataFrame(
        [("F", "keep"), ("O", "drop"), ("P", "drop")], "st string, tag string"
    ).filter(F.col("tag") == "keep")  # the selective predicate DPP requires
    j = fact.join(dim, fact.o_orderstatus == dim.st).groupBy("st").count()
    plan = full_plan(j)
    assert "dynamicpruning" in plan.lower(), "dynamic partition pruning did not inject"
    scan_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("dynamicpruning" in l.lower() for l in plan.splitlines() if "Filter" in l or "PartitionFilters" in l)
    assert scan_lines, "expected a partitioned fact scan in the plan"


def test_jw_blocked_plan_evaluates_udf_once_and_joins_jvm_side(spark, sf_dir):
    """The Jaro-Winkler scorer must appear EXACTLY once in the plan: the
    scored column feeds both the threshold filter and the output, and
    without the optimizer fence (jaro_winkler_col(single_eval=True))
    CollapseProject duplicates the pandas UDF into two ArrowEvalPython
    nodes — the Python cost paid twice over the candidate set. Also pins
    the scale shape: no cartesian anywhere (candidates come from the
    deletion-neighborhood equi-join)."""
    from etl_file_sync_spark.queries import REGISTRY

    df = REGISTRY["dedup_fuzzy_jw_blocked"].build(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    n_arrow = sum(
        1 for l in plan.splitlines() if l.strip().startswith("(") and "ArrowEvalPython" in l
    )
    assert n_arrow == 1, f"JW pandas UDF must evaluate once, found {n_arrow} ArrowEvalPython nodes"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_snapshot_diff_query_executes_one_outer_join(spark, sf_dir):
    """Round-4 verdict #3 regression guard: dq_snapshot_diff must roll
    count/min/max into ONE aggregation over ONE full-outer join — the
    r4 spelling consumed the diff twice (diff_summary + a separate
    min/max groupBy), executing the join and both orders scans twice."""
    from etl_file_sync_spark.queries import REGISTRY

    df = REGISTRY["dq_snapshot_diff"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FullOuter") == 1, "expected exactly one full-outer join"


def test_phash_neardup_never_cartesian(spark, sf_dir):
    """The perceptual-hash pair search must stay a banded equi-join
    (LSH posture): no CartesianProduct / BroadcastNestedLoopJoin
    anywhere in the candidate generation, and the narrow map that
    computes hashes appears once per band branch at most."""
    plan = physical_plan(REGISTRY["multimodal_phash_neardup"].build(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_gopher_rules_is_narrow_scan(spark, sf_dir):
    """Quality gating is a pure map: the only exchange in the plan is
    the final presentation sort; the parquet scan prunes to the three
    referenced columns."""
    plan = physical_plan(REGISTRY["text_gopher_rules"].build(spark, sf_dir))
    assert plan.count("Exchange") <= 2, "expected only the ORDER BY exchange(s)"
    read = plan[plan.index("ReadSchema") :][:200] if "ReadSchema" in plan else ""
    assert "n_chars" not in read and "lang" not in read, "scan must prune unused columns"


def test_bh_fdr_single_fact_aggregation(spark, sf_dir):
    """The 120-cell hypothesis frame is built by ONE partial-aggregated
    pass over events (plus the 1-row totals branch); the BH window runs
    over the aggregate, never the fact rows."""
    plan = physical_plan(REGISTRY["stat_bh_fdr"].build(spark, sf_dir))
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "CartesianProduct" not in plan or "BroadcastExchange" in plan


def test_decision_cumulatives_are_bucket_partitioned(spark, sf_dir):
    """Sweep-line concurrency, Kaplan-Meier, and the skyline prefix-max
    must run on the two-phase bucketed plan: every Window node in their
    plans is PARTITIONED BY the rank bucket (for the grouped sweep-line,
    bucket + group key) — never a bare global orderBy."""
    for name in ("ops_max_concurrency", "stat_kaplan_meier", "ops_skyline_pareto"):
        plan = physical_plan(REGISTRY[name].build(spark, sf_dir))
        win_lines = [
            l for l in plan.splitlines() if "Window" in l and "windowspecdefinition" in l
        ]
        assert win_lines, f"{name}: expected a bucketed window in the plan"
        for line in win_lines:
            assert "_rs_bucket" in line, f"{name}: unpartitioned window: {line[:200]}"


def test_int8_quant_is_shuffle_free_narrow_map(spark, sf_dir):
    """Quantization is a pure per-row projection: zero exchanges except
    the presentation sort, no Python UDF (JVM higher-order functions
    only), and the scan prunes the unused label column."""
    plan = physical_plan(REGISTRY["embed_int8_quant"].build(spark, sf_dir))
    assert plan.count("Exchange") <= 2, "expected only the ORDER BY exchange(s)"
    assert "Python" not in plan, "must stay JVM-side (no Arrow/Python eval)"
    read = plan[plan.index("ReadSchema") :][:200] if "ReadSchema" in plan else ""
    assert "label" not in read, "scan must prune the unused label column"


def test_corpus_bleu_never_cartesian_over_data(spark, sf_dir):
    """The n-gram clip joins are keyed equi-joins on (doc, ngram); the
    only nested-loop joins are the three 1-row summary frames at the
    end."""
    df = REGISTRY["eval_corpus_bleu"].build(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    js = join_strategies(df)
    assert js["broadcast_nested_loop"] <= 2, js  # 1-row lens × u1 × u2 only


def test_permutation_fanout_is_user_grain(spark, sf_dir):
    """The 200x relabeling fan-out must multiply the USER-grain frame,
    never raw events: exactly one scan of the events parquet feeds the
    whole plan (the per-user reduction), and the perm dimension joins
    as a broadcast."""
    plan = physical_plan(REGISTRY["stat_permutation_test"].build(spark, sf_dir))
    assert plan.count("events.parquet") <= 2, "events must be scanned once (+cache reuse)"
    assert "CartesianProduct" not in plan


def test_cms_sketch_probe_is_broadcast(spark, sf_dir):
    """The CMS estimate probe joins the 1024-cell sketch broadcast —
    the vocabulary never shuffles to meet the sketch."""
    plan_js = join_strategies(REGISTRY["sketch_count_min"].build(spark, sf_dir))
    assert plan_js["broadcast_hash"] >= 1

    plan = physical_plan(REGISTRY["sketch_count_min"].build(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_bloom_bits_join_is_broadcast(spark, sf_dir):
    """The <=4096-row bit set and the member set broadcast to the probe
    side; the customer scan is the only data-scale input."""
    js = join_strategies(REGISTRY["sketch_bloom_prefilter"].build(spark, sf_dir))
    assert js["broadcast_hash"] >= 2  # bits + membership label joins


def test_rfm_rankings_are_bucket_partitioned(spark, sf_dir):
    """RFM's three global rankings and the conformal residual ranking
    must use the two-phase bucketed row_number — no bare global-order
    window over the customer/residual frames."""
    for name in ("agg_rfm_segments", "eval_conformal_interval", "stat_winsorized_mean"):
        plan = physical_plan(REGISTRY[name].build(spark, sf_dir))
        win_lines = [
            l for l in plan.splitlines() if "Window" in l and "windowspecdefinition" in l
        ]
        for line in win_lines:
            assert "_rs_bucket" in line, f"{name}: unpartitioned window: {line[:200]}"


def test_rouge_python_eval_runs_after_pair_join(spark, sf_dir):
    """The ROUGE DP's Arrow Python stage must consume the PAIR frame
    (post-join), not the raw documents scan — the Python-side work is
    bounded by the 40-token cap per pair."""
    plan = physical_plan(REGISTRY["eval_rouge_l"].build(spark, sf_dir))
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan or "PythonMapInArrow" in plan
    join_pos = plan.find("Join")
    py_pos = max(plan.find("MapInPandas"), plan.find("ArrowEvalPython"))
    assert join_pos != -1 and py_pos != -1


def test_round5_rank_ops_are_bucket_partitioned(spark, sf_dir):
    """The effects-face rank machinery (Cliff's delta, CvM, energy
    distance, Dunn, weighted median, Mood, AUPRC) must keep every
    row-grain window bucket-partitioned — the Friedman/Pettitt/daily
    windows are calendar/block-bounded by construction and excluded."""
    for name in (
        "stat_cliffs_delta",
        "stat_cvm_two_sample",
        "stat_energy_distance",
        "stat_dunn_posthoc",
        "agg_weighted_median",
        "stat_mood_median_test",
        "eval_auprc",
    ):
        plan = physical_plan(REGISTRY[name].build(spark, sf_dir))
        win_lines = [
            l for l in plan.splitlines() if "Window" in l and "windowspecdefinition" in l
        ]
        for line in win_lines:
            assert "_rs_bucket" in line, f"{name}: unpartitioned window: {line[:200]}"


def test_adamic_adar_removes_edges_with_anti_join(spark, sf_dir):
    """Existing edges must be excluded via LeftAnti (never a collected
    edge list) and the output must be a global TakeOrdered top-k."""
    plan = physical_plan(REGISTRY["graph_adamic_adar"].build(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan


def test_rec_item_cosine_broadcasts_frequency_dims(spark, sf_dir):
    """The item-frequency joins are vocabulary-sized and must broadcast;
    output is a global TakeOrdered top-20."""
    df = REGISTRY["rec_item_cosine"].build(spark, sf_dir)
    js = join_strategies(df)
    assert js["broadcast_hash"] >= 2  # fa + fb frequency dims
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_key_gaps_successor_is_equi_join_not_global_lead(spark, sf_dir):
    """dq_key_gaps pairs successors through the rn = rn+1 equi-join on
    the bucketed dense rank; no unpartitioned window may touch the
    full key column."""
    plan = physical_plan(REGISTRY["dq_key_gaps"].build(spark, sf_dir))
    win_lines = [
        l for l in plan.splitlines() if "Window" in l and "windowspecdefinition" in l
    ]
    for line in win_lines:
        assert "_rs_bucket" in line, f"unpartitioned window: {line[:200]}"
