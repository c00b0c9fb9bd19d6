"""Physical-plan assertions: at 100 TB the plan IS the performance.
Verifies pushdown, pruning, broadcast choices, top-k compilation, and the
absence of cartesian products in every certified query."""

from __future__ import annotations

import pytest

from arc_cassandra_pipeline_plugin_spark.plans import (
    assert_no_cartesian,
    explain_str,
    has_node,
    pushed_filters,
    read_schemas,
)
from arc_cassandra_pipeline_plugin_spark.queries import load_all
from tests.conftest import SF_SMALL

REGISTRY = load_all()


def test_filter_and_projection_reach_the_scan(spark):
    df = REGISTRY["filter_project"].fn(spark, SF_SMALL)
    pf = " ".join(pushed_filters(df))
    assert "o_orderstatus" in pf and "o_totalprice" in pf
    schemas = read_schemas(df)
    assert schemas and set(schemas[0]) == {
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    }, f"scan should read exactly the needed columns, got {schemas}"


def test_q1_scan_prunes_columns(spark):
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF_SMALL)
    (schema,) = read_schemas(df)
    assert set(schema) == {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_q5_broadcasts_fixed_dims(spark):
    df = REGISTRY["q5_local_supplier_volume"].fn(spark, SF_SMALL)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan  # region/nation explicitly broadcast
    assert_no_cartesian(df)


def test_sort_limit_compiles_to_take_ordered(spark):
    df = REGISTRY["sort_limit_topk"].fn(spark, SF_SMALL)
    assert has_node(df, "TakeOrderedAndProject")


def test_theta_join_is_hash_join_not_nested_loop(spark):
    df = REGISTRY["join_theta"].fn(spark, SF_SMALL)
    assert_no_cartesian(df)
    plan = explain_str(df, "simple")
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_semi_anti_use_join_not_full_materialization(spark):
    for name in ("join_semi", "join_anti"):
        plan = explain_str(REGISTRY[name].fn(spark, SF_SMALL), "simple")
        assert "LeftSemi" in plan or "LeftAnti" in plan


#: queries whose plan is *deliberately* an all-pairs / broadcast-scan join:
#: - join_cross: the cross-join operator itself
#: - similarity_topk_bruteforce: broadcast(query-set) × corpus scan is the
#:   intended exact-scoring plan (the scalable variant is similarity_ann_lsh,
#:   which joins on the SRP bucket key)
#: - dedup_embedding_neardup: exact all-pairs oracle path at test scale
#:   (blocked=True switches to the SRP-bucketed equi-join at scale)
DELIBERATE_ALL_PAIRS = {
    "join_cross",
    "similarity_topk_bruteforce",
    "similarity_range_search",  # broadcast 3-query probe set × corpus scan
    "dedup_embedding_neardup",
    "knn_label_predict",  # broadcast probe set × corpus scan (brute-force top-k kernel)
    "similarity_ann_pq",  # ADC: broadcast(query tables) × compressed-corpus scan
    "dedup_setsim_prefix",  # adaptive bitmask sweep engages at test scale (R and
    # vocab both under the gates); the prefix equi-join is the large-R/V path
    "similarity_knn_graph",  # exact kNN-graph path: corpus broadcast × corpus scan
    "similarity_mutual_knn_pairs",  # built on the same exact kNN-graph path
}

#: queries with a non-equi join whose BOTH sides are bounded by a dimension
#: (calendar days, label count), not by data size — the nested-loop term is
#: days² / labels², constant w.r.t. corpus scale
DIMENSION_BOUNDED = {
    "sessions_concurrency_sweep",  # day×day carry-offset join + 1-row span
    "users_cumulative_distinct",  # day×day running-sum join
    "centroid_pairwise_cosine",  # label×label centroid self-join
    "orders_abc_analysis",  # rank-bucket × rank-bucket carry-offset join + 1-row total
    "orders_decile_gains",  # bucketed-ntile offsets + broadcast 1-row total
    "basket_category_affinity",  # broadcast 1-row order count + 8-row category dims
    "text_vocab_growth",  # bucket×bucket cumulative join (corpus-prefix buckets)
    "corr_kendall_size_price",  # size-level × size-level pair stage (~50² constant)
    "join_range_dim_lookup",  # broadcast 3-row tier dimension × fact probe
}

#: queries whose plan contains a broadcast nested-loop join against a
#: 1-row aggregate (a scalar constant, e.g. corpus size N) — O(rows) work
#: at any scale, not an all-pairs product
SCALAR_BROADCASTS = {
    "text_tfidf_top_terms",
    "text_unigram_lm_score",  # broadcast 1-row corpus total
    "text_bigram_lm_score",  # broadcast 1-row vocabulary size
    "dq_ks_exact",  # broadcast 1-row slice totals onto the CDF grid
    "text_bm25_ranking",  # broadcast 1-row (N, total tokens) corpus stats
    "funnel_conversion",  # three 1-row stage counts cross-joined
    "q22_global_sales_opportunity",  # broadcast 1-row (sum, count) threshold
    "agg_sketch_union",  # broadcast 1-row exact total joined to 1-row merged sketch
    "graph_pagerank_trade",  # broadcast 1-row node count into every rank round
    "q11_important_parts",  # broadcast 1-row nation total threshold
    "gdpr_delete_audit",  # three 1-row audit counts cross-joined
    "dq_benford_digits",  # broadcast 1-row total count
    "agg_histogram_equidepth",  # broadcast 1-row decile boundary array
    "sample_mixture_weighted",  # broadcast 1-row corpus-size target
    "graph_triangle_count",  # three 1-row census aggregates cross-joined
    "dq_distribution_drift",  # broadcast 9-row decile grid + 1-row totals
    "sample_upsample_plan",  # broadcast 1-row corpus-size target
    "text_collocation_lift",  # broadcast 1-row corpus doc count
    "join_null_semantics",  # three 1-row count aggregates cross-joined
    "dq_chisq_independence",  # broadcast 1-row corpus total + 1-row dof
    "events_hourly_seasonality",  # broadcast 1-row grand total onto the 7x24 grid
    "orders_rfm_segmentation",  # broadcast 1-row quartile boundaries + 1-row ref date
    "dedup_lsh_quality_audit",  # three 1-row audit counts cross-joined
    "orders_backlog_aging",  # broadcast 1-row reference date
    "orders_seasonal_index",  # broadcast 1-row total onto 12 month rows
    "market_concentration_hhi",  # broadcast 1-row total onto 25 nation rows
    "dq_source_lang_tvd",  # broadcast lang list + 1-row total onto the source grid
    "events_stickiness_dau_wau",  # broadcast 1-row calendar span filter
    "dq_anova_value_by_type",  # 1-row moment aggregates cross-joined
    "text_zipf_profile",  # broadcast 1-row rank-1 count onto 50 rows
    "events_cusum_changepoint",  # broadcast 1-row overall mean onto the daily series
    "bloom_semi_join_prune",  # two 1-row audit counts cross-joined
    "embeddings_pca_power",  # broadcast 1-row norm joined into each round's d-vector
    "graph_bfs_levels",  # broadcast 1-row source vertex onto the node set
    "graph_reciprocity",  # two 1-row census aggregates cross-joined
}


# The three sets above are FROZEN legacy allowlists (pre-r5 queries only).
# Do NOT add new names here: declare plan_shape="scalar_broadcast" /
# "dimension_bounded" / "all_pairs" (+ plan_reason) on @register instead —
# the sweep below reads the registry flag, so the declaration travels with
# the query and a forgotten allowlist entry is structurally impossible.
# test_legacy_plan_allowlists_are_frozen pins their size.
_LEGACY_ALLOWLIST_SIZES = {
    "DELIBERATE_ALL_PAIRS": 9,
    "DIMENSION_BOUNDED": 9,
    "SCALAR_BROADCASTS": 35,
}


def test_legacy_plan_allowlists_are_frozen():
    """New queries must use the @register plan_shape flag, not these sets."""
    for name, size in _LEGACY_ALLOWLIST_SIZES.items():
        assert len(globals()[name]) == size, (
            f"{name} grew: declare plan_shape on @register instead of "
            "extending the legacy allowlist"
        )


def test_plan_shape_flags_do_not_duplicate_legacy_sets():
    legacy = DELIBERATE_ALL_PAIRS | DIMENSION_BOUNDED | SCALAR_BROADCASTS
    flagged = {n for n, q in REGISTRY.items() if q.plan_shape}
    assert not (legacy & flagged)


@pytest.mark.parametrize(
    "name", [n for n in sorted(REGISTRY) if REGISTRY[n].category != "pipeline"]
)
def test_no_accidental_cartesian_anywhere(spark, name):
    """Every certified query must be free of cartesian/nested-loop joins
    unless the operator declares an intentional all-pairs / scalar-broadcast /
    dimension-bounded plan (registry plan_shape flag, or the frozen legacy
    allowlists above)."""
    q = REGISTRY[name]
    if name in DELIBERATE_ALL_PAIRS or q.plan_shape == "all_pairs":
        pytest.skip("deliberate all-pairs plan")
    if name in SCALAR_BROADCASTS or q.plan_shape == "scalar_broadcast":
        pytest.skip("1-row scalar broadcast join by design")
    if name in DIMENSION_BOUNDED or q.plan_shape == "dimension_bounded":
        pytest.skip("non-equi join bounded by dimension cardinality (days/labels)")
    df = q.fn(spark, SF_SMALL)
    assert_no_cartesian(df)


def test_python_workers_only_where_a_codec_needs_one(spark):
    """Byte counts and checksums are Spark builtins: ``multimodal_checksums``
    plans no Python exec node. A codec roundtrip still runs its kernels
    through the Arrow Python path."""
    python_nodes = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython")
    plan = explain_str(REGISTRY["multimodal_checksums"].fn(spark, SF_SMALL), "simple")
    assert not [n for n in python_nodes if n in plan], plan
    assert has_node(REGISTRY["multimodal_bmp_roundtrip"].fn(spark, SF_SMALL), "MapInArrow")


def test_window_topk_uses_group_limit_pushdown(spark):
    """Spark ≥3.5 pushes rn<=k through the shuffle as WindowGroupLimit."""
    df = REGISTRY["window_topk_per_group"].fn(spark, SF_SMALL)
    assert has_node(df, "WindowGroupLimit")


def test_join_strategy_hints_are_honored(spark):
    """The full strategy-control surface: broadcast / merge / shuffle_hash
    hints each produce their join operator."""
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select("l_orderkey")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select("o_orderkey")
    cases = {
        "broadcast": "BroadcastHashJoin",
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
    }
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for hint, node in cases.items():
            df = li.join(orders.hint(hint), li.l_orderkey == orders.o_orderkey)
            assert node in explain_str(df, "simple"), f"hint {hint} did not yield {node}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_scalable_global_rank_has_no_unpartitioned_window(spark):
    """The two-phase global rank must never fall back to a single-partition
    sort: every Window node in the plan carries a partition spec (the
    WindowExec 'No Partition Defined' scale-killer is absent)."""
    import re

    for name in ("window_rank_global_scalable", "window_ntile_scalable"):
        df = REGISTRY[name].fn(spark, SF_SMALL)
        plan = explain_str(df, "simple")
        for m in re.finditer(r"Window \[[^\]]*\], \[(?P<part>[^\]]*)\]", plan):
            assert m.group("part").strip(), f"{name}: unpartitioned Window in plan:\n{plan}"


def test_text_pipeline_prunes_document_scan(spark):
    """Text operators must not drag the full documents schema through the
    scan: quality scoring reads only (doc_id, text)-derived columns."""
    df = REGISTRY["text_quality_score"].fn(spark, SF_SMALL)
    schemas = read_schemas(df)
    assert schemas, "expected a parquet scan"
    for schema in schemas:
        assert set(schema) <= {"doc_id", "text"}, f"unpruned scan: {schema}"


def test_runtime_bloom_filter_injected_on_selective_shuffle_join(spark):
    """At 100 TB the selective side of a fact-fact join is too big to
    broadcast; Spark's runtime bloom filter (injected from the filtered
    creation side into the probe-side scan) is what prunes shuffle input.
    Verify the optimizer injects it once the join is a shuffle join —
    locally that means auto-broadcast off and the app-side threshold down
    (the fixture files are tiny); at cluster scale the defaults fire."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, SF_SMALL, "orders").filter(
            F.col("o_totalprice") > 450000.0
        )
        li = load_table(spark, SF_SMALL, "lineitem")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan or "BloomFilter" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_new_window_queries_all_partitioned(spark):
    """The session's window-based queries (rolling 24h, SCD2, transitions,
    LOCF) all carry a partition spec on every Window node — no
    single-partition fallback at any scale."""
    import re

    for name in (
        "events_rolling_24h",
        "scd2_history_orders",
        "event_transitions",
        "timeseries_resample_locf",
    ):
        df = REGISTRY[name].fn(spark, SF_SMALL)
        plan = explain_str(df, "simple")
        for m in re.finditer(r"Window \[[^\]]*\], \[(?P<part>[^\]]*)\]", plan):
            assert m.group("part").strip(), f"{name}: unpartitioned Window:\n{plan}"


def test_unpartitioned_windows_sit_above_bounded_inputs(spark):
    """Guard for the four queries that INTENTIONALLY use a global (un-
    partitioned) window: each is safe only because a bounded-cardinality
    operator sits below the Window in the plan — a selective key filter,
    a LIMIT, or a calendar-bounded aggregate. Assert that structure in the
    optimized plan so a future edit can't silently unbound them into a
    shuffle-everything-to-one-task plan at scale."""
    bounded_markers = {
        # window over orders filtered to o_orderkey < 2000 (~0.04% of keys)
        "window_ntile": ["< 2000"],
        # same shape, o_orderkey < 1000
        "window_rank_stats": ["< 1000"],
        # CUSUM over a per-day aggregate: input cardinality = calendar days
        # (the groupBy-day Aggregate emits "... AS day#" below the Window)
        "events_cusum_changepoint": ["AS day#"],
        # Zipf profile over the top-50 tokens: LIMIT 50 below the window
        "text_zipf_profile": ["GlobalLimit 50"],
        # YoY lag over the per-year aggregate: input cardinality = calendar
        # years (the groupBy-year Aggregate emits "... AS yr#" below)
        "orders_yoy_growth": ["AS yr#"],
        # KS cumulative-CDF window over the per-grid-value aggregate: input
        # cardinality = the 2-dp value grid (the groupBy-round Aggregate
        # emits "... AS val#" below the Window)
        "dq_ks_exact": ["AS val#"],
    }
    for name, markers in bounded_markers.items():
        df = REGISTRY[name].fn(spark, SF_SMALL)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        lines = plan.splitlines()
        win_idx = next(
            (i for i, ln in enumerate(lines) if "Window [" in ln or "Window(" in ln),
            None,
        )
        assert win_idx is not None, f"{name}: expected a Window node:\n{plan}"
        below = "\n".join(lines[win_idx + 1 :])
        for marker in markers:
            assert marker in below, (
                f"{name}: bounded-input marker {marker!r} no longer sits below "
                f"the global Window — the query is now unbounded at scale:\n{plan}"
            )


def test_zorder_audit_is_single_aggregation_no_join(spark):
    """The Z-order layout audit is pure projection + one aggregate: no join
    operator of any kind in the plan (the Morton key is codegen'd bit
    arithmetic, not a lookup)."""
    df = REGISTRY["layout_zorder_events"].fn(spark, SF_SMALL)
    plan = explain_str(df, "simple")
    assert "Join" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_q21_uses_semi_and_anti_self_joins(spark):
    """Q21's EXISTS / NOT EXISTS compile to left_semi / left_anti joins (no
    row duplication, no full materialization of the inner legs)."""
    df = REGISTRY["q21_suppliers_kept_waiting"].fn(spark, SF_SMALL)
    plan = explain_str(df, "simple")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert has_node(df, "TakeOrderedAndProject")


def test_q19_broadcasts_part_with_disjunctive_filter(spark):
    """Q19's OR-of-ANDs predicate keeps the part side broadcast and the
    plan free of cartesian products."""
    df = REGISTRY["q19_disjunctive_revenue"].fn(spark, SF_SMALL)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert_no_cartesian(df)


def test_merge_upsert_is_single_key_join(spark):
    """The CDC merge is one full-outer join on the key — no extra shuffles
    of the base table beyond the join exchange."""
    df = REGISTRY["merge_upsert_customers"].fn(spark, SF_SMALL)
    plan = explain_str(df, "simple")
    assert "FullOuter" in plan
    assert_no_cartesian(df)


def test_partitioned_scan_prunes_directories(spark):
    """The hive-partitioned events read under scan_partition_pruning prunes
    partition directories at planning time: the scan node carries a
    PartitionFilters entry on event_type and the row-data filter list does
    NOT re-check the partition column (it never touches row data)."""
    from arc_cassandra_pipeline_plugin_spark.queries.analytics import (
        partitioned_events_scan,
    )

    df = partitioned_events_scan(spark, SF_SMALL)
    plan = explain_str(df, "formatted")
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    # partition column is not part of the parquet row groups, so nothing
    # about event_type can appear in PushedFilters
    assert not any("event_type" in f for f in pushed_filters(df))


def test_offset_pagination_folds_into_take_ordered(spark):
    """ORDER BY + OFFSET + LIMIT must compile to a single
    TakeOrderedAndProject(limit=offset+k, offset=...) — per-partition heaps
    + driver-side skip, never a global sort or a materialized 'first 100
    rows' stage."""
    df = REGISTRY["sort_limit_offset"].fn(spark, SF_SMALL)
    plan = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in plan and "offset=100" in plan
    assert "Sort " not in plan  # no global sort node


def test_feature_hashing_partial_aggregates_and_prunes(spark):
    """The hashing-trick groupBy must map-side combine (partial_sum before
    the exchange) and the scan must read exactly (doc_id, text)."""
    df = REGISTRY["text_feature_hashing"].fn(spark, SF_SMALL)
    plan = explain_str(df, "simple")
    assert "partial_sum" in plan
    (schema,) = read_schemas(df)
    assert set(schema) == {"doc_id", "text"}


def test_stream_static_join_broadcasts_the_dim(spark):
    """The stream-static enrichment join must broadcast the static
    dimension — the stream side never shuffles."""
    from arc_cassandra_pipeline_plugin_spark import streaming as ST
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.sources import load_table

    ev = ST.table_stream(spark, SF_SMALL, "events").select("event_id", "user_id")
    dim = load_table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = ST.enrich_stream(ev, dim, on="user_id", how="inner")
    # streaming frames can't produce a physical plan until a query starts;
    # the analyzed logical plan must carry the broadcast hint on the
    # static side
    logical = joined._jdf.queryExecution().analyzed().toString()
    assert "broadcast" in logical.lower(), logical


def test_proximity_join_has_no_cartesian(spark):
    """The keyless time-proximity join must plan as an equi-join on the
    tolerance bucket — never BroadcastNestedLoop/cartesian."""
    df = REGISTRY["events_proximity_pairs"].fn(spark, SF_SMALL)
    assert_no_cartesian(df)
    plan = explain_str(df, "simple")
    assert "NestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_lsh_incremental_broadcasts_new_side(spark):
    """The incremental LSH join must broadcast the new batch's bands —
    a corpus-side shuffle would defeat the entire daily-ingest design."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.operators import dedup as D
    from arc_cassandra_pipeline_plugin_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    sigs = D.minhash_signature(docs, num_perm=16, shingle_k=5)
    out = D.lsh_candidate_pairs_incremental(sigs, is_new=F.col("doc_id") % 10 == 7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_rake_prunes_document_scan(spark):
    """RAKE must not drag the full documents schema through the scan —
    phrases derive from (doc_id, text) only."""
    df = REGISTRY["text_rake_keywords"].fn(spark, SF_SMALL)
    schemas = read_schemas(df)
    assert schemas, "expected a parquet scan"
    for schema in schemas:
        assert set(schema) <= {"doc_id", "text"}, f"unpruned scan: {schema}"


def test_rrf_fusion_windows_all_partitioned(spark):
    """Both RRF ranking legs ride the two-phase bucketed rank: every
    Window node in the plan carries a partition spec (no single-partition
    global sort at any scale)."""
    import re

    df = REGISTRY["similarity_rrf_fusion"].fn(spark, SF_SMALL)
    plan = explain_str(df, "simple")
    found = False
    for m in re.finditer(r"Window \[[^\]]*\], \[(?P<part>[^\]]*)\]", plan):
        found = True
        assert m.group("part").strip(), f"unpartitioned Window:\n{plan}"
    assert found, f"expected bucketed-rank Window nodes:\n{plan}"


def test_fellegi_sunter_no_broadcast_hint(spark):
    """The FS candidate join must NOT hard-code a broadcast hint: at
    corpus scale the supplier side outgrows any broadcast threshold, so
    the strategy choice belongs to AQE (which still elects a runtime
    broadcast while the side is actually small). The analyzed plan must
    carry no ResolvedHint/UnresolvedHint."""
    df = REGISTRY["er_fellegi_sunter"].fn(spark, SF_SMALL)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "Hint" not in analyzed, analyzed
    # and the join must be an equi-join on the composite block key —
    # never a nested-loop pair sweep
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_auc_rank_sum_windows_all_partitioned(spark):
    """The AUC prefix sum must ride the two-phase bucketed helper — every
    Window node partitioned (no global single-partition running sum)."""
    import re

    df = REGISTRY["ml_auc_rank_sum"].fn(spark, SF_SMALL)
    plan = explain_str(df, "simple")
    for m in re.finditer(r"Window \[[^\]]*\], \[(?P<part>[^\]]*)\]", plan):
        assert m.group("part").strip(), f"unpartitioned Window:\n{plan}"


def test_benchmark_contamination_broadcasts_bench_side(spark):
    """The decontamination intersection join must broadcast the benchmark
    shingle set (a fixed eval suite is a dimension at any corpus scale) —
    and never degenerate to a nested-loop pair sweep."""
    df = REGISTRY["dedup_benchmark_contamination"].fn(spark, SF_SMALL)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_fellegi_sunter_blocks_on_composite_key_and_salt_is_identical(spark):
    """(a) The FS candidate join must key on BOTH block components
    (nation AND balance band) — a nation-only join would be the fixed-25-
    key quadratic shape the composite key exists to prevent; (b) forcing
    the hot-block path on the real fixture frames (threshold 1) must
    return exactly the unsalted pair set."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.operators.blocking import (
        blocked_pair_join,
    )
    from arc_cassandra_pipeline_plugin_spark.sources import load_table

    df = REGISTRY["er_fellegi_sunter"].fn(spark, SF_SMALL)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "band_key" in analyzed and "nk" in analyzed, analyzed

    c = load_table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.col("c_nationkey").alias("nk"),
        F.expr(
            "(cast(round(c_acctbal * 100, 0) as bigint) + 100000) div 100000"
        ).alias("band_key"),
    )
    s = load_table(spark, SF_SMALL, "supplier").select(
        F.col("s_suppkey").alias("sk"),
        F.col("s_nationkey").alias("nk"),
        F.expr(
            "(cast(round(s_acctbal * 100, 0) as bigint) + 100000) div 100000"
        ).alias("band_key"),
    )
    plain = {
        (r["ck"], r["sk"]) for r in c.join(s, ["nk", "band_key"]).collect()
    }
    forced = blocked_pair_join(
        c, s, ["nk", "band_key"], left_salt_col="ck",
        salt_buckets=8, skew_threshold=1,  # every block "hot"
    )
    assert "_salt" in forced._jdf.queryExecution().executedPlan().toString()
    assert {(r["ck"], r["sk"]) for r in forced.collect()} == plain
    assert len(plain) > 0  # sf0.001: sparse composite blocks, few pairs


def test_minhash_signature_is_shuffle_free_and_hashes_once(spark):
    """The row-local MinHash rewrite: no exchange anywhere in the
    signature plan (the old explode -> groupBy(doc) shape shuffled every
    shingle hash), and the md5 base hash is computed ONCE per shingle —
    CollapseProject must not inline the shared hash array into the 16
    per-permutation transforms."""
    from arc_cassandra_pipeline_plugin_spark.operators import dedup as D
    from arc_cassandra_pipeline_plugin_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    sigs = D.minhash_signature(docs, num_perm=16, shingle_k=5)
    plan = explain_str(df=sigs, mode="simple")
    # the only allowed exchange is ensure_parallelism's round-robin fan-out
    # of a tiny scan; no KEYED shuffle (the old groupBy(doc) aggregation)
    assert "Exchange hashpartitioning" not in plan, (
        f"signature should have no keyed shuffle:\n{plan}"
    )
    assert plan.count("md5") == 1, f"md5 must run once per shingle:\n{plan}"


def test_distinct_shingles_are_shuffle_free_and_match_old_shape(spark):
    """shingle_rows(distinct=True) dedups per-doc shingles ROW-LOCALLY
    (array_distinct before the explode): the dedup key is (id, shingle), so
    the old global dropDuplicates shuffle added nothing — and its exchange,
    AQE-coalesced to one partition, serialized downstream self-joins. Plan
    must carry no keyed exchange; the row multiset must equal the
    dropDuplicates formulation exactly."""
    from arc_cassandra_pipeline_plugin_spark.operators import dedup as D
    from arc_cassandra_pipeline_plugin_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_SMALL, "documents")
    sh = D.shingle_rows(docs, "text", "doc_id", k=5, distinct=True)
    plan = explain_str(df=sh, mode="simple")
    assert "Exchange hashpartitioning" not in plan, (
        f"distinct shingles should have no keyed shuffle:\n{plan}"
    )
    old = (
        D.shingle_rows(docs, "text", "doc_id", k=5, distinct=False)
        .dropDuplicates(["doc_id", "shingle"])
    )
    new_counts = {tuple(r) for r in sh.groupBy("doc_id").count().collect()}
    old_counts = {tuple(r) for r in old.groupBy("doc_id").count().collect()}
    assert new_counts == old_counts and len(new_counts) > 0
