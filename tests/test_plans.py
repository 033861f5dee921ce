"""Plan audits: the physical plans must be the ones we'd want at 100 TB —
filters and pruning at the scan, broadcasts for dims, partial aggregation,
codegen coverage (the brief's .explain discipline)."""

from __future__ import annotations

from multithreaded_mapreduce_library_spark.plans import (
    codegen_stage_count,
    formatted_plan,
    has_node,
    pushed_filters,
    read_schemas,
)
from multithreaded_mapreduce_library_spark.registry import load_all

SPECS = load_all()


def test_filter_pushdown_and_pruning(spark, sf_dir):
    df = SPECS["filter_project"].builder(spark, sf_dir)
    pf = pushed_filters(df)
    assert pf, "filter_project: no filters reached the parquet scan"
    assert any("l_shipdate" in p or "l_discount" in p for p in pf)
    schemas = read_schemas(df)
    assert schemas and all("l_extendedprice" not in s for s in schemas), (
        "unused column not pruned from the scan"
    )


def test_pricing_summary_partial_agg_and_codegen(spark, sf_dir):
    df = SPECS["pricing_summary"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2, "missing partial (map-side) aggregation"
    assert codegen_stage_count(df) >= 1, "no whole-stage codegen"
    pf = pushed_filters(df)
    assert pf and any("l_shipdate" in p for p in pf)


def test_join_broadcast_uses_broadcast(spark, sf_dir):
    df = SPECS["join_broadcast"].builder(spark, sf_dir)
    assert has_node(df, "BroadcastHashJoin"), "dim joins must broadcast"
    assert not has_node(df, "SortMergeJoin")


def test_join_large_is_equi_join(spark, sf_dir):
    df = SPECS["join_large"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), "fact-fact join fell off the hash/merge paths"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_wordcount_shape(spark, sf_dir):
    df = SPECS["wordcount"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Generate" in plan  # explode
    assert plan.count("HashAggregate") >= 2  # partial + final count
    schemas = read_schemas(df)
    assert schemas and all("lang" not in s for s in schemas), "scan must prune to text only"


def test_semi_anti_join_nodes(spark, sf_dir):
    semi = formatted_plan(SPECS["join_semi"].builder(spark, sf_dir))
    anti = formatted_plan(SPECS["join_anti"].builder(spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_sim_bruteforce_broadcasts_queries(spark, sf_dir):
    df = SPECS["sim_topk_bruteforce"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Broadcast" in plan, "query set must broadcast (never shuffle the corpus per query)"


def test_no_cartesian_in_lsh_paths(spark, sf_dir):
    for name in ("dedup_minhash", "dedup_simhash", "sim_near_dup", "sim_topk_ivf"):
        plan = formatted_plan(SPECS[name].builder(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name}: O(n²) cross join in plan"


def test_tpch_more_star_joins_broadcast_dims(spark, sf_dir):
    """The new TPC-H shapes must keep every dimension on the broadcast
    path and never fall into a cartesian product; scalar-subquery
    join-backs may only appear as a 1-row BroadcastNestedLoopJoin."""
    for name in ("product_profit", "volume_shipping", "market_share",
                 "min_cost_supplier", "excess_shipments"):
        plan = formatted_plan(SPECS[name].builder(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, f"{name}: dims must broadcast"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"


def test_tpch_more_scalar_subqueries_stay_broadcast(spark, sf_dir):
    for name in ("important_parts", "top_supplier", "dormant_customers",
                 "small_qty_revenue"):
        plan = formatted_plan(SPECS[name].builder(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"


def test_waiting_orders_shape(spark, sf_dir):
    """Decorrelated EXISTS/NOT-EXISTS: two per-order aggregates joined
    co-partitioned, the F-orders check as a semi join, no cartesian."""
    plan = formatted_plan(SPECS["waiting_orders"].builder(spark, sf_dir))
    assert "LeftSemi" in plan
    assert plan.count("HashAggregate") >= 4  # two partial+final agg pairs
    assert "CartesianProduct" not in plan


def test_priority_shipping_partial_agg(spark, sf_dir):
    plan = formatted_plan(SPECS["priority_shipping"].builder(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, "missing map-side combine"


def test_join_bucketed_no_join_exchange(spark, sf_dir):
    """Co-located join off bucketed tables: both scans read bucketed, the
    sort-merge join consumes them with NO exchange on the join key — the
    only shuffle left in the plan is the final tiny aggregation."""
    plan = formatted_plan(SPECS["join_bucketed"].builder(spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2, "scans must read the bucketed layout"
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    # exactly one Exchange node (the o_orderpriority agg), counted in the
    # numbered-tree section
    import re

    assert len(re.findall(r"\+- Exchange ", plan)) == 1


def test_calendar_fill_broadcasts_counts(spark, sf_dir):
    """The generated date spine left-joins the aggregated per-day counts
    broadcast — the only exchange in the plan is the count's groupBy."""
    plan = formatted_plan(SPECS["calendar_fill"].builder(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2, "per-day count must partial-aggregate"


def test_agg_mode_partial_agg(spark, sf_dir):
    """Mode's (custkey, priority) count partial-aggregates map-side, so
    only distinct pairs cross the first of its two exchanges."""
    plan = formatted_plan(SPECS["agg_mode"].builder(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, "missing map-side combine"
    assert "Window" in plan


def test_map_in_arrow_stays_narrow(spark, sf_dir):
    """mapInArrow is per-partition: no exchange anywhere in the plan."""
    plan = formatted_plan(SPECS["map_in_arrow_project"].builder(spark, sf_dir))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_sample_stratified_no_shuffle(spark, sf_dir):
    """The hash-sample keep decision is a narrow filter: zero exchanges,
    and the scan prunes to the three output columns + text-free schema."""
    plan = formatted_plan(SPECS["sample_stratified"].builder(spark, sf_dir))
    assert "Exchange" not in plan, "deterministic sampling must not shuffle"
    schemas = read_schemas(SPECS["sample_stratified"].builder(spark, sf_dir))
    assert schemas and all("text" not in s for s in schemas), (
        "sampling on doc_id must not read the text column"
    )


def test_dataset_split_single_small_agg(spark, sf_dir):
    """Split assignment rides the scan; the only exchange carries the
    (split, lang) partial counters, never document rows."""
    import re

    df = SPECS["dataset_split"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2, "split counts must partial-aggregate"
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_sequence_packing_one_window_exchange(spark, sf_dir):
    """Packing = window prefix-sum on the stratum + (lang, bin) agg — and
    the agg REUSES the window's lang partitioning (bin is derived inside a
    lang partition), so the whole operator runs on a single exchange."""
    import re

    plan = formatted_plan(SPECS["sequence_packing"].builder(spark, sf_dir))
    assert "Window" in plan
    assert plan.count("HashAggregate") >= 2
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, (
        "expected exactly the window's lang exchange; the (lang, bin) agg "
        "must reuse that partitioning"
    )


def test_contamination_check_equi_join_only(spark, sf_dir):
    """The shingle-overlap join is a pure equi-join on the hash — no
    cartesian/NLJ fallback no matter what the optimizer does with the
    split predicate."""
    plan = formatted_plan(SPECS["contamination_check"].builder(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rebalance_scan_contract(spark, sf_dir):
    """rebalance_scan parallelizes narrow sources and is a strict no-op
    (same plan object) when the source already meets cluster parallelism —
    the at-scale case must not pay an exchange."""
    from multithreaded_mapreduce_library_spark.sources import load_table, rebalance_scan

    narrow = load_table(spark, sf_dir, "documents")
    assert narrow.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = rebalance_scan(narrow, spark)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    wide = narrow.repartition(spark.sparkContext.defaultParallelism + 4)
    assert rebalance_scan(wide, spark) is wide


def test_multimodal_metadata_stays_jvm(spark, sf_dir):
    """The metadata projection must not touch Python: no Arrow/pandas
    evaluation nodes — pure JVM expressions over the scan."""
    plan = formatted_plan(SPECS["multimodal_metadata"].builder(spark, sf_dir))
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "MapInArrow"):
        assert node not in plan
    assert "Exchange" not in plan


def test_fact_join_gets_runtime_bloom_filter_at_scale(spark, sf_dir):
    """At 100 TB a selective dim can't broadcast and the fact-fact join
    goes shuffle — Spark then injects a runtime Bloom filter built from
    the filtered side into the fact scan (row-level pruning before the
    exchange). Simulate the at-scale planner decision by disabling
    broadcast and lowering the application-side size gate, and assert the
    bloom_filter_agg/might_contain pair appears around our join shape."""
    from pyspark.sql import functions as F

    from multithreaded_mapreduce_library_spark.sources import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n"))
        )
        plan = formatted_plan(j)
        assert "bloom_filter_agg" in plan, "runtime Bloom filter not injected"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_cogroup_plan_shape(spark, sf_dir):
    """cogroup().applyInPandas: both sides exchange once on the cogroup
    key into a FlatMapCoGroupsInPandas node; no cartesian fallback.
    r22: the cogroup key must be the custkey BUCKET (pmod), not the raw
    custkey — one Python call per key was the measured cost (guide §4.2),
    so a raw-key plan is a performance regression even though its output
    is identical."""
    import re

    plan = formatted_plan(SPECS["cogroup_reconcile"].builder(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the node's Arguments line opens with its left and right grouping keys
    node = re.search(
        r"\(\d+\) FlatMapCoGroupsInPandas\n(?:.*\n)*?Arguments: \[([^\]]+)\], \[([^\]]+)\]",
        plan,
    )
    assert node, "no FlatMapCoGroupsInPandas node"
    for key in node.groups():
        assert re.search(rf"pmod\(o_custkey#\d+L?, \d+\) AS {re.escape(key)}\b", plan), (
            f"cogroup key {key} must be the bucketed custkey"
        )


def test_corpus_curation_broadcasts_drop_list(spark, sf_dir):
    """The curation capstone: quality/language gates are narrow, the
    near-dup drop list broadcasts into the anti-join (corpus rows never
    shuffle for it), and the final counters partial-aggregate."""
    plan = formatted_plan(SPECS["corpus_curation"].builder(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_dedup_candidate_joins_are_df_bounded(spark, sf_dir):
    """Hot-shingle fanout cap: the inverted-index self-joins in
    dedup_ngram_jaccard and contamination_check must consume the
    df-bounded shingle set, and the df count must be the skew-safe
    two-phase aggregation — a partial (map-side) HashAggregate shrinks a
    hot shingle to one row per input partition BEFORE any exchange, the
    (df <= K) filter follows, and the surviving rare set comes back via a
    semi join. A count-over-window would instead buffer all O(df) rows of
    a boilerplate shingle in one task, the exact 100 TB straggler the
    cutoff exists to prevent — so the plan must have NO Window node."""
    import re

    from multithreaded_mapreduce_library_spark.operators.dedup import (
        SHINGLE_DF_CUTOFF,
    )

    for name in ("dedup_ngram_jaccard", "contamination_check"):
        plan = formatted_plan(SPECS[name].builder(spark, sf_dir))
        assert "Window" not in plan, (
            f"{name}: df count regressed to a window (hot-key straggler)"
        )
        assert re.search(rf"df#\d+L? <= {SHINGLE_DF_CUTOFF}\)", plan), (
            f"{name}: df-cutoff filter not in the plan"
        )
        assert "LeftSemi" in plan, f"{name}: rare-shingle semi join missing"
        assert plan.count("HashAggregate") >= 2, (
            f"{name}: df aggregation must be two-phase (partial + final)"
        )
        assert "CartesianProduct" not in plan


def test_bounded_shingles_enforce_cutoff(spark, sf_dir):
    """Functional side of the fanout cap: no shingle surviving
    _bounded_shingles appears in more than SHINGLE_DF_CUTOFF docs."""
    from pyspark.sql import functions as F

    from multithreaded_mapreduce_library_spark.operators.dedup import (
        SHINGLE_DF_CUTOFF,
        _bounded_shingles,
    )

    mx = (
        _bounded_shingles(spark, sf_dir)
        .groupBy("shingle")
        .count()
        .agg(F.max("count").alias("m"))
        .collect()[0]["m"]
    )
    assert mx is not None and mx <= SHINGLE_DF_CUTOFF


def test_aqe_coalesces_small_shuffle_partitions(spark, sf_dir):
    """AQE runtime re-planning is live: a small aggregation's final
    adaptive plan reads the shuffle through AQEShuffleRead with partitions
    coalesced below the static spark.sql.shuffle.partitions — the
    mechanism that right-sizes reducers from runtime stats at any scale."""
    from pyspark.sql import functions as F

    from multithreaded_mapreduce_library_spark.sources import load_table

    df = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    df.collect()  # the final adaptive plan exists only after execution
    plan = formatted_plan(df, mode="simple")
    assert "AQEShuffleRead" in plan
    assert "coalesced" in plan


def test_pii_redact_is_narrow(spark, sf_dir):
    """PII redaction must ride the scan: a per-row regex projection with
    ZERO exchanges — the only acceptable shape for scrubbing 100 TB."""
    df = SPECS["pii_redact"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Exchange" not in plan, "pii_redact grew a shuffle"
    assert codegen_stage_count(df) >= 1, "regex projection fell out of codegen"


def test_repetition_ngram_partial_aggregates(spark, sf_dir):
    """Both aggregations (per-gram count, per-doc rollup) must partial-
    aggregate map-side so repeated grams collapse before the wire."""
    plan = formatted_plan(SPECS["repetition_ngram"].builder(spark, sf_dir))
    assert plan.count("HashAggregate") >= 4  # two partial+final pairs
    assert "CartesianProduct" not in plan


def test_embedding_quantize_is_narrow(spark, sf_dir):
    """Quantization must ride the scan: zero exchanges, higher-order
    array expressions only (no explode, no Python)."""
    plan = formatted_plan(SPECS["embedding_quantize"].builder(spark, sf_dir))
    assert "Exchange" not in plan, "embedding_quantize grew a shuffle"
    assert "Generate" not in plan, "quantization must not explode the array"
    assert "Python" not in plan


def test_ivf_train_broadcasts_centroids(spark, sf_dir):
    """ivf_train_centroids' emitted plan: the final assignment is the
    LITERAL k-centroid argmin — one narrow projection over the scan with
    ZERO joins, ZERO windows and no exchange beyond the scan's own
    rebalance. (The training rounds run eagerly at build time through
    the same zero-exchange assign + the k x dim partial-agg update;
    values are pinned against the oracle by
    test_lloyd_narrow_assign_agrees_with_window.)"""
    from multithreaded_mapreduce_library_spark.operators.similarity import (
        _dvec,
        _load_embeddings,
    )

    df = SPECS["ivf_train_centroids"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    base = formatted_plan(
        _load_embeddings(spark, sf_dir).select("vec_id", _dvec("embedding").alias("v"))
    )
    for node in ("BroadcastNestedLoopJoin", "CartesianProduct", "SortMergeJoin",
                 "ShuffledHashJoin", "BroadcastHashJoin", "Window"):
        assert node not in plan, f"narrow trained assignment must not {node}"
    assert plan.count("Exchange") == base.count("Exchange"), (
        "trained assignment must add zero exchanges over the bare scan"
    )


def test_lloyd_multi_round_plan_stays_bounded(spark, sf_dir):
    """The multi-round Lloyd loop keeps the final plan O(1) deep with no
    checkpoint: each round's centroids enter the next round's plan as
    literals, so the rounds=2 final assignment is the same single
    projection over the scan as rounds=1 — no Generate (round 1's
    posexplode update tree), no join of any kind, no added node."""
    import re

    from multithreaded_mapreduce_library_spark.operators.similarity import (
        _lloyd_final_assignment,
    )

    plan1 = formatted_plan(_lloyd_final_assignment(spark, sf_dir, rounds=1))
    plan2 = formatted_plan(_lloyd_final_assignment(spark, sf_dir, rounds=2))
    assert "Generate" not in plan2, (
        "round-1 update tree leaked into the round-2 assignment plan"
    )
    assert "Join" not in plan2 and "CartesianProduct" not in plan2
    assert "Window" not in plan2
    nodes = [re.findall(r"^\(\d+\) (\w+)", p, re.M) for p in (plan1, plan2)]
    assert nodes[0] == nodes[1], "the plan grew with the number of rounds"


def test_lloyd_seeds_take_ordered_not_global_sort(spark, sf_dir):
    """The unified core's seed selection (K_CELLS smallest vec_ids
    PRESENT — orderBy/limit, the rule that is correct on arbitrary
    frames like the corpus split) must compile to TakeOrderedAndProject
    (per-partition top-k, then k rows to one task), never a global Sort
    + Exchange of the corpus: the seed step has to stay metadata-cheap
    at 100 TB."""
    from multithreaded_mapreduce_library_spark.operators.similarity import (
        _dvec,
        _lloyd_seeds,
        _load_embeddings,
    )

    e = _load_embeddings(spark, sf_dir).select(
        "vec_id", _dvec("embedding").alias("v")
    )
    plan = formatted_plan(_lloyd_seeds(e))
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan.lower(), (
        "seed selection must not range-shuffle the corpus for a k-row sort"
    )


def test_lloyd_train_is_partitioning_independent(spark, sf_dir):
    """The unified core's headline exactness claim, tested directly: the
    fixed-point integer centroid means make EVERY training round
    independent of the input's physical partitioning (integer sums are
    associative+commutative; double sums would not be). Train on the
    same frame under three adversarial layouts — default, repartition(7)
    (round-robin rows across odd partition counts), coalesce(1) (fully
    sequential) — for 1 and 2 rounds and require the centroid frames be
    EXACTLY equal, bit-for-bit. This is the property that lets the
    driver's DuckDB differential (single-threaded) agree with local[32],
    and would let a 1000-executor cluster agree with both."""
    from multithreaded_mapreduce_library_spark.operators.similarity import (
        _dvec,
        _lloyd_train,
        _load_embeddings,
    )

    e = _load_embeddings(spark, sf_dir).select(
        "vec_id", _dvec("embedding").alias("v")
    )
    for rounds in (1, 2):
        canon = None
        for layout in (e, e.repartition(7), e.coalesce(1)):
            got = sorted(
                (r["cid"], tuple(r["vc"]))
                for r in _lloyd_train(layout, rounds)
            )
            if canon is None:
                canon = got
            else:
                assert got == canon, (
                    f"rounds={rounds}: centroids depend on partitioning"
                )


def test_quantized_topk_broadcasts_queries(spark, sf_dir):
    """Code scoring must broadcast the tiny query-side code set and never
    sort-merge or shuffle the corpus per query."""
    plan = formatted_plan(SPECS["sim_topk_quantized"].builder(spark, sf_dir))
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_quantized_serving_path_is_cell_local(spark, sf_dir):
    """The capstone serving query must generate candidates through the
    cell equi-join only — no cartesian fallback anywhere in the composed
    train+quantize+probe+rerank plan. Since r21 the global code scale is
    an eagerly-collected literal (folded in by build_ann_index) and the training
    centroids are the narrow literal argmin, so the plan must contain NO
    nested-loop join at all (the old crossJoin(broadcast(gs)) planned as
    BroadcastNestedLoopJoin on BOTH shortlist sides — the subtree the
    r21 optimization removed)."""
    plan = formatted_plan(SPECS["sim_topk_ivf_quantized"].builder(spark, sf_dir))
    assert "CartesianProduct" not in plan, "probe must stay cell-local"
    assert "BroadcastNestedLoopJoin" not in plan, (
        "the literal global scale must not re-grow a nested-loop join"
    )


def test_ivf_quantized_shortlist_carries_no_floats(spark, sf_dir):
    """The capstone's 'floats stay on disk' claim, enforced at the plan
    level: the frame the candidate stage shuffles is (ids, tinyint codes)
    with no float column at all, and every shuffle exchange in the
    candidate-generation/shortlist subplan keyed on the cell id or the
    query id carries only ids / code arrays / the integer dot — never a
    float-vector column. (The training argmin exchanges, keyed on vec_id,
    legitimately carry the vector; the exact rerank re-acquires floats by
    broadcasting the tiny shortlist against the scan, not by shuffling.)"""
    import re

    from multithreaded_mapreduce_library_spark.operators.similarity import (
        _ivfq_shortlist_ids,
        build_ann_index,
    )

    index, _ = build_ann_index(spark, sf_dir, "int8")
    dtypes = dict(index.dtypes)
    assert dtypes["codes"] == "array<tinyint>", dtypes
    assert not any("double" in t or "float" in t for t in dtypes.values()), dtypes

    plan = formatted_plan(_ivfq_shortlist_ids(index))
    float_cols = re.compile(r"\b(v|uv|va|vb|norm)#")
    blocks = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
        r"Arguments: hashpartitioning\((\w+)#",
        plan,
    )
    assert blocks, "no shuffle exchanges found in the shortlist plan"
    for cols, key in blocks:
        if key in ("qcid", "ncid", "query_id", "neighbor_id"):
            assert not float_cols.search(cols), (
                f"float-vector column crosses the {key}-keyed shortlist "
                f"exchange: [{cols}]"
            )


def test_asof_window_has_no_join(spark, sf_dir):
    """The carry-forward as-of formulation must plan as ONE window pass —
    no join node, no per-key fanout, a single exchange on user_id."""
    import re

    plan = formatted_plan(SPECS["join_asof_window"].builder(spark, sf_dir))
    assert "Join" not in plan, "as-of window variant grew a join"
    assert "Window" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_heavy_hitters_counts_only_candidates(spark, sf_dir):
    """The exact-count phase must broadcast the MG candidate set into the
    exploded token stream BEFORE the agg exchange — the full vocabulary
    never shuffles (the whole point of the two-phase plan)."""
    df = SPECS["heavy_hitters"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, "candidate semi-join must broadcast"
    assert "CartesianProduct" not in plan
    # candidate filter sits below the count's partial aggregate: the join
    # appears in the same plan as >=2 HashAggregates (partial + final)
    assert plan.count("HashAggregate") >= 2


def test_pareto_frontier_linear_rewrite(spark, sf_dir):
    """The skyline must be the prefix-max rewrite (agg + window on the
    reduced price-level frame + broadcast join back), never a quadratic
    per-pair plan."""
    df = SPECS["pareto_frontier"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan, "frontier join-back must broadcast"
    assert "Window" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final price-level max


def test_sample_weighted_is_narrow(spark, sf_dir):
    """PPS sampling is a pure filter+projection — zero exchanges."""
    df = SPECS["sample_weighted"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Exchange" not in plan, "weighted sample must not shuffle"


def test_interpolate_linear_reduces_before_wide(spark, sf_dir):
    """Raw events reduce to (type, hour) rows via a partial-aggregated
    exchange before any window/join; both window passes share the
    (event_type, h) ordering."""
    df = SPECS["interpolate_linear"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2  # partial + final hourly agg
    assert "Window" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_snapshot_diff_joins_narrow_payloads(spark, sf_dir):
    """The full-outer diff join must be keyed (SMJ/shuffled-hash, never a
    nested loop), and the scans must prune to the key + sig inputs —
    wide rows never reach the shuffle."""
    df = SPECS["snapshot_diff"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "FullOuter" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    schemas = read_schemas(df)
    assert schemas and all("o_custkey" not in s for s in schemas), (
        "diff scan must prune to key/value columns"
    )


def test_incremental_agg_is_pure_aggregation(spark, sf_dir):
    """Base and delta states partial-aggregate map-side; the merge is an
    agg over already-reduced states — no join anywhere."""
    df = SPECS["incremental_agg"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    # string-min forces sort-based aggregation; count partial+final pairs
    # for base, delta and the merge (6 aggregate nodes total)
    aggs = plan.count("HashAggregate") + plan.count("SortAggregate")
    assert aggs >= 6
    assert "Join" not in plan
    # both states hash-partition on the merge key, so the merge agg rides
    # the existing partitioning: exactly the two state exchanges, no third
    # formatted plans list every node twice (tree + detail section)
    assert plan.count("Exchange") <= 4


def test_dedup_substring_joins_are_df_bounded_equi(spark, sf_dir):
    """Span matching must be seeded by an equi-join on the gram hash with
    the df-cutoff applied — never an all-pairs plan; run stitching is a
    window on the keys the join already shuffled."""
    df = SPECS["dedup_substring"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" in plan


def test_anomaly_mad_reduces_then_broadcasts(spark, sf_dir):
    """Events reduce to (type, day) via one partial-aggregated exchange;
    both median joins come back broadcast on the tiny per-type frames."""
    df = SPECS["anomaly_mad"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2  # partial + final daily agg
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


PR_EXPECTED_SCALAR_JOINS = 4  # r0 init + one per iteration (1-row count)


def test_graph_pagerank_iterations_are_copartitioned(spark, sf_dir):
    """Every iteration must be the keyed join-agg pair — no nested-loop
    or cartesian anywhere, with map-side partial aggregation feeding
    each dst exchange."""
    df = SPECS["graph_pagerank"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    # the only nested-loop joins allowed are the 1-row node-count
    # broadcasts (the scalar that replaces a driver-side count action)
    import re

    bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
    assert bnlj <= PR_EXPECTED_SCALAR_JOINS
    assert plan.count("HashAggregate") >= 6  # edge agg + wout + 3x contrib


def test_mixture_sample_filter_rides_scan(spark, sf_dir):
    """Group counts and the 1-row min broadcast into the keep filter;
    document rows are never shuffled (only per-group counters are)."""
    df = SPECS["mixture_sample"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    schemas = read_schemas(df)
    assert schemas and all("text" not in s for s in schemas), (
        "mixture sampling must not read the text column"
    )


def test_profile_table_per_column_distincts_no_expand(spark, sf_dir):
    """r21 contract (replaces the old single-scan Expand pin): the exact
    multi-column distinct counts must NOT plan through Expand (which
    multiplied every input row six-fold through the exchange — measured
    6.8-11.2s vs 0.9-1.7s at sf0.1); instead each column's distinct is
    its own COLUMN-PRUNED subtree (parquet reads each column once in
    both designs) joined back as a 1-row broadcast. The unpivot stays an
    inline struct explode; no sort-merge join, no union."""
    df = SPECS["profile_table"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Expand" not in plan, "multi-distinct Expand came back"
    assert "SortMergeJoin" not in plan and "Union" not in plan
    # every per-column distinct subtree scans exactly its own column
    schemas = read_schemas(df)
    assert schemas and max(s.count(":") for s in schemas) >= 5  # the base scan
    assert sum(1 for s in schemas if s.count(":") == 1) >= 5, (
        f"per-column distinct scans must prune to one column: {schemas}"
    )


def test_skew_diagnose_topk_not_global_sort(spark, sf_dir):
    """Top-K heavy keys come from TakeOrderedAndProject over the per-key
    counts; the full key frame is never globally sorted."""
    df = SPECS["skew_diagnose"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final key counts
    assert "SortMergeJoin" not in plan


def test_histogram_fixed_shape(spark, sf_dir):
    """Per-group min/max broadcast back onto the scan; one partial-
    aggregated exchange on (flag, bucket); histogram frame is tiny."""
    df = SPECS["histogram_fixed"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # min/max agg + bucket counts


def test_audio_frame_features_is_narrow(spark, sf_dir):
    """Audio-doc filter rides the scan JVM-side; the WAV build/decode/
    frame pass is mapInPandas with no exchange beyond the optional
    round-robin rebalance of bare doc_ids."""
    df = SPECS["audio_frame_features"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan
    assert "Join" not in plan
    schemas = read_schemas(df)
    assert schemas and all("text" not in s for s in schemas), (
        "audio features must not read the text column"
    )


def test_retention_cohorts_copartitioned_join(spark, sf_dir):
    """The events<->first-seen join must ride the user_id partitioning
    (keyed join, no nested loop); count-distinct exchanges deduped
    triples only."""
    df = SPECS["retention_cohorts"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_event_transitions_single_window_exchange(spark, sf_dir):
    """One window exchange on user_id, then a tiny partial-aggregated
    count — no joins anywhere."""
    import re

    df = SPECS["event_transitions"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan
    assert "Window" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2  # window + count


def test_gaps_islands_rides_user_partitioning(spark, sf_dir):
    """Distinct (user, day) is the only wide step; window + both aggs
    reuse that user_id partitioning."""
    df = SPECS["gaps_islands"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan
    assert "Window" in plan


def test_time_weighted_avg_one_window_exchange(spark, sf_dir):
    """One window exchange on event_type; weighted sums partial-aggregate
    on the same partitioning — no join."""
    import re

    df = SPECS["time_weighted_avg"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan
    assert "Window" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_asof_nearest_has_no_join(spark, sf_dir):
    """The nearest-in-time match must be the two-window rewrite: one
    user_id exchange, no join node (the oracle runs the quadratic
    per-user join; the engine never does)."""
    import re

    df = SPECS["join_asof_nearest"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan, "nearest as-of grew a join"
    assert "Window" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_embedding_stats_narrow_fold(spark, sf_dir):
    """The squared-norm fold rides the scan; one partial-aggregated label
    exchange carries 4 scalars per group — vectors never shuffle."""
    df = SPECS["embedding_stats"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan
    assert plan.count("HashAggregate") + plan.count("SortAggregate") >= 2


def test_join_interval_bins_is_broadcast_equi(spark, sf_dir):
    """The interval join must be the bin-bucketed rewrite: equi-join on
    the day bin with the exploded campaign side broadcast — never the
    quadratic overlap-predicate nested loop the oracle runs."""
    df = SPECS["join_interval_bins"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan  # the session islands build


def test_vocab_coverage_topk_not_global_sort(spark, sf_dir):
    """The budget curve must cut the vocabulary with TakeOrderedAndProject
    (the row_number window then runs on <= max(K) rows) — never sort the
    full vocab frame globally."""
    df = SPECS["vocab_coverage"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final token counts


def test_eval_auc_single_window_exchange(spark, sf_dir):
    """Both rank windows share the source partitioning; the rank sums
    partial-aggregate on the same key — no join, one wide exchange."""
    import re

    df = SPECS["eval_auc"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan
    assert "Window" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_merge_upsert_single_keyed_join(spark, sf_dir):
    """MERGE applies through ONE keyed full-outer join (SMJ/shuffled-hash,
    never a nested loop) over narrow projections — the shuffle carries
    (key, status, price, op) only, and scans prune everything else."""
    import re

    df = SPECS["merge_upsert"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "FullOuter" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # two join-side exchanges + the 3-group agg exchange, nothing more
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3
    schemas = read_schemas(df)
    assert schemas and all("o_comment" not in s and "o_custkey" not in s for s in schemas), (
        "merge scans must prune to key/status/price"
    )


def test_graph_pagerank_builds_without_driver_actions(spark, sf_dir):
    """Pin the r7 declarative rewrite: constructing the pagerank plan —
    per-iteration rank frames and the 1-row node-count broadcast
    included — must launch NO Spark job (the old version ran a
    driver-side count per build). Bare load_table calls first put both
    tables' schemas in the session's cache, so the build's own reads run
    no inference job either; explain must execute nothing."""
    from multithreaded_mapreduce_library_spark.sources import load_table

    sc = spark.sparkContext
    load_table(spark, sf_dir, "lineitem")
    load_table(spark, sf_dir, "orders")
    sc.setJobGroup("pagerank-build-audit", "plan construction")
    try:
        df = SPECS["graph_pagerank"].builder(spark, sf_dir)
        _ = formatted_plan(df)  # explain must not execute either
        built = len(sc.statusTracker().getJobIdsForGroup("pagerank-build-audit"))
    finally:
        sc.setJobGroup("", "")
    assert built == 0, f"plan construction launched {built} Spark job(s)"


def test_split_contamination_gate_joins_stay_keyed(spark, sf_dir):
    """Every join in the gate is keyed (shingle hash h, then doc_id) — no
    cartesian/NLJ fallback — and the flagged-id side reduces to DISTINCT
    doc ids (an aggregate) before it meets the test frame."""
    df = SPECS["split_contamination_gate"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan  # df-cutoff + train-overlap membership joins
    assert plan.count("HashAggregate") >= 4  # df agg, distinct ids, lang agg


def test_dedup_semantic_pairs_stay_cell_local(spark, sf_dir):
    """SemDeDup contract: the within-cell pair join must be an equi-join
    on the trained cell id (cell-local pairs, sum(cell^2) work), never a
    cartesian/nested-loop over the corpus; training centroids broadcast
    exactly as in ivf_train_centroids."""
    plan = formatted_plan(SPECS["dedup_semantic"].builder(spark, sf_dir))
    assert "CartesianProduct" not in plan, "pair join must stay cell-local"
    # the pair join itself must be a cell-keyed EQUI join; any of the
    # three equi strategies is fine (AQE may pick broadcast at fixture
    # scale) — the property is keyed-ness, not the physical strategy
    assert (
        "SortMergeJoin Inner" in plan
        or "ShuffledHashJoin Inner" in plan
        or "BroadcastHashJoin Inner" in plan
    ), "pair join must be an equi join on the cell id"
    # the only nested-loop joins allowed are the k-row centroid broadcasts
    # from the Lloyd training lineage this plan replicates: 2 per lineage
    # copy x 3 consumers of the assignment frame (pair side a, pair side
    # b, final decision join) = 6 distinct nodes — an absolute cap derived
    # from THIS plan's own lineage count, not coupled to another query's
    # plan. explain("formatted") mentions each node twice (tree line +
    # detail block), hence the x2.
    assert plan.count("BroadcastNestedLoopJoin") <= 2 * 6, (
        "no nested-loop beyond the replicated training broadcasts"
    )


def test_compact_plan_shape_and_pack_quality(spark, sf_dir):
    """compact_plan is a METADATA planner: one partial-aggregated exchange
    builds the file inventory, then the sequential-fill window runs over
    the O(#files) listing — no joins, no cartesian. Pack quality (the
    first-fit property of the cumulative DIV): every compact bin is
    bounded by target + one straddling file, every non-final bin is
    filled to at least target - max candidate, keep/compact is a clean
    partition of the inventory by the size threshold."""
    import re

    from multithreaded_mapreduce_library_spark.operators.maintenance import (
        COMPACT_TARGET,
    )

    df = SPECS["compact_plan"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "HashAggregate" in plan  # inventory agg with map-side partials
    assert "Window" in plan
    # inventory agg exchange (x2 for the union's two branches sharing the
    # lineage) + the two window exchanges — metadata-scale, not data-scale
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 5

    rows = df.collect()
    assert {r["file_id"] for r in rows} == {
        r["file_id"] for r in rows
    } and len({r["file_id"] for r in rows}) == len(rows), "one decision per file"
    keeps = [r for r in rows if r["action"] == "keep"]
    cands = [r for r in rows if r["action"] == "compact"]
    assert keeps and cands, "both branches must be exercised at every sf"
    assert all(r["size_bytes"] >= COMPACT_TARGET and r["bin_id"] == -1 for r in keeps)
    assert all(r["size_bytes"] < COMPACT_TARGET and r["bin_id"] >= 0 for r in cands)
    assert all(r["bin_total"] == r["size_bytes"] for r in keeps)
    max_cand = max(r["size_bytes"] for r in cands)
    bins = {}
    for r in cands:
        bins.setdefault(r["bin_id"], 0)
        bins[r["bin_id"]] += r["size_bytes"]
    for b, total in bins.items():
        assert total == next(
            r["bin_total"] for r in cands if r["bin_id"] == b
        ), "bin_total must be the bin's sum"
        assert total <= COMPACT_TARGET + max_cand, "bin overflow beyond one straddle"
        if b != max(bins):
            assert total >= COMPACT_TARGET - max_cand, (
                f"non-final bin {b} underfilled: {total}"
            )
    assert sorted(bins) == list(range(len(bins))), "bin ids must be dense"


def test_hybrid_retrieval_legs_stay_distributed(spark, sf_dir):
    """The fusion must never shuffle the corpus: the semantic leg's only
    product is the 1-row query-vector broadcast, both shortlists come off
    distributed TakeOrderedAndProject (no global sort exchange of data),
    and the fusion join runs on the two tiny shortlists."""
    plan = formatted_plan(SPECS["hybrid_retrieval"].builder(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan, "shortlists must be distributed top-k"
    assert "FullOuter" in plan  # the rank fusion join
    # the BM25 leg's per-doc pivot agg keeps its map-side partials
    assert plan.count("HashAggregate") >= 2


def test_dedup_minhash_incremental_probes_index_only(spark, sf_dir):
    """The arriving batch must PROBE the existing index, never re-pair it:
    the candidate join is a (band, sig) equi-join with no cartesian, the
    batch-side filter rides the band frame (work scales with the batch),
    and the decision agg partial-aggregates per batch doc."""
    plan = formatted_plan(SPECS["dedup_minhash_incremental"].builder(spark, sf_dir))
    assert "CartesianProduct" not in plan, "candidate generation must stay banded"
    assert (
        "SortMergeJoin Inner" in plan
        or "ShuffledHashJoin Inner" in plan
        or "BroadcastHashJoin Inner" in plan
    ), "candidate join must be a (band, sig) equi join"
    assert plan.count("HashAggregate") >= 4  # signature min-agg + decision agg partials


def test_mmr_rerank_distributed_work_is_shortlist_bounded(spark, sf_dir):
    """Everything corpus-scale in mmr_rerank happens in the hybrid legs;
    the pair-scoring join must be broadcast-side (the shortlist), never a
    corpus shuffle, and the shortlists come off distributed top-k. The
    greedy itself is driver-side over K rows — what this pins is that no
    plan node ever pairs the corpus with itself."""
    from multithreaded_mapreduce_library_spark.operators.pipeline import (
        hybrid_retrieval,
    )
    from multithreaded_mapreduce_library_spark.operators.similarity import (
        _SPARK_COSINE,
        _SPARK_NORM,
        _dvec,
        _load_embeddings,
    )
    from pyspark.sql import functions as F

    top = hybrid_retrieval(spark, sf_dir).select("doc_id", "rrf")
    e = _load_embeddings(spark, sf_dir).select(
        "vec_id", _dvec("embedding").alias("v")
    ).withColumn("norm", F.expr(_SPARK_NORM))
    cand_vecs = e.join(
        F.broadcast(top.select(F.col("doc_id").alias("vec_id"))), "vec_id"
    )
    a = cand_vecs.select(
        F.col("vec_id").alias("da"), F.col("v").alias("va"), F.col("norm").alias("norm_a")
    )
    b = cand_vecs.select(
        F.col("vec_id").alias("db"), F.col("v").alias("vb"), F.col("norm").alias("norm_b")
    )
    pairs = (
        F.broadcast(a)
        .join(b, F.col("da") != F.col("db"))
        .select("da", "db", F.expr(_SPARK_COSINE).alias("c"))
    )
    plan = formatted_plan(pairs)
    assert "CartesianProduct" not in plan
    # the shortlist-id semi join keeps the corpus side hash-joined, and
    # the pair join's nested-loop side is the BROADCAST shortlist
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert pairs.count() <= 20 * 19, "pair space must be shortlist-bounded"


def test_compact_apply_rewrite_is_lossless_and_planned_layout(spark, sf_dir, tmp_path):
    """compact_apply must be a PHYSICAL rewrite that (a) loses nothing —
    the round-tripped table is row-identical to the source projection —
    and (b) lands exactly the planned layout: one data file per output
    (bins coalesce their inputs, keeps pass through), file count equal to
    the plan's bin count + keep count. The routing join must broadcast
    the O(#files) mapping metadata, never shuffle rows for it."""
    import os

    from multithreaded_mapreduce_library_spark.operators.maintenance import (
        compact_rewrite,
    )
    from multithreaded_mapreduce_library_spark.sources import load_table

    target = str(tmp_path / "out")
    applied = compact_rewrite(spark, sf_dir, target)

    # the routing join itself must BROADCAST the O(#files) mapping onto
    # the row scan — replicate the pre-write frame and pin the node type
    # (dropping the broadcast to a row shuffle on file_id would silently
    # double the rewrite's exchanges)
    from multithreaded_mapreduce_library_spark.operators.maintenance import (
        assign_compaction_bins,
        compact_file_inventory,
        spark_file_id,
    )
    from pyspark.sql import functions as F

    mapping = assign_compaction_bins(
        compact_file_inventory(spark, sf_dir)
    ).select("file_id", "bin_id")
    routed = (
        load_table(spark, sf_dir, "orders")
        .select(spark_file_id().alias("file_id"), "o_orderkey")
        .join(F.broadcast(mapping), "file_id")
    )
    routed_plan = formatted_plan(routed)
    assert "BroadcastHashJoin" in routed_plan
    assert "SortMergeJoin" not in routed_plan

    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    got = sorted(
        tuple(r)
        for r in applied.select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ).collect()
    )
    want = sorted(tuple(r) for r in src.collect())
    assert got == want, "rewrite must be lossless and bit-preserving"

    plan_rows = SPECS["compact_plan"].builder(spark, sf_dir).collect()
    n_keep = sum(1 for r in plan_rows if r["action"] == "keep")
    n_bins = len({r["bin_id"] for r in plan_rows if r["action"] == "compact"})
    per_dir = {}
    for root, _dirs, files in os.walk(target):
        data = [f for f in files if f.endswith(".parquet")]
        if data:
            per_dir[os.path.basename(root)] = len(data)
    assert len(per_dir) == n_keep + n_bins, (
        f"{len(per_dir)} output files vs planned {n_keep} keeps + {n_bins} bins"
    )
    assert all(n == 1 for n in per_dir.values()), (
        "each output must be exactly ONE data file"
    )

    summary = SPECS["compact_apply"].builder(spark, sf_dir)
    assert summary.count() == n_keep + n_bins


def test_dedup_semantic_incremental_probes_index_only(spark, sf_dir):
    """The arriving batch must PROBE the trained corpus index, never pair
    batch x batch or index x index: the admission join is an equi join on
    the cell id; training and assignment broadcast the k centroids (the
    only nested-loop nodes allowed are those k-row broadcasts); the
    output is exactly the batch split with corpus-side representatives."""
    from multithreaded_mapreduce_library_spark.functions import h31
    from multithreaded_mapreduce_library_spark.operators.dedup import INC_SPLIT_MOD
    from pyspark.sql import functions as F

    df = SPECS["dedup_semantic_incremental"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin Inner" in plan
        or "ShuffledHashJoin Inner" in plan
        or "BroadcastHashJoin Inner" in plan
    ), "admission join must be an equi join on the cell id"

    rows = df.collect()
    from multithreaded_mapreduce_library_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    is_batch = F.pmod(h31(F.col("vec_id").cast("string")), F.lit(INC_SPLIT_MOD)) == 0
    batch_ids = {r["vec_id"] for r in emb.filter(is_batch).select("vec_id").collect()}
    assert {r["vec_id"] for r in rows} == batch_ids, (
        "one admission decision per batch vector, none for the corpus"
    )
    dups = [r for r in rows if r["is_dup"]]
    admits = [r for r in rows if not r["is_dup"]]
    assert dups and admits, "fixture must exercise both admission branches"
    for r in dups:
        assert r["dup_of"] not in batch_ids and r["dup_of"] >= 0, (
            "dup_of must point into the CORPUS index, never the batch"
        )
    for r in admits:
        assert r["dup_of"] == -1
    for r in rows:
        if r["n_cell"] == 0:
            assert r["max_cos_fx"] == -2_000_000 and not r["is_dup"]


def test_stream_semantic_transform_is_narrow_argmin_one_equi_join(spark, sf_dir):
    """stream_dedup_semantic's streaming-legality claims, pinned on the
    transform itself (fed a LocalRelation index so every plan node below
    is the transform's own): the nearest-cell assignment must be a NARROW
    per-row literal argmin — no Window (the batch twin's row_number trick
    is streaming-illegal), no centroid scan or join (the k centroids live
    in the plan as literals), no cartesian pairing — and the only join is
    the ONE stream-static equi join on the cell id."""
    import re

    from pyspark.sql import functions as F

    from multithreaded_mapreduce_library_spark.functions import h31
    from multithreaded_mapreduce_library_spark.operators.dedup import INC_SPLIT_MOD
    from multithreaded_mapreduce_library_spark.operators.similarity import (
        _dvec,
        _lloyd_train,
        _load_embeddings,
    )
    from multithreaded_mapreduce_library_spark.streaming.queries import (
        semantic_admission_stream_transform,
    )

    is_batch = F.pmod(h31(F.col("vec_id").cast("string")), F.lit(INC_SPLIT_MOD)) == 0
    e = _load_embeddings(spark, sf_dir)
    corpus = e.select("vec_id", _dvec("embedding").alias("v")).filter(~is_batch)
    centroid_rows = _lloyd_train(corpus)
    assert centroid_rows, "fixture must train at least one cell"
    dim = len(centroid_rows[0]["vc"])
    idx = spark.createDataFrame(
        [(0, int(centroid_rows[0]["cid"]), [0.0] * dim, 1.0)],
        "od long, cid_i bigint, vb array<double>, norm_b double",
    )
    df = semantic_admission_stream_transform(e.filter(is_batch), centroid_rows, idx)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan, (
        "stream-side assignment must be the literal argmin, not a window"
    )
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, (
        "exactly the arriving scan: centroids are plan literals, the index "
        "is the fed static frame — nothing else may be read"
    )
    joins = re.findall(
        r"\(\d+\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan
    )
    assert len(joins) == 1, f"exactly one equi join on the cell id, got {joins}"


def test_bpe_apply_is_narrow(spark, sf_dir):
    """bpe_apply's returned frame is the APPLY stage only (training ran at
    build time, rules entered as literals): it must be a zero-exchange
    narrow map — scan documents, Project the tokenize/char-split/fold
    chain — with the scan pruned to doc_id+text. At 100 TB this is the
    embarrassingly-parallel tokenizer-worker shape: no shuffle, no join,
    no skew surface."""
    df = SPECS["bpe_apply"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    # r21: the ONE permitted exchange is the rebalance of the SOURCE rows
    # (round-robin, no key — a no-op on well-split sources; on the
    # one-row-group fixture it parallelizes the registry's most CPU-dense
    # per-row projection). Any keyed/data-dependent shuffle stays banned.
    import re

    exchanges = re.findall(r"\(\d+\) Exchange\n.*\nArguments: (\w+)", plan)
    assert all(k.startswith("RoundRobin") for k in exchanges), (
        f"apply stage grew a keyed shuffle: {exchanges}"
    )
    assert len(exchanges) <= 1, f"apply stage has {len(exchanges)} exchanges"
    for node in ("Join", "HashAggregate", "Sort", "Generate"):
        assert node not in plan, f"apply stage grew a {node} it does not need"
    schemas = read_schemas(df)
    assert schemas, "no parquet scan found"
    for s in schemas:
        assert "doc_id" in s and "text" in s
        for col in ("lang", "source", "n_chars"):
            assert col not in s, f"scan must prune {col}"


def test_lloyd_narrow_assign_agrees_with_window(spark, sf_dir, tied_sf_dir):
    """_lloyd_assign's literal argmin must reproduce the DuckDB oracle's
    row_number window argmin (_DUCK_LLOYD_CTES) EXACTLY: the seed pass
    equals a1's (vec_id, cid), and the trained final assignment equals
    a2's (vec_id, cid, d2), d2 double bits included. On the tied
    fixture two seeds are the same vector, so the seed pass also pins
    the (d2, cid) tiebreak."""
    from multithreaded_mapreduce_library_spark.operators.similarity import (
        _DUCK_LLOYD_CTES,
        _dvec,
        _lloyd_assign,
        _lloyd_seeds,
        _lloyd_train,
        _load_embeddings,
    )
    from tests.oracle import run_duckdb

    def spark_rows(df, cols):
        return sorted(map(tuple, df.select(*cols).collect()))

    def duck_rows(d, cte, cols):
        sql = f"WITH {_DUCK_LLOYD_CTES} SELECT {', '.join(cols)} FROM {cte}"
        return sorted(run_duckdb(sql, d)[1])

    for d in (sf_dir, tied_sf_dir):
        e = _load_embeddings(spark, d).select("vec_id", _dvec("embedding").alias("v"))
        cols = ["vec_id", "cid"]
        seed = spark_rows(_lloyd_assign(e, _lloyd_seeds(e).collect()), cols)
        assert seed and seed == duck_rows(d, "a1", cols), d
        cols = ["vec_id", "cid", "d2"]
        final = spark_rows(_lloyd_assign(e, _lloyd_train(e)), cols)
        assert final and final == duck_rows(d, "a2", cols), d


def test_lloyd_narrow_assign_zero_exchange(spark, sf_dir):
    """_lloyd_assign must compile to a single narrow projection over the
    input frame: NO Window, NO added Exchange (the only exchange in the
    plan is the source's own scan rebalance, present in the bare input
    too), and no join node of any kind — the k centroids live in the
    plan as literals. Holds on the full table and on a filtered corpus
    split (the semantic-admission shape) alike. At 100 TB a window
    argmin would exchange N*k rows on vec_id; this exchanges nothing."""
    from pyspark.sql import functions as F

    from multithreaded_mapreduce_library_spark.functions import h31
    from multithreaded_mapreduce_library_spark.operators.dedup import INC_SPLIT_MOD
    from multithreaded_mapreduce_library_spark.operators.similarity import (
        _dvec,
        _lloyd_assign,
        _lloyd_seeds,
        _lloyd_train,
        _load_embeddings,
    )

    e = _load_embeddings(spark, sf_dir).select(
        "vec_id", _dvec("embedding").alias("v")
    )
    is_batch = F.pmod(h31(F.col("vec_id").cast("string")), F.lit(INC_SPLIT_MOD)) == 0
    corpus = e.filter(~is_batch)
    for frame, rows in ((e, _lloyd_seeds(e).collect()), (corpus, _lloyd_train(corpus))):
        base_exchanges = formatted_plan(frame).count("Exchange")
        plan = formatted_plan(_lloyd_assign(frame, rows))
        assert "Window" not in plan, "narrow argmin must not window"
        assert plan.count("Exchange") == base_exchanges, (
            "narrow argmin must add zero exchanges over the bare scan"
        )
        for join in ("BroadcastNestedLoopJoin", "SortMergeJoin", "CartesianProduct",
                     "ShuffledHashJoin", "BroadcastHashJoin"):
            assert join not in plan, f"narrow argmin must not join ({join})"


def test_lloyd_narrow_assign_empty_centroids(spark, sf_dir):
    """No centroid rows must yield an empty assignment with the usual
    schema — the dedup_semantic_incremental / stream_dedup_semantic
    empty-corpus edge rides this."""
    from multithreaded_mapreduce_library_spark.operators.similarity import (
        _dvec,
        _lloyd_assign,
        _lloyd_seeds,
        _load_embeddings,
    )

    e = _load_embeddings(spark, sf_dir).select(
        "vec_id", _dvec("embedding").alias("v")
    )
    got = _lloyd_assign(e, [])
    assert got.count() == 0
    assert got.dtypes == _lloyd_assign(e, _lloyd_seeds(e).collect()).dtypes


# --- embedding_outliers (landed r18; pins migrated from test_staging.py) --


def test_embedding_outliers_known_values(spark, tmp_path):
    """Hand-checked 9-vector corpus (dim 2 — the builder is
    dimension-agnostic; only the DuckDB oracle pins DIM): v0=(0,0),
    vk=(100k,0) for k=1..7, v8=(2,0). Seeds = 8 smallest vec_ids (0..7).
    Round 1: v8 joins cell 0 (d2 4 vs 9604+); update moves c0 to the
    exact fixed-point mean (1,0), others stay on themselves. Re-assign:
    v0 and v8 both d2=1.0 in cell 0 (tie -> vec_id order), vk d2=0 in
    their own cells."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from multithreaded_mapreduce_library_spark.registry import load_all

    d = tmp_path / "micro"
    d.mkdir()
    vecs = [[0.0, 0.0]] + [[100.0 * k, 0.0] for k in range(1, 8)] + [[2.0, 0.0]]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(9), type=pa.int64()),
                "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
                "label": ["l"] * 9,
            }
        ),
        str(d / "embeddings.parquet"),
    )
    got = sorted(
        (r["cid"], r["vec_id"], r["d2_r"], r["rnk"])
        for r in load_all()["embedding_outliers"].builder(spark, str(d)).collect()
    )
    want = sorted(
        [(0, 0, 1.0, 1), (0, 8, 1.0, 2)]
        + [(k, k, 0.0, 1) for k in range(1, 8)]
    )
    assert got == want


def test_embedding_outliers_plan_shape(spark, sf_dir):
    """Training + assignment ride the zero-exchange narrow argmin, so
    the whole query has NO join nodes; the only new exchange over the
    bare scan is the per-cell ranking window, and Spark pushes the
    rnk<=5 filter into a WindowGroupLimit (each partition keeps top-5
    before the final sort — the property that bounds the sort at
    scale)."""
    import re

    from multithreaded_mapreduce_library_spark.registry import load_all

    plan = formatted_plan(load_all()["embedding_outliers"].builder(spark, sf_dir))

    def nodes(kind: str) -> int:
        return len(re.findall(rf"^\(\d+\) {kind}\b", plan, re.M))

    for join in (
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastHashJoin",
    ):
        assert join not in plan, f"outliers must not join ({join})"
    assert nodes("Window") == 1
    assert "WindowGroupLimit" in plan, "rank limit must push into the window"


def test_embedding_outliers_final_plan_scans_once(spark, sf_dir):
    """The executed-plan half of the r18 landing pins (the lm_bigram /
    novelty / divergence precedent): the FINAL assignment+ranking query
    reads embeddings EXACTLY ONCE — the trained centroids live in the
    plan as literals (narrow argmin), so there is no second scan for
    assignment and nothing to reuse or recompute. (The training
    iterations ran eagerly at build time as separate jobs — this pins
    the SERVED plan, the one that runs per deployment at 100 TB.)"""
    from multithreaded_mapreduce_library_spark.plans import final_adaptive_plan
    from multithreaded_mapreduce_library_spark.registry import load_all

    final = final_adaptive_plan(
        load_all()["embedding_outliers"].builder(spark, sf_dir)
    )
    assert final.count("FileScan parquet") == 1, "embeddings must scan once"


# The numbered tree of a formatted explain (AQE off) in which one side of a
# self-join reads the other's exchange.
_REUSED_EXCHANGE_TREE = """== Physical Plan ==
* Project (12)
+- * SortMergeJoin Inner (11)
   :- * Sort (7)
   :  +- * HashAggregate (6)
   :     +- Exchange (5)
   :        +- * HashAggregate (4)
   :           +- * Project (3)
   :              +- * Filter (2)
   :                 +- * Range (1)
   +- * Sort (10)
      +- * HashAggregate (9)
         +- ReusedExchange (8)


(5) Exchange
Input [2]: [k#1L, count#10L]

(8) ReusedExchange [Reuses operator id: 5]
Output [2]: [k#7L, count#10L]
"""


def test_plan_sweep_counts_reused_exchange_apart():
    """scripts/plan_sweep.py: a ReusedExchange is no second shuffle; it has
    its own column, and the details section counts nothing."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from scripts.plan_sweep import count_tree_nodes

    counts = count_tree_nodes(_REUSED_EXCHANGE_TREE)
    assert counts["shuffle_exchange"] == 1
    assert counts["reused_exchange"] == 1
    assert counts["broadcast_exchange"] == 0
    assert counts["smj"] == 1
