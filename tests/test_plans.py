"""Physical-plan quality gates (SURVEY.md §4.3): the optimizer must
actually produce the shapes the 100 TB design assumes — broadcast for
dims, pushed filters and pruned columns at the parquet scan, salted
pre-aggregation. A regression that silently turns a broadcast join into
a sort-merge join or un-pushes a filter fails here, not in production.
"""

from pyspark.sql import functions as F

from spark_etl_agent_spark.plans.jcap_extract import run_jcap_extract
from spark_etl_agent_spark.queries import registry
from spark_etl_agent_spark.queries.base import load

SPECS = registry()


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_jcap_extract_broadcasts_dims(spark, sf_dir):
    """The two genuine dims (alignment, segment) are hint-broadcast; the
    fact-derived DISTINCT U must NOT carry a forced broadcast (AQE may
    still choose one at runtime when it is actually small)."""
    plan = plan_of(run_jcap_extract(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # alignment, segment

    import importlib
    import inspect

    m = importlib.import_module("spark_etl_agent_spark.plans.jcap_extract")
    src = inspect.getsource(m.jcap_extract)
    assert "F.broadcast(u)" not in src


def test_pricing_summary_pushes_filter_and_prunes(spark, sf_dir):
    plan = plan_of(SPECS["pricing_summary"].spark(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the 7-column read, not all 11 lineitem columns
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_top_revenue_orders_broadcasts_customer(spark, sf_dir):
    plan = plan_of(SPECS["top_revenue_orders"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment" in plan


def test_band_join_is_broadcast_nested_loop(spark, sf_dir):
    """A broadcast range join must NOT become a cartesian product."""
    plan = plan_of(SPECS["band_join_parts"].spark(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_salted_agg_has_two_phase_shape(spark, sf_dir):
    plan = plan_of(SPECS["salted_agg_lineitem"].spark(spark, sf_dir))
    # partial on (key, salt) then final on key → two hash-agg pairs
    assert plan.count("HashAggregate") >= 4


def test_limit_is_pushed_into_scan(spark, sf_dir):
    df = load(spark, sf_dir, "lineitem").limit(7)
    plan = plan_of(df)
    assert "GlobalLimit" in plan or "CollectLimit" in plan


def test_whole_stage_codegen_covers_hot_path(spark, sf_dir):
    """AQE finalizes the physical plan at execution time — run the query,
    then assert the executed plan fused the scan→agg hot path."""
    df = SPECS["pricing_summary"].spark(spark, sf_dir)
    df.collect()  # finalize the adaptive plan
    codegen = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )
    n = int(codegen.splitlines()[0].split()[1])
    assert n >= 2, codegen.splitlines()[0]  # scan→partial-agg and final-agg fused


def test_asof_join_is_window_not_join(spark, sf_dir):
    """The as-of operator must compile to union+window — no join node,
    no cartesian explosion."""
    plan = plan_of(SPECS["asof_join_clicks"].spark(spark, sf_dir))
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "NestedLoopJoin" not in plan


def test_string_similarity_blocks_on_equi_key(spark, sf_dir):
    """Blocked entity resolution must join on the block key (hash/sort
    join), never a nested-loop over all pairs."""
    plan = plan_of(SPECS["string_similarity_pairs"].spark(spark, sf_dir))
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_ann_bruteforce_broadcasts_queries(spark, sf_dir):
    """Tiny query set × full candidate scan: the broadcast must be on
    the query side (a shuffle here would be wrong at any scale)."""
    plan = plan_of(SPECS["ann_bruteforce_topk"].spark(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_disjunctive_brackets_push_envelope_and_broadcast_part(spark, sf_dir):
    """Q19 shape: the part side must broadcast and the brand legs must
    reach the part scan as pushed Or-filters (sargable disjunction)."""
    plan = plan_of(SPECS["disjunctive_bracket_revenue"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("EqualTo(p_brand,Brand#1)" in l for l in pushed), pushed
    # the quantity envelope of the brackets reaches the lineitem scan too
    assert any("l_quantity" in l for l in pushed), pushed


def test_market_share_broadcasts_all_dim_chains(spark, sf_dir):
    """Q8 shape: part/supplier/nation/region chains broadcast; only
    fact-fact edges (lineitem×orders, semi to customers) may shuffle."""
    plan = plan_of(SPECS["market_share"].spark(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_exists_shape_is_semi_join_with_pushed_filter(spark, sf_dir):
    """Q4 shape: the EXISTS must be a semi join (no row duplication) and
    the returnflag predicate must reach the lineitem scan."""
    plan = plan_of(SPECS["exists_returned_orders"].spark(spark, sf_dir))
    assert "LeftSemi" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("EqualTo(l_returnflag,R)" in l for l in pushed), pushed


def test_min_cost_supplier_no_cartesian_and_prunes(spark, sf_dir):
    """Q2 shape: decorrelated min re-join must stay an equi-join (never
    cartesian) and the lineitem scan must read only the 4 used columns."""
    plan = plan_of(SPECS["min_cost_supplier"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_shipdate" not in read_schema and "l_discount" not in read_schema


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Two co-bucketed tables must sort-merge join with ZERO Exchange
    nodes — the co-located join layout for recurring joins at scale."""
    from spark_etl_agent_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "bucket_wh"))
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                                  "o_totalprice")
    lineitem = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    cat.write_table_bucketed(orders, "wh.orders_b", ["o_orderkey"], 8)
    cat.write_table_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "wh.lineitem_b", ["o_orderkey"], 8,
    )
    joined = cat.read_bucketed_table("wh.orders_b").join(
        cat.read_bucketed_table("wh.lineitem_b"), "o_orderkey"
    )
    # disable the broadcast fallback so the bucket layout is what's tested
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # buckets align: no shuffle at all
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # correctness unchanged
    expected = orders.join(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
    ).count()
    assert joined.count() == expected


def test_scd2_windows_share_one_exchange(spark, sf_dir):
    """Both SCD2 windows partition on the dimension key and the run-start
    filter preserves partitioning — the whole collapse must cost exactly
    two exchanges (the (key, ts) pre-aggregation + one window shuffle),
    never a third for the lead() pass."""
    plan = plan_of(SPECS["scd2_priority_history"].spark(spark, sf_dir))
    # tree nodes render as "Name (id)"; detail headers as "(id) Name"
    assert plan.count("Window (") == 2
    assert plan.count("Exchange (") == 2


def test_fk_audit_anti_joins_broadcast(spark, sf_dir):
    """Every relation's orphan check must be a broadcast anti-join on the
    distinct parent key set (dimension-sized) — a sort-merge anti join
    would shuffle the full fact side once per relation."""
    plan = plan_of(SPECS["fk_integrity_audit"].spark(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_histogram_is_two_scans_no_shuffle_join(spark, sf_dir):
    """The scalar min/max frame joins back by broadcast (single row) —
    the bucket assignment itself must not shuffle the table."""
    plan = plan_of(SPECS["retailprice_histogram"].spark(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_gap_fill_spine_join_broadcasts(spark, sf_dir):
    """The calendar spine is |keys| x |days| — it must reach the daily
    aggregate as a broadcast join, and the key-frame x spine cross
    product must be broadcast-nested-loop, never a cartesian product."""
    plan = plan_of(SPECS["gap_fill_daily"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rolling_distinct_dedups_before_explode(spark, sf_dir):
    """Dedup-first: the distinct (entity, day) aggregate must sit below
    the explode (Generate) in the plan, so the 7x fan-out applies to
    deduped rows, not raw events."""
    plan = plan_of(SPECS["rolling_active_users"].spark(spark, sf_dir))
    gen_pos = plan.find("Generate")
    agg_positions = [
        i for i in range(len(plan)) if plan.startswith("HashAggregate", i)
    ]
    assert gen_pos > 0 and agg_positions
    # at least one aggregate node appears after Generate in the tree
    # rendering (formatted plans list children below parents, so the
    # dedup aggregate that FEEDS the explode prints after it)
    assert any(p > gen_pos for p in agg_positions)


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Runtime-filter posture: a selective dim filter must inject a
    bloom might_contain onto the fact scan side (rows dropped before
    the shuffle, the 100 TB join-pruning lever). Thresholds are lowered
    in-test because the local fixture is far below the production
    creation-side default."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load(spark, sf_dir, "lineitem")
        orders = load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        phys = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in phys.lower(), phys[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_revenue_concentration_no_global_data_window(spark, sf_dir):
    """Exact-ntile-at-scale gate: the entity aggregate must be range-
    partitioned and ranked per-partition — no ntile window, and the only
    unpartitioned windows run over the partition-metadata frame (bounded
    by numPartitions), never the data. The range exchange proves the
    parallel global ordering."""
    import re

    from spark_etl_agent_spark.operators.ranks import _PID, _PSZ

    plan = plan_of(SPECS["revenue_concentration"].spark(spark, sf_dir))
    assert "ntile" not in plan
    assert "rangepartitioning" in plan
    windows = [
        ln
        for ln in plan.splitlines()
        if ln.startswith("Arguments: [") and "windowspecdefinition" in ln
    ]
    by_pid = [a for a in windows if re.search(rf"\], \[{_PID}#\d+[,\]]", a)]
    # the running-count window (the only per-row data window) partitions
    # on the partition id; the unpartitioned offset windows see only the
    # ≤numPartitions size rows
    assert any("sum(1)" in a for a in by_pid), windows
    for a in windows:
        assert a in by_pid or f"sum({_PSZ}#" in a, a


def test_minhash_band_join_is_equi_join(spark, sf_dir):
    """LSH candidate generation must join on band keys (hash/sort-merge)
    — an all-pairs nested loop defeats the entire blocking design."""
    plan = plan_of(SPECS["minhash_near_duplicates"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_blocks_on_shingles(spark, sf_dir):
    """Inverted-index blocking: pair generation joins on shingle keys,
    never all-pairs."""
    plan = plan_of(SPECS["ngram_jaccard_dedup"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_table_profile_is_single_scan(spark, sf_dir):
    """The per-column profile must read the table ONCE (one parquet scan
    node) — the naive shape scans it once per column."""
    plan = plan_of(SPECS["orders_table_profile"].spark(spark, sf_dir))
    # formatted plans render each node in the tree AND a detail block —
    # count tree nodes only
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree
    assert "Expand" in tree  # the one-scan multi-distinct strategy


def test_aqe_skew_join_splits_skewed_partitions(spark, sf_dir):
    """The session's skewJoin conf must actually FIRE on a skewed join:
    with thresholds lowered to fixture scale, the executed plan's
    sort-merge join must be marked skew=true (AQE split the straggler
    partition into parallel subtasks). This is the runtime half of the
    skew story — operators/skew.py is the planned half."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # one giant key (90% of rows) + a uniform tail
        left = spark.range(200_000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k", "id AS v"
        )
        right = spark.range(0, 50).selectExpr("id AS k", "id * 2 AS w")
        j = left.join(right, "k").selectExpr("sum(v + w) AS s")
        j.collect()
        phys = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in phys, phys[:1500]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_outlier_fences_quantiles_are_rank_based(spark, sf_dir):
    """The fences query must carry NO in-memory percentile aggregate —
    quantiles come from the range-partitioned rank path."""
    plan = plan_of(SPECS["value_outlier_fences"].spark(spark, sf_dir))
    assert "percentile" not in plan
    assert "rangepartitioning" in plan


def test_simhash_pairs_no_cartesian_and_reuses_fingerprints(spark, sf_dir):
    """The chunk self-join must be an equi-join (never cartesian) and
    both sides must read the PERSISTED fingerprint table instead of
    recomputing the token-vote pipeline twice."""
    from spark_etl_agent_spark.queries.dedup import simhash_near_duplicates

    df = simhash_near_duplicates(spark, sf_dir)
    plan = plan_of(df)
    try:
        assert "CartesianProduct" not in plan and "NestedLoopJoin" not in plan
        assert "InMemoryTableScan" in plan  # persisted bits feed the join
    finally:
        spark.catalog.clearCache()


def test_probe_band_join_is_equi_join(spark, sf_dir):
    from spark_etl_agent_spark.queries.dedup import incremental_neardup_probe

    plan = plan_of(incremental_neardup_probe(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    spark.catalog.clearCache()


def test_medoids_broadcast_centroid_table(spark, sf_dir):
    from spark_etl_agent_spark.queries.similarity import embedding_label_medoids

    plan = plan_of(embedding_label_medoids(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_scrub_spans_no_cartesian(spark, sf_dir):
    """ExactSubstr scrub: candidate pruning joins on the span hash /
    (doc, position) equi-keys — never all-pairs; the reassembly window
    stays document-partitioned."""
    plan = plan_of(SPECS["scrub_duplicate_spans"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_curve_window_after_limit(spark, sf_dir):
    """The rank/prefix window must sit above the top-N bounded
    reduction (TakeOrderedAndProject), never over the full vocabulary
    — an unpartitioned window under the limit would single-thread the
    whole token count at 100 TB."""
    plan = plan_of(SPECS["vocab_coverage_curve"].spark(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree
    w = tree.index("Window")
    t = tree.index("TakeOrderedAndProject")
    # formatted plans print consumers above producers: the window node
    # must appear ABOVE (before) the bounded top-N that feeds it
    assert w < t, tree


def test_winnowing_no_cartesian_doc_bounded_windows(spark, sf_dir):
    """Winnowing: candidate selection is an explode + (doc, pos, hash)
    equi-join; every window partitions by document — no all-pairs step,
    no global window."""
    plan = plan_of(SPECS["winnowing_fingerprints"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnowing_overlap_joins_on_fingerprints(spark, sf_dir):
    """Overlap pairing must join on the fingerprint equi-key (df-capped
    inverted index) — never all-pairs."""
    plan = plan_of(SPECS["winnowing_overlap_pairs"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_bucket_tables_broadcast(spark, sf_dir):
    """DSIR: the ≤256-row bucket weight table must broadcast back onto
    the (doc, bucket) counts — the corpus-sized side never re-shuffles
    for the scoring join, and nothing is all-pairs."""
    plan = plan_of(SPECS["dsir_importance_weights"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_bigram_logprob_count_joins_are_equi(spark, sf_dir):
    """Bigram LM: count joins are equi-joins on (w1, w2) / w1; the only
    nested-loop site is the 1-row V scalar broadcast."""
    import re

    plan = plan_of(SPECS["bigram_doc_logprob"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # one BNLJ node only (the 1-row V scalar); formatted explain prints
    # each node in both the tree and the detail section, so count the
    # detail headers
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1


def test_lsh_band_calibration_no_cartesian(spark, sf_dir):
    """Band calibration: every pairing join is an equi-join on
    (band_idx, band_key); the per-config scalar stats rows may
    broadcast-nested-loop only as 1×1 crossJoins."""
    df = SPECS["lsh_band_calibration"].spark(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan


def test_split_leakage_no_cartesian(spark, sf_dir):
    """Leakage audit rides the proven LSH band equi-join; split labels
    join on the doc id — nothing all-pairs."""
    plan = plan_of(SPECS["split_leakage_audit"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_perplexity_band_thresholds_broadcast_no_percentile_buffer(
    spark, sf_dir
):
    """Band pruning: thresholds come from the rank-based grouped
    quantile (no whole-group percentile() buffering) and the per-lang
    threshold table broadcasts back onto the scored corpus."""
    plan = plan_of(SPECS["perplexity_prune_band"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "percentile" not in plan.lower().replace("percent_rank", "")
    assert "BroadcastHashJoin" in plan


def test_minhash_estimate_error_equi_joins_only(spark, sf_dir):
    """Sketch-accuracy report: signature lookups are doc-id equi-joins
    on top of the proven band join — nothing all-pairs."""
    plan = plan_of(SPECS["minhash_estimate_error"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_family_agreement_no_cartesian(spark, sf_dir):
    """The three family pipelines keep their own blocked shapes; the
    agreement layer is a uniform pair-key union aggregation."""
    plan = plan_of(SPECS["dedup_family_agreement"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_source_overlap_joins_on_span_hash(spark, sf_dir):
    """Source matrix: pairing is an equi-join on the df-capped span
    hash; sources are a bounded dimension — nothing all-pairs."""
    plan = plan_of(SPECS["source_overlap_matrix"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gopher_quality_rules_is_pure_projection(spark, sf_dir):
    """The Gopher quality battery must run at scan bandwidth: one
    whole-stage-codegen'd projection chain, no join, and no shuffle
    OF ITS OWN — the first-pass corpus gate shape. The one allowed
    exchange is fan_out's round-robin widen of the single-file test
    scan (self-disabling at real scale — base.py::fan_out), which is
    why the gate pins the exchange COUNT and forbids hash partitioning
    rather than forbidding Exchange outright."""
    plan = plan_of(SPECS["gopher_quality_rules"].spark(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 1
    assert "hashpartitioning" not in plan.lower()
    assert "Join" not in tree and "Generate" not in tree
    # '*'-prefixed nodes are inside a WholeStageCodegen span; with the
    # fan_out exchange present AQE prints the unfinalized (unstarred)
    # tree, so accept either form as long as it is projection-only
    assert "* Project" in tree or (
        "AdaptiveSparkPlan" in tree and "Project" in tree
    )


def test_gopher_repetition_single_scan(spark, sf_dir):
    """All n-gram sizes and the line signals ride ONE corpus scan (the
    tagged-item concat) — a per-size scan would multiply the dominant
    cost at 100 TB. Shuffles are the uniform (doc, item) and per-doc
    aggregations only; no join of any kind."""
    plan = plan_of(SPECS["gopher_repetition_rules"].spark(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "Join" not in tree and "CartesianProduct" not in tree


def test_ivfpq_probe_pruned_broadcast_joins(spark, sf_dir):
    """IVFADC: the only non-equi join is the bounded q x kc probe
    cross (one BNLJ); codes/centroids/candidates all join broadcast or
    equi — never a corpus x corpus cartesian."""
    plan = plan_of(SPECS["ann_ivfpq_topk"].spark(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert tree.count("BroadcastNestedLoopJoin") <= 1
    assert "SortMergeJoin" not in tree


def test_corpus_build_funnel_no_cartesian(spark, sf_dir):
    """The composed corpus build inherits each stage's gated shape:
    banded LSH equi-joins, broadcast benchmark n-grams, anti-joins on
    the doc id — nothing all-pairs anywhere in the funnel."""
    plan = plan_of(SPECS["corpus_build_funnel"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_embedding_outlier_salted_rank_broadcast_joins(spark, sf_dir):
    """Outlier report: the literal-codebook trainer leaves no join in
    the assignment; final centroids and cell sizes attach broadcast;
    the per-cell ranking is the two-phase salted top-k — nothing
    sort-merges or cross-products."""
    plan = plan_of(SPECS["embedding_outlier_report"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_histogram_quantile_error_bounded_structures(spark, sf_dir):
    """Quantile-sketch report: the histogram is a bounded (group,
    bucket) count; the bounds row, q-set, cumulated histogram, and
    exact-quantile picks all attach broadcast — no sort-merge of the
    fact table, no cartesian beyond the documented broadcast-scalar
    shapes."""
    plan = plan_of(SPECS["histogram_quantile_error"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
