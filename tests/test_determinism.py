"""Partitioning-independence guards: the engine's central determinism
claim is that results are identical under any parallelism (the property
that makes the DuckDB oracle meaningful and nightly totals stable).
Run the decimal-sum flagship and a sampled query under different
partitionings and require bit-identical results."""

from spark_etl_agent_spark.queries import registry
from spark_etl_agent_spark.queries.base import load

from .parity import canonical_rows

SPECS = registry()


def _rows(df):
    return canonical_rows(df.toPandas())


def test_decimal_aggregation_partitioning_independent(spark, sf_dir):
    """The same decimal-sum aggregation over 1, 7 and 32 input
    partitions must be bit-identical (raw double sums would differ in
    the low bits between partitionings)."""
    from pyspark.sql import functions as F

    from spark_etl_agent_spark.queries.base import dec

    li = load(spark, sf_dir, "lineitem")

    def agg(df):
        return _rows(
            df.groupBy("l_returnflag", "l_linestatus").agg(
                F.sum(dec("l_quantity"))
                .cast("decimal(18,4)")
                .cast("double")
                .alias("sum_qty"),
                F.sum(dec("l_extendedprice"))
                .cast("decimal(18,4)")
                .cast("double")
                .alias("sum_price"),
            )
        )

    baseline = agg(li.repartition(32))
    assert baseline
    for n in (1, 7):
        assert agg(li.repartition(n)) == baseline


def test_sampling_partitioning_independent(spark, sf_dir):
    from spark_etl_agent_spark.llm.sampling import deterministic_sample

    docs = load(spark, sf_dir, "documents").select("doc_id")
    a = set(r.doc_id for r in deterministic_sample(docs, "doc_id", 0.3).collect())
    b = set(
        r.doc_id
        for r in deterministic_sample(docs.repartition(13), "doc_id", 0.3).collect()
    )
    assert a == b and a


def test_entry_schema_stable(spark):
    """The driver smoke-checks entry() for a stable schema — two
    invocations must agree exactly."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "spark_entry_det", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    s1 = mod.entry(spark).schema
    s2 = mod.entry(spark).schema
    assert s1 == s2


def test_parallel_ntile_matches_window_ntile_any_npart(spark, sf_dir):
    """The distributed exact-ntile must equal Spark's own window ntile
    bit-for-bit at every partition count — boundary placement moves
    work, never answers."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spark_etl_agent_spark.operators.ranks import parallel_ntile

    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(14,4)")).alias("rev"))
    )
    order = [F.desc("rev"), F.asc("o_custkey")]
    expected = sorted(
        (r.o_custkey, r.b)
        for r in per_cust.withColumn(
            "b", F.ntile(7).over(Window.orderBy(*order))
        ).collect()
    )
    for npart in (1, 3, 32):
        got = sorted(
            (r.o_custkey, r.b)
            for r in parallel_ntile(
                per_cust, 7, order, bucket_col="b", npart=npart
            ).collect()
        )
        assert got == expected, f"npart={npart}"


def test_global_rank_is_dense_and_partition_independent(spark, sf_dir):
    from pyspark.sql import functions as F

    from spark_etl_agent_spark.operators.ranks import global_rank

    docs = load(spark, sf_dir, "documents").select("doc_id")
    order = [F.asc("doc_id")]
    base = None
    for npart in (1, 5, 32):
        rows = sorted(
            (r.doc_id, r.rank)
            for r in global_rank(docs, order, npart=npart).collect()
        )
        n = len(rows)
        assert sorted(r[1] for r in rows) == list(range(1, n + 1)), "dense 1..n"
        if base is None:
            base = rows
        else:
            assert rows == base, f"npart={npart}"


def test_query_results_shuffle_partition_independent(spark, sf_dir):
    """A cross-family sample of the inventory re-run under a different
    spark.sql.shuffle.partitions must produce identical canonical rows
    — the cheap stand-in for 'same answer on any cluster width'."""
    sample = [
        "pricing_summary",
        "revenue_concentration",
        "window_topk_per_group",
        "minhash_near_duplicates",
        "tfidf_top_terms",
        "scd2_temporal_join",
        # round-4 corpus-prep family: packing offsets, resample
        # membership, probe verdicts and shuffle ranks must all be
        # invariant to cluster width
        "pack_documents",
        "mixture_resample_counts",
        "incremental_neardup_probe",
        "corpus_shuffle_order",
        # round-5 second half: iterative integer PageRank, SemDeDup
        # keeper choice, PMI top-N, PSI report and PQ residual grid
        # must all be invariant to cluster width
        "supplier_pagerank",
        "semantic_dedup_embeddings",
        "pmi_word_pairs",
        "drift_psi_report",
        "pq_encode_cells",
    ]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    baseline = {n: _rows(SPECS[n].spark(spark, sf_dir)) for n in sample}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        for n in sample:
            assert _rows(SPECS[n].spark(spark, sf_dir)) == baseline[n], n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_grouped_quantile_cont_matches_percentile_any_npart(spark, sf_dir):
    """Distributed exact quantiles must equal Spark's in-memory exact
    percentile() bit-for-bit at every partition count."""
    from pyspark.sql import functions as F

    from spark_etl_agent_spark.operators.ranks import grouped_quantile_cont

    cents = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    expected = {
        r.event_type: (r.q25, r.q50, r.q75)
        for r in cents.groupBy("event_type")
        .agg(
            F.expr("percentile(cents, 0.25)").alias("q25"),
            F.expr("percentile(cents, 0.5)").alias("q50"),
            F.expr("percentile(cents, 0.75)").alias("q75"),
        )
        .collect()
    }
    for npart in (1, 3, 32):
        got = {
            r.event_type: (r.q_25, r.q_50, r.q_75)
            for r in grouped_quantile_cont(
                cents, ["event_type"], "cents", [0.25, 0.5, 0.75], npart=npart
            ).collect()
        }
        assert got == expected, f"npart={npart}"


def test_range_offset_operators_exact_on_skewed_post_shuffle_input(spark, sf_dir):
    """Every operator built on the range-partition offsets must be exact
    when its input is post-shuffle and skewed. Such input has no fixed
    row order, so two evaluations of the range partitioning sample
    different bounds; an operator whose partition sizes and rows came
    from two evaluations would add offsets to the wrong partitions. The
    consumers keep ``text``, which the sizes side prunes, so Catalyst
    cannot reuse one exchange for both. The reference is the
    single-window answer computed from the collected rows."""
    from itertools import accumulate

    from pyspark.sql import functions as F

    from spark_etl_agent_spark.llm.packing import (
        ordered_budget_prefix,
        pack_chunks,
    )
    from spark_etl_agent_spark.operators.ranks import (
        global_rank,
        grouped_quantile_cont,
    )

    skewed = (
        load(spark, sf_dir, "documents")
        .crossJoin(spark.range(3).withColumnRenamed("id", "copy"))
        .repartition(8, F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") * 3 + F.col("copy")).alias("key"),
            "text",
            # a NULL group key is a real group for the quantiles
            F.when(F.col("doc_id") % 7 != 0, F.col("lang")).alias("lang"),
            F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        )
    )
    ref = sorted((r.key, r.n_tok) for r in skewed.select("key", "n_tok").collect())
    keys = [k for k, _ in ref]
    cum = list(accumulate(t for _, t in ref))
    budget = cum[len(cum) // 2]
    qs = [0.1, 0.5, 0.9]
    expected_q = {
        r.lang: tuple(r.q)
        for r in skewed.groupBy("lang")
        .agg(F.expr(f"percentile(n_tok, array({', '.join(map(str, qs))}))").alias("q"))
        .collect()
    }
    assert None in expected_q and len(keys) == 1500

    for npart in (3, 4):
        ranked = global_rank(skewed, [F.col("key")], npart=npart).select(
            "key", "rank", "text"
        )
        assert sorted((r.key, r.rank) for r in ranked.collect()) == list(
            zip(keys, range(1, len(keys) + 1))
        ), f"global_rank npart={npart}"

        packed = pack_chunks(skewed, "key", "n_tok", 64, npart=npart).select(
            "key", "start_off", "end_off", "text"
        )
        assert sorted(
            (r.key, r.start_off, r.end_off) for r in packed.collect()
        ) == [
            (k, c - t, c) for (k, t), c in zip(ref, cum)
        ], f"pack_chunks npart={npart}"

        prefix = ordered_budget_prefix(
            skewed, "n_tok", budget, [F.col("key")], npart=npart
        ).select("key", "cum_tokens", "text")
        assert sorted((r.key, r.cum_tokens) for r in prefix.collect()) == [
            (k, c) for k, c in zip(keys, cum) if c <= budget
        ], f"ordered_budget_prefix npart={npart}"

        got_q = {
            r.lang: (r.q_10, r.q_50, r.q_90)
            for r in grouped_quantile_cont(
                skewed, ["lang"], "n_tok", qs, npart=npart
            ).collect()
        }
        assert got_q == expected_q, f"grouped_quantile_cont npart={npart}"
