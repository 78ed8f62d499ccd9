"""End-to-end workflow tests (SURVEY.md §5.2 item 3): both reference
jobs against a fixture warehouse seeded from the deterministic Group-A
derivations, asserting envelope keys (§2.12), count invariants (§5.1)
and variance-math properties."""

import pytest
from pyspark.sql import functions as F

from spark_etl_agent_spark.jobs.alerts import (
    LogAlerter,
    variance_exceeded,
    variance_percentage,
)
from spark_etl_agent_spark.jobs.registry import JobService
from spark_etl_agent_spark.jobs.runner import run_continuous_jobs, run_single_job
from spark_etl_agent_spark.plans.jcap_extract import (
    derive_alignment,
    derive_payer_details,
    derive_ref_cap,
    derive_segment,
    jcap_extract,
    jcap_transform,
)
from spark_etl_agent_spark.sources.catalog import Catalog, TableNotFoundError
from spark_etl_agent_spark.sources.files import FileIO, normalize_s3_path


@pytest.fixture(scope="module")
def warehouse(spark, sf_dir, tmp_path_factory):
    """Group-A fixture catalog + a pre-seeded previous load in the main
    table (FIXTURES.md A6)."""
    root = str(tmp_path_factory.mktemp("warehouse"))
    cat = Catalog(spark, root)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")

    payer = derive_payer_details(orders)
    cat.write_table(payer, "cdp.fct_pah_pa_payer_details", mode="overwrite")
    cat.write_table(derive_ref_cap(orders), "cdp.fct_pah_ref_cap_dly", mode="overwrite")
    cat.write_table(
        derive_alignment(part), "cdp.dmn_pah_curr_alignment_all", mode="overwrite"
    )
    cat.write_table(derive_segment(supplier), "cdp.dmn_pah_segment", mode="overwrite")

    # POC source view analog (FIXTURES.md A5)
    poc = orders.select(
        F.col("o_orderpriority").alias("product"),
        F.col("o_orderkey").cast("string").alias("ac_number"),
        F.col("o_orderdate").cast("date").alias("referral_date"),
    )
    cat.write_table(poc, "dna_actln_dwh.vw_patients_opsumit_cap", mode="overwrite")
    # empty POC destination with the job's output schema
    dest_schema = poc.withColumn("load_date", F.lit("x")).select(
        "load_date", "product", "ac_number", "referral_date"
    )
    cat.write_table(dest_schema.limit(0), "dna_actln_dwh.controlm_new_test",
                    mode="overwrite")

    # previous jcap load: yesterday's extract output (same schema, so
    # backup/variance paths are real)
    prev = jcap_transform(
        jcap_extract(
            derive_payer_details(orders),
            derive_ref_cap(orders),
            derive_alignment(part),
            derive_segment(supplier),
            load_date="2026-08-12",
        )
    )
    cat.write_table(prev, "jcap_presentation.pah_jcap_pa", mode="overwrite")
    cat.write_table(prev.limit(0), "jcap_presentation.pah_jcap_pa_bkp",
                    mode="overwrite")
    return cat


@pytest.fixture()
def job_service(warehouse, tmp_path):
    return JobService(
        warehouse, stage_path=str(tmp_path / "stage"), alerter=LogAlerter()
    )


# -- catalog verbs ------------------------------------------------------------

def test_catalog_verbs(warehouse):
    n = warehouse.get_table_count("cdp.dmn_pah_segment")
    assert n > 0
    assert warehouse.table_exists("cdp.dmn_pah_segment")
    assert not warehouse.table_exists("cdp.nope")
    with pytest.raises(TableNotFoundError):
        warehouse.read_table("cdp.nope")
    # limit pushdown path
    assert warehouse.read_table("cdp.dmn_pah_segment", limit=3).count() == 3


def test_truncate_preserves_schema(spark, warehouse):
    before = warehouse.read_table("jcap_presentation.pah_jcap_pa_bkp").schema
    warehouse.truncate_table("jcap_presentation.pah_jcap_pa_bkp")
    after = warehouse.read_table("jcap_presentation.pah_jcap_pa_bkp")
    assert after.count() == 0
    assert after.schema == before


def test_copy_table_data_roundtrip(warehouse):
    warehouse.truncate_table("jcap_presentation.pah_jcap_pa_bkp")
    n = warehouse.copy_table_data(
        "jcap_presentation.pah_jcap_pa", "jcap_presentation.pah_jcap_pa_bkp"
    )
    assert n == warehouse.get_table_count("jcap_presentation.pah_jcap_pa_bkp")
    assert n == warehouse.get_table_count("jcap_presentation.pah_jcap_pa")


# -- file IO -------------------------------------------------------------------

def test_fileio_formats_roundtrip(spark, tmp_path):
    io = FileIO(spark)
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("g"), F.col("id").cast("string").alias("s")
    )
    for fmt in ("parquet", "csv", "json", "orc"):
        path = str(tmp_path / f"t_{fmt}")
        io.write(df, path, fmt=fmt)
        assert io.path_exists(path)
        back = io.read(path, fmt=fmt)
        assert back.count() == 100
    assert io.delete_path(str(tmp_path / "t_parquet"))
    assert not io.path_exists(str(tmp_path / "t_parquet"))
    assert not io.delete_path(str(tmp_path / "never-existed"))


def test_normalize_s3_path():
    assert normalize_s3_path("s3://b/k") == "s3a://b/k"
    assert normalize_s3_path("prefix/k", bucket="b") == "s3a://b/prefix/k"
    assert normalize_s3_path("s3a://b/k") == "s3a://b/k"


# -- variance math (SURVEY.md §5.2 item 4) --------------------------------------

def test_variance_properties():
    assert variance_percentage(0, 500) == 0.0  # no previous load
    assert variance_percentage(100, 100) == 0.0
    assert variance_percentage(100, 95) == pytest.approx(5.0)
    assert variance_percentage(100, 105) == pytest.approx(5.0)
    # >= at the boundary (reference :370)
    assert variance_exceeded(5.0, threshold=5.0)
    assert not variance_exceeded(4.999, threshold=5.0)


# -- jobs end-to-end -------------------------------------------------------------

POC_KEYS = {
    "status", "rows_processed", "start_time", "end_time", "duration_seconds",
    "source_table", "destination_table", "load_date", "limit",
}
JCAP_KEYS = {
    "status", "rows_processed", "start_time", "end_time", "duration_seconds",
    "load_date", "previous_count", "current_count", "variance_percentage",
    "variance_threshold_exceeded", "email_sent", "s3_path", "method",
}
ENVELOPE_KEYS = {"job_id", "job_name", "job_type", "job_description", "environment"}


def test_control_m_poc_etl(job_service, warehouse):
    before = warehouse.get_table_count("dna_actln_dwh.controlm_new_test")
    result = run_single_job(
        job_service,
        {"type": "control_m_poc_etl", "id": "t1", "limit": 7},
    )
    assert result["status"] == "Success"
    assert POC_KEYS | ENVELOPE_KEYS <= set(result)
    assert result["rows_processed"] == 7
    after = warehouse.get_table_count("dna_actln_dwh.controlm_new_test")
    assert after == before + 7  # append mode


def test_jcap_pa_etl_end_to_end(job_service, warehouse):
    prev = warehouse.get_table_count("jcap_presentation.pah_jcap_pa")
    result = run_single_job(job_service, {"type": "jcap_pa_etl", "id": "t2"})
    assert result["status"] == "Success", result.get("error")
    assert JCAP_KEYS | ENVELOPE_KEYS <= set(result)
    # backup holds the previous load
    assert result["previous_count"] == prev
    assert (
        warehouse.get_table_count("jcap_presentation.pah_jcap_pa_bkp") == prev
    )
    # destination reloaded and verified
    assert result["current_count"] == warehouse.get_table_count(
        "jcap_presentation.pah_jcap_pa"
    )
    assert result["rows_processed"] > 0
    # same sources, same filters → same count as previous load → 0 variance
    assert result["variance_percentage"] == 0.0
    assert not result["variance_threshold_exceeded"]
    assert not result["email_sent"]
    # staged parquet exists and matches
    io = FileIO(warehouse.spark)
    assert io.path_exists(result["s3_path"])
    assert io.read_parquet(result["s3_path"]).count() == result["current_count"]


def test_jcap_variance_alert_fires(warehouse, tmp_path):
    """Shrink the previous load so the reload trips the 5% threshold."""
    alerter = LogAlerter()
    svc = JobService(warehouse, stage_path=str(tmp_path / "stage2"), alerter=alerter)
    main = warehouse.read_table("jcap_presentation.pah_jcap_pa")
    # materialize on the driver before overwriting the path it came from
    rows = main.limit(max(1, main.count() // 2)).collect()
    shrunk = warehouse.spark.createDataFrame(rows, main.schema)
    warehouse.write_table(shrunk, "jcap_presentation.pah_jcap_pa", mode="overwrite")

    result = run_single_job(svc, {"type": "jcap_pa_etl", "id": "t3"})
    assert result["status"] == "Success", result.get("error")
    assert result["variance_threshold_exceeded"]
    assert result["email_sent"]
    assert any(r["kind"] == "variance_alert" for r in alerter.sent)


def test_unknown_job_type_error_envelope(job_service):
    result = job_service.execute_job({"type": "nope", "id": "x"})
    assert result["status"] == "Failed"
    assert "Unknown job type" in result["error"]


def test_continuous_runner_stats(job_service):
    stats = run_continuous_jobs(
        job_service,
        {"type": "control_m_poc_etl", "id": "loop", "limit": 3},
        interval_seconds=0,
        max_iterations=3,
    )
    assert stats["total_runs"] == 3
    assert stats["successful_runs"] == 3
    assert stats["exit_success"]


def test_registry_listing_and_custom_type(job_service):
    listing = job_service.list_supported_job_types()
    assert set(listing) >= {"control_m_poc_etl", "jcap_pa_etl"}

    class Custom:
        def run(self):
            return {"status": "Success", "rows_processed": 0}

    job_service.register_job_type("custom", Custom(), "run", "test job")
    r = job_service.execute_job({"type": "custom", "id": "c1"})
    assert r["status"] == "Success"
    assert r["job_type"] == "custom"


# -- partitioned tables: the 100 TB pruning path --------------------------------

def test_partitioned_write_prunes_on_read(spark, warehouse, tmp_path):
    """A load_date-partitioned table must serve date-filtered reads from
    the matching partition directories only (PartitionFilters in the
    scan, not a post-scan filter)."""
    from spark_etl_agent_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "part_wh"))
    src = warehouse.read_table("cdp.fct_pah_pa_payer_details").withColumn(
        "part_key", F.substring("load_date", 7, 4)  # year of MM-dd-yyyy
    )
    cat.write_table(src, "cdp.payer_by_year", mode="overwrite",
                    partition_by=["part_key"])

    df = cat.read_table("cdp.payer_by_year").filter(F.col("part_key") == "1997")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(part_key" in plan
    # pruning proof: fewer files scanned than the full table
    full = cat.read_table("cdp.payer_by_year")
    assert df.count() < full.count()
    n_years = full.select("part_key").distinct().count()
    assert n_years > 1  # partitioning actually split the data


def test_merge_upsert(spark, warehouse, tmp_path):
    """MERGE verb: matched keys replaced, unmatched kept, count right."""
    from spark_etl_agent_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "merge_wh"))
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, v string, x double"
    )
    cat.write_table(base, "m.t", mode="overwrite")
    updates = spark.createDataFrame(
        [(2, "B2", 99.0), (4, "d", 40.0)], "id long, v string, x double"
    )
    n = cat.merge_upsert(updates, "m.t", keys=["id"])
    assert n == 4
    got = {r.id: (r.v, r.x) for r in cat.read_table("m.t").collect()}
    assert got == {1: ("a", 10.0), 2: ("B2", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}

    # schema mismatch is rejected before any write
    import pytest as _pytest
    bad = spark.createDataFrame([(9, "z")], "id long, v string")
    with _pytest.raises(ValueError, match="missing target columns"):
        cat.merge_upsert(bad, "m.t", keys=["id"])

    # NULL merge keys never equality-match → must be rejected up front
    nulled = spark.createDataFrame(
        [(None, "n", 0.0)], "id long, v string, x double"
    )
    with _pytest.raises(ValueError, match="NULL merge keys"):
        cat.merge_upsert(nulled, "m.t", keys=["id"])
    # the rejection left the table untouched
    assert cat.get_table_count("m.t") == 4
    # and no stray staging/backup dirs survive a successful merge
    import os as _os
    names = set(_os.listdir(str(tmp_path / "merge_wh" / "m")))
    assert names == {"t"}


def test_execute_sql_over_registered_views(warehouse):
    """S2 inverted: SQL text executes in Catalyst over catalog tables."""
    warehouse.register_views(["cdp.dmn_pah_segment"])
    df = warehouse.execute_sql(
        "SELECT actv_flag, count(*) AS n FROM cdp_dmn_pah_segment "
        "GROUP BY actv_flag ORDER BY actv_flag"
    )
    rows = {r.actv_flag: r.n for r in df.collect()}
    assert set(rows) == {"0", "1"} and all(v > 0 for v in rows.values())


def test_corpus_dedup_etl_end_to_end(spark, sf_dir, tmp_path, job_service, warehouse):
    """The corpus-cleaning job: quality gate → exact dedup → MinHash
    near-dup clusters → survivors written to the catalog. Envelope
    invariants: monotone stage counts and survivors = exact-unique minus
    near-dup-cluster drops; no two survivors share identical text."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    warehouse.write_table(docs, "corpus.documents", mode="overwrite")

    result = job_service.execute_job(
        {"id": "c1", "name": "corpus", "type": "corpus_dedup_etl",
         "load_date": "2026-08-13"}
    )
    assert result["status"] == "Success", result.get("error")
    assert result["environment"] == "Corpus"
    n_in, n_q = result["n_input"], result["n_after_quality"]
    n_e, n_s = result["n_after_exact_dedup"], result["rows_processed"]
    assert n_in >= n_q >= n_e >= n_s > 0
    assert result["n_dropped_neardup"] == n_e - n_s

    clean = warehouse.read_table("corpus.documents_clean")
    assert clean.count() == n_s
    # exact-dup-free by construction
    import pyspark.sql.functions as F2
    assert (
        clean.groupBy(F2.md5("text")).count().filter("count > 1").count() == 0
    )


def test_compact_table_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    """Compaction: a fragmented table (32-way append) collapses to few
    files with identical content; sortWithinPartitions clusters the key."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cat.write_table(orders.repartition(32), "m.orders_frag", mode="overwrite")
    before_rows = cat.get_table_count("m.orders_frag")

    n_files = cat.compact_table("m.orders_frag", sort_within_by=["o_orderkey"])
    assert n_files < 32
    assert cat.get_table_count("m.orders_frag") == before_rows
    got = sorted(r.o_orderkey for r in cat.read_table("m.orders_frag").collect())
    want = sorted(r.o_orderkey for r in orders.collect())
    assert got == want


def test_analyze_table_statistics(spark, sf_dir, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh2"))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cat.write_table(orders, "m.orders", mode="overwrite")
    stats = cat.analyze_table("m.orders")
    assert stats["row_count"] == orders.count()
    assert stats["size_bytes"] > 0
    ok = stats["columns"]["o_orderkey"]
    assert ok["null_count"] == 0
    # HLL estimate of a unique key: within 10% of exact
    assert abs(ok["approx_distinct"] - stats["row_count"]) <= 0.1 * stats["row_count"]


def test_incremental_sync_etl_end_to_end(spark, tmp_path):
    """Job 4: diff → referential gate → CDC apply → invariant. The
    target converges to the source snapshot; counts and the row-count
    invariant land in the envelope; a poisoned source trips the gate
    before anything is written."""
    from spark_etl_agent_spark.jobs.sync import IncrementalSyncService

    cat = Catalog(spark, str(tmp_path / "sync_wh"))
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, v string, amt double",
    )
    # new snapshot: 1 unchanged, 2 updated, 3 deleted, 4 inserted
    source = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 21.0), (4, "d", 40.0)],
        "id long, v string, amt double",
    )
    dim = spark.createDataFrame([("a",), ("B",), ("d",)], "v string")
    cat.write_table(target, "warehouse.t", mode="overwrite")
    cat.write_table(source, "staging.t", mode="overwrite")
    cat.write_table(dim, "dims.v", mode="overwrite")

    svc = IncrementalSyncService(
        cat,
        source_table="staging.t",
        target_table="warehouse.t",
        keys=["id"],
        fk_relations=[("t->v", "v", "dims.v", "v")],
    )
    env = svc.run_incremental_sync(load_date="2001-01-01")
    assert env["status"] == "Success"
    assert (env["inserts"], env["updates"], env["deletes"]) == (1, 1, 1)
    assert env["rows_before"] == 3 and env["rows_after"] == 3
    assert env["audit"]["t->v"]["n_orphans"] == 0
    got = sorted(
        (r.id, r.v, r.amt) for r in cat.read_table("warehouse.t").collect()
    )
    assert got == [(1, "a", 10.0), (2, "B", 21.0), (4, "d", 40.0)]

    # idempotent: a second run sees no changes and writes nothing
    env2 = svc.run_incremental_sync(load_date="2001-01-02")
    assert env2["status"] == "Success"
    assert (env2["inserts"], env2["updates"], env2["deletes"]) == (0, 0, 0)

    # poisoned source: orphan FK must abort before apply
    bad = spark.createDataFrame([(9, "ZZZ", 1.0)], "id long, v string, amt double")
    cat.write_table(bad, "staging.t", mode="overwrite")
    env3 = svc.run_incremental_sync(load_date="2001-01-03")
    assert env3["status"] == "Failed" and "referential gate" in env3["error"]
    # target untouched by the failed run
    assert cat.get_table_count("warehouse.t") == 3


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Appending a widened schema (new nullable column) must stay
    readable: mergeSchema unions the field lists and old files yield
    NULL for the new column — the add-a-column migration path without a
    table rewrite."""
    path = str(tmp_path / "evolving")
    v1 = spark.range(5).select(F.col("id"), F.lit("a").alias("v"))
    v1.write.mode("overwrite").parquet(path)
    v2 = spark.range(5, 8).select(
        F.col("id"), F.lit("b").alias("v"), F.lit(1.5).alias("score")
    )
    v2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r.id: (r.v, r.score) for r in merged.collect()}
    assert rows[0] == ("a", None) and rows[7] == ("b", 1.5)
    assert merged.count() == 8


def test_versioned_table_time_travel_rollback_vacuum(spark, tmp_path):
    """Delta-lite ledger: immutable version dirs + pointer file. Time
    travel reads any retained version, rollback is a pointer move (the
    rolled-back-from version stays queryable), vacuum drops old
    versions but never the pointer target, and snapshot_diff composes
    with two versions for an audit."""
    from spark_etl_agent_spark.operators.cdc import snapshot_diff
    from spark_etl_agent_spark.sources.versioned import (
        NoSuchVersionError,
        VersionedTable,
    )

    t = VersionedTable(spark, str(tmp_path / "vwh"), "wh.accounts")
    assert t.versions() == [] and t.current_version() is None

    v1 = t.write(spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, bal double"))
    v2 = t.write(spark.createDataFrame([(1, 11.0), (2, 20.0), (3, 30.0)],
                                       "id long, bal double"))
    v3 = t.write(spark.createDataFrame([(2, 20.0)], "id long, bal double"))
    assert (v1, v2, v3) == (1, 2, 3)
    assert t.current_version() == 3 and t.read().count() == 1

    # time travel
    assert t.read(version=1).count() == 2
    assert {r.id: r.bal for r in t.read(version=2).collect()}[1] == 11.0

    # version-to-version audit via the CDC operator
    diff = snapshot_diff(t.read(version=1), t.read(version=2), keys=["id"])
    assert {r.id: r.change_type for r in diff.collect()} == {
        1: "update", 3: "insert"
    }

    # rollback: pointer move only — v3 remains on disk and queryable
    t.rollback(2)
    assert t.current_version() == 2 and t.read().count() == 3
    assert t.read(version=3).count() == 1

    # vacuum keeps the last K and the pointer target
    removed = t.vacuum(keep_last=1)
    assert removed == [1]
    assert set(t.versions()) == {2, 3}
    assert t.read().count() == 3  # current (v2) survived

    import pytest as _pytest
    with _pytest.raises(NoSuchVersionError):
        t.read(version=1)


def test_overwrite_partitions_is_idempotent_backfill(spark, tmp_path):
    """Dynamic partition overwrite: restating one day replaces ONLY
    that day's partition; the rest of the table survives. Static mode
    would truncate every other partition — the classic backfill
    data-loss bug."""
    cat = Catalog(spark, str(tmp_path / "bf_wh"))
    days = spark.createDataFrame(
        [("2001-01-01", 1, 10.0), ("2001-01-02", 2, 20.0), ("2001-01-03", 3, 30.0)],
        "day string, id long, v double",
    )
    cat.write_table(days, "wh.daily", mode="overwrite", partition_by=["day"])
    assert cat.get_table_count("wh.daily") == 3

    # restate day 2 only
    restated = spark.createDataFrame(
        [("2001-01-02", 2, 99.0), ("2001-01-02", 22, 22.0)],
        "day string, id long, v double",
    )
    cat.overwrite_partitions(restated, "wh.daily", partition_by=["day"])
    # partition-dir values read back type-inferred (string → date)
    rows = {(str(r.day), r.id): r.v for r in cat.read_table("wh.daily").collect()}
    assert rows == {
        ("2001-01-01", 1): 10.0,   # untouched
        ("2001-01-02", 2): 99.0,   # restated
        ("2001-01-02", 22): 22.0,  # restated
        ("2001-01-03", 3): 30.0,   # untouched
    }
    # idempotent: same restatement again changes nothing
    cat.overwrite_partitions(restated, "wh.daily", partition_by=["day"])
    assert cat.get_table_count("wh.daily") == 4


def test_expect_schema_contract_gate(spark):
    from spark_etl_agent_spark.sources.catalog import (
        SchemaContractError,
        expect_schema,
    )

    df = spark.createDataFrame([(1, "a", 1.5)], "id long, v string, score double")
    contract = {"id": "bigint", "v": "string"}
    expect_schema(df, contract)  # subset passes in non-strict mode
    with pytest.raises(SchemaContractError, match="uncontracted column 'score'"):
        expect_schema(df, contract, strict=True)
    with pytest.raises(SchemaContractError, match="missing column 'missing'"):
        expect_schema(df, {**contract, "missing": "int"})
    with pytest.raises(SchemaContractError, match="expected int, got bigint"):
        expect_schema(df, {"id": "int"})


def test_corpus_dedup_contract_gate_rejects_broken_keys(spark, tmp_path):
    from spark_etl_agent_spark.jobs.corpus import CorpusDedupService
    from spark_etl_agent_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    bad = spark.createDataFrame(
        [(1, "a real document " * 40), (1, "duplicate key " * 40),
         (None, "null key " * 40)],
        "doc_id long, text string",
    )
    cat.write_table(bad, "corpus.documents", mode="overwrite")
    svc = CorpusDedupService(cat)
    with pytest.raises(RuntimeError, match="source contract violated"):
        svc.run_corpus_dedup_etl()


def test_quality_gate_repetition_opt_in(spark):
    from spark_etl_agent_spark.jobs.corpus import quality_gate

    good = ("the cat sat near the door and then a dog walked in to see "
            "what all of the noise was about in the little house today "
            "while a bird watched on")
    spammy = "win a prize now click here to " * 12
    docs = spark.createDataFrame(
        [(1, good), (2, spammy)], "doc_id long, text string"
    )
    base = {r.doc_id for r in quality_gate(docs, min_words=20).collect()}
    gated = {
        r.doc_id
        for r in quality_gate(docs, min_words=20, max_repetition=0.3).collect()
    }
    assert 1 in base and 1 in gated
    if 2 in base:            # spam passes the basic gates...
        assert 2 not in gated  # ...but not the repetition bound


def test_corpus_prep_etl_end_to_end(
    spark, sf_dir, job_service, warehouse, pinned_rdds
):
    """The corpus-assembly job: decontaminate → mixture resample →
    deterministic shuffle → sequence packing → manifest write, audits
    observed (no dedicated count scans). Envelope invariants: the
    manifest is a gap-free token stream in shuffle order, chunk math is
    consistent with total_tokens, and the mixture plan respects the
    epoch cap."""
    import pyspark.sql.functions as F2

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    warehouse.write_table(docs, "corpus.documents_clean", mode="overwrite")
    # benchmark table: a small eval slice (distinct ids so decontam
    # drops the overlapping training docs)
    warehouse.write_table(
        docs.filter(F2.col("doc_id") % 97 == 0), "corpus.benchmarks",
        mode="overwrite",
    )

    from spark_etl_agent_spark.core.cache import (
        _cached_entries,
        _persistent_rdd_ids,
    )

    before = _persistent_rdd_ids(spark)
    n_cached = len(_cached_entries(spark))
    result = job_service.execute_job(
        {"id": "p1", "name": "prep", "type": "corpus_prep_etl",
         "load_date": "2026-08-14"}
    )
    assert result["status"] == "Success", result.get("error")
    assert result["environment"] == "Corpus"
    # the run releases every persist it made, and its plans
    assert _persistent_rdd_ids(spark) == before
    assert len(_cached_entries(spark)) == n_cached
    n_in = result["n_input"]
    assert n_in == docs.count()
    # the benchmark docs themselves are verbatim in the corpus ->
    # ratio 1.0 -> dropped
    assert result["n_contaminated_dropped"] >= docs.filter(
        F2.col("doc_id") % 97 == 0
    ).count()
    for d, row in result["mixture_plan"].items():
        assert row["epochs"] <= 4.0 + 1e-9

    manifest = warehouse.read_table("corpus.packed_manifest")
    n = manifest.count()
    assert n == result["rows_processed"] > 0
    # shuffle_pos is a permutation 1..n and spans are gap-free in that order
    from pyspark.sql import Window

    w = Window.orderBy("shuffle_pos")
    bad = (
        manifest.withColumn("prev_end", F2.lag("end_off", 1, 0).over(w))
        .filter(
            (F2.col("start_off") != F2.col("prev_end"))
            | (F2.col("end_off") != F2.col("start_off") + F2.col("n_tokens"))
        )
        .count()
    )
    assert bad == 0
    total = manifest.agg(F2.max("end_off")).collect()[0][0]
    assert total == result["total_tokens"]
    assert result["n_chunks"] == (total + 255) // 256
    assert manifest.agg(F2.max("chunk_last")).collect()[0][0] == result["n_chunks"] - 1


def test_corpus_prep_manifest_partitions_accumulate_and_prune(
    spark, sf_dir, tmp_path
):
    """The corpus-prep pipeline's 100 TB write posture, gated on the
    PIPELINE (not just the catalog verb): two runs land two load_date
    partitions (staging AND destination are load_date-partitioned), a
    date-filtered read shows PartitionFilters in the scan, the second
    run leaves the first date's manifest bit-identical, and a re-run of
    the same date is idempotent instead of truncating history."""
    import pyspark.sql.functions as F2

    from spark_etl_agent_spark.jobs.pretrain import CorpusPrepService
    from spark_etl_agent_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "prep_wh"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cat.write_table(docs, "corpus.documents_clean", mode="overwrite")
    cat.write_table(
        docs.filter(F2.col("doc_id") % 97 == 0), "corpus.benchmarks",
        mode="overwrite",
    )
    svc = CorpusPrepService(cat)
    svc.run_corpus_prep_etl("2026-08-01")
    day1 = sorted(
        map(tuple, cat.read_table("corpus.packed_manifest")
            .filter(F2.col("load_date") == "2026-08-01").collect())
    )
    svc.run_corpus_prep_etl("2026-08-02")

    dest = cat.read_table("corpus.packed_manifest")
    # partition-column values come back type-inferred (DATE), so
    # normalize to strings for comparison
    dates = sorted(
        str(r["load_date"])
        for r in dest.select("load_date").distinct().collect()
    )
    assert dates == ["2026-08-01", "2026-08-02"]
    # day-1 manifest untouched by day 2's dynamic partition overwrite
    day1_after = sorted(
        map(tuple, dest.filter(F2.col("load_date") == "2026-08-01").collect())
    )
    assert day1_after == day1
    # the scan of a date-filtered read prunes at partition level
    filtered = dest.filter(F2.col("load_date") == "2026-08-02")
    plan = filtered._sc._jvm.PythonSQLUtils.explainString(
        filtered._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(load_date" in plan
    # staging is partitioned the same way (layout parity with dest)
    staging_plan_df = cat.read_table(
        "corpus.packed_manifest__staging"
    ).filter(F2.col("load_date") == "2026-08-02")
    splan = staging_plan_df._sc._jvm.PythonSQLUtils.explainString(
        staging_plan_df._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(load_date" in splan
    # idempotent same-date re-run: same rows, history intact
    n_before = dest.count()
    svc.run_corpus_prep_etl("2026-08-02")
    assert cat.read_table("corpus.packed_manifest").count() == n_before


def test_read_resilient_skips_corrupt_file(spark, tmp_path):
    """S5 hardening: a truncated/garbage file inside a table directory
    must not kill the read when the resilient policy is chosen — and
    MUST kill it under the default strict read."""
    from spark_etl_agent_spark.sources.files import FileIO

    io = FileIO(spark)
    path = str(tmp_path / "t")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(path)
    # plant a corrupt member alongside the good part file
    with open(f"{path}/part-corrupt.parquet", "wb") as f:
        f.write(b"PAR1 this is not a real parquet footer")

    assert io.read_resilient(path).count() == 100  # bad file skipped

    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    with _pytest.raises(Exception) as exc:
        io.read_parquet(path).count()  # strict default: fail loudly
    assert "corrupt" in str(exc.value).lower() or isinstance(
        exc.value, Py4JJavaError
    ) or "footer" in str(exc.value).lower()


def test_corpus_prep_raises_on_absent_target_domain(
    spark, tmp_path, pinned_rdds
):
    """A configured mixture domain with no corpus rows must fail the
    job loudly — proceeding would silently ship a corpus whose
    composition diverges from the configured mixture."""
    import pyspark.sql.functions as F2
    import pytest as _pytest

    from spark_etl_agent_spark.core.cache import _persistent_rdd_ids
    from spark_etl_agent_spark.jobs.pretrain import CorpusPrepService
    from spark_etl_agent_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cat.write_table(
        docs.filter(F2.col("lang") != "zh"), "corpus.documents_clean",
        mode="overwrite",
    )
    cat.write_table(
        docs.filter(F2.col("doc_id") % 97 == 0), "corpus.benchmarks",
        mode="overwrite",
    )
    svc = CorpusPrepService(cat)
    before = _persistent_rdd_ids(spark)
    with _pytest.raises(RuntimeError, match="zh"):
        svc.run_corpus_prep_etl("2026-08-14")
    # the failure path releases the decontaminated corpus it persisted
    assert _persistent_rdd_ids(spark) == before


def test_quality_monitor_etl_end_to_end(spark, tmp_path):
    """Job 6: contract gate → freshness → PSI drift → alerts → report
    tables. A drifted group fires exactly one alert; a broken contract
    aborts before any report lands; reports are queryable tables."""
    import datetime as _dt

    from spark_etl_agent_spark.jobs.alerts import LogAlerter
    from spark_etl_agent_spark.jobs.monitor import QualityMonitorService

    cat = Catalog(spark, str(tmp_path / "monitor_wh"))
    ref_ts = _dt.datetime(2024, 1, 2)
    cur_ts = _dt.datetime(2024, 1, 20)
    rows = []
    eid = 0
    # "steady": identical value distribution both windows → PSI 0
    for ts in (ref_ts, cur_ts):
        for v in (10.0, 40.0, 70.0, 100.0) * 25:
            rows.append((eid, ts, "steady", v)); eid += 1
    # "shifted": reference mass in bucket 0, current in bucket 9
    for v in (5.0,) * 100:
        rows.append((eid, ref_ts, "shifted", v)); eid += 1
    for v in (240.0,) * 100:
        rows.append((eid, cur_ts, "shifted", v)); eid += 1
    feed = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    cat.write_table(feed, "staging.events", mode="overwrite")

    alerter = LogAlerter()
    svc = QualityMonitorService(
        cat, feed_table="staging.events", alerter=alerter
    )
    env = svc.run_quality_monitor(load_date="2024-01-21")
    assert env["status"] == "Success"
    assert env["drifted_groups"] == ["shifted"]
    assert env["alerts_fired"] == 1
    assert alerter.sent[0]["job_name"] == "quality_monitor_etl:shifted"
    assert env["stale_groups"] == []  # as_of defaults to newest event

    drift = {r.event_type: r for r in cat.read_table("monitor.drift").collect()}
    assert drift["steady"].psi_micro == 0 and not drift["steady"].drifted
    assert drift["shifted"].drifted and drift["shifted"].worst_bucket in (0, 9)
    exp = cat.read_table("monitor.expectations")
    assert exp.filter("passed = false").count() == 0

    # broken contract: NULL event ids must abort before reports update
    bad = feed.withColumn(
        "event_id",
        F.when(F.col("event_id") % 2 == 0, None).otherwise(F.col("event_id")),
    )
    cat.write_table(bad, "staging.events_bad", mode="overwrite")
    svc_bad = QualityMonitorService(
        cat, feed_table="staging.events_bad", alerter=alerter
    )
    env_bad = svc_bad.run_quality_monitor(load_date="2024-01-21")
    assert env_bad["status"] == "Failed"
    assert "event_id_not_null" in env_bad["error"]


def test_quality_monitor_handles_ntz_feed(spark, tmp_path, sf_dir):
    """Raw parquet feeds carry TIMESTAMP_NTZ — the monitor must
    normalize before timestamp arithmetic (regression: the CLI e2e
    drive failed on freshness's NTZ→double cast while the LTZ-built
    unit fixture passed)."""
    from spark_etl_agent_spark.jobs.monitor import QualityMonitorService

    cat = Catalog(spark, str(tmp_path / "monitor_ntz_wh"))
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    cat.write_table(raw, "staging.events", mode="overwrite")
    env = QualityMonitorService(cat).run_quality_monitor(
        load_date="2024-01-21"
    )
    assert env["status"] == "Success"
    assert env["n_groups"] >= 1


def test_quality_monitor_registered_and_dispatchable(spark, tmp_path, job_service):
    """The 6th job type is listed and dispatches through the generic
    parameter prober (as_of forwarded)."""
    listing = job_service.list_supported_job_types()
    assert "quality_monitor_etl" in listing
    assert "Monitoring" in listing["quality_monitor_etl"]


def test_generic_dispatch_forwards_declared_as_of(job_service):
    """execute_job must forward a declared non-load_date parameter
    (quality_monitor_etl's as_of backfill pin) through the generic
    prober — a dropped as_of silently gates backfills against max(ts)
    instead of the requested logical time."""
    captured = {}

    class _Probe:
        def run(self, load_date=None, as_of=None):
            captured["load_date"] = load_date
            captured["as_of"] = as_of
            return {"status": "Success", "rows_processed": 0}

    job_service.register_job_type(
        "probe_etl", _Probe(), "run",
        description="as_of forwarding probe",
        parameters=["load_date", "as_of"],
    )
    env = job_service.execute_job(
        {"id": 1, "type": "probe_etl",
         "load_date": "2024-01-21", "as_of": "2024-01-20T06:00:00"}
    )
    assert env["status"] == "Success"
    assert captured == {
        "load_date": "2024-01-21", "as_of": "2024-01-20T06:00:00"
    }
    # quality_monitor itself declares as_of, so the same path applies
    assert "as_of" in job_service.supported_job_types[
        "quality_monitor_etl"]["parameters"]


def test_corpus_release_etl_end_to_end(spark, sf_dir, tmp_path):
    """Job 7: gate → versioned publish → diff vs previous → datacard.
    v1 publishes cleanly; v2 reports the exact insert/update/delete
    deltas; rollback flips the pointer back to v1; a poisoned
    candidate aborts without publishing."""
    from spark_etl_agent_spark.jobs.release import CorpusReleaseService
    from spark_etl_agent_spark.sources.versioned import VersionedTable

    cat = Catalog(spark, str(tmp_path / "release_wh"))
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .filter("doc_id < 100")
    )
    cat.write_table(docs, "staging.corpus", mode="overwrite")
    svc = CorpusReleaseService(cat)

    env1 = svc.run_corpus_release(load_date="2024-02-01")
    assert env1["status"] == "Success"
    assert env1["version"] == 1 and env1["previous_version"] is None
    assert env1["diff"] == {} and env1["n_docs"] == 100

    # v2: drop 10 docs, modify 5, add 3
    v2 = (
        docs.filter("doc_id % 10 != 3")
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 20 == 4, F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text")),
        )
        .unionByName(
            docs.limit(3).select(
                (F.col("doc_id") + 1000).alias("doc_id"),
                "text", "lang", "source", "n_chars",
            )
        )
    )
    cat.write_table(v2, "staging.corpus", mode="overwrite")
    env2 = svc.run_corpus_release(load_date="2024-02-02")
    assert env2["status"] == "Success"
    assert env2["version"] == 2 and env2["previous_version"] == 1
    assert env2["diff"]["delete"] == 10
    assert env2["diff"]["insert"] == 3
    assert env2["diff"]["update"] == 5
    # one row per lang, one per source, one grand total — and exactly
    # the rows the release wrote
    n_card = cat.read_table(f"corpus_datacard.v_{env2['version']}").count()
    n_groups = (
        v2.select("lang").distinct().count()
        + v2.select("source").distinct().count()
        + 1
    )
    assert env2["datacard_rows"] == n_card == n_groups

    vt = VersionedTable(spark, cat.root, "corpus")
    assert vt.read().count() == 93  # 100 − 10 deleted + 3 inserted
    svc.rollback(1)
    assert vt.read().count() == 100  # pointer back to v1, no data move

    # poisoned candidate: NULL doc ids must abort before publishing
    bad = v2.withColumn(
        "doc_id", F.when(F.col("doc_id") % 2 == 0, None).otherwise(F.col("doc_id"))
    )
    cat.write_table(bad, "staging.corpus", mode="overwrite")
    env3 = svc.run_corpus_release(load_date="2024-02-03")
    assert env3["status"] == "Failed"
    assert vt.current_version() == 1  # nothing new was published


# -- corpus ingest job (job 8): continuous indexed-dedup ingest ------------------

def _stage_delivery(spark, rows, incoming_dir, i):
    """One upstream delivery = one single-file parquet with ascending
    mtime, so maxFilesPerTrigger=1 drains deliveries in arrival order."""
    import os
    import shutil

    stage = incoming_dir.parent.parent.parent / f"ingest_stage{i}"
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(stage))
    dst = incoming_dir / f"d{i}.parquet"
    shutil.copy(next(stage.glob("*.parquet")), dst)
    os.utime(dst, (1_000_000 + i * 1000, 1_000_000 + i * 1000))


def test_corpus_ingest_job_end_to_end(spark, tmp_path):
    """Job 8 drains staged deliveries through the indexed dedup sink:
    novel docs + their artifacts append to the accepted table, a
    duplicate-flood batch fires the drop alert, and a SECOND run with
    the streaming checkpoint processes ONLY newly-arrived files while
    the stored index dedups a re-delivered doc."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different subject matter covering spark shuffles and joins"

    cat = Catalog(spark, str(tmp_path / "wh"))
    incoming = tmp_path / "wh" / "corpus" / "incoming"
    incoming.mkdir(parents=True)
    _stage_delivery(spark, [(1, base), (2, other)], incoming, 0)
    _stage_delivery(
        spark,
        [(3, base),                    # exact dup of accepted 1
         (4, other + " tomorrow"),     # near-dup of accepted 2
         (5, "yet another unrelated document about parquet footers")],
        incoming, 1,
    )
    alerter = LogAlerter()
    svc = JobService(cat, stage_path=str(tmp_path / "stage"), alerter=alerter)

    env = run_single_job(
        svc, {"type": "corpus_ingest_etl", "id": "i1",
              "load_date": "2026-08-15"},
    )
    assert env["status"] == "Success", env.get("error")
    assert ENVELOPE_KEYS <= set(env)
    assert env["n_batches"] == 2 and env["n_input"] == 5
    assert env["n_novel"] == 3 and env["rows_processed"] == 3
    acc = cat.read_table("corpus.accepted")
    assert sorted(r["doc_id"] for r in acc.collect()) == [1, 2, 5]
    # the accepted table IS the index: artifacts + load_date stored
    assert {"content_hash", "n_shingles", "mh0", "load_date"} <= set(
        acc.columns
    )
    # delivery 1 dropped 2 of 3 (> max_drop_ratio 0.5) -> flood alert
    assert env["drop_alert_batches"] == [1]
    assert any(r["kind"] == "variance_alert" for r in alerter.sent)
    assert any(r["kind"] == "completion" for r in alerter.sent)

    # second scheduled run: only the new delivery is processed (the
    # checkpoint skips d0/d1); the re-delivered doc 1 is dropped by the
    # stored-hash probe, doc 6 is accepted
    _stage_delivery(
        spark,
        [(6, "fresh content with entirely new words"), (1, base)],
        incoming, 2,
    )
    env2 = run_single_job(
        svc, {"type": "corpus_ingest_etl", "id": "i2",
              "load_date": "2026-08-16"},
    )
    assert env2["status"] == "Success", env2.get("error")
    assert env2["n_batches"] == 1 and env2["n_input"] == 2
    assert env2["n_novel"] == 1 and env2["drop_alert_batches"] == []
    rows = cat.read_table("corpus.accepted").collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2, 5, 6]
    by_id = {r["doc_id"]: r["load_date"] for r in rows}
    assert by_id[6] == "2026-08-16" and by_id[1] == "2026-08-15"


def test_ingest_index_maintenance_compacts_above_threshold(spark, tmp_path):
    """The ingest job's maintenance step: below the file threshold it is
    a no-op; above it, compact_table shrinks the accepted table's file
    count while conserving every row."""
    from spark_etl_agent_spark.jobs.ingest import CorpusIngestService

    cat = Catalog(spark, str(tmp_path / "wh"))
    rows = [(i, f"document number {i} with some words") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cat.write_table(df.repartition(24), "corpus.accepted", mode="overwrite")

    # missing accepted table (bootstrap run that drained nothing): no-op
    empty = CorpusIngestService(
        Catalog(spark, str(tmp_path / "wh2")), compact_threshold_files=1
    )
    m = empty.run_index_maintenance()
    assert m["compacted"] is False and m["files_before"] == 0

    # threshold above the current count: no-op
    svc = CorpusIngestService(cat, compact_threshold_files=64)
    m = svc.run_index_maintenance()
    assert m["compacted"] is False
    assert m["files_before"] == m["files_after"] >= 24

    # threshold below: compacts, fewer files, rows conserved
    svc = CorpusIngestService(cat, compact_threshold_files=8)
    m = svc.run_index_maintenance()
    assert m["compacted"] is True
    assert m["files_after"] < m["files_before"]
    assert cat.table_file_count("corpus.accepted") == m["files_after"]
    got = cat.read_table("corpus.accepted")
    assert got.count() == 200
    assert got.agg({"doc_id": "sum"}).collect()[0][0] == sum(range(200))


def test_ingest_maintenance_runs_mid_stream(spark, tmp_path):
    """The per-batch foreachBatch epilogue compacts the index BETWEEN
    micro-batches (not only at end of drain): with a 1-file threshold,
    every batch's append trips maintenance, the envelope records the
    mid-stream runs, and verdicts/rows are unaffected."""
    from spark_etl_agent_spark.jobs.ingest import CorpusIngestService

    cat = Catalog(spark, str(tmp_path / "wh"))
    incoming = tmp_path / "wh" / "corpus" / "incoming"
    incoming.mkdir(parents=True)
    _stage_delivery(
        spark,
        [(i, f"first delivery doc {i} about topic {i % 3}") for i in range(6)],
        incoming, 0,
    )
    _stage_delivery(
        spark,
        [(0, "first delivery doc 0 about topic 0"),  # replayed id
         (10, "second delivery fresh doc ten"),
         (11, "second delivery fresh doc eleven")],
        incoming, 1,
    )
    _stage_delivery(
        spark,
        [(20, "third delivery fresh doc twenty"),
         (10, "second delivery fresh doc ten")],  # replay vs compacted
        incoming, 2,
    )
    svc = CorpusIngestService(cat, compact_threshold_files=1)
    env = svc.run_corpus_ingest(load_date="2026-08-16")
    assert env["status"] == "Success"
    assert env["n_batches"] == 3 and env["n_novel"] == 9
    # some epilogue compacted BEFORE the last batch ran — so batch 2's
    # probe (which correctly dropped the replayed doc 10) read a
    # mid-stream-compacted index
    mids = env["mid_stream_maintenance"]
    assert any(m["batch_id"] < 2 for m in mids), mids
    for m in mids:
        assert m["compacted"] and m["files_after"] < m["files_before"]
    # the drain's rows all present, file count bounded by the sweep
    acc = cat.read_table("corpus.accepted")
    assert acc.count() == 9
    assert cat.table_file_count("corpus.accepted") <= 2


def _scan_metrics(df):
    """Execute ``df`` and return the FileSourceScanExec leaf's metrics
    (the plan has no exchange, so no AQE wrapper hides the leaf)."""
    df.collect()
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    it = scan.metrics().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def test_compacted_sorted_layout_skips_row_groups(spark, tmp_path):
    """The secondary-index pruning story: after ``compact_table(...,
    sort_within_by=['doc_id'])`` the index files hold DISJOINT doc_id
    ranges, so a selective sorted-key probe physically skips whole
    files/row groups (parquet min/max stats + pushed filters), while
    the same probe against a round-robin layout must read everything.
    Pinned on the scan's executed numOutputRows — rows the reader
    actually produced, i.e. rows of the row groups it could NOT skip."""
    from spark_etl_agent_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    n = 200_000
    df = spark.range(n).selectExpr(
        "id AS doc_id", "md5(CAST(id AS STRING)) AS text"
    )
    cat.write_table(df.repartition(16), "idx", mode="overwrite")

    files = cat.compact_table("idx", target_file_mb=1, sort_within_by=["doc_id"])
    assert files > 1, "need a multi-file table to evidence skipping"

    # layout evidence: per-file doc_id ranges are pairwise disjoint
    spans = sorted(
        tuple(r)
        for r in cat.read_table("idx")
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .select("lo", "hi")
        .collect()
    )
    for (_, hi_prev), (lo, _) in zip(spans, spans[1:]):
        assert hi_prev < lo, f"overlapping file ranges: {spans}"

    # selective probe on the sorted layout: reader skips the row
    # groups whose stats exclude the range
    probe = (
        cat.read_table("idx")
        .filter((F.col("doc_id") >= 1000) & (F.col("doc_id") < 3000))
        .select("doc_id")
    )
    m_sorted = _scan_metrics(probe)
    assert m_sorted["numOutputRows"] < 0.3 * n, m_sorted

    # control: round-robin compaction -> every file spans the full key
    # range, stats can exclude nothing, the scan reads ~everything
    cat.write_table(df.repartition(16), "idx_rr", mode="overwrite")
    assert cat.compact_table("idx_rr", target_file_mb=1) > 1
    control = (
        cat.read_table("idx_rr")
        .filter((F.col("doc_id") >= 1000) & (F.col("doc_id") < 3000))
        .select("doc_id")
    )
    m_rr = _scan_metrics(control)
    assert m_rr["numOutputRows"] > 0.9 * n, m_rr
    # both layouts agree on the answer, of course
    assert probe.count() == control.count() == 2000


def test_corpus_ingest_registered_and_listed(job_service):
    listing = job_service.list_supported_job_types()
    assert "corpus_ingest_etl" in listing
    assert "Corpus" in listing["corpus_ingest_etl"]


def _codegen_compiles(spark) -> int:
    """Classes Janino has compiled in this JVM (Spark's codegen metric)."""
    metrics = getattr(
        spark.sparkContext._jvm.org.apache.spark.metrics.source, "CodegenMetrics$"
    ).__getattr__("MODULE$")
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_job_rerun_reuses_generated_code_codegen(spark, tmp_path):
    """A long-lived session that reruns its jobs (the continuous runner)
    compiles their generated code once. Three days of corpus_ingest_etl
    then corpus_release_etl on one catalog: days 2 and 3 run the same
    plan shapes (hash, id and LSH probes, versioned publish with a
    snapshot diff), so day 3 finds its classes in the codegen cache.
    With a cache smaller than one day's ~118 classes every one of them
    is evicted before its rerun; what day 3 may still compile is the
    candidate-id fetch, whose ids are written into its code."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    incoming = tmp_path / "wh" / "corpus" / "incoming"
    incoming.mkdir(parents=True)
    svc = JobService(cat, stage_path=str(tmp_path / "stage"), alerter=LogAlerter())

    def text(day, i):
        return " ".join(f"w{day}x{i}x{j}" for j in range(12))

    release = {i: text(0, i) for i in range(40)}
    next_id = 1000

    def run_day(day):
        nonlocal next_id
        rows = []
        for i in range(6):
            rows.append((next_id, text(day, i)))
            next_id += 1
        if day > 1:
            # an exact copy and a near-duplicate of the day before's
            # documents, so each day probes other candidate ids
            rows.append((next_id, text(day - 1, 0)))
            rows.append((next_id + 1, text(day - 1, 1) + " dup"))
            next_id += 2
        _stage_delivery(spark, rows, incoming, day)
        if day > 1:
            # release candidate: 3 deletes, 3 updates, 3 inserts
            for i in sorted(release)[:3]:
                del release[i]
            for i in sorted(release)[:3]:
                release[i] += f" v{day}"
            for i in range(3):
                release[100 * day + i] = text(100 + day, i)
        cat.write_table(
            spark.createDataFrame(
                [(i, t, "en", "web", len(t)) for i, t in sorted(release.items())],
                "doc_id long, text string, lang string, source string, n_chars long",
            ),
            "staging.corpus",
            mode="overwrite",
        )
        for job_type in ("corpus_ingest_etl", "corpus_release_etl"):
            env = svc.execute_job(
                {"id": f"{day}-{job_type}", "type": job_type,
                 "load_date": f"2026-09-0{day}"}
            )
            assert env["status"] == "Success", env.get("error")
            if job_type == "corpus_ingest_etl":
                assert env["n_input"] == len(rows)
                # the exact copy goes, the fresh documents stay
                assert 6 <= env["n_novel"] <= 6 + (day > 1)
            else:
                assert env["version"] == day
                assert env["diff"] == (
                    {"insert": 3, "update": 3, "delete": 3} if day > 1 else {}
                )

    run_day(1)
    run_day(2)
    before = _codegen_compiles(spark)
    run_day(3)
    compiled = _codegen_compiles(spark) - before
    assert compiled <= 10, compiled
