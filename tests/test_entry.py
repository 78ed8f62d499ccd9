"""Smoke tests for the driver contract module."""

import importlib.util
import os

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_entry_module():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO_ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_returns_rows(spark):
    mod = _load_entry_module()
    df = mod.entry(spark)
    assert df.count() > 0


def test_queries_and_oracles_aligned(spark):
    mod = _load_entry_module()
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert len(qs) > 0
    # every oracle key must be a declared query
    assert set(oracles) <= set(qs)
    for name, fn in qs.items():
        assert callable(fn), name


def test_session_scale_posture(spark):
    """The session contract the 100 TB design assumes (SURVEY.md §4.1):
    AQE + partition coalescing + skew-join handling + Arrow + UTC must
    stay on — a config regression here silently degrades every plan."""
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    assert conf.get("spark.sql.parquet.filterPushdown") == "true"
    assert conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    # no per-call call-site capture round trips on pyspark.sql.functions
    from pyspark.errors.utils import is_debugging_enabled

    assert conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_driver_window_is_first_50_registry_entries():
    """The driver oracles registry[:50] in insertion order; a refactor
    that breaks the DRIVER_WINDOW-first ordering silently forfeits the
    round's correctness coverage plan."""
    from spark_etl_agent_spark.queries import registry
    from spark_etl_agent_spark.queries.base import DRIVER_WINDOW

    assert list(registry())[: len(DRIVER_WINDOW)] == list(DRIVER_WINDOW)
    assert len(DRIVER_WINDOW) == 50
    # round-12 rotation contract: the 12 specs whose output values
    # changed with the numeric-MinHash redesign LEAD (window policy
    # rule 1), then the final 17 of the r07 staleness cohort (they hit
    # MAX_DRIVER_ROW_AGE this round — nothing may displace them), then
    # the alphabetically-first 21 of the r08 cohort.
    assert DRIVER_WINDOW[:12] == (
        "minhash_signatures",
        "minhash_near_duplicates",
        "minhash_estimate_error",
        "lsh_band_calibration",
        "dedup_family_agreement",
        "incremental_neardup_probe",
        "indexed_ingest_probe",
        "ingest_compaction_probe",
        "split_leakage_audit",
        "corpus_build_funnel",
        "streaming_ingest_dedup_audit",
        "streaming_compaction_probe",
    )
    # r07 drain completed: all 17 remaining r07-latest names in
    for r07 in (
        "rolling_active_users", "rollup_day_by_type", "rollup_returns",
        "salted_join_hotkey", "scalar_function_gallery",
        "scd2_temporal_join", "semi_anti_join", "stat_moments_gallery",
        "text_stats", "timestamp_parse_roundtrip", "token_counts",
        "top_accounts_global_sort", "top_revenue_orders",
        "unigram_doc_logprob", "value_outlier_fences",
        "window_rank_family", "window_running_and_lag",
    ):
        assert r07 in DRIVER_WINDOW, r07


def test_rotation_guard_fails_on_aged_out_names(monkeypatch):
    """The registry-time rotation assertion: a planned window that
    leaves any name's latest driver row to age past 4 rounds (or a
    never-checked name out of the window) must raise loudly."""
    import spark_etl_agent_spark.queries.base as base

    # current plan is valid against the committed artifacts
    base._rotation_checked = False
    base.registry()
    assert base._rotation_checked

    # drop a must-drain r07-cohort name from the window -> its r07 row
    # would age past 4 rounds after round 12 -> raise
    base._rotation_checked = False
    crippled = tuple(
        n for n in base.DRIVER_WINDOW if n != "window_running_and_lag"
    )
    monkeypatch.setattr(base, "DRIVER_WINDOW", crippled)
    with pytest.raises(ValueError, match="rotation contract"):
        base.registry()
    base._rotation_checked = False
    monkeypatch.undo()
    base.registry()  # restore the cached-valid state for other tests
