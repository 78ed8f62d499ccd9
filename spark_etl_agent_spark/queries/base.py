"""Shared plumbing for the declared-query inventory.

Cross-engine determinism rules (Spark vs the DuckDB oracle) used by every
query module:

- **Money / measure aggregation in exact decimals.** Double summation is
  order-dependent, and Spark and DuckDB aggregate in different orders, so
  a raw ``SUM(double)`` hash-mismatches in the low bits. Instead every
  measure is cast to a bounded ``DECIMAL`` *before* aggregation, combined
  with exact decimal arithmetic, and cast to ``DOUBLE`` only at the very
  end — the exact decimal result rounds to the identical IEEE double in
  both engines regardless of execution order or parallelism.
- **Averages as (decimal-sum cast double) / count** — one IEEE division
  of identical operands is bitwise deterministic.
- **Window orderings always include a unique tie-break key** (row order
  inside an ORDER BY tie is engine-dependent).
- **Every computed column is aliased identically in Spark and SQL** (the
  driver sorts columns by name before hashing).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Dict, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class QuerySpec:
    """One declared query: a Spark program and (optionally) its ANSI-SQL
    oracle that DuckDB can execute on the same parquet tables."""

    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str] = None  # None → driver records rows-only check
    doc: str = ""
    tags: tuple = field(default_factory=tuple)


# Inferred schemas memoized per (sf_dir, table): the testdata is
# read-only for the process lifetime, and schema inference is a real
# JVM job (footer read, ~0.1 s) that a 100+-query batch pays hundreds
# of times for identical answers. The cache stores only the StructType
# — every load() still returns a FRESH DataFrame, so self-joins keep
# distinct lineage for column disambiguation.
_SCHEMA_CACHE: Dict[tuple, "object"] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Columnar parquet scan → Catalyst pushes
    filters/pruning into the scan; at 100 TB the same call reads a
    partitioned table directory.

    ``events.ts`` has shipped as both TIMESTAMP(NANOS) parquet (which
    Spark reads as a long under the legacy conf) and plain
    ``timestamp[us]`` — the generator's choice is NOT a frozen contract,
    so the conversion branches on the dtype that actually arrives instead
    of assuming an era. Nanos-as-long is truncated to microseconds (the
    same truncation DuckDB's TIMESTAMP_NS→TIMESTAMP cast performs,
    lossless here); native timestamp columns pass through unchanged.
    """
    path = f"{sf_dir}/{name}.parquet"
    key = (sf_dir, name)
    if name == "events":
        # Conf must be set before the read so a NANOS file surfaces as
        # LongType rather than failing the scan; it is a no-op for
        # micro/milli timestamp columns.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        if key not in _SCHEMA_CACHE:
            _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
        schema = _SCHEMA_CACHE[key]
        df = spark.read.schema(schema).parquet(path)
        from pyspark.sql.types import LongType, TimestampNTZType

        dt = schema["ts"].dataType
        if isinstance(dt, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(dt, TimestampNTZType):
            # Normalize to TIMESTAMP (LTZ): value-identical under the
            # UTC-pinned session, and required downstream — streaming
            # watermarks reject TIMESTAMP_NTZ event-time columns.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    if key not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return spark.read.schema(_SCHEMA_CACHE[key]).parquet(path)


def fan_out(df: DataFrame) -> DataFrame:
    """Widen an under-parallelized scan before compute-heavy per-row work
    (hashing, decode). A small/single-row-group parquet file yields one
    task, serializing everything downstream of it; at real scale the scan
    has thousands of splits and this is a no-op — the repartition only
    fires when the input has fewer partitions than the cluster has slots,
    so it never adds a shuffle to a 100 TB read.

    Width is estimated from the scan's file listing (already cached in
    the file-source relation) — NOT ``df.rdd.getNumPartitions()``, which
    would build the Python-RDD conversion plan and analyze the query a
    second time just to read a number. A file COUNT alone is not enough:
    one 10 GB file yields ~80 splits at the default 128 MB
    ``maxPartitionBytes``, so counting files would under-estimate a
    few-huge-files layout and ADD a full-corpus round-robin shuffle that
    real scale never needs. When the file count is below the slot count,
    splits are estimated from the actual file sizes (≤ slot-count
    Hadoop-FS stat calls, metadata-only, and only on the small-input
    path); the repartition fires only when the scan genuinely cannot
    fill the cluster."""
    spark = df.sparkSession
    sc = spark.sparkContext
    target = sc.defaultParallelism
    files = df.inputFiles()
    if len(files) >= target:
        return df
    jvm = sc._jvm
    java_utils = getattr(jvm, "org.apache.spark.network.util.JavaUtils")
    max_split = java_utils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    max_split = max(1, int(max_split))
    hconf = sc._jsc.hadoopConfiguration()
    path_cls = getattr(jvm, "org.apache.hadoop.fs.Path")
    splits = 0
    for f in files:
        p = path_cls(f)
        fs = p.getFileSystem(hconf)
        size = int(fs.getFileStatus(p).getLen())
        splits += max(1, -(-size // max_split))  # ceil-div, ≥1 per file
        if splits >= target:  # enough parallelism — no shuffle
            return df
    return df.repartition(target)


# -- deterministic numeric helpers (canonical home: functions.deterministic) --

from ..functions.deterministic import davg, dec, dsum, dsum_expr  # noqa: E402,F401


SQL_DEC = "DECIMAL(12,4)"


def _collect_modules():
    # Imported lazily so a syntax error in one module surfaces clearly
    # and so pyspark import cost is paid once.
    from . import (
        advanced,
        centrality,
        dedup,
        events,
        hygiene,
        jcap,
        lifecycle,
        multimodal,
        pretrain,
        relational,
        sampling,
        similarity,
        stats,
        streaming,
        streaming_sinks,
        strings,
        subqueries,
        text,
        timeseries,
        tpch_ext,
        tpch_final,
        tpch_multi,
        windows_ext,
    )

    return (
        relational,
        jcap,
        lifecycle,
        stats,
        timeseries,
        events,
        text,
        dedup,
        similarity,
        multimodal,
        streaming,
        advanced,
        strings,
        sampling,
        streaming_sinks,
        windows_ext,
        subqueries,
        tpch_multi,
        tpch_ext,
        tpch_final,
        pretrain,
        centrality,
        hygiene,
    )


# The driver's per-round correctness harness oracles only the FIRST 50
# registry entries (insertion order). Window policy (established rounds
# 4-5, judge-ratified): (1) queries written or schema-changed THIS round
# lead, so they get a driver row the same round; (2) the remaining
# slots go to the STALEST previously-green names so no query's latest
# driver row ages past ~3 rounds; (3) every name is validated against
# the merged inventory at registry() time so a rename or removal fails
# loudly instead of silently shrinking coverage.
# The round this window was planned FOR (bump when rebuilding the
# window each round). _validate_rotation() checks the PLANNED window
# against the artifacts committed BEFORE this round, so the check is
# stable no matter when registry() runs within the round.
DRIVER_WINDOW_ROUND = 12

DRIVER_WINDOW = (
    # -- round 12 rotation. LEADS (12): the numeric-MinHash redesign
    #    (r11 verdict ask #2) changed the signature value domain, so
    #    every spec whose output carries signature values or depends
    #    on the LSH candidate set is value-changed THIS round and must
    #    get a driver row now (window policy rule 1). Each was proven
    #    against its paired DuckDB oracle at sf0.001 + sf0.01 locally
    #    before shipping. --
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
    # -- r07 staleness-cohort drain (17): the remainder of the r07
    #    cohort the r11 window planned for this round — they hit
    #    MAX_DRIVER_ROW_AGE at round 12, so nothing may displace
    #    them. --
    "rolling_active_users",
    "rollup_day_by_type",
    "rollup_returns",
    "salted_join_hotkey",
    "scalar_function_gallery",
    "scd2_temporal_join",
    "semi_anti_join",
    "stat_moments_gallery",
    "text_stats",
    "timestamp_parse_roundtrip",
    "token_counts",
    "top_accounts_global_sort",
    "top_revenue_orders",
    "unigram_doc_logprob",
    "value_outlier_fences",
    "window_rank_family",
    "window_running_and_lag",
    # -- r08 staleness-cohort drain (21): alphabetically-first names
    #    whose latest green row is r08 (corpus_build_funnel already
    #    leads above); the rest of the r08 cohort reaches
    #    MAX_DRIVER_ROW_AGE at round 13 and rotates there. --
    "feature_hash_buckets",
    "filtered_aggregates",
    "gopher_repetition_rules",
    "grouping_sets_revenue",
    "hll_union_daily_users",
    "idle_rich_customers",
    "ivf_append_assign",
    "large_volume_orders",
    "lone_returner_suppliers",
    "market_share",
    "mg_heavy_hitter_tokens",
    "min_cost_supplier",
    "multimodal_wav_decode",
    "nation_trade_volume",
    "nation_year_profit",
    "orders_table_profile",
    "parts_supplier_counts",
    "pii_scrub_report",
    "promo_revenue_share",
    "quantity_profile",
    "returned_item_revenue",
)



# Rotation-math guard (round-9 verdict ask #7): the inventory grows
# while the window stays 50, so a planned window CAN silently let a
# name's latest driver row age out. Validated once per process at
# registry() time: reading the committed CORRECTNESS_r*.json artifacts
# from rounds BEFORE ``DRIVER_WINDOW_ROUND`` (so the check's answer
# never changes mid-round as new artifacts land), every inventory name
# must either sit in the planned window or have a driver row that will
# still be at most ``MAX_DRIVER_ROW_AGE`` rounds old after this round.
MAX_DRIVER_ROW_AGE = 4
_rotation_checked = False


def _latest_driver_rounds(before_round: int) -> Optional[Dict[str, int]]:
    """name -> newest round (< before_round) with a committed GREEN
    driver row, from the repo-root CORRECTNESS artifacts; None when no
    artifacts are visible (fresh checkout / foreign CWD).

    Only green rows count (rows_match true, no err): a failed driver
    row is not evidence of freshness — counting it would let a
    red-and-never-retried name mask its own staleness from this guard
    (r01–r03 contain 14 such rows, all superseded by later greens)."""
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[2]
    latest: Dict[str, int] = {}
    found = False
    for p in root.glob("CORRECTNESS_r*.json"):
        m = re.search(r"r(\d+)\.json$", p.name)
        if not m or int(m.group(1)) >= before_round:
            continue
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        found = True
        for name, row in rows.items():
            green = (
                isinstance(row, dict)
                and bool(row.get("rows_match"))
                and not row.get("err")
            )
            if green:
                latest[name] = max(latest.get(name, 0), int(m.group(1)))
    return latest if found else None


def _validate_rotation(inventory: Dict[str, QuerySpec]) -> None:
    global _rotation_checked
    if _rotation_checked:
        return
    latest = _latest_driver_rounds(DRIVER_WINDOW_ROUND)
    if latest is None:
        return  # artifacts not visible here; the repo's pytest run has them
    window = set(DRIVER_WINDOW)
    stale = sorted(
        name
        for name in inventory
        if name not in window
        and DRIVER_WINDOW_ROUND - latest.get(name, -10**6)
        > MAX_DRIVER_ROW_AGE
    )
    if stale:
        raise ValueError(
            f"rotation contract violated: {len(stale)} name(s) outside "
            f"DRIVER_WINDOW would age past {MAX_DRIVER_ROW_AGE} rounds "
            f"after round {DRIVER_WINDOW_ROUND} (never-checked names "
            f"count as infinitely stale): {stale}"
        )
    _rotation_checked = True


def registry() -> Dict[str, QuerySpec]:
    merged: Dict[str, QuerySpec] = {}
    for mod in _collect_modules():
        for name, spec in getattr(mod, "QUERIES", {}).items():
            if name in merged:
                raise ValueError(f"duplicate query name: {name}")
            merged[name] = spec
    missing = [n for n in DRIVER_WINDOW if n not in merged]
    if missing:
        raise ValueError(f"DRIVER_WINDOW names not in inventory: {missing}")
    _validate_rotation(merged)
    out: Dict[str, QuerySpec] = {n: merged[n] for n in DRIVER_WINDOW}
    for name, spec in merged.items():
        out.setdefault(name, spec)
    return out
