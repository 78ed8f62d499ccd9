"""Parquet-backed table catalog — the engine's system of record.

Replaces the reference's Redshift tables (SURVEY.md §1.5): a table named
``schema.table`` lives at ``<root>/<schema>/<table>`` as a Parquet
directory, and every reference verb (``utils/db_utils.py``:
``read_table`` :68-95, ``write_table`` :119-143, ``truncate_table``
:195-223, ``copy_table_data`` :225-247, ``get_table_count`` :178-193)
has a native equivalent here, minus the reference's accidental
semantics:

- **truncate preserves schema** by writing an empty frame with the
  captured schema (the reference's JDBC ``overwrite`` DROPs the table
  and loses DDL — SURVEY.md §2.11 U1).
- **no unconditional cache** after reads (the reference caches every
  JDBC read, ``utils/db_utils.py:87`` — U7); callers cache when a frame
  is genuinely reused.
- **no repartition heuristic** before writes (U8): AQE coalescing plus
  ``maxRecordsPerFile`` govern output file sizing at any scale.

Scale posture: tables may be written partitioned (``partition_by``) so
100 TB readers get partition pruning; counts run as metadata-only
parquet scans (no row materialization).
"""

from __future__ import annotations

import os
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession


class TableNotFoundError(Exception):
    pass


class Catalog:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root.rstrip("/")

    # -- addressing ----------------------------------------------------------

    def path(self, name: str) -> str:
        """``schema.table`` → ``<root>/<schema>/<table>`` (dotted names
        nest; a bare name lives at the root)."""
        return os.path.join(self.root, *name.split("."))

    def table_exists(self, name: str) -> bool:
        """Hadoop-FS existence check (works for file://, hdfs://, s3a://)."""
        jvm = self.spark._jvm
        jpath = getattr(jvm, "org.apache.hadoop.fs.Path")(self.path(name))
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jpath))

    # -- verbs (reference parity, SURVEY.md §2.11) ----------------------------

    def read_table(self, name: str, limit: Optional[int] = None) -> DataFrame:
        """S1 analog: full-table scan with optional row cap. Unlike the
        reference's DSv1 JDBC read, Catalyst pushes the limit into the
        scan here (SURVEY.md §2.6 O2)."""
        if not self.table_exists(name):
            raise TableNotFoundError(name)
        df = self.spark.read.parquet(self.path(name))
        return df.limit(limit) if limit is not None else df

    def write_table(
        self,
        df: DataFrame,
        name: str,
        mode: str = "append",
        partition_by: Optional[List[str]] = None,
    ) -> None:
        """S3 analog. ``partition_by`` (e.g. ``["load_date"]``) makes the
        table partition-pruned for downstream readers — the 100 TB
        posture the reference lacked."""
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.path(name))

    def execute_sql(self, sql: str) -> DataFrame:
        """S2 inverted (SURVEY.md §2.1): the reference shipped SQL *to
        Redshift*; here Catalyst executes it natively. Tables under the
        catalog root must be registered first via :meth:`register_views`.
        """
        return self.spark.sql(sql)

    def register_views(self, names: List[str]) -> None:
        """Expose catalog tables to ``spark.sql`` as temp views named by
        their flattened table name (``schema.table`` → ``schema_table``)."""
        for name in names:
            self.read_table(name).createOrReplaceTempView(name.replace(".", "_"))

    def get_table_count(self, name: str) -> int:
        """U3/A1 analog — a count(*) aggregate over the parquet scan;
        Spark's vectorized reader satisfies it from row-group metadata
        without materializing columns."""
        return self.read_table(name).count()

    def truncate_table(self, name: str) -> None:
        """U1 analog with the *intended* semantics: empty the table but
        keep its schema (no DROP-and-recreate)."""
        schema = self.read_table(name).schema
        empty = self.spark.createDataFrame([], schema)
        empty.write.mode("overwrite").parquet(self.path(name))

    def copy_table_data(self, source: str, dest: str) -> int:
        """U2 analog: append source rows into dest, return rows copied."""
        df = self.read_table(source)
        self.write_table(df, dest, mode="append")
        return self.get_table_count(source)

    def merge_upsert(self, source: DataFrame, name: str, keys: List[str]) -> int:
        """MERGE-style upsert: rows in ``source`` replace target rows
        with matching keys; unmatched target rows survive. Composed as
        target-anti-join-source ∪ source → staged write → directory
        swap (the pattern for plain-Parquet tables; a Delta/Iceberg
        connector would map this verb to its native MERGE). Returns the
        new row count.

        NULL merge keys are rejected: an equality anti-join never
        matches NULL, so a NULL-key source row would *append* while the
        NULL-key target row *survives* — duplicates instead of a
        replace.

        Crash safety: the merged result is written to a staging
        directory and promoted by rename (``_swap_in``); the live table
        is never a partially-written overwrite target, and a crash
        mid-swap leaves the ``__backup`` copy on disk.

        Scale note: the anti-join shuffles on the merge keys once; with
        a bucketed target (``write_table_bucketed``) even that shuffle
        is one-sided."""
        from functools import reduce

        from pyspark.sql import functions as F

        target = self.read_table(name)
        missing = [c for c in target.columns if c not in source.columns]
        if missing:
            raise ValueError(f"source is missing target columns: {missing}")
        null_key = reduce(
            lambda a, b: a | b, [F.col(k).isNull() for k in keys]
        )
        if source.filter(null_key).limit(1).count() > 0:
            raise ValueError(
                f"merge_upsert into {name}: source has NULL merge keys "
                f"{keys}; NULL keys never equality-match and would "
                "duplicate instead of replace"
            )
        kept = target.join(source.select(*keys).distinct(), keys, "left_anti")
        merged = kept.unionByName(source.select(*target.columns))
        # materialize on a staging path first — the plan reads the table
        # being replaced — then promote by rename, never by overwrite
        tmp = f"{name}__merge_tmp"
        self.write_table(merged, tmp, mode="overwrite")
        n = self.get_table_count(tmp)
        self._swap_in(tmp, name)
        return n

    def apply_cdc(self, changes: DataFrame, name: str, keys: List[str]) -> int:
        """Apply a CDC change set (``operators/cdc.py::snapshot_diff``
        output joined back to its data rows): ``change_type`` ∈
        {insert, update, delete}, where insert/update rows carry the
        full target schema and delete rows need only the keys.

        New state = target minus every changed key, union the
        insert/update rows. One anti-join shuffle on the merge keys
        (one-sided when the target is bucketed) — cost scales with the
        delta, not with re-deriving the source. Same staged-write +
        rename-with-backup promotion as ``merge_upsert``; same NULL-key
        rejection (equality joins never match NULL keys). Returns the
        new row count."""
        from functools import reduce

        from pyspark.sql import functions as F

        target = self.read_table(name)
        null_key = reduce(lambda a, b: a | b, [F.col(k).isNull() for k in keys])
        if changes.filter(null_key).limit(1).count() > 0:
            raise ValueError(
                f"apply_cdc into {name}: change set has NULL keys {keys}"
            )
        upserts = changes.filter(
            F.col("change_type").isin("insert", "update")
        ).select(*target.columns)
        changed_keys = changes.select(*keys).distinct()
        kept = target.join(changed_keys, keys, "left_anti")
        merged = kept.unionByName(upserts)
        tmp = f"{name}__cdc_tmp"
        self.write_table(merged, tmp, mode="overwrite")
        n = self.get_table_count(tmp)
        self._swap_in(tmp, name)
        return n

    def _swap_in(self, staged: str, name: str) -> None:
        """Promote a staged rewrite to the live table via directory
        renames (single-FS-op on local/HDFS): live → ``__backup``,
        staged → live, drop backup. A crash between the renames leaves
        the backup directory for restore instead of losing the system
        of record to a half-finished overwrite."""
        path_cls = getattr(self.spark._jvm, "org.apache.hadoop.fs.Path")
        hconf = self.spark._jsc.hadoopConfiguration()
        live = path_cls(self.path(name))
        staged_p = path_cls(self.path(staged))
        backup = path_cls(self.path(name) + "__backup")
        fs = live.getFileSystem(hconf)
        if fs.exists(backup):
            fs.delete(backup, True)
        if not fs.rename(live, backup):
            raise IOError(f"swap_in: could not move live {name} aside")
        if not fs.rename(staged_p, live):
            fs.rename(backup, live)  # restore the original
            raise IOError(f"swap_in: could not promote staged {staged}")
        fs.delete(backup, True)

    def table_file_count(self, name: str) -> int:
        """Number of parquet data files under the table directory —
        the scalar a maintenance policy gates compaction on (a
        micro-batch sink accretes one-plus files per trigger).
        Recursive (``fs.listFiles(path, true)``) so partitioned tables
        (data files under ``key=.../`` subdirectories) are counted too;
        a top-level-only listing reports 0 for those and a maintenance
        policy gated on it would silently never compact."""
        jvm = self.spark._jvm
        jpath = getattr(jvm, "org.apache.hadoop.fs.Path")(self.path(name))
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        n, it = 0, fs.listFiles(jpath, True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
        return n

    def compact_table(
        self,
        name: str,
        target_file_mb: int = 128,
        sort_within_by: Optional[List[str]] = None,
    ) -> int:
        """Small-file compaction — the maintenance verb every
        streaming/incremental sink needs at scale: micro-batch appends
        leave thousands of KB-sized files whose open/footer cost
        dominates later scans. Rewrites the table into
        ``ceil(bytes / target_file_mb)`` files. ``sort_within_by``
        makes the rewrite a real CLUSTERING pass:
        ``repartitionByRange`` + ``sortWithinPartitions`` lays the
        sort keys out in DISJOINT per-file ranges, so parquet row-group
        min/max stats become selective and a sorted-key predicate skips
        whole files at read time (round-robin placement would give
        every file the full key range and stats that can never exclude
        anything — pinned by
        ``tests/test_jobs.py::test_compacted_sorted_layout_skips_row_groups``).
        Returns the file count after compaction."""
        jvm = self.spark._jvm
        jpath = getattr(jvm, "org.apache.hadoop.fs.Path")(self.path(name))
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        total_bytes = fs.getContentSummary(jpath).getLength()
        n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))

        df = self.read_table(name)
        if sort_within_by:
            df = df.repartitionByRange(
                int(n_files), *sort_within_by
            ).sortWithinPartitions(*sort_within_by)
        else:
            df = df.repartition(int(n_files))
        tmp = f"{name}__compact_tmp"
        self.write_table(df, tmp, mode="overwrite")
        self._swap_in(tmp, name)
        return self.table_file_count(name)

    def overwrite_partitions(
        self, df: DataFrame, name: str, partition_by: List[str]
    ) -> None:
        """Idempotent per-partition replace (dynamic partition
        overwrite): ONLY the partitions present in ``df`` are rewritten;
        every other partition of the table is untouched. This is the
        backfill/restatement verb — re-running one day replaces that
        day, never the table — and re-running the same input twice is a
        no-op difference. Static overwrite (the default mode) would drop
        ALL partitions first, silently truncating history."""
        key = "spark.sql.sources.partitionOverwriteMode"
        old = self.spark.conf.get(key, "static")
        try:
            self.spark.conf.set(key, "dynamic")
            (
                df.write.mode("overwrite")
                .partitionBy(*partition_by)
                .parquet(self.path(name))
            )
        finally:
            self.spark.conf.set(key, old)

    def analyze_table(self, name: str) -> dict:
        """ANALYZE-style statistics: row count, size-in-bytes, and
        per-column null counts + distinct estimates — the inputs a
        cost-based planner needs for broadcast/join-order decisions.
        One metadata pass plus one aggregate scan; no row collection."""
        from pyspark.sql import functions as F

        df = self.read_table(name)
        jvm = self.spark._jvm
        jpath = getattr(jvm, "org.apache.hadoop.fs.Path")(self.path(name))
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        size_bytes = int(fs.getContentSummary(jpath).getLength())

        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in df.columns:
            aggs.append(
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls__{c}")
            )
            aggs.append(F.approx_count_distinct(c).alias(f"__ndv__{c}"))
        row = df.agg(*aggs).collect()[0].asDict()
        return {
            "table": name,
            "row_count": row["__rows"],
            "size_bytes": size_bytes,
            "columns": {
                c: {
                    "null_count": row[f"__nulls__{c}"],
                    "approx_distinct": row[f"__ndv__{c}"],
                }
                for c in df.columns
            },
        }

    def write_table_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_cols: List[str],
        n_buckets: int = 16,
        sort_cols: Optional[List[str]] = None,
        mode: str = "overwrite",
    ) -> None:
        """Bucketed managed table (``bucketBy`` + ``sortBy``): two tables
        bucketed the same way join with NO shuffle and NO sort — the
        co-located-join layout that turns the recurring 100 TB
        fact⋈fact join from a full network shuffle into a local merge.
        Registered in the session catalog (bucket metadata lives there,
        not in parquet), addressed by flattened name."""
        writer = (
            df.write.mode(mode)
            .format("parquet")
            .option("path", self.path(name))
            .bucketBy(n_buckets, *bucket_cols)
        )
        writer = writer.sortBy(*(sort_cols or bucket_cols))
        writer.saveAsTable(self._catalog_name(name))

    def read_bucketed_table(self, name: str) -> DataFrame:
        """Read via the session catalog so Catalyst sees the bucket spec
        (a plain path read would lose it and re-shuffle)."""
        return self.spark.table(self._catalog_name(name))

    def _catalog_name(self, name: str) -> str:
        return name.replace(".", "__")

    def drop_table(self, name: str) -> None:
        jvm = self.spark._jvm
        jpath = getattr(jvm, "org.apache.hadoop.fs.Path")(self.path(name))
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            fs.delete(jpath, True)


def expect_schema(df, contract: dict, strict: bool = False) -> None:
    """Data-contract gate: assert ``df`` carries the contracted columns
    and types before a write crosses a table boundary. ``contract`` maps
    column name → Spark simpleString type (e.g. ``{"o_orderkey":
    "bigint"}``). ``strict`` additionally rejects columns outside the
    contract (producer added a field no consumer agreed to). Raises
    ``SchemaContractError`` with the full diff — the load fails at the
    gate, not as NULL-filled joins three tables downstream."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    problems = []
    for col, typ in contract.items():
        if col not in actual:
            problems.append(f"missing column {col!r} ({typ})")
        elif actual[col] != typ:
            problems.append(
                f"column {col!r}: expected {typ}, got {actual[col]}"
            )
    if strict:
        for col in actual:
            if col not in contract:
                problems.append(f"uncontracted column {col!r} present")
    if problems:
        raise SchemaContractError("; ".join(problems))


class SchemaContractError(Exception):
    pass
