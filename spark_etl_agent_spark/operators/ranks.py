"""Distributed global ordering — exact ``row_number``/``ntile``/
``quantile_cont`` and running totals over an unbounded frame WITHOUT a
single-partition sort or a whole-group memory buffer.

A global ``Window.orderBy(...)`` moves every row to one partition; at
100 TB (or even a tens-of-millions-row entity aggregate) that serial
sort is the bottleneck. :func:`running_total` is the one scalable
shape, and every operator here and in ``llm.packing`` is a thin caller:
the frame is range-partitioned on the sort key, each partition's total
becomes a cumulative offset (partition *metadata*, ≤ npart rows per
group), and a row's running total is its partition's offset plus the
intra-partition running sum.

Results are bit-identical to the single-partition window at ANY
``npart`` (guarded by ``tests/test_determinism.py``) because the range
partitioning is evaluated ONCE: the ranged frame is persisted, so the
partition sizes and the rows they offset come from one sample of range
bounds. Evaluated twice — once for the sizes, once for the rows — a
post-shuffle input with no fixed row order samples different bounds on
each side, and offsets land on other partitions' rows. Given one
partitioning, the answer is a function of the total order alone; the
boundary *placement* only moves work. Callers in a long-lived session
release the persist with ``core.cache.scoped_caches``.

The sort key must be a total order (include a unique tie-break column,
e.g. the primary key) — engine-dependent tie behavior is the other
classic source of cross-engine hash mismatches.
"""

from __future__ import annotations

from functools import reduce
from typing import List, Optional, Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "__rank_pid"
_OFF = "__rank_off"
_N = "__rank_n"
_PSZ = "__rank_psz"


def running_total(
    df: DataFrame,
    order_by: List[Column],
    weight: Column,
    out_col: str,
    groups: Sequence[str] = (),
    npart: Optional[int] = None,
) -> DataFrame:
    """Append ``out_col``, the inclusive running sum (bigint) of
    ``weight`` in ``order_by`` order within each ``groups`` group, and
    ``__rank_n``, the group's total. ``order_by`` must be a total order
    within a group; ``npart`` defaults to the cluster's parallelism.
    NULL group keys form a real group (the offsets join is null-safe).
    """
    npart = npart or df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(npart, *[F.col(g) for g in groups], *order_by)
        .withColumn(_PID, F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = ranged.groupBy(*groups, _PID).agg(
        F.sum(weight).cast("bigint").alias(_PSZ)
    )
    # bounded: partition METADATA — ≤ npart rows per group
    w_before = (
        Window.partitionBy(*groups)
        .orderBy(_PID)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        *[F.col(g).alias(f"_og_{g}") for g in groups],
        F.col(_PID).alias("_opid"),
        F.coalesce(F.sum(_PSZ).over(w_before), F.lit(0)).alias(_OFF),
        F.sum(_PSZ).over(Window.partitionBy(*groups)).alias(_N),
    )
    off_cond = reduce(
        lambda a, b: a & b,
        [F.col(g).eqNullSafe(F.col(f"_og_{g}")) for g in groups],
        F.col(_PID) == F.col("_opid"),
    )
    w_local = (
        Window.partitionBy(_PID, *groups)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    total = (F.col(_OFF) + F.sum(weight).over(w_local)).cast("bigint")
    return ranged.join(F.broadcast(offsets), off_cond).select(
        *[c for c in df.columns if c != out_col], total.alias(out_col), _N
    )


def global_rank(
    df: DataFrame,
    order_by: List[Column],
    rank_col: str = "rank",
    npart: Optional[int] = None,
) -> DataFrame:
    """Append a 1-based dense global ``row_number`` over ``order_by``
    (which must be a total order) with no single-partition data stage:
    the running count of rows. Also appends ``__rank_n``, the row
    count."""
    return running_total(df, order_by, F.lit(1), rank_col, npart=npart)


def grouped_quantile_cont(
    df: DataFrame,
    groups: List[str],
    value: str,
    qs: List[float],
    npart: Optional[int] = None,
) -> DataFrame:
    """Exact linear-interpolated quantiles (SQL ``quantile_cont`` /
    Spark ``percentile`` semantics: position ``h = (n-1)·q``, result
    ``v[⌊h⌋] + (h-⌊h⌋)·(v[⌊h⌋+1] - v[⌊h⌋])``) per group — WITHOUT
    collecting any group's values into one reducer.

    Spark's exact ``percentile()`` aggregate buffers every value of a
    group in memory; with a handful of groups over a 100 TB fact table
    that is an OOM by construction. Here each value's rank in its group
    is a :func:`running_total` of rows, and only the TWO ranked rows each
    quantile needs are picked out and interpolated — one extra range
    shuffle, constant memory everywhere.

    Output: one row per group with a ``q_<q>`` double column per
    requested quantile (``0.25 → q_25``). NULL values are dropped
    first — SQL ``quantile_cont`` / ``percentile`` semantics; a group
    with only NULLs produces no row (matching the aggregate's NULL by
    absence of interpolable data). NULL group KEYS are kept as a real
    group, matching ``groupBy().agg(percentile(...))``."""
    ranked = running_total(
        df.filter(F.col(value).isNotNull()),
        [F.col(value)],
        F.lit(1),
        "_rank",
        groups=groups,
        npart=npart,
    )
    # per (row, q): the target ranks ⌊h⌋+1 and min(⌊h⌋+2, n)
    h = (F.col(_N) - 1) * F.col("q")
    picked = (
        ranked.withColumn(
            "q", F.explode(F.array(*[F.lit(float(q)) for q in qs]))
        )
        .select(
            *groups,
            "q",
            "_rank",
            (F.floor(h) + 1).alias("_rlo"),
            F.least(F.floor(h) + 2, F.col(_N)).alias("_rhi"),
            (h - F.floor(h)).alias("_frac"),
            F.col(value).cast("double").alias("_v"),
        )
        .filter(
            (F.col("_rank") == F.col("_rlo")) | (F.col("_rank") == F.col("_rhi"))
        )
    )
    per_q = picked.groupBy(*groups, "q", "_frac").agg(
        F.min(F.when(F.col("_rank") == F.col("_rlo"), F.col("_v"))).alias("_vlo"),
        F.min(F.when(F.col("_rank") == F.col("_rhi"), F.col("_v"))).alias("_vhi"),
    ).select(
        *groups,
        "q",
        (
            F.col("_vlo") + F.col("_frac") * (F.col("_vhi") - F.col("_vlo"))
        ).alias("_quant"),
    )
    out = per_q.groupBy(*groups).pivot(
        "q", [float(q) for q in qs]
    ).agg(F.first("_quant"))
    for q in qs:
        out = out.withColumnRenamed(str(float(q)), f"q_{int(round(q * 100))}")
    return out


def parallel_ntile(
    df: DataFrame,
    n_buckets: int,
    order_by: List[Column],
    bucket_col: str = "bucket",
    npart: Optional[int] = None,
) -> DataFrame:
    """Exact ``ntile(n_buckets) OVER (ORDER BY ...)`` — hash-identical
    to the window function, computed via ``global_rank``. Output keeps
    the input columns plus ``bucket_col`` (int, 1-based)."""
    ranked = global_rank(df, order_by, rank_col="__rank", npart=npart)
    q = F.floor(F.col(_N) / F.lit(n_buckets))
    rem = F.col(_N) % F.lit(n_buckets)
    cut = rem * (q + 1)
    rank = F.col("__rank")
    # greatest(q,1) only guards the (n < n_buckets) branch CASE never
    # takes — ANSI div-by-zero safety.
    bucket = (
        F.when(rank <= cut, F.ceil(rank / (q + 1)))
        .otherwise(rem + F.ceil((rank - cut) / F.greatest(q, F.lit(1))))
        .cast("int")
    )
    return ranked.withColumn(bucket_col, bucket).drop(_N, "__rank")
