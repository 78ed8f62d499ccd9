"""Sequence packing (concat-and-chunk) for LLM pretraining.

GPT-style pretraining concatenates the tokenized corpus in a fixed
order into one virtual token stream and slices it into fixed-length
training sequences. Given a per-document token count and a total order,
this operator assigns every document its half-open span
``[start_off, end_off)`` in that stream and the chunk range
``[chunk_first, chunk_last]`` it lands in — without materializing the
stream and, critically, without a single-partition global window.

A naive ``sum(tokens) OVER (ORDER BY id)`` with no PARTITION BY moves
the entire corpus through ONE task — the classic global-window scale
killer. Here a document's ``end_off`` is the running token total from
``operators.ranks.running_total`` (range partition, partition offsets,
parallel intra-partition sums). Results are bit-identical at any
``npart`` because that helper evaluates the range partitioning once
and the arithmetic is exact integer throughout (guarded by the
partition-count-independence tests in ``tests/test_pretrain.py`` and
``tests/test_determinism.py``).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.ranks import running_total


def _pack_spans(
    df: DataFrame,
    order_col: str,
    tokens_col: str,
    budget: int,
    base: int = 0,
    npart: Optional[int] = None,
) -> DataFrame:
    """:func:`pack_chunks` in a token stream that starts at offset
    ``base`` — the streaming packing sink continues the stream of its
    previous batches this way."""
    if budget < 1:
        raise ValueError("budget must be >= 1")
    end_off = running_total(
        df, [F.col(order_col)], F.col(tokens_col), "end_off", npart=npart
    ).select(*df.columns, (F.col("end_off") + F.lit(base)).alias("end_off"))
    # integer DIV keeps the arithmetic exact (floor(double/double) would
    # wobble in the low bits at 100T-token offsets)
    return (
        end_off.withColumn(
            "start_off", F.col("end_off") - F.col(tokens_col).cast("bigint")
        )
        .withColumn("chunk_first", F.expr(f"start_off DIV {budget}"))
        .withColumn(
            "chunk_last",
            F.greatest(
                F.col("chunk_first"),
                F.expr(f"(end_off - 1) DIV {budget}"),
            ),
        )
        .withColumn(
            "n_chunks", F.col("chunk_last") - F.col("chunk_first") + F.lit(1)
        )
    )


def pack_chunks(
    df: DataFrame,
    order_col: str,
    tokens_col: str,
    budget: int,
    npart: Optional[int] = None,
) -> DataFrame:
    """Append ``start_off``, ``end_off``, ``chunk_first``,
    ``chunk_last``, ``n_chunks`` for a chunk size of ``budget`` tokens.

    ``order_col`` must be a total order (unique key — document id).
    ``tokens_col`` is the document's token count (≥ 0; a zero-token
    document gets an empty span and the chunk containing its offset).
    """
    return _pack_spans(df, order_col, tokens_col, budget, npart=npart)


def ordered_budget_prefix(
    df: DataFrame,
    tokens_col: str,
    budget: int,
    order_by,
    npart: Optional[int] = None,
) -> DataFrame:
    """Greedy ordered-prefix selection under a global token budget: walk
    the corpus in ``order_by`` order (must be a total order — e.g.
    quality DESC then id) and keep every document whose cumulative
    token count stays ≤ ``budget`` — the "best docs until the budget is
    spent" selection a fixed-size pretraining mixture makes.

    ``cum_tokens`` (the running total INCLUDING the row, appended to the
    selected rows) is a ``running_total``, so there is no single-partition
    global window and the selection is bit-identical at any ``npart``. A
    document that would cross the budget boundary is excluded (ordered
    prefix, not knapsack — deterministic and one-pass).
    """
    if budget < 0:
        raise ValueError("budget must be >= 0")
    return (
        running_total(
            df, order_by, F.col(tokens_col), "cum_tokens", npart=npart
        )
        .filter(F.col("cum_tokens") <= budget)
        .select(*df.columns, "cum_tokens")
    )


def packing_summary(packed: DataFrame, budget: int) -> DataFrame:
    """Corpus-level packing audit: total tokens/chunks, how many
    documents straddle a chunk boundary, and the fill ratio of the final
    (ragged) chunk. One scalar aggregation — map-side partial, no
    meaningful shuffle."""
    return packed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("end_off").alias("total_tokens"),
        (F.expr(f"(max(end_off) + {budget} - 1) DIV {budget}")).alias(
            "n_chunks_total"
        ),
        F.sum(
            F.when(F.col("chunk_last") > F.col("chunk_first"), 1).otherwise(0)
        ).alias("n_straddling"),
        F.when(
            F.expr(f"max(end_off) % {budget}") == 0, F.lit(1.0)
        )
        .otherwise(
            F.expr(f"max(end_off) % {budget}").cast("double")
            / F.lit(float(budget))
        )
        .alias("tail_fill_ratio"),
    )
