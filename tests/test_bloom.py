"""Bloom-filter pre-join pruning (`operators/bloom.py`) and
substring-level duplication stats (`llm/spans.py`)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from spark_etl_agent_spark.core.cache import scoped_caches
from spark_etl_agent_spark.llm.spans import duplicate_span_stats
from spark_etl_agent_spark.operators.bloom import (
    bloom_antijoin,
    bloom_bitmap,
    bloom_might_contain,
)


def test_bloom_bitmap_is_sketch_sized(spark):
    """The bitmap never exceeds n_bits/64 rows no matter the input."""
    df = spark.range(50_000).selectExpr("concat('k', id) AS k")
    n_bits = 1 << 14
    bm = bloom_bitmap(df, "k", n_bits=n_bits)
    assert bm.count() <= n_bits // 64


def test_bloom_no_false_negatives_and_low_fp(spark):
    """Every present key flags true; absent keys rarely do."""
    idx = spark.range(10_000).selectExpr("concat('k', id) AS k")
    bm = bloom_bitmap(idx, "k")
    present = bloom_might_contain(
        spark.range(10_000).selectExpr("concat('k', id) AS k"), bm, "k"
    )
    assert present.filter(~F.col("__bloom_hit")).count() == 0
    absent = bloom_might_contain(
        spark.range(10_000, 20_000).selectExpr("concat('k', id) AS k"),
        bm,
        "k",
    )
    fp = absent.filter(F.col("__bloom_hit")).count()
    assert fp < 100  # ~0.1% expected at default sizing


def test_bloom_antijoin_equals_plain_antijoin(spark, sf_dir):
    """End-to-end equality on real data with genuine key overlap."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    keyed = docs.select(
        "doc_id", F.md5(F.substring("text", 1, 20)).alias("k")
    )
    batch = keyed.filter(F.col("doc_id") % 5 == 0)
    index = keyed.filter(F.col("doc_id") % 5 != 0)
    with scoped_caches(spark):
        got = sorted(
            (r.doc_id, r.k) for r in bloom_antijoin(batch, index, "k").collect()
        )
    want = sorted(
        (r.doc_id, r.k)
        for r in batch.join(index.select("k"), "k", "left_anti").collect()
    )
    assert got == want and len(want) > 0


def test_bloom_antijoin_keeps_null_keys(spark):
    """NULL batch keys never equal anything — the anti-join keeps them
    (NOT EXISTS equality semantics), and the bloom path must agree."""
    batch = spark.createDataFrame(
        [Row(id=1, k="a"), Row(id=2, k=None), Row(id=3, k="zzz")]
    )
    index = spark.createDataFrame([Row(k="a"), Row(k="b")])
    with scoped_caches(spark):
        got = sorted(r.id for r in bloom_antijoin(batch, index, "k").collect())
    assert got == [2, 3]


def test_bloom_probe_plan_is_broadcast_only(spark):
    """The probe side must see ONLY broadcast joins — a shuffle here
    would defeat the whole design (the probed scan is 100 TB)."""
    idx = spark.range(1_000).selectExpr("concat('k', id) AS k")
    probe = bloom_might_contain(
        spark.range(500).selectExpr("concat('k', id) AS k"),
        bloom_bitmap(idx, "k"),
        "k",
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5


# -- duplicate_span_stats ---------------------------------------------------


@pytest.fixture()
def span_docs(spark):
    boiler = "the quick brown fox jumps over the lazy dog"  # 9 words
    rows = [
        # two docs sharing a 9-word boilerplate prefix → a run of 2
        # duplicated 8-gram spans (9 - 8 + 1) = 10 duplicated tokens
        Row(doc_id=1, text=boiler + " alpha beta gamma delta"),
        Row(doc_id=2, text=boiler + " epsilon zeta eta theta"),
        # unique doc, no duplicated spans
        Row(doc_id=3, text="one two three four five six seven eight nine"),
        # short doc: fewer than 8 tokens → zero spans
        Row(doc_id=4, text="too short to have any spans"),
    ]
    return spark.createDataFrame(rows)


def test_duplicate_span_stats_planted(spark, span_docs):
    out = {
        r.doc_id: r
        for r in duplicate_span_stats(span_docs, k=8).collect()
    }
    # doc 1: 13 words → 6 spans; spans at pos 0,1 duplicated (shared
    # 9-word prefix with doc 2) → run of 2 spans = 2 + 7 = 9 tokens
    assert out[1].n_spans == 6
    assert out[1].n_dup_spans == 2
    assert out[1].longest_dup_run == 9
    assert out[2].n_dup_spans == 2 and out[2].longest_dup_run == 9
    assert out[3].n_spans == 2 and out[3].n_dup_spans == 0
    assert out[3].longest_dup_run == 0 and out[3].dup_span_ratio == 0.0
    assert out[4].n_spans == 0 and out[4].dup_span_ratio == 0.0
    assert abs(out[1].dup_span_ratio - 2 / 6) < 1e-15


def test_duplicate_span_stats_internal_repeat(spark):
    """A span repeated WITHIN one document counts as duplicated too."""
    eight = "a b c d e f g h"
    df = spark.createDataFrame(
        [Row(doc_id=1, text=f"{eight} x y z {eight}")]
    )
    out = duplicate_span_stats(df, k=8).collect()[0]
    # 19 words → 12 spans; the two copies of the 8-gram 'a..h' (pos 0
    # and pos 11) are duplicated; runs are both length 1 → 8 tokens
    assert out.n_spans == 12
    assert out.n_dup_spans == 2
    assert out.longest_dup_run == 8
