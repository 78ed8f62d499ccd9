"""corpus_build_funnel: per-stage drop accounting on a hand-built
corpus where every stage's casualties are known by construction.

Fixture design (vocabularies disjoint across groups so no accidental
cross-group shingle overlap):

- doc 1: 60-word cyclic body (Greek vocab)      -> survives everything
- doc 2: byte-identical copy of doc 1           -> drops at exact_dedup
- doc 3: doc 1 + one extra word (Jaccard ~0.83) -> drops at near_dedup
- doc 4: 2 words                                -> drops at quality
- doc 0: 60-word cyclic body (Hebrew vocab), id % 97 == 0
                                                -> held out at decontam
- doc 5: 37 distinct filler words + a 15-word verbatim run copied from
  doc 0.  The cyclic benchmark body has only 10 distinct 3-grams, so
  doc 5 matches exactly 10 of its 47 distinct 3-grams (35 filler-
  interior + 2 boundary + 10 copied): 10/47 = 21.3% > 20% ->
  contaminated, while shingle-Jaccard vs doc 0 stays 10/47 ~ 0.21
  (< 0.5, so it survives near-dedup)          -> drops at decontam
"""

import pytest

from spark_etl_agent_spark.llm.funnel import GOPHER_FLAGS, corpus_build_funnel

# the synthetic vocabularies carry no English stopwords; pin the same
# 6-rule subset the registered query uses
FLAGS = tuple(f for f in GOPHER_FLAGS if f != "ok_stopwords")

GREEK = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
HEBREW = "qoph resh shin tav aleph bet gimel dalet hey vav"
FILLER = (
    "one two three four five six seven eight nine ten eleven twelve "
    "thirteen fourteen fifteen sixteen seventeen eighteen nineteen "
    "twenty twentyone twentytwo twentythree twentyfour twentyfive "
    "twentysix twentyseven twentyeight twentynine thirty thirtyone "
    "thirtytwo thirtythree thirtyfour thirtyfive thirtysix thirtyseven"
)

BODY = " ".join([GREEK] * 6)            # 60 words
BENCH = " ".join([HEBREW] * 6)          # 60 words
RUN15 = " ".join(BENCH.split()[:15])    # verbatim 15-word run of BENCH


@pytest.fixture(scope="module")
def funnel_rows(spark):
    rows = [
        (1, BODY),
        (2, BODY),
        (3, BODY + " omega"),
        (4, "tiny doc"),
        (0, BENCH),
        (5, FILLER + " " + RUN15),      # 52 words
    ]
    # repetition_gate OFF here: the cyclic 60-word bodies deliberately
    # fail the Table-A2 repetition battery, and this fixture pins the
    # OTHER stages' casualties; the fold has its own tests below
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = corpus_build_funnel(df, quality_flags=FLAGS, repetition_gate=False)
    return {r["stage"]: r.asDict() for r in out.collect()}


def test_funnel_has_all_stages_in_order(funnel_rows):
    assert list(funnel_rows) == [
        "raw", "quality", "exact_dedup", "near_dedup", "decontam",
    ]


def test_raw_row_counts_everything(funnel_rows):
    r = funnel_rows["raw"]
    assert r["docs_in"] == r["docs_out"] == 6
    assert r["docs_dropped"] == 0


def test_quality_drops_short_doc(funnel_rows):
    r = funnel_rows["quality"]
    assert (r["docs_in"], r["docs_out"], r["docs_dropped"]) == (6, 5, 1)


def test_exact_dedup_drops_larger_id_copy(funnel_rows):
    r = funnel_rows["exact_dedup"]
    assert (r["docs_in"], r["docs_out"], r["docs_dropped"]) == (5, 4, 1)


def test_near_dedup_drops_minhash_neighbor(funnel_rows):
    r = funnel_rows["near_dedup"]
    assert (r["docs_in"], r["docs_out"], r["docs_dropped"]) == (4, 3, 1)


def test_decontam_drops_holdout_and_contaminated(funnel_rows):
    r = funnel_rows["decontam"]
    assert (r["docs_in"], r["docs_out"], r["docs_dropped"]) == (3, 1, 2)


def test_docs_in_chains_from_previous_docs_out(funnel_rows):
    stages = list(funnel_rows.values())
    for prev, cur in zip(stages, stages[1:]):
        assert cur["docs_in"] == prev["docs_out"]


def test_chars_monotone_nonincreasing(funnel_rows):
    chars = [funnel_rows[s]["chars_out"] for s in funnel_rows]
    assert all(a >= b for a, b in zip(chars, chars[1:]))


def test_default_flags_include_full_battery():
    assert "ok_stopwords" in GOPHER_FLAGS and len(GOPHER_FLAGS) == 7


def test_funnel_persists_release_under_scoped_caches(spark, pinned_rdds):
    """The funnel persists three stage frames per invocation; in a
    long-lived session (the 175-query bench, a foreachBatch loop) they
    must be released by the scoped_caches consumption contract —
    otherwise every funnel run leaks executor storage."""
    from spark_etl_agent_spark.core.cache import (
        _persistent_rdd_ids,
        scoped_caches,
    )

    df = spark.createDataFrame(
        [(1, BODY), (2, BODY + " omega")], "doc_id long, text string"
    )
    before = _persistent_rdd_ids(spark)
    with scoped_caches(spark):
        corpus_build_funnel(df, quality_flags=FLAGS).collect()
        assert len(_persistent_rdd_ids(spark)) > len(before)
    assert _persistent_rdd_ids(spark) == before


def test_repetition_gate_matches_standalone_battery(spark):
    """Verdict r06 #8: the folded stage-1 gate must drop exactly the
    documents the STANDALONE repetition battery flags (given they pass
    the flag battery) — per-document rules, so composition cannot
    change verdicts."""
    from pyspark.sql import functions as F

    from spark_etl_agent_spark.llm.text import (
        gopher_quality_rules,
        gopher_repetition_rules,
    )

    loop = " ".join(["alpha beta gamma delta epsilon"] * 12)  # 60 words
    clean = " ".join(f"w{i:02d}" for i in range(60))
    rows = [(1, clean), (2, loop), (3, clean + " extra trailer words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = corpus_build_funnel(df, quality_flags=FLAGS, repetition_gate=True)
    stage1 = {r["stage"]: r.asDict() for r in out.collect()}["quality"]

    flags_ok = set(
        r.doc_id
        for r in gopher_quality_rules(df).filter(
            F.expr(" AND ".join(FLAGS))
        ).collect()
    )
    rep_ok = set(
        r.doc_id
        for r in gopher_repetition_rules(df)
        .filter("passes_repetition")
        .collect()
    )
    expected = flags_ok & rep_ok
    assert stage1["docs_out"] == len(expected)
    assert 2 not in rep_ok  # the cyclic doc is a repetition casualty
    assert {1, 3} <= expected


def test_folded_stage1_reads_persisted_battery_not_corpus(
    spark, sf_dir, pinned_rdds
):
    """One-corpus-scan contract for the folded stage 1: the repetition
    branch must hang off the PERSISTED flag-gated survivor frame (5
    persisted frames total: s1_flags + s1 + s2 + the shared shingle
    table + s3), and once the funnel runs, the final plan reads the
    survivors from cache (InMemoryTableScan), not from a second
    corpus scan."""
    from spark_etl_agent_spark.core.cache import (
        _persistent_rdd_ids,
        scoped_caches,
    )
    from spark_etl_agent_spark.queries.base import load

    before = _persistent_rdd_ids(spark)
    with scoped_caches(spark):
        out = corpus_build_funnel(
            load(spark, sf_dir, "documents"), quality_flags=FLAGS
        )
        out.collect()
        # s1_flags + s1 + s2 + shared shingle table + s3
        assert len(_persistent_rdd_ids(spark)) - len(before) == 5
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
    assert _persistent_rdd_ids(spark) == before
