"""Unit tests for the pretraining-corpus operators: decontamination,
sequence packing, mixture planning / fractional-epoch resampling.

Oracle parity of the registered queries is covered by
``test_oracle_parity.py``; this file pins the operator-level invariants
the oracle cannot see — partition-count independence, plan shape
(broadcast probe, no single-partition window stage), planted-case
semantics, and epoch-cap arithmetic.
"""

import pytest
from pyspark.sql import functions as F

from spark_etl_agent_spark.llm.decontam import doc_ngrams, ngram_contamination
from spark_etl_agent_spark.llm.packing import pack_chunks, packing_summary
from spark_etl_agent_spark.llm.sampling import mixture_plan, resample_epochs


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


# ---------------------------------------------------------------------------
# decontamination


def test_planted_contamination_is_flagged(spark):
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),        # shares 'alpha beta gamma'
            (2, "zeta eta theta iota kappa"),     # clean
            (3, "x y"),                            # < n words: no n-grams
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "pre alpha beta gamma post")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in ngram_contamination(train, bench).collect()}
    assert out[1]["n_matched_m"] == 1 and out[1]["n_total_m"] == 2
    assert out[1]["contamination_ratio"] == pytest.approx(0.5)
    assert out[2]["n_matched_m"] == 0
    assert 3 not in out  # no n-grams -> no row, by contract


def test_doc_ngrams_distinct_within_doc(spark):
    df = spark.createDataFrame([(1, "a b a b a b")], ["doc_id", "text"])
    grams = {r["ngram"] for r in doc_ngrams(df, n=2).collect()}
    assert grams == {"a b", "b a"}


def test_contamination_probe_is_broadcast(spark, sf_dir):
    from spark_etl_agent_spark.queries.pretrain import decontaminate_corpus

    plan = decontaminate_corpus(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "NestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# packing


def _toy_docs(spark):
    # token counts chosen so docs straddle 10-token chunks:
    # cum: 4, 12, 12+9=21, 30, 35
    data = [(1, 4), (2, 8), (3, 9), (4, 9), (5, 5)]
    return spark.createDataFrame(data, ["doc_id", "n_tokens"])


def test_pack_chunks_exact_spans(spark):
    out = _rows(
        pack_chunks(_toy_docs(spark), "doc_id", "n_tokens", budget=10).select(
            "doc_id", "start_off", "end_off", "chunk_first", "chunk_last"
        ),
        "doc_id",
    )
    assert out == [
        (1, 0, 4, 0, 0),
        (2, 4, 12, 0, 1),   # straddles chunk 0/1 boundary
        (3, 12, 21, 1, 2),
        (4, 21, 30, 2, 2),  # ends exactly on a boundary: stays in chunk 2
        (5, 30, 35, 3, 3),
    ]


def test_pack_chunks_partition_count_independent(spark):
    docs = _toy_docs(spark)
    base = _rows(
        pack_chunks(docs, "doc_id", "n_tokens", budget=10, npart=1), "doc_id"
    )
    for npart in (2, 3, 7):
        assert (
            _rows(
                pack_chunks(docs, "doc_id", "n_tokens", budget=10, npart=npart),
                "doc_id",
            )
            == base
        )


def test_pack_chunks_spans_are_contiguous(spark, sf_dir):
    from spark_etl_agent_spark.queries.pretrain import pack_documents

    packed = pack_documents(spark, sf_dir)
    # every start_off equals the previous doc's end_off (one virtual
    # stream, no gaps/overlaps), checked distributedly via a lag window
    from pyspark.sql import Window

    w = Window.orderBy("doc_id")
    gaps = (
        packed.withColumn("prev_end", F.lag("end_off", 1, 0).over(w))
        .filter(F.col("start_off") != F.col("prev_end"))
        .count()
    )
    assert gaps == 0


def test_pack_zero_token_doc_gets_empty_span(spark):
    docs = spark.createDataFrame(
        [(1, 10), (2, 0), (3, 5)], ["doc_id", "n_tokens"]
    )
    out = {
        r["doc_id"]: r
        for r in pack_chunks(docs, "doc_id", "n_tokens", budget=4).collect()
    }
    assert out[2]["start_off"] == out[2]["end_off"] == 10
    assert out[2]["chunk_first"] == out[2]["chunk_last"] == 2
    assert out[2]["n_chunks"] == 1


def test_packing_summary_counts(spark):
    packed = pack_chunks(_toy_docs(spark), "doc_id", "n_tokens", budget=10)
    row = packing_summary(packed, budget=10).collect()[0]
    assert row["n_docs"] == 5
    assert row["total_tokens"] == 35
    assert row["n_chunks_total"] == 4
    assert row["n_straddling"] == 2  # docs 2 and 3
    assert row["tail_fill_ratio"] == pytest.approx(0.5)


def test_pack_has_no_single_partition_global_window(spark, sf_dir):
    """The scale gate: the executed plan must not contain a window over
    an empty partition spec on the DATA path (the offsets table —
    metadata, <= npart rows — is the only allowed global window)."""
    import re

    from spark_etl_agent_spark.operators.ranks import _PID, _PSZ
    from spark_etl_agent_spark.queries.pretrain import pack_documents

    plan = pack_documents(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    windows = [ln for ln in plan.splitlines() if "Window [" in ln]
    by_pid = [ln for ln in windows if re.search(rf"\], \[{_PID}#\d+[,\]]", ln)]
    # data-side window must be partitioned by the range partition id
    assert any("sum(n_tokens" in ln for ln in by_pid), plan
    # the global (unpartitioned) windows in the plan may only order the
    # metadata offsets table, whose input is the tiny partition-size
    # aggregate
    for ln in windows:
        assert ln in by_pid or f"sum({_PSZ}#" in ln, ln


# ---------------------------------------------------------------------------
# mixture planning / resampling


def _lang_docs(spark):
    rows = [(i, "en") for i in range(100)] + [(i + 100, "de") for i in range(20)]
    return spark.createDataFrame(rows, ["doc_id", "lang"])


def test_mixture_plan_binding_domain_hits_epoch_cap(spark):
    # targets: en 50%, de 50%; de has 20 docs so at 4 epochs the corpus
    # caps at 160 total -> en target 80 (0.8 epochs), de target 80 (4.0)
    plan = {
        r["lang"]: r
        for r in mixture_plan(
            _lang_docs(spark), "lang", {"en": 0.5, "de": 0.5}, max_epochs=4.0
        ).collect()
    }
    assert plan["de"]["n_target"] == 80 and plan["de"]["epochs"] == pytest.approx(4.0)
    assert plan["en"]["n_target"] == 80 and plan["en"]["epochs"] == pytest.approx(0.8)


def test_mixture_plan_respects_epoch_cap_everywhere(spark, sf_dir):
    from spark_etl_agent_spark.queries.pretrain import mixture_plan_langs

    for r in mixture_plan_langs(spark, sf_dir).collect():
        assert r["epochs"] <= 4.0 + 1e-9
        assert r["n_target"] >= 0


def test_resample_epochs_multiplicities(spark):
    docs = _lang_docs(spark)
    out = resample_epochs(
        docs, key_col="doc_id", domain_col="lang",
        epochs={"en": 2.0, "de": 0.5},
    )
    per_doc = {
        (r["lang"], r["doc_id"]): r["n"]
        for r in out.groupBy("lang", "doc_id").agg(F.count("*").alias("n")).collect()
    }
    # integer epochs: exactly 2 copies of every en doc
    en_counts = [v for (lang, _), v in per_doc.items() if lang == "en"]
    assert en_counts and all(v == 2 for v in en_counts)
    # fractional 0.5: each de doc appears 0 or 1 times; total near 10
    de_total = sum(v for (lang, _), v in per_doc.items() if lang == "de")
    assert 4 <= de_total <= 16


def test_resample_epochs_is_partitioning_independent(spark):
    docs = _lang_docs(spark)
    kw = dict(key_col="doc_id", domain_col="lang",
              epochs={"en": 1.25, "de": 2.75})
    a = _rows(resample_epochs(docs, **kw), "doc_id", "copy")
    b = _rows(resample_epochs(docs.repartition(13), **kw), "doc_id", "copy")
    assert a == b


# ---------------------------------------------------------------------------
# incremental near-dup probe (ingest-time dedup against a corpus index)


def test_incremental_probe_planted_neardup(spark):
    from spark_etl_agent_spark.llm.dedup import incremental_neardup_verdicts

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    index = spark.createDataFrame(
        [(1, base), (2, "completely different words about other things entirely")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (100, base + " lambda"),   # near-dup of doc 1
            (101, "nothing like anything in the index corpus at all here"),
            (102, "x y"),              # too short to shingle -> novel
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in incremental_neardup_verdicts(index, batch, min_jaccard=0.5).collect()
    }
    assert len(out) == 3  # every batch doc gets a verdict row
    assert out[100]["is_novel"] is False and out[100]["best_match_id"] == 1
    assert out[100]["best_jaccard"] > 0.5
    assert out[101]["is_novel"] is True and out[101]["best_match_id"] is None
    assert out[102]["is_novel"] is True and out[102]["n_matches"] == 0


def test_incremental_probe_broadcasts_batch_not_index(spark, sf_dir):
    """The scale gate for ingest: the BATCH bands broadcast; the index
    is never self-joined and never broadcast."""
    from spark_etl_agent_spark.queries.dedup import incremental_neardup_probe

    plan = (
        incremental_neardup_probe(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_incremental_probe_best_match_tie_breaks_on_min_id(spark):
    from spark_etl_agent_spark.llm.dedup import incremental_neardup_verdicts

    dup = "one two three four five six seven eight nine ten"
    index = spark.createDataFrame(
        [(5, dup), (3, dup)], ["doc_id", "text"]
    )
    batch = spark.createDataFrame([(100, dup)], ["doc_id", "text"])
    row = incremental_neardup_verdicts(index, batch, min_jaccard=0.9).collect()[0]
    assert row["n_matches"] == 2
    assert row["best_match_id"] == 3  # jaccard tie -> smaller index id
    assert row["best_jaccard"] == 1.0


def test_incremental_probe_raises_on_id_collision(spark):
    """Batch and index ids must be disjoint; a replayed id with changed
    text must fail loudly instead of being accepted as a second
    document under a taken id."""
    from spark_etl_agent_spark.llm.dedup import incremental_neardup_verdicts

    base = "one two three four five six seven eight nine ten"
    index = spark.createDataFrame([(1, base)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(1, "entirely different replacement text for document one here")],
        ["doc_id", "text"],
    )
    with pytest.raises(ValueError, match="BOTH the batch and the index"):
        incremental_neardup_verdicts(index, batch)
    # a caller that has proven disjointness (or accepts a re-used id) can
    # skip the guard and still get a row per batch doc
    out = incremental_neardup_verdicts(
        index, batch, check_disjoint_ids=False
    )
    assert out.count() == 1


def test_simhash_hot_bucket_guard(spark):
    """A chunk value shared by too many fingerprints (identical docs
    collide on EVERY chunk) must raise with guidance before the
    self-join goes quadratic; an explicit cap override or max_bucket
    =None restores the unguarded behavior."""
    from spark_etl_agent_spark.llm.dedup import simhash_near_pairs

    docs = [
        (i, "identical boilerplate text repeated across the corpus forever")
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    with pytest.raises(ValueError, match="exact/normalized dedup"):
        simhash_near_pairs(df, max_bucket=10)
    pairs = simhash_near_pairs(df, max_bucket=None)
    assert pairs.count() == 30 * 29 // 2  # all hamming-0 pairs


# ---------------------------------------------------------------------------
# BPE encode (train -> apply round trip) and corpus shuffle


def test_bpe_encode_known_merges(spark):
    from spark_etl_agent_spark.llm.bpe import bpe_encode_stats

    docs = spark.createDataFrame(
        [(1, "abab ab"), (2, "cd")], ["doc_id", "text"]
    )
    # merges: a+b -> ab, then ab+ab -> abab
    merges = [("a", "b", 0), ("ab", "ab", 0)]
    out = {r["doc_id"]: r for r in bpe_encode_stats(docs, merges).collect()}
    # 'abab' -> a b a b -> ab ab -> abab (1 token); 'ab' -> ab (1 token)
    assert out[1]["n_words"] == 2
    assert out[1]["n_chars_m"] == 6
    assert out[1]["n_bpe_tokens"] == 2
    assert out[1]["chars_per_token"] == pytest.approx(3.0)
    # 'cd' untouched by merges -> 2 single-char tokens
    assert out[2]["n_bpe_tokens"] == 2
    assert out[2]["chars_per_token"] == pytest.approx(1.0)


def test_bpe_encode_greedy_left_to_right(spark):
    from spark_etl_agent_spark.llm.bpe import bpe_encode_stats

    # 'aaa' with merge (a,a): greedy non-overlapping -> [aa, a] (2 tokens)
    docs = spark.createDataFrame([(1, "aaa")], ["doc_id", "text"])
    row = bpe_encode_stats(docs, [("a", "a", 0)]).collect()[0]
    assert row["n_bpe_tokens"] == 2


def test_bpe_encode_plan_shape(spark, sf_dir):
    """The merge fold must run per DISTINCT word and rejoin the corpus
    via broadcast: the corpus side sees exactly the explode → broadcast
    join → doc-key aggregate shape (no sort-merge join, no fold work
    per word occurrence)."""
    from spark_etl_agent_spark.llm.bpe import bpe_encode_stats
    from spark_etl_agent_spark.queries.base import load

    docs = load(spark, sf_dir, "documents")
    plan = (
        bpe_encode_stats(docs, [("a", "b", 0)])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the per-occurrence side must NOT carry the merge fold: aggregate
    # (the fold primitive) appears only once — on the distinct-word
    # branch feeding the broadcast
    assert plan.count("aggregate(") <= 1


def test_corpus_shuffle_is_a_permutation(spark, sf_dir):
    from spark_etl_agent_spark.queries.pretrain import corpus_shuffle_order

    rows = corpus_shuffle_order(spark, sf_dir).collect()
    pos = sorted(r["shuffle_pos"] for r in rows)
    assert pos == list(range(1, len(rows) + 1))
    ids = {r["doc_id"] for r in rows}
    assert len(ids) == len(rows)


def test_resample_epochs_zero_epoch_domain_emits_nothing(spark):
    docs = _lang_docs(spark)
    out = resample_epochs(
        docs, key_col="doc_id", domain_col="lang",
        epochs={"en": 0.0, "de": 1.0},
    )
    langs = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert langs == {"de"}  # sequence(1,0) counts DOWN in Spark — guarded


def test_mixture_inputs_validated(spark):
    docs = _lang_docs(spark)
    with pytest.raises(ValueError):
        mixture_plan(docs, "lang", {"en": 0.0})
    with pytest.raises(ValueError):
        mixture_plan(docs, "lang", {"en": 1.0}, max_epochs=0)
    with pytest.raises(ValueError):
        resample_epochs(docs, "doc_id", "lang", {"en": -1.0})
    with pytest.raises(ValueError):
        pack_chunks(docs, "doc_id", "doc_id", budget=0)


def test_label_medoids_planted_exemplar(spark):
    from spark_etl_agent_spark.llm.similarity import label_medoids

    # label 1: v1 points exactly along the centroid direction of the
    # cluster; v2/v3 are symmetric off-axis -> v1 is the medoid
    rows = [
        (1, 1, [1.0, 0.0, 0.0, 0.0]),
        (2, 1, [0.8, 0.6, 0.0, 0.0]),
        (3, 1, [0.8, -0.6, 0.0, 0.0]),
        (10, 2, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out = {r["label"]: r for r in label_medoids(df).collect()}
    assert out[1]["medoid_id"] == 1
    assert out[2]["medoid_id"] == 10  # singleton cluster: itself
    assert out[2]["centroid_sim"] > 0.999


def test_label_medoids_tie_breaks_on_min_id(spark):
    from spark_etl_agent_spark.llm.similarity import label_medoids

    rows = [
        (7, 1, [1.0, 0.0]),
        (3, 1, [1.0, 0.0]),  # identical vector: tie -> min id wins
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    assert label_medoids(df).collect()[0]["medoid_id"] == 3


def test_incremental_probe_large_batch_path_equals_broadcast(spark):
    """broadcast_batch=False (backfill-sized batches): identical
    verdicts through the shuffle-join plan."""
    from spark_etl_agent_spark.llm.dedup import incremental_neardup_verdicts

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    index = spark.createDataFrame(
        [(1, base), (2, "totally different words here about nothing shared")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(100, base + " lambda"), (101, "novel content unseen anywhere else")],
        ["doc_id", "text"],
    )
    kw = dict(min_jaccard=0.5)
    a = sorted(
        tuple(r) for r in incremental_neardup_verdicts(
            index, batch, broadcast_batch=True, **kw).collect()
    )
    b = sorted(
        tuple(r) for r in incremental_neardup_verdicts(
            index, batch, broadcast_batch=False, **kw).collect()
    )
    assert a == b and len(a) == 2


def test_ingest_artifacts_signatures_match_minhash_signatures(spark):
    """The ingest-time artifact signature (min over the DISTINCT shingle
    set, explode/agg shape) equals ``minhash_signatures`` (multiset),
    including the all-NULL row for a too-short doc; content_hash and
    n_shingles are exact."""
    import hashlib

    from spark_etl_agent_spark.llm.dedup import (
        ingest_artifacts,
        minhash_signatures,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta alpha beta gamma"),
        (2, "short doc"),  # < k words: no shingles
        (3, "one two three four five six seven"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    art = {r["doc_id"]: r for r in ingest_artifacts(df).collect()}
    sig = {r["doc_id"]: r for r in minhash_signatures(df).collect()}
    assert set(art) == set(sig) == {1, 2, 3}
    for i in (1, 2, 3):
        assert tuple(art[i][f"mh{j}"] for j in range(8)) == tuple(
            sig[i][f"mh{j}"] for j in range(8)
        )
    assert art[2]["n_shingles"] == 0 and art[2]["mh0"] is None
    # doc 1 has 7 shingle positions, 2 duplicated -> 6 distinct
    assert art[1]["n_shingles"] == 6
    assert art[1]["content_hash"] == hashlib.md5(
        rows[0][1].encode()
    ).hexdigest()


def test_indexed_verdicts_match_unindexed(spark):
    """``incremental_neardup_verdicts_indexed`` over precomputed
    artifacts returns the exact rows of the text-derived verdicts —
    matches, best-match ties, novel non-candidates, short docs."""
    from spark_etl_agent_spark.llm.dedup import (
        incremental_neardup_verdicts,
        incremental_neardup_verdicts_indexed,
        ingest_artifacts,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    index = spark.createDataFrame(
        [
            (1, base),
            (2, "totally different words here about nothing shared"),
            (3, base + " extra"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (100, base + " lambda"),
            (101, "novel content unseen anywhere else at all"),
            (102, "tiny doc"),  # < k words: novel by construction
        ],
        ["doc_id", "text"],
    )
    want = sorted(
        tuple(r)
        for r in incremental_neardup_verdicts(
            index, batch, min_jaccard=0.5
        ).collect()
    )
    got = sorted(
        tuple(r)
        for r in incremental_neardup_verdicts_indexed(
            ingest_artifacts(index), ingest_artifacts(batch), min_jaccard=0.5
        ).collect()
    )
    assert got == want and len(got) == 3


def test_simhash_near_pairs_planted_and_lossless_contract(spark):
    from spark_etl_agent_spark.llm.dedup import simhash_near_pairs

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    reordered = " ".join(reversed(base.split()))
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, reordered),  # same token multiset -> identical simhash
            (3, "entirely different content about unrelated topics today"),
        ],
        ["doc_id", "text"],
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_near_pairs(docs).collect()}
    # SimHash is order-insensitive: a shuffled doc is hamming-0
    assert pairs.get((1, 2)) == 0
    assert all(3 not in p for p in pairs)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        simhash_near_pairs(docs, max_hamming=4, n_chunks=4)


# ---------------------------------------------------------------------------
# property-based invariants (hypothesis)

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    tokens=st.lists(st.integers(min_value=0, max_value=500),
                    min_size=1, max_size=40),
    budget=st.integers(min_value=1, max_value=64),
    npart=st.integers(min_value=1, max_value=5),
)
def test_pack_chunks_invariants_hold_for_any_corpus(
    spark, tokens, budget, npart
):
    """For ANY document sizes, budget, and partition count: spans are
    contiguous and gap-free, offsets reproduce the running sum, chunk
    ids match the arithmetic definition, and totals agree."""
    docs = spark.createDataFrame(
        list(enumerate(tokens)), "doc_id long, n_tokens long"
    )
    rows = sorted(
        pack_chunks(docs, "doc_id", "n_tokens", budget, npart=npart).collect(),
        key=lambda r: r["doc_id"],
    )
    run = 0
    for r in rows:
        assert r["start_off"] == run
        assert r["end_off"] == run + r["n_tokens"]
        run = r["end_off"]
        assert r["chunk_first"] == r["start_off"] // budget
        expect_last = max(r["chunk_first"], (r["end_off"] - 1) // budget)
        assert r["chunk_last"] == expect_last
        assert r["n_chunks"] == r["chunk_last"] - r["chunk_first"] + 1
    assert run == sum(tokens)


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(eps=st.floats(min_value=0.01, max_value=4.0,
                     allow_nan=False, allow_infinity=False))
def test_resample_epochs_multiplicity_bounds_any_rate(spark, eps):
    """Every row's emitted multiplicity is floor(eps) or ceil(eps), and
    membership never depends on partitioning."""
    import math

    docs = spark.createDataFrame(
        [(i, "d") for i in range(40)], "doc_id long, lang string"
    )
    out = resample_epochs(docs, "doc_id", "lang", {"d": eps})
    per = {r["doc_id"]: r["n"] for r in
           out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    lo, hi = math.floor(eps), math.ceil(eps)
    for i in range(40):
        assert lo <= per.get(i, 0) <= hi
