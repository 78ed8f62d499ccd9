"""End-to-end corpus-build funnel: quality gate → exact dedup →
near-dedup → decontamination, with a per-stage survival audit.

This is the composition layer over the individually-oracled stages
(``llm.text.gopher_quality_rules``, ``llm.dedup`` exact/MinHash-LSH,
``llm.decontam.ngram_contamination``): one call that runs the corpus
pipeline a training-data build actually runs, and returns the funnel
table an operator reads first — how many documents (and characters)
each stage admitted and dropped.  (No reference analogue — the
reference delegates analytics to Redshift, services/
jcap_pa_etl_service.py:176-227; SURVEY.md §7 LLM extension surface.)

Determinism contract (the whole funnel is oracled against DuckDB):

- quality: Rae et al. 2021 Table A1 battery (exact integer ppm flags)
  AND the Table A2 repetition battery, one corpus scan total;
- exact dedup: keeper = ``min(id)`` per ``md5(text)`` group;
- near-dedup: MinHash-LSH candidates verified by exact Jaccard; the
  LARGER id of every pair at or above the threshold drops (greedy
  keep-earliest over pairs — deliberately not component-based, so the
  drop set is a pure pair predicate both engines evaluate identically);
- decontamination: the benchmark slice (``id % bench_mod = 0`` over the
  RAW corpus) is held out, and any surviving training doc sharing one
  distinct word 3-gram with it drops alongside the holdout itself.

Scale shape: each stage is the already-gated distributed design (one
uniform shuffle for the quality gate and exact dedup; banded equi-join
for LSH; broadcast benchmark n-grams for decontamination).  Stage
survivor frames are persisted because each feeds two consumers — its
own audit row and the next stage — so the funnel costs one pass per
stage, not one pass per (stage × downstream reuse).  The word 3-gram
frame is built ONCE over the exact-dedup survivors and shared by all
three consumers that need it — MinHash signatures, the Jaccard verify
join, and the decontamination probe's train side (same tokenizer, same
n) — so the corpus is tokenized once per funnel run, not three times.
The final 5-row assembly uses a single-partition window over FIVE rows
(one per stage), constant at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .decontam import ngram_contamination
from .dedup import (
    lsh_candidate_pairs,
    minhash_from_shingle_table,
    shingle_table,
)
from .text import gopher_quality_rules, gopher_repetition_rules

FUNNEL_STAGES = ("raw", "quality", "exact_dedup", "near_dedup", "decontam")

# Every flag the Gopher battery emits; callers pick the subset their
# corpus can meaningfully satisfy (e.g. the stopword rule presumes
# natural English — on a synthetic or non-English corpus it rejects
# everything and the funnel degenerates to a single stage).
GOPHER_FLAGS = (
    "ok_word_count",
    "ok_mean_word_len",
    "ok_symbol_ratio",
    "ok_bullet_lines",
    "ok_ellipsis_lines",
    "ok_alpha_words",
    "ok_stopwords",
)


def corpus_build_funnel(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    bench_mod: int = 97,
    quality_flags: tuple = GOPHER_FLAGS,
    contamination_ppm: int = 200_000,
    repetition_gate: bool = True,
) -> DataFrame:
    """Run the 4-stage corpus build and return the funnel audit:
    ``(stage_order, stage, docs_in, docs_out, docs_dropped,
    chars_out)`` — 5 rows, one per stage plus the raw baseline."""
    text = F.col(text_col)
    docs = df.select(id_col, text_col)

    # stage 1 — Gopher quality gate (conjunction of the chosen flags)
    # PLUS the Table-A2 repetition battery, in ONE corpus scan: the
    # payload rides through the rule battery (keep_cols) so the flag
    # gate is a shuffle-free filter.  What gets persisted is the
    # flag-gated SURVIVOR frame (id + text only), not the full battery
    # (all-flag columns over the whole corpus): the two consumers — the
    # repetition branch's explode pipeline and the join that assembles
    # s1 — both read survivors, so caching the smaller frame buys the
    # same recompute savings at a fraction of the write.  Repetition
    # flags are per-document, so computing them on the flag-gated
    # survivors yields exactly the standalone battery's verdicts.
    gate = F.lit(True)
    for flag in quality_flags:
        gate = gate & F.col(flag)
    battery = gopher_quality_rules(docs, text_col, id_col, keep_cols=(text_col,))
    s1_flags = battery.filter(gate).select(id_col, text_col)
    if repetition_gate:
        # persisted only on this path: without the repetition branch
        # nothing reads the gated frame twice (it IS s1, persisted below)
        s1_flags = s1_flags.persist(StorageLevel.MEMORY_AND_DISK)
        rep_pass = (
            gopher_repetition_rules(
                s1_flags.select(id_col, text_col), text_col, id_col
            )
            .filter(F.col("passes_repetition"))
            .select(id_col)
        )
        s1_flags = s1_flags.join(rep_pass, id_col)
    s1 = s1_flags.persist(StorageLevel.MEMORY_AND_DISK)

    # stage 2 — exact dedup: keeper = min(id) per content hash, one
    # hash-partitioned window instead of a groupBy + join-back
    s2 = (
        s1.withColumn(
            "_keeper",
            F.min(id_col).over(Window.partitionBy(F.md5(text))),
        )
        .filter(F.col(id_col) == F.col("_keeper"))
        .select(id_col, text_col)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # stage 3 — MinHash-LSH near-dedup, greedy keep-earliest per pair.
    # ONE persisted distinct (id, 3-gram) table over the exact-dedup
    # survivors feeds the signatures, the verify join, AND stage 4's
    # decontamination probe — the corpus is tokenized once, not three
    # times (signature min over the distinct set equals min over the
    # multiset, so the pair set is unchanged).
    sh2 = shingle_table(s2, text_col, id_col)
    pairs = lsh_candidate_pairs(minhash_from_shingle_table(sh2, id_col))
    # Drop-set verify over the persisted shingle table this stage
    # already holds (``jaccard_verify`` would re-shingle s2): a pair
    # with zero common shingles has jaccard 0 and can never reach the
    # threshold, so the inner common-count flow alone decides the
    # drops. The trailing ``.distinct()`` is dropped too: a left_anti
    # join is set semantics already, duplicate drop ids cost nothing.
    sizes = sh2.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    common = (
        pairs.join(sh2.select(F.col(id_col).alias("id_a"), "shingle"), "id_a")
        .join(sh2.select(F.col(id_col).alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    near_drops = (
        common.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b")),
            "id_b",
        )
        .filter(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            >= jaccard_threshold
        )
        .select(F.col("id_b").alias(id_col))
    )
    s3 = s2.join(near_drops, id_col, "left_anti").persist(
        StorageLevel.MEMORY_AND_DISK
    )

    # stage 4 — holdout extraction + n-gram decontamination against it.
    # The probe side reuses the persisted shingle table (funnel shingles
    # are word 3-grams — the same tokenizer and n as the contamination
    # probe) filtered to non-holdout ids with a map-side predicate: a
    # SUPERSET of the train docs (it still contains near-dup-dropped
    # ids), which is harmless — contamination verdicts for dropped ids
    # simply miss the train side of the anti-join below — and removes
    # the id-keyed join (two exchanges) that cutting the table to the
    # exact train set would cost. The probe itself is a broadcast hash
    # join plus ONE id-keyed aggregation either way.
    bench = docs.filter(F.col(id_col) % bench_mod == 0)
    train = s3.filter(F.col(id_col) % bench_mod != 0)
    probe_grams = sh2.withColumnRenamed("shingle", "ngram").filter(
        F.col(id_col) % bench_mod != 0
    )
    # thresholded drop (n-gram share in exact ppm, integer math): an
    # any-single-match rule is degenerate on small-vocabulary corpora
    # where some 3-gram collision is near-universal
    contaminated = (
        ngram_contamination(
            train, bench, text_col, id_col, n=3, train_ngrams=probe_grams
        )
        .filter(
            F.col("n_matched_m") * 1_000_000
            >= F.lit(contamination_ppm) * F.col("n_total_m")
        )
        .select(id_col)
    )
    s4 = train.join(contaminated, id_col, "left_anti")

    def audit(frame: DataFrame, order: int, stage: str) -> DataFrame:
        return frame.agg(
            F.count(F.lit(1)).cast("long").alias("docs_out"),
            F.coalesce(F.sum(F.length(text)), F.lit(0))
            .cast("long")
            .alias("chars_out"),
        ).select(
            F.lit(order).cast("int").alias("stage_order"),
            F.lit(stage).alias("stage"),
            "docs_out",
            "chars_out",
        )

    stages = (
        audit(docs, 0, "raw")
        .unionByName(audit(s1, 1, "quality"))
        .unionByName(audit(s2, 2, "exact_dedup"))
        .unionByName(audit(s3, 3, "near_dedup"))
        .unionByName(audit(s4, 4, "decontam"))
    )
    # bounded: the 5-row per-stage audit report only
    w = Window.orderBy("stage_order")
    prev = F.coalesce(F.lag("docs_out").over(w), F.col("docs_out"))
    return stages.select(
        "stage_order",
        "stage",
        prev.cast("long").alias("docs_in"),
        "docs_out",
        (prev - F.col("docs_out")).cast("long").alias("docs_dropped"),
        "chars_out",
    )
