"""Round-11 operator pins.

1. Band-probe candidate TEXT fetch skips files on the doc_id-clustered
   ingest index (r10 verdict ask #6): the incremental indexed verdict
   collects the (small) band-collision candidate id set and pushes it
   into the index text scan as an In predicate, so parquet min/max
   stats on the ``compact_table(sort_within_by=['doc_id'])`` layout
   physically skip the files holding no candidates — pinned on the
   scan's executed numOutputRows, with a round-robin control that must
   read ~everything. Sibling of
   tests/test_jobs.py::test_compacted_sorted_layout_skips_row_groups,
   which pinned the raw layout; this pins the BAND-PROBE PATH the
   ingest sink actually takes.
2. Above the pushdown cap the verdict falls back to the join path with
   identical values.
"""

import pytest
from pyspark.sql import functions as F

from spark_etl_agent_spark.llm import dedup as D
from spark_etl_agent_spark.sources.catalog import Catalog


def _mk_index(spark, cat, name, n, clustered, require_multifile=True):
    """An artifact-extended index table of n docs (text wide enough to
    shingle), compacted into multiple small files — clustered by doc_id
    or round-robin."""
    docs = spark.range(n).selectExpr(
        "id AS doc_id",
        # 12 distinct words per doc, all derived from the id — unique
        # shingle sets across docs (no accidental near-dups)
        "concat_ws(' ', transform(sequence(0, 11), "
        "j -> concat('w', CAST(id AS STRING), 'x', CAST(j AS STRING)))) "
        "AS text",
    )
    art = D.ingest_artifacts(docs)
    cat.write_table(art.repartition(16), name, mode="overwrite")
    if clustered:
        files = cat.compact_table(
            name, target_file_mb=1, sort_within_by=["doc_id"]
        )
    else:
        files = cat.compact_table(name, target_file_mb=1)
    if require_multifile:
        assert files > 1, "need a multi-file index to evidence skipping"
    return cat.read_table(name), files


def _text_scan_rows(verdicts_df):
    """Execute the verdict frame and return numOutputRows of the
    index-side TEXT fetch scan (output carries ``text`` but no
    signature column). The verdict pipeline persists intermediates, so
    the file scan can live inside cache-materialization subplans — the
    walk descends through AQE wrappers, query stages, and
    InMemoryTableScan relations, de-duplicating shared scans by plan
    node id."""
    verdicts_df.collect()
    plan = verdicts_df._jdf.queryExecution().executedPlan()
    found = {}

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "InMemoryTableScanExec":
            walk(node.relation().cachedPlan())
            return
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if "FileSourceScan" in cls:
            names = set()
            oit = node.output().iterator()
            while oit.hasNext():
                names.add(oit.next().name())
            if "text" in names and "mh0" not in names:
                it = node.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    if kv._1() == "numOutputRows":
                        found[node.id()] = kv._2().value()
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(plan)
    assert found, "no text-scan leaf found"
    return sum(found.values())


@pytest.mark.parametrize("clustered", [True, False])
def test_band_probe_candidate_text_fetch_skips_files(
    spark, tmp_path, clustered
):
    n = 60_000
    cat = Catalog(spark, str(tmp_path / "wh"))
    name = "idx_c" if clustered else "idx_rr"
    index_art, n_files = _mk_index(spark, cat, name, n, clustered)

    # batch: near-dups of three existing docs (identical text, new ids)
    # -> band collisions land on exactly those index docs
    targets = [1_234, 30_000, 58_765]
    batch = (
        spark.range(n, n + 3)
        .withColumn("tgt", F.element_at(
            F.array(*[F.lit(t) for t in targets]),
            (F.col("id") - n + 1).cast("int"),
        ))
        .selectExpr(
            "id AS doc_id",
            "concat_ws(' ', transform(sequence(0, 11), "
            "j -> concat('w', CAST(tgt AS STRING), 'x', "
            "CAST(j AS STRING)))) AS text",
        )
    )
    batch_art = D.ingest_artifacts(batch)
    verdicts = D.incremental_neardup_verdicts_indexed(
        index_art, batch_art, min_jaccard=0.6
    )
    # metric run FIRST: the scan-row metric is read from the plan's
    # first execution
    scanned = _text_scan_rows(verdicts)
    rows = {r["doc_id"]: r["is_novel"] for r in verdicts.collect()}
    assert rows == {n: False, n + 1: False, n + 2: False}
    if clustered:
        # In-pushdown + disjoint per-file doc_id ranges: the text fetch
        # reads only the files holding the 3 candidates — at most 3 of
        # the n_files compacted files (plus slack for uneven file
        # sizes). The bound is expressed against the ACTUAL file count
        # because the artifact row width sets how many 1 MB files the
        # compaction yields (narrower numeric signatures → fewer,
        # wider-ranged files), and a fixed fraction of n would pin the
        # layout rather than the skipping behavior.
        assert n_files > 3, n_files
        assert scanned <= 2 * 3 * (n // n_files), (scanned, n_files)
    else:
        # control: round-robin files all span the full id range — the
        # stats can exclude nothing even with the pushed In predicate
        assert scanned > 0.9 * n, scanned


def test_candidate_pushdown_fallback_above_cap(spark, tmp_path, monkeypatch):
    """Forcing the cap to zero drives the join fallback; verdict values
    are identical to the pushdown path."""
    n = 2_000
    cat = Catalog(spark, str(tmp_path / "wh"))
    index_art, _ = _mk_index(
        spark, cat, "idx_s", n, clustered=True, require_multifile=False
    )
    batch = spark.range(n, n + 2).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(0, 11), "
        "j -> concat('w', CAST(42 AS STRING), 'x', CAST(j AS STRING)))) "
        "AS text",
    )
    batch_art = D.ingest_artifacts(batch).localCheckpoint()
    base = sorted(
        map(
            tuple,
            D.incremental_neardup_verdicts_indexed(
                index_art, batch_art, min_jaccard=0.6
            ).collect(),
        )
    )
    monkeypatch.setattr(D, "MAX_CANDIDATE_ID_PUSHDOWN", 0)
    fallback = sorted(
        map(
            tuple,
            D.incremental_neardup_verdicts_indexed(
                index_art, batch_art, min_jaccard=0.6
            ).collect(),
        )
    )
    assert base == fallback
    assert any(r[-1] is False or r[-1] == False for r in base)  # noqa: E712


def test_train_cells_above_literal_gate_uses_gemm_and_matches_literal(
    spark, sf_dir
):
    """The production path the 100x harness measures: a codebook past
    MAX_LITERAL_CELLS must route through the Arrow-batched GEMM
    assignment AND produce exactly the assignment the literal
    expression form computes for the same centroids (the literal gate
    is a plan-size heuristic, not a semantics boundary — above it the
    literal form is merely unwieldy, so it still serves as the
    equality reference). k=129 is the first above-gate codebook."""
    from spark_etl_agent_spark.llm.kmeans import (
        MAX_LITERAL_CELLS,
        _assign_literal,
        train_cells,
    )
    from spark_etl_agent_spark.llm.similarity import dot, scaled
    from spark_etl_agent_spark.queries.base import load

    k = MAX_LITERAL_CELLS + 1
    emb = load(spark, sf_dir, "embeddings")
    got = {
        r.vec_id: r.cell
        for r in train_cells(emb, k=k, iters=1).collect()
    }

    base = emb.select(
        F.col("vec_id"), scaled(F.col("embedding")).alias("svec")
    ).withColumn("norm_sq", dot(F.col("svec"), F.col("svec")))
    cents = (
        base.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("cell"),
            F.col("svec").alias("cvec"),
            F.col("norm_sq").alias("cnorm"),
        )
        .collect()
    )
    want = {
        r.vec_id: r.cell for r in _assign_literal(base, cents).collect()
    }
    assert len(got) == emb.count() and got == want


def test_split_label_projection_matches_documented_hash(spark):
    """``sampling.split_label`` is the pure-expression form the leakage
    audit projects onto pair ends instead of joining a split table
    (optimization r11): its assignment must equal the documented
    engine-independent formula — first 8 hex digits of
    md5(salt || str(key)) as an integer vs the weight thresholds —
    computed here in plain Python, and must equal
    ``train_val_test_split`` row-for-row."""
    import hashlib

    from spark_etl_agent_spark.llm.sampling import (
        _HASH_SPACE,
        split_label,
        train_val_test_split,
    )

    ids = list(range(200))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", split_label(F.col("doc_id")).alias("s")
        ).collect()
    }

    def ref(i):
        b = int(hashlib.md5(f"split1{i}".encode()).hexdigest()[:8], 16)
        if b < int(0.8 * _HASH_SPACE):
            return "train"
        if b < int(0.9 * _HASH_SPACE):
            return "val"
        return "test"

    assert got == {i: ref(i) for i in ids}
    assert len(set(got.values())) == 3  # all three splits realized
    joined = {
        r.doc_id: r.split
        for r in train_val_test_split(df, key_col="doc_id").collect()
    }
    assert joined == got


def test_scrub_overlapping_spans_without_covered_distinct(spark):
    """The covered-position table feeds a left_anti join (set
    semantics), so the pre-join DISTINCT was dropped (optimization
    r11). Deterministic overlap-dense case: a doc made of one repeated
    phrase produces the SAME covered position from many removable
    spans — duplicates in the anti-join's right side must not change
    counts or the rebuilt text."""
    from spark_etl_agent_spark.llm.spans import scrub_duplicate_spans

    phrase = "a b c"
    rows = [
        (0, " ".join([phrase] * 6)),   # 18 tokens, span k=3 repeats
        (1, " ".join([phrase] * 4)),   # duplicates across docs too
        (2, "x y z unique tokens"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in scrub_duplicate_spans(df, k=3).collect()}
    # doc 0 pos 0 is the global canonical occurrence of 'a b c'; every
    # other occurrence (and every position a removable span covers) is
    # scrubbed. Positions 0..2 of doc 0 survive; all else of docs 0/1
    # is covered by SOME removable span.
    assert (out[0].n_tokens, out[0].n_kept) == (18, 3)
    assert out[0].scrubbed_text == "a b c"
    assert (out[1].n_tokens, out[1].n_kept) == (12, 0)
    assert out[1].scrubbed_text == ""
    assert out[2].n_kept == out[2].n_tokens == 5
    assert out[2].scrubbed_text == "x y z unique tokens"
