"""Structured Streaming tests (SURVEY.md §7.2 M4): every pipeline runs
with Trigger.AvailableNow over the events fixture and is checked against
its batch twin — the strongest oracle available for streaming."""

import pytest
from pyspark.sql import functions as F

from spark_etl_agent_spark.queries.base import dec, load
from spark_etl_agent_spark.sources.catalog import Catalog
from spark_etl_agent_spark.streaming import (
    dedup_within_watermark,
    events_stream,
    load_with_verify_sink,
    run_available_now,
    session_window_stats,
    sliding_window_counts,
    tumbling_window_counts,
)


@pytest.fixture(scope="module")
def batch_events(spark, sf_dir):
    return load(spark, sf_dir, "events").cache()


def canon(df, cols):
    return sorted(tuple(str(v) for v in row) for row in df.select(*cols).collect())


def stage_micro_batches(spark, src, batches, schema, first=0):
    """Write each batch of rows as one parquet file ``f{i}.parquet`` in
    ``src`` with mtimes 1000 s apart, so a ``maxFilesPerTrigger=1`` file
    stream reads them as one micro-batch each, in order. ``first``
    numbers a later arrival after files already staged."""
    import os
    import shutil

    src.mkdir(exist_ok=True)
    for i, rows in enumerate(batches, first):
        stage = src.parent / f"{src.name}_stage{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        dst = src / f"f{i}.parquet"
        shutil.copy(next(stage.glob("*.parquet")), dst)
        os.utime(dst, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
    return src


def test_tumbling_equals_batch(spark, sf_dir, batch_events):
    streamed = run_available_now(
        tumbling_window_counts(events_stream(spark, sf_dir)), output_mode="complete"
    )
    batch = (
        batch_events.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("decimal(18,4)").cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    cols = ["window_start", "window_end", "event_type", "n_events", "sum_value"]
    assert canon(streamed, cols) == canon(batch, cols)


def test_sliding_window_double_counts(spark, sf_dir, batch_events):
    """6h windows sliding by 3h: every event lands in exactly 2 windows."""
    streamed = run_available_now(
        sliding_window_counts(events_stream(spark, sf_dir)), output_mode="complete"
    )
    total = streamed.agg(F.sum("n_events")).collect()[0][0]
    assert total == 2 * batch_events.count()


def test_session_windows_equal_batch_sessionization(spark, sf_dir, batch_events):
    """session_window must produce the same (user, start, n_events)
    sessions as the batch lag/flag-sum pattern (30-min gap)."""
    streamed = run_available_now(
        session_window_stats(events_stream(spark, sf_dir)), output_mode="complete"
    )
    from pyspark.sql import Window as W

    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = batch_events.withColumn("prev_ts", F.lag("ts").over(order)).withColumn(
        "new_sess",
        F.when(
            F.col("prev_ts").isNull()
            | F.expr("ts - prev_ts >= INTERVAL '30' MINUTE"),
            1,
        ).otherwise(0),
    )
    batch = (
        flagged.withColumn("session_id", F.sum("new_sess").over(order))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events"))
    )
    cols = ["user_id", "session_start", "n_events"]
    assert canon(streamed, cols) == canon(batch, cols)


def test_dedup_within_watermark(spark, sf_dir, batch_events):
    """A doubled stream (self-union) collapses back to distinct events."""
    doubled = events_stream(spark, sf_dir).union(events_stream(spark, sf_dir))
    deduped = dedup_within_watermark(doubled, keys=["event_id"])
    out = run_available_now(deduped, output_mode="append")
    assert out.count() == batch_events.count()


def test_foreach_batch_load_with_verify(spark, sf_dir, batch_events, tmp_path):
    """foreachBatch sink: micro-batches append into the catalog with the
    reference's load-with-verify semantics; batch ids land in the table."""
    cat = Catalog(spark, str(tmp_path / "stream_wh"))
    stream = dedup_within_watermark(events_stream(spark, sf_dir))
    run_available_now(
        stream,
        output_mode="append",
        foreach_batch=load_with_verify_sink(cat, "streams.events_clean"),
    )
    tbl = cat.read_table("streams.events_clean")
    assert tbl.count() == batch_events.count()
    assert "_batch_id" in tbl.columns


def test_apply_in_pandas_with_state_running_totals(spark, sf_dir, batch_events):
    """Custom keyed-state operator: after consuming all available input,
    per-user state must equal the batch groupBy (counts, exact
    micro-unit sums, last event time)."""
    from spark_etl_agent_spark.streaming.stateful import user_running_totals

    out = run_available_now(
        user_running_totals(events_stream(spark, sf_dir)), output_mode="update"
    )
    # update mode may emit a row per micro-batch; keep each user's last
    from pyspark.sql import Window

    final = (
        out.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    batch = batch_events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 10_000).cast("long")).alias(
            "sum_value_micros"
        ),
        F.max("ts").alias("last_ts"),
    )
    cols = ["user_id", "n_events", "sum_value_micros", "last_ts"]
    assert canon(final, cols) == canon(batch, cols)


def test_stream_static_enrichment_join(spark, sf_dir, batch_events):
    """Stream-static join: enrich the event stream with a static
    dimension (no watermark needed on the static side; per-batch hash
    join). Result equals the batch join."""
    static_dim = (
        batch_events.select("user_id").distinct()
        .withColumn("user_tier", F.concat(F.lit("tier"), F.col("user_id") % 3))
    )
    enriched = events_stream(spark, sf_dir).join(static_dim, "user_id")
    out = run_available_now(
        enriched.groupBy("user_tier").agg(F.count(F.lit(1)).alias("n")),
        output_mode="complete",
    )
    batch = (
        batch_events.join(static_dim, "user_id")
        .groupBy("user_tier")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert canon(out, ["user_tier", "n"]) == canon(batch, ["user_tier", "n"])


def test_stream_stream_join_equals_batch(spark, sf_dir, batch_events):
    """Stream-stream attribution join (click → purchase within 2h per
    user) under AvailableNow must equal the identical batch join —
    watermark state pruning must not drop any in-range pair."""
    from spark_etl_agent_spark.streaming import click_purchase_conversions

    streamed = run_available_now(
        click_purchase_conversions(events_stream(spark, sf_dir)),
        output_mode="append",
    )
    clicks = batch_events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = batch_events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 120 MINUTES")),
    ).select(
        "user_id", "click_id", "click_ts",
        "purchase_id", "purchase_ts", "purchase_value",
    )
    cols = ["user_id", "click_id", "click_ts", "purchase_id", "purchase_ts",
            "purchase_value"]
    got, want = canon(streamed, cols), canon(batch, cols)
    assert len(want) > 0
    assert got == want


def test_streaming_conf_rocksdb_state_store_runs(spark, sf_dir, tmp_path):
    """streaming_conf renders the production posture AND the RocksDB
    provider actually loads: the tumbling aggregate runs AvailableNow
    with RocksDB-backed state and matches the heap-state result."""
    from spark_etl_agent_spark.core.session import streaming_conf
    from spark_etl_agent_spark.streaming import (
        events_stream,
        tumbling_window_counts,
    )

    conf = streaming_conf(str(tmp_path / "ckpt"))
    assert conf["spark.sql.streaming.stateStore.providerClass"].endswith(
        "RocksDBStateStoreProvider"
    )
    assert (
        conf["spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"]
        == "true"
    )

    heap = run_available_now(
        tumbling_window_counts(events_stream(spark, sf_dir)),
        output_mode="complete",
    ).collect()
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, conf[key])
        rocks = run_available_now(
            tumbling_window_counts(events_stream(spark, sf_dir)),
            output_mode="complete",
        ).collect()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert sorted(map(tuple, rocks)) == sorted(map(tuple, heap)) and rocks


def test_checkpoint_resume_processes_only_new_files(spark, sf_dir, tmp_path):
    """Exactly-once incremental ingest across restarts: a second
    AvailableNow run against the SAME checkpoint must process only the
    files that arrived since the first run — the property that makes a
    100 TB backlog a one-time cost, not a per-restart cost."""
    import shutil

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out: list = []

    base = load(spark, sf_dir, "events").select("event_id", "user_id").limit(500)
    base.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage1"))
    shutil.copy(
        next((tmp_path / "stage1").glob("*.parquet")), src_dir / "f1.parquet"
    )
    n1 = spark.read.parquet(str(src_dir / "f1.parquet")).count()

    schema = spark.read.parquet(str(src_dir)).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src_dir))
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(lambda bdf, bid: out.append(bdf.count()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run_once()
    assert sum(out) == n1

    # restart with no new input: nothing reprocessed
    run_once()
    assert sum(out) == n1

    # a new file arrives; restart processes exactly its rows
    base2 = (
        load(spark, sf_dir, "events")
        .select("event_id", "user_id")
        .limit(800)
        .filter(F.col("event_id") > 500)
    )
    base2.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage2"))
    shutil.copy(
        next((tmp_path / "stage2").glob("*.parquet")), src_dir / "f2.parquet"
    )
    n2 = spark.read.parquet(str(src_dir / "f2.parquet")).count()

    run_once()
    assert sum(out) == n1 + n2


def test_watermark_advances_and_evicts_state_across_micro_batches(
    spark, tmp_path
):
    """Rate-limited multi-micro-batch run (maxFilesPerTrigger=1): the
    watermark must ADVANCE batch-over-batch, finalize (emit, append
    mode) each closed window exactly once, DROP late rows that arrive
    behind the watermark, and EVICT finalized windows from the state
    store — the behavior class AvailableNow-single-batch runs never
    exercise."""
    from datetime import datetime

    def ts(h, m=0):
        return datetime(2025, 6, 1, h, m)

    # five arrival files -> five+ micro-batches. Spark filters late
    # events with the PREVIOUS batch's watermark (watermarkForLateEvents)
    # and evicts state with the current one (watermarkForEviction), so
    # the late rows are placed TWO batches after the data that advances
    # the watermark past them:
    #   f0: 3 rows in window [10:00,11:00)
    #   f1: 2 rows at 13:00   (eviction wm -> 9:30)
    #   f2: 1 row  at 16:00   (eviction wm 12:05 -> 10h window emitted)
    #   f3: 2 LATE rows at 10:15 / 11:15 (late wm 12:05 -> DROPPED;
    #       distinct windows because the drop metric counts
    #       post-partial-aggregation rows) + 1 @ 20:00
    #   f4: 1 row  at 23:00   (closes the 16h window)
    batches = [
        [(1, ts(10, 0)), (2, ts(10, 15)), (3, ts(10, 30))],
        [(4, ts(13, 0)), (5, ts(13, 5))],
        [(6, ts(16, 0))],
        [(7, ts(10, 15)), (8, ts(11, 15)), (9, ts(20, 0))],
        [(10, ts(23, 0))],
    ]
    src = stage_micro_batches(
        spark, tmp_path / "src", batches, "event_id long, ts timestamp"
    )

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    emitted: list = []
    n_batches: list = []
    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(
            lambda bdf, bid: (
                n_batches.append(bid),
                emitted.extend((r.ws, r.n) for r in bdf.collect()),
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    assert len(n_batches) >= 5  # genuinely multi-micro-batch
    out = dict(emitted)
    assert len(emitted) == len(out)  # append mode: each window once
    # late rows (events 7,8) must NOT be in the finalized 10h window
    # nor resurrect the never-populated 11h window
    assert out[ts(10)] == 3
    assert ts(11) not in out
    assert out[ts(13)] == 2
    # the 16h window closed once the 20:00 row advanced the watermark
    assert out[ts(16)] == 1

    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in progresses
        for so in p["stateOperators"]
    )
    assert dropped == 2  # exactly the two late rows
    # eviction: finalized windows left the store — only the still-open
    # 20h window may remain
    final_state = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    assert final_state <= 1


def _run_ingest_stream(spark, src, sink, audit, wrap=None, plans=None):
    """Drive the ingest sink over the staged micro-batches in ``src``,
    appending accepted documents (with their artifacts) to ``sink``.
    ``wrap`` (optional) wraps the foreachBatch function; ``plans``
    (optional list) collects the physical plan of each frame handed to
    the writer."""
    from spark_etl_agent_spark.streaming.pipeline import (
        run_available_now,
        streaming_dedup_ingest_sink_indexed,
    )

    def index_provider():
        if not sink.exists() or not any(sink.glob("*.parquet")):
            return None
        return spark.read.parquet(str(sink))

    def novel_writer(df, batch_id):
        if plans is not None:
            plans.append(df._jdf.queryExecution().executedPlan().toString())
        df.coalesce(1).write.mode("append").parquet(str(sink))

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    foreach_batch = streaming_dedup_ingest_sink_indexed(
        index_provider, novel_writer, audit=audit, min_jaccard=0.6
    )
    run_available_now(
        stream,
        output_mode="append",
        foreach_batch=foreach_batch if wrap is None else wrap(foreach_batch),
    )


def test_streaming_dedup_ingest_accepts_only_novel(spark, tmp_path):
    """Continuous corpus ingest: per micro-batch, within-batch exact
    dedup, then exact-hash, id and LSH probes against the GROWING
    accepted-corpus index; only novel docs land in the sink. Three
    rate-limited micro-batches exercise: empty index bootstrap,
    cross-batch exact dup, cross-batch near-dup, within-batch exact
    dup. The probe-ready batch is materialized once and novelty is an
    anti-join, so a probed batch (non-empty index) runs at most 18
    Spark jobs, the write included, and the frame handed to the writer
    holds no Window."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different subject matter covering spark shuffles and joins"
    third = "yet another unrelated document about parquet footers and statistics"
    fresh = "fresh content with entirely new words"
    batches = [
        [(1, base), (2, other)],                       # both novel (empty index)
        [(3, base),                                    # exact dup of 1 -> drop
         (4, other + " tomorrow"),                     # near-dup of 2 -> drop
         (5, third)],                                  # novel
        [(6, fresh),
         (7, fresh),                                   # within-batch dup of 6
         (8, third + " appendix")],                    # near-dup of 5 -> drop
    ]
    src = stage_micro_batches(
        spark, tmp_path / "src", batches, "doc_id long, text string"
    )
    sink = tmp_path / "accepted"
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    jobs: list = []

    def wrap(fn):
        def counted(batch_df, batch_id):
            first = scheduler.nextJobId()
            fn(batch_df, batch_id)
            jobs.append(scheduler.nextJobId() - first)

        return counted

    audit: list = []
    plans: list = []
    _run_ingest_stream(spark, src, sink, audit, wrap=wrap, plans=plans)

    accepted = spark.read.parquet(str(sink)).collect()
    assert sorted((r["doc_id"], r["text"]) for r in accepted) == [
        (1, base), (2, other), (5, third), (6, fresh),
    ]
    # audit envelopes: (batch_id, n_in, n_exact_dups_in_batch,
    # n_dropped_vs_index, n_novel)
    assert sorted(audit) == [
        (0, 2, 0, 0, 2), (1, 3, 0, 2, 1), (2, 3, 1, 1, 1),
    ]
    # Spark jobs per sink call; the probed batches ran 26 each when the
    # batch chain was re-planned for every consumer
    assert len(jobs) == 3 and max(jobs[1:]) <= 18, jobs
    assert len(plans) == 3
    assert not any("Window" in p for p in plans), plans


def test_ingest_sink_repeated_id_in_batch_keeps_audit_balanced(spark, tmp_path):
    """Two rows with one id and different texts in one micro-batch, probed
    against a non-empty index: each row is written at most once, and the
    audit stays non-negative and balanced. (A row-to-row join of the
    batch to its per-id verdicts wrote 4 rows and audited
    ``(1, 2, 0, -2, 4)``.) Whether the second row of a repeated id should
    be dropped as well is left open; both are written today."""
    batches = [
        [(1, "the quick brown fox jumps over the lazy dog again and again")],
        [(2, "completely different subject matter covering spark shuffles"),
         (2, "yet another unrelated document about parquet footers today")],
    ]
    src = stage_micro_batches(
        spark, tmp_path / "src", batches, "doc_id long, text string"
    )
    sink = tmp_path / "accepted"
    audit: list = []
    _run_ingest_stream(spark, src, sink, audit)

    accepted = sorted(
        r["doc_id"] for r in spark.read.parquet(str(sink)).collect()
    )
    by_batch = dict((a[0], a[1:]) for a in audit)
    n_in, n_exact_dups, n_dropped, n_novel = by_batch[1]
    assert accepted.count(2) == n_novel
    assert min(n_in, n_exact_dups, n_dropped, n_novel) >= 0
    assert n_in == n_exact_dups + n_dropped + n_novel
    assert by_batch == {0: (1, 0, 0, 1), 1: (2, 0, 0, 2)}


def test_indexed_ingest_sink_matches_unindexed(spark, tmp_path):
    """The ingest sink (stored content hash + MinHash signature, probe
    against artifact columns, candidate-only re-shingling) accepts the
    documents and emits the audit envelopes that a sink re-shingling
    and re-minhashing the whole accepted corpus per batch produced on
    this batch sequence (the literals below) — including within-batch
    dups, cross-batch exact/near dups, a short (< k words) doc, and an
    id replay with changed text. The accepted table carries the
    artifacts, so no consumer ever re-derives them."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different subject matter covering spark shuffles and joins"
    batches = [
        [(1, base), (2, other), (3, "tiny doc")],      # short doc accepted
        [(4, base),                                    # exact dup of 1
         (5, other + " tomorrow"),                     # near-dup of 2
         (3, "replayed id with completely changed words"),  # id replay
         (6, "fresh content with entirely new words"),
         (7, "fresh content with entirely new words")],  # within-batch dup
        [(8, "tiny doc")],                             # exact dup of short 3
    ]
    src = stage_micro_batches(
        spark, tmp_path / "src", batches, "doc_id long, text string"
    )
    sink = tmp_path / "accepted"
    audit: list = []
    _run_ingest_stream(spark, src, sink, audit)

    idx = spark.read.parquet(str(sink))
    assert sorted(r["doc_id"] for r in idx.collect()) == [1, 2, 3, 6]
    assert sorted(audit) == [
        (0, 3, 0, 0, 3), (1, 5, 1, 3, 1), (2, 1, 0, 1, 0),
    ]
    # the accepted table IS the index: artifacts stored with the corpus
    assert {"content_hash", "n_shingles"}.issubset(set(idx.columns))
    assert all(f"mh{i}" in idx.columns for i in range(8))
    short = idx.filter("doc_id = 3").first()
    assert short["text"] == "tiny doc"
    assert short["n_shingles"] == 0 and short["mh0"] is None


def test_ingest_sink_drops_replayed_id_and_spares_foreign_caches(
    spark, tmp_path
):
    """Two contracts of the ingest sink in one stream run: (1) an
    at-least-once replay that re-delivers an already-ingested id with
    CHANGED text is dropped (the id is taken — it must not be
    re-accepted); (2) the sink's
    per-batch cache cleanup releases only its own persists/checkpoints,
    not caches owned by unrelated concurrent work in the session."""
    from pyspark import StorageLevel

    from spark_etl_agent_spark.core.cache import _cached_entries

    batches = [
        [(1, "the quick brown fox jumps over the lazy dog again today")],
        # same id, completely different text — passes the exact-hash
        # anti-join, must still be dropped as an id replay
        [(1, "entirely new replacement words that resemble nothing prior")],
    ]
    src = stage_micro_batches(
        spark, tmp_path / "src", batches, "doc_id long, text string"
    )
    sink = tmp_path / "accepted"

    foreign = spark.range(100).persist(StorageLevel.MEMORY_AND_DISK)
    foreign.count()
    n_cached = len(_cached_entries(spark))
    audit: list = []
    try:
        _run_ingest_stream(spark, src, sink, audit)
        rows = spark.read.parquet(str(sink)).collect()
        assert [r["doc_id"] for r in rows] == [1]
        assert "quick brown fox" in rows[0]["text"]  # original kept
        # replay batch: 1 in, 0 exact dups, 1 dropped vs index, 0 novel
        by_counts = [(a[1], a[2], a[3], a[4]) for a in sorted(audit)]
        assert by_counts == [(1, 0, 0, 1), (1, 0, 1, 0)]
        # the foreign cache survived every per-batch cleanup
        assert foreign.storageLevel.useMemory
        assert len(_cached_entries(spark)) == n_cached
    finally:
        foreign.unpersist()


def test_streaming_packing_spans_continue_across_batches(spark, tmp_path):
    """Continuous packing: three rate-limited micro-batches produce ONE
    gap-free global token stream — spans continue across batch
    boundaries, chunk ids are global, and a replayed batch id is
    skipped (effectively-once)."""
    from spark_etl_agent_spark.streaming.pipeline import (
        run_available_now,
        streaming_packing_sink,
    )

    batches = [
        [(1, 4), (2, 8)],      # cum 12
        [(3, 9), (4, 9)],      # cum 30
        [(5, 5)],              # cum 35
    ]
    src = stage_micro_batches(
        spark, tmp_path / "src", batches, "doc_id long, n_tokens long"
    )

    manifest_dir = tmp_path / "manifest"
    state_dir = tmp_path / "state"

    def writer(df, batch_id):
        # idempotent per batch id (the sink contract): replaying the
        # same batch overwrites its own partition instead of appending
        df.coalesce(1).write.mode("overwrite").parquet(
            str(manifest_dir / f"batch={batch_id}")
        )

    audit: list = []
    sink = streaming_packing_sink(
        str(state_dir), writer, budget=10, audit=audit
    )
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    run_available_now(stream, output_mode="append", foreach_batch=sink)

    rows = {
        r["doc_id"]: r
        for r in spark.read.parquet(str(manifest_dir / "batch=*")).collect()
    }
    # identical spans to the batch pack of the full corpus
    # (test_pack_chunks_exact_spans): the stream IS one stream
    expect = {
        1: (0, 4, 0, 0), 2: (4, 12, 0, 1), 3: (12, 21, 1, 2),
        4: (21, 30, 2, 2), 5: (30, 35, 3, 3),
    }
    got = {
        d: (r["start_off"], r["end_off"], r["chunk_first"], r["chunk_last"])
        for d, r in rows.items()
    }
    assert got == expect
    assert [a[2] for a in sorted(audit)] == [12, 30, 35]  # running end offsets

    # replaying the LAST batch id is a no-op (at-least-once replay)
    replay = spark.createDataFrame([(9, 100)], "doc_id long, n_tokens long")
    sink(replay, max(a[0] for a in audit))
    assert spark.read.parquet(str(manifest_dir / "batch=*")).count() == 5


def test_streaming_packing_sink_releases_batch_caches(
    spark, tmp_path, pinned_rdds
):
    """Each packing batch releases the storage it takes (the batch
    checkpoint and the packing's ranged frame), so a long-running
    stream accumulates neither persisted RDDs nor CacheManager entries
    per batch."""
    from spark_etl_agent_spark.core.cache import (
        _cached_entries,
        _persistent_rdd_ids,
    )
    from spark_etl_agent_spark.streaming.pipeline import streaming_packing_sink

    spans: list = []

    def writer(df, batch_id):
        spans.append(
            sorted(tuple(r) for r in df.select("doc_id", "start_off", "end_off").collect())
        )

    sink = streaming_packing_sink(str(tmp_path / "state"), writer, budget=10)
    schema = "doc_id long, n_tokens long"
    before, n_cached = _persistent_rdd_ids(spark), len(_cached_entries(spark))
    sink(spark.createDataFrame([(1, 4), (2, 8)], schema), 0)
    assert _persistent_rdd_ids(spark) == before
    assert len(_cached_entries(spark)) == n_cached
    sink(spark.createDataFrame([(3, 9)], schema), 1)
    assert _persistent_rdd_ids(spark) == before
    assert len(_cached_entries(spark)) == n_cached
    assert spans == [[(1, 0, 4), (2, 4, 12)], [(3, 12, 21)]]


def test_ingest_sink_releases_batch_caches(spark, tmp_path, pinned_rdds):
    """Each ingest batch releases the storage it takes (the artifact
    checkpoint and the probe's persisted candidate pairs) from both
    registries, so a long-running stream accumulates neither persisted
    RDDs nor CacheManager entries per batch — also once the index is
    non-empty and the LSH probe runs."""
    from spark_etl_agent_spark.core.cache import (
        _cached_entries,
        _persistent_rdd_ids,
    )
    from spark_etl_agent_spark.streaming.pipeline import (
        streaming_dedup_ingest_sink_indexed,
    )

    sink_dir = tmp_path / "accepted"

    def index_provider():
        if not sink_dir.exists():
            return None
        return spark.read.parquet(str(sink_dir))

    def writer(df, batch_id):
        df.coalesce(1).write.mode("append").parquet(str(sink_dir))

    audit: list = []
    sink = streaming_dedup_ingest_sink_indexed(
        index_provider, writer, audit=audit
    )
    schema = "doc_id long, text string"
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rdds, n_cached = _persistent_rdd_ids(spark), len(_cached_entries(spark))
    sink(spark.createDataFrame([(1, base), (2, "hi there")], schema), 0)
    assert _persistent_rdd_ids(spark) == rdds
    assert len(_cached_entries(spark)) == n_cached
    sink(
        spark.createDataFrame(
            [(3, base + " tomorrow"), (4, "parquet footers hold statistics")],
            schema,
        ),
        1,
    )
    assert _persistent_rdd_ids(spark) == rdds
    assert len(_cached_entries(spark)) == n_cached
    assert audit == [(0, 2, 0, 0, 2), (1, 2, 0, 1, 1)]


def test_events_stream_reads_directory_layout(spark, sf_dir, tmp_path, batch_events):
    """A real table is a DIRECTORY of part files; events_stream must
    stream it identically to the single-file fixture layout (a glob on
    the directory name would silently stream zero rows)."""
    from spark_etl_agent_spark.streaming.pipeline import (
        events_stream,
        run_available_now,
        tumbling_window_counts,
    )

    dir_sf = tmp_path / "dirsf"
    batch_events.write.mode("overwrite").parquet(
        str(dir_sf / "events.parquet")
    )
    got = run_available_now(
        tumbling_window_counts(events_stream(spark, str(dir_sf))),
        output_mode="complete",
    )
    ref = run_available_now(
        tumbling_window_counts(events_stream(spark, sf_dir)),
        output_mode="complete",
    )
    assert got.count() > 0
    assert canon(got, got.columns) == canon(ref, ref.columns)


def test_kill_and_resume_packing_sink_exactly_once(spark, tmp_path):
    """Crash-recovery e2e for a foreachBatch sink: the query is KILLED
    mid-batch in the worst at-least-once window — after the manifest
    write succeeded but before the sink's state commit — then restarted
    from the same checkpoint. Spark replays the failed epoch with the
    SAME batch id; the sink recomputes identical spans from the
    unadvanced offset state and the idempotent writer overwrites its
    own partition, so the union manifest is exactly-once and gap-free."""
    from pyspark.errors import StreamingQueryException

    from spark_etl_agent_spark.streaming.pipeline import (
        streaming_packing_sink,
    )

    batches = [
        [(1, 4), (2, 8)],      # cum 12
        [(3, 9), (4, 9)],      # cum 30
    ]
    schema = "doc_id long, n_tokens long"
    src = stage_micro_batches(spark, tmp_path / "src", batches[:1], schema)

    manifest_dir = tmp_path / "manifest"
    state_dir = tmp_path / "state"
    ckpt = str(tmp_path / "ckpt")
    crash = {"after_batch_id": None}

    def writer(df, batch_id):
        df.coalesce(1).write.mode("overwrite").parquet(
            str(manifest_dir / f"batch={batch_id}")
        )
        if crash["after_batch_id"] == batch_id:
            raise RuntimeError("injected crash after manifest write")

    audit: list = []
    sink = streaming_packing_sink(
        str(state_dir), writer, budget=10, audit=audit
    )

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    # clean run over batch 0
    run_once()
    assert [a[:2] for a in audit] == [(0, 2)]

    # batch 1 arrives; the sink dies AFTER writing its manifest but
    # BEFORE committing the offset state — the kill
    stage_micro_batches(spark, src, batches[1:], schema, first=1)

    crash["after_batch_id"] = 1
    with pytest.raises(StreamingQueryException, match="injected crash"):
        run_once()
    assert [a[0] for a in audit] == [0]  # state never advanced past 0

    # resume from the same checkpoint: epoch 1 replays under the same
    # batch id, spans recompute from end_off=12, writer overwrites
    crash["after_batch_id"] = None
    run_once()
    assert [a[:2] for a in audit] == [(0, 2), (1, 2)]

    rows = spark.read.parquet(str(manifest_dir / "batch=*")).collect()
    got = {
        r["doc_id"]: (r["start_off"], r["end_off"]) for r in rows
    }
    # exactly-once: every doc once, spans gap-free across the crash
    assert len(rows) == 4
    assert got == {1: (0, 4), 2: (4, 12), 3: (12, 21), 4: (21, 30)}

    # a third run with no new input replays nothing
    run_once()
    assert [a[:2] for a in audit] == [(0, 2), (1, 2)]


def test_streaming_dedup_ingest_rejects_short_doc_exact_dup(spark, tmp_path):
    """Documents too short to shingle are invisible to the LSH probe;
    the sink's exact-hash anti-join must still reject their verbatim
    cross-batch duplicates (the short-doc admission hole)."""
    batches = [
        [(1, "hi there")],          # 2 words: shingle-less, novel
        [(2, "hi there")],          # exact dup of a short doc -> reject
        [(3, "hello world")],       # different short doc -> novel
    ]
    src = stage_micro_batches(
        spark, tmp_path / "src", batches, "doc_id long, text string"
    )
    sink = tmp_path / "accepted"
    audit: list = []
    _run_ingest_stream(spark, src, sink, audit)
    accepted = sorted(
        r["doc_id"] for r in spark.read.parquet(str(sink)).collect()
    )
    assert accepted == [1, 3]
    assert sorted(audit) == [(0, 1, 0, 0, 1), (1, 1, 0, 1, 0), (2, 1, 0, 0, 1)]
