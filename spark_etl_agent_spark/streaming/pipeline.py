"""Event-time streaming pipelines over the ``events`` table.

Design (SURVEY.md §7.2 M4): ``readStream`` file source → watermarked
event-time windows / stateful dedup → ``foreachBatch`` catalog sink
that mirrors the reference's load-with-verify semantics (U5) per
micro-batch.

Scale posture: every pipeline here is a standard incremental-state
shape — watermarks bound state size (late data beyond the watermark is
dropped), window/session state shuffles on bounded keys
(window×event_type, user_id), and the file source at 100 TB is the same
code pointed at an arriving-partition directory or replaced by a Kafka
source with identical downstream operators.

The batch "twins" of these queries (same window math on the same table)
are in ``queries.events`` — the streaming results at availableNow must
equal the batch results exactly, which is how the tests oracle them.
"""

from __future__ import annotations

import uuid
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import Catalog


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet. ``ts`` has shipped as
    both TIMESTAMP(NANOS) (read as long under the legacy conf, truncated
    to micros — lossless here) and native ``timestamp[us]``; branch on
    the dtype that actually arrives, same as the batch loader in
    ``queries.base.load``."""
    from pyspark.sql.types import LongType, TimestampNTZType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # The file source needs a *directory*. A real table IS a directory
    # of part files — stream it directly (a pathGlobFilter on the
    # directory's NAME would match no part file and silently stream
    # zero rows). The single-file fixture layout streams the parent
    # dir filtered down to that one file.
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    is_dir = fs.exists(jpath) and fs.getFileStatus(jpath).isDirectory()
    if is_dir:
        stream = spark.readStream.schema(schema).parquet(path)
    else:
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    dt = schema["ts"].dataType
    if isinstance(dt, LongType):
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(dt, TimestampNTZType):
        # watermarks require TIMESTAMP (LTZ); value-identical under the
        # UTC-pinned session timezone
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


# -- windowed aggregations ------------------------------------------------------

def tumbling_window_counts(
    stream: DataFrame, window: str = "6 hours", watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling event-time windows per event type. Watermark bounds the
    state store; the agg shuffles on (window, event_type) — a bounded
    key space regardless of input volume."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)"))
            .cast("decimal(18,4)")
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_counts(
    stream: DataFrame,
    window: str = "6 hours",
    slide: str = "3 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding windows: each event lands in window/slide overlapping
    windows — state is slide-factor larger, same bounded-key shape."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def session_window_stats(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Gap-based session windows per user (the streaming twin of the
    batch sessionization query): state merges adjacent events until a
    gap > ``gap`` closes the session."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)"))
            .cast("decimal(18,4)")
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def dedup_within_watermark(
    stream: DataFrame, keys: Optional[list] = None, watermark: str = "1 hour"
) -> DataFrame:
    """Stateful exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps a key only until the
    watermark passes it — the streaming analog of the batch
    content-hash dedup, sized for unbounded input."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def click_purchase_conversions(
    stream: DataFrame,
    max_gap_minutes: int = 120,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: each click joined to the same user's
    purchases within ``max_gap_minutes`` after it (the attribution
    join). Both sides carry a watermark and the join condition bounds
    the event-time range, so the state store retains each side only for
    watermark + gap — the requirement for an unbounded-input join.
    State shuffles on user_id; the range predicate prunes within the
    key's state."""
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {max_gap_minutes} MINUTES")
        ),
    ).select(
        "user_id", "click_id", "click_ts",
        "purchase_id", "purchase_ts", "purchase_value",
    )


# -- sinks ----------------------------------------------------------------------

def load_with_verify_sink(
    catalog: Catalog, table: str
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body mirroring the reference's load-with-verify
    (U5, ``services/jcap_pa_etl_service.py:322-355``) per micro-batch:
    append, recount, assert growth. Batch id makes retries idempotent
    at-least-once → the dedup stage upstream makes it effectively-once."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        before = catalog.get_table_count(table) if catalog.table_exists(table) else 0
        n = batch_df.count()
        catalog.write_table(
            batch_df.withColumn("_batch_id", F.lit(batch_id)), table, mode="append"
        )
        after = catalog.get_table_count(table)
        if n > 0 and after <= before:
            raise RuntimeError(
                f"micro-batch {batch_id}: no rows loaded ({before}→{after})"
            )

    return write_batch


def run_available_now(
    df: DataFrame,
    output_mode: str = "complete",
    foreach_batch: Optional[Callable] = None,
    timeout_s: int = 600,
    checkpoint_dir: Optional[str] = None,
) -> Optional[DataFrame]:
    """Run a streaming frame over all currently-available input and stop
    (``Trigger.AvailableNow`` — the batch-equivalent execution used by
    tests and backfills). Returns the result as a batch DataFrame when
    sinking to memory, else None.

    ``checkpoint_dir`` (foreachBatch runs) persists source progress
    across INVOCATIONS: a later call with the same checkpoint drains
    only input that arrived since the previous run — the scheduled
    incremental-ingest posture — instead of replaying the whole
    directory. Without it every call processes all available input."""
    spark = df.sparkSession
    if foreach_batch is not None:
        writer = df.writeStream.outputMode(output_mode)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        q = (
            writer.foreachBatch(foreach_batch)
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q, timeout_s)
        return None
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, timeout_s)
    return spark.table(name)


def _await_or_raise(q, timeout_s: int) -> None:
    """``awaitTermination(timeout)`` returns False when the timeout
    elapses with the query still running — returning normally there
    would hand the caller a partially-populated sink as if complete.
    Stop the query and raise instead."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not finish within "
            f"{timeout_s}s; stopped to avoid returning partial results"
        )


def streaming_dedup_ingest_sink(
    index_provider: Callable[[], DataFrame],
    novel_writer: Callable[[DataFrame, int], None],
    audit: Optional[list] = None,
    min_jaccard: float = 0.6,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body for CONTINUOUS corpus ingest with dedup:
    each arriving micro-batch of documents is (1) exact-deduped within
    the batch (keep min id per content hash), then (2) LSH-probed
    against the existing corpus index (``llm.dedup.
    incremental_neardup_verdicts`` — batch bands broadcast, the index
    is never self-joined), and only the NOVEL documents are handed to
    ``novel_writer``.

    ``index_provider`` is called per batch so the index can grow with
    accepted documents (an ingest loop passes a reader over the sink
    table). ``audit`` (optional list) collects per-batch
    ``(batch_id, n_in, n_exact_dups_in_batch, n_dropped_vs_index,
    n_novel)`` envelopes — the counts a production ingest job alerts
    on (``n_dropped_vs_index`` counts exact-hash AND near-dup drops
    against the index).

    Scale: everything inside is the batch-vs-index probe shape — cost
    per micro-batch is one index scan + batch-sized work, independent
    of history size beyond the scan.
    """
    from ..core.cache import scoped_caches
    from ..llm.dedup import incremental_neardup_verdicts

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        with scoped_caches(batch_df.sparkSession):
            _ingest_batch(batch_df, batch_id)

    def _ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint()  # stream source read once
        n_in = batch_df.count()
        if n_in == 0:
            if audit is not None:
                audit.append((batch_id, 0, 0, 0, 0))
            return
        # within-batch exact dedup (streams can replay the same doc)
        w_hash = F.md5(F.col("text"))
        keeper = (
            batch_df.withColumn("__h", w_hash)
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("__h").orderBy("doc_id")
                ),
            )
            .filter(F.col("__rn") == 1)
            .drop("__h", "__rn")
        )
        n_exact = keeper.count()
        index_df = index_provider()
        if index_df is None or not index_df.columns:
            novel = keeper
        else:
            # exact-hash probe FIRST: the LSH probe cannot see documents
            # too short to shingle (< k words — all-NULL signatures), so
            # without this anti-join a short doc would be re-accepted
            # verbatim every batch. One index projection, same single
            # index scan the LSH probe already pays.
            keeper = keeper.join(
                index_df.select(F.md5(F.col("text")).alias("__ih")),
                F.md5(F.col("text")) == F.col("__ih"),
                "left_anti",
            )
            # id probe SECOND: an at-least-once replay can re-deliver an
            # already-ingested id with CHANGED text, which the hash
            # anti-join passes; it is not novel (the id is taken) and it
            # must not reach the LSH probe, whose verdicts assume
            # batch/index ids are disjoint. Same single index scan,
            # one id-column projection.
            keeper = keeper.join(index_df.select("doc_id"), "doc_id", "left_anti")
            verdicts = incremental_neardup_verdicts(
                index_df,
                keeper,
                min_jaccard=min_jaccard,
                # disjointness proven by the id anti-join just above —
                # skip the guard's extra index scan
                check_disjoint_ids=False,
            ).select("doc_id", "is_novel")
            novel = keeper.join(verdicts, "doc_id").filter(
                F.col("is_novel")
            ).drop("is_novel")
        novel = novel.localCheckpoint()  # verdict computed once
        n_novel = novel.count()
        novel_writer(novel, batch_id)
        # this batch's localCheckpoints (and any persist inside the
        # probe) are batch-scoped; the scoped_caches wrapper
        # in ingest_batch releases exactly those — NOT a session-global
        # clearCache, which would evict caches owned by unrelated
        # concurrent jobs and misses RDD-level checkpoint storage
        if audit is not None:
            audit.append(
                (batch_id, n_in, n_in - n_exact, n_exact - n_novel, n_novel)
            )

    return ingest_batch


def streaming_dedup_ingest_sink_indexed(
    index_provider: Callable[[], DataFrame],
    novel_writer: Callable[[DataFrame, int], None],
    audit: Optional[list] = None,
    min_jaccard: float = 0.6,
    maintenance: Optional[Callable[[int], None]] = None,
) -> Callable[[DataFrame, int], None]:
    """Indexed variant of ``streaming_dedup_ingest_sink``: the sink
    persists each accepted document's dedup artifacts (content hash,
    MinHash signature, shingle count — ``llm.dedup.ingest_artifacts``)
    alongside the document, so a micro-batch probes the STORED index
    instead of re-tokenizing and re-minhashing the whole accepted corpus
    per trigger. At 100 TB this is the production posture: signatures
    are computed once at ingest; per batch the index pays a pruned
    column scan (hash for the exact probe, 8 signature columns for the
    band probe, text only for the few band-collided candidate rows) —
    never a corpus-wide explode/aggregate.

    ``index_provider`` returns the accepted ARTIFACT table (or None when
    empty); ``novel_writer`` receives the artifact-extended accepted
    frame — append it as-is and the artifacts persist with the corpus.
    Audit envelope semantics and verdict values are identical to the
    unindexed sink (same signatures, same probe, same exact-Jaccard
    verify).
    """
    from ..core.cache import scoped_caches
    from ..llm.dedup import (
        incremental_neardup_verdicts_indexed,
        ingest_artifacts,
    )

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        with scoped_caches(batch_df.sparkSession):
            _ingest_batch(batch_df, batch_id)

    def _ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        # A micro-batch often arrives as ONE file (maxFilesPerTrigger=1
        # staging, a single upstream delivery) → one input partition —
        # and the artifact derivation below (tokenize + 8 MD5s per
        # shingle) is the sink's dominant map-side compute, so without
        # a fan-out it runs on a single core regardless of cluster
        # size (measured at 10x sf0.1: the whole audit run serialized
        # behind this stage). Repartition the RAW batch first: one
        # batch-sized exchange of text rows — strictly smaller than the
        # exploded shingle rows the artifact groupBy would shuffle
        # anyway — buys a fully parallel explode/hash stage.
        spark = batch_df.sparkSession
        npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # artifacts computed ONCE per batch; the eager checkpoint both
        # enforces stream-source-read-once and materializes the
        # artifact columns for the several consumers below. (A lazy
        # persist filled by the audit aggregation was profiled as a
        # wash: the checkpoint job's floor came back as InMemoryScan
        # overhead in the write job — scripts/streaming_compact_profile.py.)
        art = ingest_artifacts(
            batch_df.repartition(npart)
        ).localCheckpoint()
        # n_in and the within-batch exact-dedup survivor count in ONE
        # aggregation job (keeper keeps the first id per content hash,
        # so count(keeper) == countDistinct(content_hash))
        n_in, n_exact = art.agg(
            F.count(F.lit(1)), F.countDistinct("content_hash")
        ).first()
        if n_in == 0:
            if audit is not None:
                audit.append((batch_id, 0, 0, 0, 0))
            return
        keeper = (
            art.withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("content_hash").orderBy("doc_id")
                ),
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        index_df = index_provider()
        if index_df is None or not index_df.columns:
            novel = keeper
        else:
            # exact-hash probe against the STORED hash column (the
            # unindexed sink recomputes md5 over the index text here)
            keeper = keeper.join(
                index_df.select(F.col("content_hash").alias("__ih")),
                F.col("content_hash") == F.col("__ih"),
                "left_anti",
            )
            # id probe second (replayed id with changed text is not
            # novel and must not reach the LSH probe — see the
            # unindexed sink)
            keeper = keeper.join(index_df.select("doc_id"), "doc_id", "left_anti")
            verdicts = incremental_neardup_verdicts_indexed(
                index_df, keeper, min_jaccard=min_jaccard
            ).select("doc_id", "is_novel")
            novel = keeper.join(verdicts, "doc_id").filter(
                F.col("is_novel")
            ).drop("is_novel")
        # The accepted count rides the WRITE job as an observed metric:
        # the verdict plan executes exactly once (the writer's append is
        # its only consumer — the sink contract), where the previous
        # shape paid a localCheckpoint materialization plus a count job
        # per batch before the write even started (profiled as two
        # scheduling floors per micro-batch at bench scale,
        # scripts/streaming_compact_profile.py).
        from pyspark.sql import Observation

        obs = Observation()
        novel = novel.observe(obs, F.count(F.lit(1)).alias("n_novel"))
        novel_writer(novel, batch_id)
        n_novel = int(obs.get["n_novel"])
        if audit is not None:
            audit.append(
                (batch_id, n_in, n_in - n_exact, n_exact - n_novel, n_novel)
            )
        if maintenance is not None:
            # per-batch epilogue: index maintenance (threshold-gated
            # small-file compaction of the accepted/index table) runs
            # BETWEEN micro-batches, so a continuous sink never accretes
            # files unboundedly waiting for an end-of-drain sweep. The
            # hook runs after the batch's append and audit record —
            # compaction re-lays the same rows, so the next batch's
            # probe verdicts are invariant (streaming_compaction_probe
            # pins this against the DuckDB oracle).
            maintenance(batch_id)

    return ingest_batch


def streaming_packing_sink(
    state_path: str,
    manifest_writer: Callable[[DataFrame, int], None],
    budget: int,
    order_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    audit: Optional[list] = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body for CONTINUOUS sequence packing: each
    micro-batch's documents get token-stream spans that CONTINUE from
    the previous batch's end offset, so the union of all manifests is
    one gap-free concat-and-chunk stream — the streaming twin of
    ``llm.packing.pack_chunks`` (which packs a bounded batch).

    The carried state is a single scalar (the stream's end offset),
    persisted as an atomically-renamed JSON file in ``state_path``
    together with the last applied batch id: a foreachBatch replay of
    the SAME batch (the at-least-once failure mode) is detected and
    skipped. That covers replays after the state write; a crash in the
    window between ``manifest_writer`` succeeding and the state write
    re-runs the batch with the SAME spans and batch id, so
    ``manifest_writer`` MUST be idempotent per batch id (write to a
    per-batch partition with overwrite, as the test does; a blind
    append would duplicate that batch's rows). With an idempotent
    writer the sink is effectively-once end-to-end. Within a batch the
    packing itself is the distributed range-partition shape; across
    batches only the scalar crosses — no growing state.
    """
    import json
    import os

    from ..llm.packing import pack_chunks

    state_file = os.path.join(state_path, "packing_state.json")

    def _read_state():
        if not os.path.exists(state_file):
            return {"batch_id": -1, "end_off": 0}
        with open(state_file) as f:
            return json.load(f)

    def _write_state(st) -> None:
        os.makedirs(state_path, exist_ok=True)
        tmp = state_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(st, f)
        os.replace(tmp, state_file)

    def pack_batch(batch_df: DataFrame, batch_id: int) -> None:
        st = _read_state()
        if batch_id <= st["batch_id"]:
            return  # replayed batch: manifest already written
        base = int(st["end_off"])
        batch_df = batch_df.localCheckpoint()
        n = batch_df.count()
        if n == 0:
            _write_state({"batch_id": batch_id, "end_off": base})
            if audit is not None:
                audit.append((batch_id, 0, base))
            return
        packed = pack_chunks(
            batch_df, order_col=order_col, tokens_col=tokens_col,
            budget=budget,
        )
        # shift into the stream's global offset space, then re-derive
        # the chunk range from the shifted offsets (exact integer DIV)
        shifted = (
            packed.withColumn("start_off", F.col("start_off") + F.lit(base))
            .withColumn("end_off", F.col("end_off") + F.lit(base))
            .withColumn("chunk_first", F.expr(f"start_off DIV {budget}"))
            .withColumn(
                "chunk_last",
                F.greatest(
                    F.col("chunk_first"), F.expr(f"(end_off - 1) DIV {budget}")
                ),
            )
            .withColumn(
                "n_chunks",
                F.col("chunk_last") - F.col("chunk_first") + F.lit(1),
            )
            .localCheckpoint()  # manifest computed once; max() below reuses
        )
        new_end = shifted.agg(F.max("end_off")).collect()[0][0]
        manifest_writer(shifted, batch_id)
        _write_state({"batch_id": batch_id, "end_off": int(new_end)})
        if audit is not None:
            audit.append((batch_id, n, int(new_end)))

    return pack_batch


def streaming_drift_sink(
    ref_hist: DataFrame,
    audit: list,
    value_col: str = "value",
    group_col: str = "event_type",
    n_buckets: int = 10,
    bucket_width: float = 25.0,
    alert_micro: int = 50_000,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body for CONTINUOUS distribution-drift
    monitoring: every micro-batch's value histogram is scored (PSI,
    integer-ppm, add-one smoothing) against a FROZEN reference
    histogram — the streaming twin of
    :func:`..operators.quality.drift_psi`, sharing its
    ``psi_from_grid`` algebra so batch and streaming verdicts agree
    bit-for-bit on identical windows.

    ``ref_hist`` is the dense (grp, bucket, rc) frame from
    :func:`..operators.quality.reference_histogram`, localCheckpoint()ed
    here once — per batch the only work is one bounded-key aggregate
    over the batch plus a grid-sized join (the reference is never
    rescanned). ``audit`` collects one envelope per (batch, group):
    ``(batch_id, group, n_ref, n_cur, psi_micro, worst_bucket,
    drifted)`` — bounded rows, the alert input of a production monitor.

    Scale: per micro-batch cost is batch-sized + grid-sized; history
    length and reference size never enter (the frozen histogram IS the
    compressed reference).
    """
    from ..operators.quality import bucketize, psi_from_grid

    frozen = ref_hist.localCheckpoint()

    def drift_batch(batch_df: DataFrame, batch_id: int) -> None:
        # an empty micro-batch (rate-limited/idle stream tick) carries
        # no distribution — scoring it against the reference would
        # emit max-drift noise rows, so it is skipped, not scored
        if batch_df.limit(1).count() == 0:
            return
        cur = (
            batch_df.select(
                F.col(group_col).alias("grp"),
                bucketize(value_col, n_buckets, bucket_width).alias("bucket"),
            )
            .groupBy("grp", "bucket")
            .agg(F.count(F.lit(1)).alias("cc"))
        )
        full = frozen.join(cur, ["grp", "bucket"], "left").select(
            "grp",
            "bucket",
            "rc",
            F.coalesce("cc", F.lit(0)).cast("long").alias("cc"),
        )
        rows = psi_from_grid(full, n_buckets, alert_micro).collect()
        for r in sorted(rows, key=lambda r: r["grp"]):
            audit.append(
                (
                    batch_id,
                    r["grp"],
                    r["n_ref"],
                    r["n_cur"],
                    r["psi_micro"],
                    r["worst_bucket"],
                    r["drifted"],
                )
            )

    return drift_batch
