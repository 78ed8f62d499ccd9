"""Job 5: ``corpus_prep_etl`` — the corpus ASSEMBLY workflow that
follows cleaning/dedup (``corpus_dedup_etl``): turn a clean document
table into a training-ready packed manifest.

Stages (every one an operator with its own oracled query in the
inventory; this job is their orchestrated composition, envelope model
per the reference's job services — ``services/jcap_pa_etl_service.py:
40-107``):

1. decontaminate — drop docs sharing word n-grams with the benchmark
   table beyond a ratio threshold (``llm.decontam``; eval grams
   broadcast);
2. mixture      — per-domain epoch plan under a repetition cap
   (``llm.sampling.mixture_plan``) then fractional-epoch
   materialization (``resample_epochs``; hash-gated, reproducible);
3. shuffle      — deterministic global training order = rank of
   md5(doc_id ':' copy) (``operators.ranks.global_rank`` — range
   partitioned, no one-partition sort);
4. pack         — concat-and-chunk span assignment at the configured
   sequence length (``llm.packing.pack_chunks``);
5. write        — the packed manifest (doc, copy, order, span, chunks)
   to the catalog, load_date-partitioned: staging first (validate
   before touching the destination), then a dynamic per-partition
   replace of that run's date — prior dates survive, re-runs are
   idempotent, and date-filtered readers scan only their partition.
   Audit numbers ride the write via ``operators.observe`` (no
   dedicated count scans).

Scale posture: one broadcast probe + one doc-key shuffle (stage 1),
zero-shuffle explode (stage 2), two range-partition passes (stages
3-4), one write — the corpus is never collected, sorted on one
partition, or re-scanned for audits.
"""

from __future__ import annotations

from datetime import datetime
from typing import Any, Dict, Optional

from pyspark.sql import functions as F

from ..core.cache import scoped_caches
from ..llm.decontam import ngram_contamination
from ..llm.packing import pack_chunks
from ..llm.sampling import mixture_plan, resample_epochs
from ..llm.text import words_of
from ..operators.observe import metrics_of, with_metrics
from ..operators.ranks import global_rank
from ..sources.catalog import Catalog


class CorpusPrepService:
    def __init__(
        self,
        catalog: Catalog,
        source_table: str = "corpus.documents_clean",
        benchmark_table: str = "corpus.benchmarks",
        dest_table: str = "corpus.packed_manifest",
        domain_col: str = "lang",
        target_weights: Optional[Dict[str, float]] = None,
        max_epochs: float = 4.0,
        max_contamination: float = 0.05,
        seq_len: int = 256,
        shuffle_salt: str = "prep1",
    ) -> None:
        self.catalog = catalog
        self.source_table = source_table
        self.benchmark_table = benchmark_table
        self.dest_table = dest_table
        self.domain_col = domain_col
        self.target_weights = target_weights or {
            "en": 0.5, "de": 0.125, "es": 0.125, "fr": 0.125, "zh": 0.125,
        }
        self.max_epochs = max_epochs
        self.max_contamination = max_contamination
        self.seq_len = seq_len
        self.shuffle_salt = shuffle_salt

    def run_corpus_prep_etl(
        self, load_date: Optional[str] = None
    ) -> Dict[str, Any]:
        start_time = datetime.now()
        if not load_date:
            load_date = datetime.now().strftime("%Y-%m-%d")

        # every persist of the run (the decontaminated corpus, the
        # ranked and packed frames) is released when the run ends,
        # on the failure paths too
        with scoped_caches(self.catalog.spark):
            docs = self.catalog.read_table(self.source_table)
            docs, in_obs = with_metrics(docs, n_input=F.count(F.lit(1)))

            # 1. decontamination: keep docs below the overlap threshold.
            # Docs too short to produce n-grams have no contamination row —
            # kept (nothing to match is the conservative KEEP direction
            # here, opposite of dedup's novelty default, because dropping
            # unprovably-contaminated data loses corpus for no evidence.)
            bench = self.catalog.read_table(self.benchmark_table)
            contaminated = (
                ngram_contamination(docs, bench)
                .filter(F.col("contamination_ratio") > self.max_contamination)
                .select("doc_id")
            )
            kept = docs.join(contaminated, "doc_id", "left_anti")
            kept, kept_obs = with_metrics(kept, n_kept=F.count(F.lit(1)))
            # persisted: the decontamination chain (corpus scan, n-gram
            # explode, broadcast probe, anti-join) feeds BOTH the mixture
            # plan collect and the final manifest write — unpersisted it
            # would run twice, doubling the most expensive stage
            from pyspark import StorageLevel

            kept = kept.persist(StorageLevel.MEMORY_AND_DISK)

            # 2. mixture: plan (bounded per-domain rows) then materialize
            plan_rows = mixture_plan(
                kept, self.domain_col, self.target_weights, self.max_epochs
            ).collect()  # one row per target domain — a scalar envelope
            epochs = {r[self.domain_col]: r["epochs"] for r in plan_rows}
            missing = sorted(set(self.target_weights) - set(epochs))
            if missing:
                # a target domain absent from the (decontaminated) corpus
                # means the configured mixture is unachievable — failing
                # beats silently shipping a corpus with that share at zero
                raise RuntimeError(
                    f"target domain(s) {missing} absent from "
                    f"{self.source_table}.{self.domain_col} after "
                    f"decontamination; achievable domains: {sorted(epochs)}"
                )
            emitted = resample_epochs(
                kept, key_col="doc_id", domain_col=self.domain_col, epochs=epochs
            )

            # 3. deterministic training order over (doc_id, copy)
            key_hash = F.md5(
                F.concat(
                    F.lit(self.shuffle_salt),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("copy").cast("string"),
                )
            )
            ordered = global_rank(
                emitted.withColumn("__h", key_hash),
                [F.col("__h"), F.col("doc_id"), F.col("copy")],
                rank_col="shuffle_pos",
            ).select(*emitted.columns, "shuffle_pos")

            # 4. pack at seq_len over the shuffled order. Token counting
            # filters zero-length "words": split('', '\\s+') yields [''],
            # so a raw size() would bill an empty/whitespace-only document
            # one token and hand it a non-empty span in the manifest —
            # blank docs must get the zero-token empty span the packing
            # contract describes (same filter bpe_encode_stats applies).
            packed = pack_chunks(
                ordered.withColumn(
                    "n_tokens",
                    F.size(
                        F.filter(
                            words_of(F.col("text")),
                            lambda w: F.length(w) >= 1,
                        )
                    ).cast("long"),
                ),
                order_col="shuffle_pos",
                tokens_col="n_tokens",
                budget=self.seq_len,
            ).select(
                "doc_id", "copy", self.domain_col, "shuffle_pos", "n_tokens",
                "start_off", "end_off", "chunk_first", "chunk_last", "n_chunks",
            ).withColumn("load_date", F.lit(load_date))

            # 5. write to a STAGING table first (jcap backup discipline):
            # validating AFTER an overwrite of the destination would
            # destroy the previous good manifest on the failure path
            packed, out_obs = with_metrics(
                packed,
                n_emitted=F.count(F.lit(1)),
                total_tokens=F.max("end_off"),
            )
            staging = f"{self.dest_table}__staging"
            self.catalog.write_table(
                packed, staging, mode="overwrite", partition_by=["load_date"]
            )

            out = metrics_of(out_obs)
            n_emitted = int(out["n_emitted"])
            total_tokens = int(out["total_tokens"]) if n_emitted else 0
            if n_emitted == 0:
                raise RuntimeError(
                    "corpus prep produced an empty manifest; destination "
                    f"{self.dest_table} left untouched (staging: {staging})"
                )
            # dynamic per-partition replace: each run lands ONE load_date
            # partition; prior dates survive, a re-run of the same date is
            # idempotent, and downstream date-filtered readers get
            # PartitionFilters in the scan instead of a full-table read —
            # the 100 TB posture for a daily corpus-prep cadence
            # (plan-gated in tests/test_jobs.py)
            self.catalog.overwrite_partitions(
                self.catalog.read_table(staging),
                self.dest_table,
                partition_by=["load_date"],
            )
            n_input = int(metrics_of(in_obs)["n_input"])
            n_kept = int(metrics_of(kept_obs)["n_kept"])

            end_time = datetime.now()
            return {
                "status": "Success",
                "rows_processed": n_emitted,
                "n_input": n_input,
                "n_contaminated_dropped": n_input - n_kept,
                "mixture_plan": {
                    r[self.domain_col]: {
                        "n_avail": r["n_avail"],
                        "n_target": r["n_target"],
                        "epochs": r["epochs"],
                    }
                    for r in plan_rows
                },
                "total_tokens": total_tokens,
                "n_chunks": (total_tokens + self.seq_len - 1) // self.seq_len,
                "seq_len": self.seq_len,
                "start_time": start_time,
                "end_time": end_time,
                "duration_seconds": (end_time - start_time).total_seconds(),
                "source_table": self.source_table,
                "destination_table": self.dest_table,
                "load_date": load_date,
            }
