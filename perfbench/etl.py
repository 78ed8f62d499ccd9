"""The ``etl_jobs`` workload: a seeded schedule of days. Each day calls
``JobService.execute_job`` once for each job type of ``JOB_ORDER``,
against one catalog whose state carries over from day to day.

The day holds two stateful corpus jobs, which between them write
through ``sources/`` in two ways and run the streaming layer: a
foreachBatch stream that probes a dedup index and appends to it
(``corpus_ingest_etl``; the index stays below its compaction
threshold) and a versioned publish (``corpus_release_etl``). The other
registered job types add about 30 s a day on a 4-core host, more than a
run has; ``corpus_prep_etl`` is also left out because at ``local[4]``
its packed manifest is not gap-free (``operators/ranks.py::global_rank``
evaluates one range repartition twice), and the benchmark only runs ops
that succeed.

Before each day the benchmark delivers that day's inputs with pyarrow,
so staging costs no Spark work:

- a document delivery for ``corpus_ingest_etl``: fresh documents, exact
  copies and near-duplicates (text plus " dup") of documents accepted
  on earlier days;
- a release candidate for ``corpus_release_etl`` with seeded inserts,
  updates and deletes against the previous candidate, starting from the
  generated documents.

Each job's result envelope is checked against the invariants
``tests/test_jobs.py`` asserts, using the counts the generator knows.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from typing import Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from spark_etl_agent_spark.jobs.alerts import LogAlerter
from spark_etl_agent_spark.jobs.registry import JOB_TYPE_INFO, JobService

from . import datagen
from .probes import TimedCatalog, parquet_files

# every job reads staged inputs, so the order within a day is free
JOB_ORDER = (
    "corpus_ingest_etl",
    "corpus_release_etl",
)
assert set(JOB_ORDER) <= set(JOB_TYPE_INFO)

WARM_UP_DAYS = 2
DELIVERIES_PER_DAY = 1
DELIVERY_DOCS = 40
RELEASE_CHANGES = 10

# the tables the benchmark writes with pyarrow before each day
INPUT_TABLES = ("corpus.incoming", "staging.corpus")

ENVELOPE_KEYS = {"job_id", "job_name", "job_type", "job_description", "environment"}


def _write_parquet(cols, path: str) -> None:
    """Replace the table directory ``path`` with one parquet file of
    ``cols`` (a table or a column dict)."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    table = cols if isinstance(cols, pa.Table) else pa.table(cols)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


class EtlWorkload:
    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.root = os.path.join(work_dir, "catalog")
        self.stage_path = os.path.join(work_dir, "stage")
        self.tracer = tracer
        self.rng = np.random.default_rng([seed, 1])
        self.day = 0
        self.problems: List[str] = []
        self.checks_run = 0
        self.verify_s = 0.0
        self.catalog = TimedCatalog(spark, self.root, tracer)
        self.service = JobService(
            self.catalog, stage_path=self.stage_path, alerter=LogAlerter()
        )

    # -- fixture -----------------------------------------------------------

    def prepare(self) -> None:
        """Start the schedule's state: nothing accepted yet, and the
        generated documents as the first release candidate."""
        docs = pq.read_table(f"{self.data_dir}/documents.parquet")

        self.accepted_texts: List[str] = []
        self.accepted_rows = 0
        self.next_doc = 1_000_000
        self.release = docs.to_pydict()
        self.release_version = 0
        self.next_release_doc = 2_000_000

    # -- daily inputs --------------------------------------------------------

    def _deliveries(self) -> None:
        incoming = self.catalog.path(INPUT_TABLES[0])
        os.makedirs(incoming, exist_ok=True)
        self.delivered = self.fresh = self.near = 0
        fresh_texts = []
        for k in range(DELIVERIES_PER_DAY):
            ids, texts = [], []
            for _ in range(DELIVERY_DOCS):
                u = self.rng.random()
                if self.accepted_texts and u < 0.15:
                    src = self.accepted_texts[int(self.rng.integers(0, len(self.accepted_texts)))]
                    texts.append(src + " dup")
                    self.near += 1
                elif self.accepted_texts and u < 0.25:
                    texts.append(
                        self.accepted_texts[int(self.rng.integers(0, len(self.accepted_texts)))]
                    )
                else:
                    texts.append(datagen.doc_text(self.rng, int(self.rng.integers(5, 31))))
                    fresh_texts.append(texts[-1])
                    self.fresh += 1
                ids.append(self.next_doc)
                self.next_doc += 1
            path = os.path.join(incoming, f"d{self.day:04d}_{k}.parquet")
            pq.write_table(
                pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), path
            )
            stamp = 1_000_000 + (self.day * DELIVERIES_PER_DAY + k) * 1000
            os.utime(path, (stamp, stamp))
            self.delivered += len(ids)
        self.new_fresh_texts = fresh_texts

    def _release_candidate(self) -> None:
        rel = self.release
        n = len(rel["doc_id"])
        self.release_prev_n = n
        if self.release_version == 0:
            self.release_diff = {}
        else:
            picks = self.rng.choice(n, 2 * RELEASE_CHANGES, replace=False)
            deleted = set(int(i) for i in picks[:RELEASE_CHANGES])
            updated = set(int(i) for i in picks[RELEASE_CHANGES:])
            out = {k: [] for k in rel}
            for i in range(n):
                if i in deleted:
                    continue
                for k in rel:
                    v = rel[k][i]
                    if k == "text" and i in updated:
                        v = v + f" v{self.day}"
                    if k == "n_chars" and i in updated:
                        v = v + len(f" v{self.day}")
                    out[k].append(v)
            fresh = datagen.documents(self.rng, RELEASE_CHANGES, self.next_release_doc)
            self.next_release_doc += RELEASE_CHANGES
            for k in out:
                out[k].extend(fresh[k])
            self.release = rel = out
            self.release_diff = {
                "insert": RELEASE_CHANGES,
                "update": RELEASE_CHANGES,
                "delete": RELEASE_CHANGES,
            }
        _write_parquet(
            {
                "doc_id": pa.array(rel["doc_id"], pa.int64()),
                "text": rel["text"],
                "lang": rel["lang"],
                "source": rel["source"],
                "n_chars": pa.array(rel["n_chars"], pa.int64()),
            },
            self.catalog.path(INPUT_TABLES[1]),
        )

    def deliver_day(self) -> None:
        self._deliveries()
        self._release_candidate()

    # -- the schedule ----------------------------------------------------------

    @property
    def load_date(self) -> str:
        return (dt.date(2026, 9, 1) + dt.timedelta(days=self.day)).isoformat()

    def warm_up(self, timer) -> None:
        """Days 0 and 1 of the schedule, untimed and checked like any
        other. Day 0's deliveries hold no duplicates (nothing is accepted
        yet), so day 1 is the first to run the duplicate-handling paths;
        timed, it cost a quarter more CPU than the day after it."""
        for _ in range(WARM_UP_DAYS):
            self.run_pass([], timer)
        self.phase_start = time.time()

    def verify(self) -> None:
        """Nothing left to check: each job's envelope is checked right
        after the job, outside its timing (``verify_s``)."""

    def run_pass(self, ops: list, timer) -> None:
        """One day: stage the day's inputs, then every job once."""
        self.deliver_day()
        for job_type in JOB_ORDER:
            rec = {"id": len(ops), "name": job_type, "group": job_type, "ok": False}
            ops.append(rec)
            cfg = {
                "id": f"{self.day}-{job_type}",
                "name": job_type,
                "type": job_type,
                "load_date": self.load_date,
            }
            env = None
            with timer.op(rec):
                with self.tracer.span(f"jobs.{job_type}"):
                    env = self.service.execute_job(cfg)
            v0 = time.perf_counter()
            self.checks_run += 1
            problems = [] if env is None else self.check(job_type, env)
            if "error" in rec:
                problems.append(f"raised {rec['error']}")
            rec["ok"] = not problems
            self.problems.extend(f"day {self.day} {job_type}: {p}" for p in problems)
            self.verify_s += time.perf_counter() - v0
        self.day += 1

    # -- envelope invariants ----------------------------------------------------

    def check(self, job_type: str, env: dict) -> List[str]:
        if env.get("status") != "Success":
            return [f"status {env.get('status')}: {str(env.get('error'))[:300]}"]
        if not ENVELOPE_KEYS <= set(env):
            return [f"envelope keys missing: {sorted(ENVELOPE_KEYS - set(env))}"]
        try:
            return getattr(self, f"_check_{job_type}")(env)
        except Exception as e:  # noqa: BLE001 - a check that cannot run fails
            return [f"check raised {type(e).__name__}: {str(e)[:300]}"]

    def _check_corpus_ingest_etl(self, env) -> List[str]:
        out = []
        if env["n_batches"] != DELIVERIES_PER_DAY:
            out.append(f"n_batches {env['n_batches']} != {DELIVERIES_PER_DAY}")
        if env["n_input"] != self.delivered:
            out.append(f"n_input {env['n_input']} != {self.delivered}")
        novel = env["n_novel"]
        # exact copies must go; fresh documents must stay; a near
        # duplicate may be missed by LSH, so it bounds from above only
        if not self.fresh <= novel <= self.fresh + self.near:
            out.append(f"n_novel {novel} outside [{self.fresh}, {self.fresh + self.near}]")
        if env["rows_processed"] != novel:
            out.append("rows_processed != n_novel")
        self.accepted_rows += novel
        n = self.catalog.get_table_count("corpus.accepted")
        if n != self.accepted_rows:
            out.append(f"accepted holds {n}, expected {self.accepted_rows}")
        self.accepted_texts.extend(self.new_fresh_texts)
        return out

    def _check_corpus_release_etl(self, env) -> List[str]:
        out = []
        self.release_version += 1
        if env["version"] != self.release_version:
            out.append(f"version {env['version']} != {self.release_version}")
        prev = self.release_version - 1 or None
        if env["previous_version"] != prev:
            out.append(f"previous_version {env['previous_version']} != {prev}")
        if env["diff"] != self.release_diff:
            out.append(f"diff {env['diff']} != {self.release_diff}")
        if env["n_docs"] != len(self.release["doc_id"]):
            out.append(f"n_docs {env['n_docs']} != {len(self.release['doc_id'])}")
        if env["datacard_rows"] < 3:
            out.append("datacard too small")
        return out

    # -- metrics ------------------------------------------------------------------

    def per_layer(self, ops: list, snap) -> Dict[str, float]:
        """Per job type: seconds and Spark jobs per call; the write
        layer's time, calls and files over the traced day."""
        out: Dict[str, float] = {}
        for job_type in JOB_ORDER:
            recs = [r for r in ops if r["group"] == job_type]
            out[f"jobs.{job_type}.s"] = sum(r["s"] for r in recs) / len(recs)
            out[f"jobs.{job_type}.spark_jobs"] = sum(
                r["j"][1] - r["j"][0] for r in recs
            ) / len(recs)
        writes = [s for s in self.tracer.spans if s["name"] == "sources.write"]
        out["sources.write_s"] = sum(s["end"] - s["start"] for s in writes)
        out["sources.write_calls"] = len(writes)
        out["sources.files_written"] = self.catalog.files_written
        return out

    def write_amp(self, ops: list, snap) -> float:
        """Bytes Spark wrote in the timed days over the bytes of parquet
        files those days left live in the catalog, not counting the
        inputs the benchmark delivered."""
        written = snap.sums([r["j"] for r in ops])["outputBytes"]
        inputs = tuple(self.catalog.path(t) + os.sep for t in INPUT_TABLES)
        live = sum(
            size
            for p, size in parquet_files(self.root, since=self.phase_start)
            if not p.startswith(inputs)
        )
        return written / live if live else 0.0
