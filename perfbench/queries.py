"""The ``corpus_llm`` workload: declared specs of the corpus families of
``queries/`` run to the noop sink, one spec per op, in a seed-permuted
order.

Output checks. The untimed warm-up pass collects each spec's result and
compares it, order-insensitively and at full precision, with the spec's
DuckDB oracle run on the same generated tables (the comparison the
parity tests use). While that verified result is produced, Spark also
computes a fingerprint of it: row count plus two order-insensitive
folds of a per-row 64-bit hash. Every timed op attaches the same
fingerprint through ``DataFrame.observe`` (no extra job; the noop write
still executes the whole plan) and must reproduce the stored value.
"""

from __future__ import annotations

import random
import time
from typing import Dict, List

import duckdb
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from spark_etl_agent_spark.core.cache import scoped_caches
from spark_etl_agent_spark.queries import base

from tests.parity import canonical_rows

FAMILIES = ("dedup", "text", "pretrain")
# the table the specs read
TABLES = ("documents",)

# A fixed op list, the same for every seed: the shuffle-heavy MinHash/LSH
# dedup core; an iterative spec whose build launches Spark jobs eagerly,
# a fixed number whatever the seed (BPE training collects the best pair
# for each of its 6 merges); and light operators of the dedup and
# pretrain families. The full families (105 specs) take minutes per
# pass, far beyond one run. (``neardup_components`` is left out: its
# label propagation runs 27 to 39 rounds depending on the seed, so its
# cost would follow the seed.)
SPECS = (
    "minhash_near_duplicates",
    "bpe_encode_corpus",
    "exact_dedup",
    "chunk_documents",
)


def select_specs() -> Dict[str, tuple]:
    """Family and spec of every op, by spec name."""
    out = {}
    for mod in base._collect_modules():
        fam = mod.__name__.rsplit(".", 1)[-1]
        if fam in FAMILIES:
            for name, spec in mod.QUERIES.items():
                if name in SPECS:
                    out[name] = (fam, spec)
    return out


def _fingerprint_exprs(df):
    cols = [
        F.to_json(F.col(f"`{f.name}`")) if isinstance(f.dataType, MapType) else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    h = F.xxhash64(*cols)
    return (
        F.count(F.lit(1)).alias("fp_rows"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("fp_sum"),
        F.bit_xor(h).alias("fp_xor"),
    )


def _observed(df):
    obs = Observation()
    return df.observe(obs, *_fingerprint_exprs(df)), obs


def _fingerprint(obs) -> tuple:
    got = obs.get
    return (int(got["fp_rows"]), int(got["fp_sum"] or 0), int(got["fp_xor"] or 0))


def _duck_df(con, sql: str):
    rel = con.sql(sql)
    pdf = rel.df()
    for col, typ in zip(rel.columns, rel.types):
        if str(typ) == "DATE":
            pdf[col] = pdf[col].dt.date
    return pdf


class QueryWorkload:
    """One op = one spec's build (the spec function returning its
    DataFrame, including any Spark jobs it runs eagerly) plus its
    execution through the noop sink."""

    def __init__(self, spark, data_dir: str, seed: int, probe, tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.probe = probe
        self.tracer = tracer
        self.specs = select_specs()
        self.order: List[str] = sorted(self.specs)
        random.Random(seed).shuffle(self.order)
        self.fingerprints: Dict[str, tuple] = {}
        self.problems: List[str] = []
        self.checks_run = 0
        self.verify_s = 0.0  # the oracle checks run after the timed phase

    def prepare(self) -> None:
        """Nothing to stage: the generated tables are the whole fixture,
        and the specs read them directly."""

    def warm_up(self, timer) -> None:
        """One untimed, cold pass over every op: it runs each spec once,
        keeps its result for ``verify`` and stores the fingerprint the
        timed ops must reproduce."""
        self.results = {}
        for name in self.order:
            _fam, spec = self.specs[name]
            try:
                with scoped_caches(self.spark):
                    df, obs = _observed(spec.spark(self.spark, self.data_dir))
                    self.results[name] = df.toPandas()
                    self.fingerprints[name] = _fingerprint(obs)
            except Exception as e:  # noqa: BLE001 - reported, run goes on
                self.problems.append(f"{name}: warm-up raised {type(e).__name__}: {e}")

    def verify(self) -> None:
        """Check each warm-up result against the spec's DuckDB oracle on
        the same generated tables."""
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data_dir}/{t}.parquet')"
                )
            for name, got in self.results.items():
                self.problems.extend(self._verify(con, name, self.specs[name][1], got))
                self.checks_run += 1
        finally:
            con.close()
        self.results = {}

    def _verify(self, con, name, spec, spark_pdf) -> List[str]:
        if spec.oracle is None:
            return [f"{name}: no oracle to check against"]
        duck_pdf = _duck_df(con, spec.oracle)
        if len(duck_pdf) == 0:
            return [f"{name}: oracle returned 0 rows"]
        if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
            return [f"{name}: column sets differ"]
        if canonical_rows(spark_pdf) != canonical_rows(duck_pdf):
            return [f"{name}: rows differ from the oracle"]
        if self.fingerprints[name][0] != len(spark_pdf):
            return [f"{name}: fingerprint row count differs"]
        return []

    def run_pass(self, ops: list, timer) -> None:
        """Run every op once, appending one record per op to ``ops``."""
        for name in self.order:
            fam, spec = self.specs[name]
            rec = {"id": len(ops), "name": name, "group": fam, "ok": False}
            ops.append(rec)
            with timer.op(rec):
                with self.tracer.span("queries.build"):
                    df = spec.spark(self.spark, self.data_dir)
                rec["build_s"] = time.perf_counter() - rec["t0"]
                rec["j_exec"] = self.probe.next_job_id()
                with self.tracer.span("queries.exec"):
                    observed, obs = _observed(df)
                    observed.write.format("noop").mode("overwrite").save()
                rec["exec_s"] = time.perf_counter() - rec["t0"] - rec["build_s"]
                if self.tracer.enabled:
                    rec["plan_ms"] = self.probe.catalyst_ms(df)
                self.checks_run += 1
                rec["ok"] = _fingerprint(obs) == self.fingerprints.get(name)
                if not rec["ok"]:
                    self.problems.append(f"{name}: timed output fingerprint differs")
            if "error" in rec:
                self.problems.append(f"{name}: raised {rec['error']}")

    def per_layer(self, ops: list, snap) -> dict:
        """Query-layer metrics of one pass: sums split at the build/exec
        boundary, and mean op seconds per family."""
        done = [r for r in ops if "j_exec" in r]
        b = snap.sums([(r["j"][0], r["j_exec"]) for r in done])
        e = snap.sums([(r["j_exec"], r["j"][1]) for r in done])
        out = {
            "queries.build_s": sum(r["build_s"] for r in done),
            "queries.build_jobs": b["jobs"],
            "queries.exec_s": sum(r["exec_s"] for r in done),
            "queries.exec_jobs": e["jobs"],
            "queries.exec_stages": e["stages"],
            "queries.exec_tasks": e["numTasks"],
        }
        for fam in FAMILIES:
            vals = [r["s"] for r in ops if r["group"] == fam]
            out[f"queries.{fam}.op_s"] = sum(vals) / len(vals) if vals else 0.0
        return out
