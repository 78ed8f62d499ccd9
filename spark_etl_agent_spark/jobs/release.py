"""Job 7: ``corpus_release_etl`` — versioned corpus publishing.

A training corpus is a RELEASED ARTIFACT: downstream training runs
must be able to name the exact version they consumed, see what changed
since the previous release, and roll back a bad one. The reference has
no versioning at all (its loads overwrite in place); this job composes
the engine's existing primitives into the release workflow:

1. **gate** — :func:`..operators.quality.expectation_report` contract
   check on the candidate corpus (hard abort before anything is
   published).
2. **publish** — :class:`..sources.versioned.VersionedTable.write`:
   immutable ``v=N`` directory + crash-safe pointer flip (Delta-lite;
   a reader never observes a half-written version).
3. **diff** — :func:`..operators.cdc.snapshot_diff` against the
   previous version: per-doc insert/update/delete counts — the
   "what changed since v(N−1)" release note, computed from the two
   version directories with one full-outer join.
4. **datacard** — the per-lang/per-source/total GROUPING SETS rollup
   (one scan) written next to the release as
   ``<name>_datacard/v=N``.

Scale: publish is a write of the candidate frame; diff is one
full-outer join on the doc key; the datacard is one bounded-key scan.
Nothing collects data rows — the envelope carries only the bounded
diff/datacard summaries.
"""

from __future__ import annotations

from datetime import datetime
from typing import Any, Dict, List, Optional

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..operators.cdc import snapshot_diff
from ..operators.quality import Expectation, expectation_report, not_null
from ..sources.catalog import Catalog
from ..sources.versioned import VersionedTable


class CorpusReleaseService:
    def __init__(
        self,
        catalog: Catalog,
        source_table: str = "staging.corpus",
        release_name: str = "corpus",
        keys: Optional[List[str]] = None,
        rules: Optional[List[Expectation]] = None,
    ) -> None:
        self.catalog = catalog
        self.source_table = source_table
        self.release_name = release_name
        self.keys = keys or ["doc_id"]
        self.rules = rules if rules is not None else [
            Expectation("doc_id_not_null", not_null("doc_id")),
            Expectation("text_not_null", not_null("text")),
        ]

    def _versioned(self) -> VersionedTable:
        return VersionedTable(
            self.catalog.spark, self.catalog.root, self.release_name
        )

    def run_corpus_release(
        self, load_date: Optional[str] = None
    ) -> Dict[str, Any]:
        start_time = datetime.now()
        if not load_date:
            load_date = datetime.now().strftime("%Y-%m-%d")

        candidate = self.catalog.read_table(self.source_table)

        exp_rows = expectation_report(candidate, self.rules).collect()
        failed = [r.rule for r in exp_rows if not r.passed]
        if failed:
            return {
                "job_type": "corpus_release_etl",
                "status": "Failed",
                "error": f"release contract violated: {failed}",
                "load_date": load_date,
                "duration_seconds": (
                    datetime.now() - start_time
                ).total_seconds(),
            }

        vt = self._versioned()
        prev = vt.current_version()
        version = vt.write(candidate)

        diff_summary: Dict[str, int] = {}
        if prev is not None:
            diff = snapshot_diff(
                vt.read(prev), vt.read(version), keys=self.keys
            )
            # bounded: one row per change type
            for r in (
                diff.groupBy("change_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            ):
                diff_summary[r["change_type"]] = r["n"]

        # the row count rides the write job, so the GROUPING SETS query
        # runs once
        card_obs = Observation()
        card = self.catalog.spark.sql(
            _DATACARD_SQL.format(view=self._register_candidate(candidate))
        ).observe(card_obs, F.count(F.lit(1)).alias("n"))
        self.catalog.write_table(
            card,
            f"{self.release_name}_datacard.v_{version}",
            mode="overwrite",
        )
        n_docs = next(
            (r.n_rows for r in exp_rows), 0
        )  # expectation_report carries the scan's row count

        return {
            "job_type": "corpus_release_etl",
            "status": "Success",
            "load_date": load_date,
            "version": version,
            "previous_version": prev,
            "n_docs": n_docs,
            "diff": diff_summary,
            "datacard_rows": int(card_obs.get["n"]),
            "duration_seconds": (
                datetime.now() - start_time
            ).total_seconds(),
        }

    def _register_candidate(self, df: DataFrame) -> str:
        view = f"__release_candidate_{self.release_name}"
        df.createOrReplaceTempView(view)
        return view

    def rollback(self, version: int) -> Dict[str, Any]:
        """Pointer-flip rollback to a prior release (no data move)."""
        vt = self._versioned()
        vt.rollback(version)
        return {
            "job_type": "corpus_release_etl",
            "status": "Success",
            "action": "rollback",
            "version": version,
        }


_DATACARD_SQL = """
SELECT lang, source,
  count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
  CAST(sum(CASE WHEN n_chars < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
FROM {view}
GROUP BY GROUPING SETS ((lang), (source), ())
"""
