"""Round-11 ADVICE regression pins.

1. queries.base._latest_driver_rounds counts only GREEN driver rows —
   a red row (rows_match null / err set) must not mask a name's
   staleness from the rotation guard.
2. scripts/plan_gate._current_tag derives the round from the newest
   NOTES_r*.md (or an explicit SPARK_GRAFT_ROUND_TAG), not newest
   CORRECTNESS + 1 — the committed-artifact +1 rule silently ignored
   the current round's PLAN-WAIVER lines.
3. scripts/merge_paired rejects a tag without an r<digits> substring
   with a clear message instead of an AttributeError.
4. The pagerank symmetric sort-merge path driven by an above-gate
   n_nodes_hint is value-identical to the broadcast path on a larger
   graph than the unit fixture (the hinted-SMJ branch the r10 test
   never actually exercised; see also
   tests/test_round5_ops.py::test_pagerank_hinted_gate_is_lazy_and_value_identical).
"""

import json
import os
import subprocess
import sys

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
    ),
)


def test_latest_driver_rounds_ignores_red_rows(tmp_path, monkeypatch):
    from spark_etl_agent_spark.queries import base

    green = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "err": None,
    }
    red = {
        "rows_match": None,
        "schema_match": None,
        "hash_match": None,
        "err": "AnalysisException: boom",
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_ok": green, "q_red": red})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_ok": red, "q_red": green})
    )
    # the function locates the repo root as Path(__file__).parents[2]
    monkeypatch.setattr(
        base, "__file__", str(tmp_path / "pkg" / "queries" / "base.py")
    )
    latest = base._latest_driver_rounds(99)
    # q_red's red r01 row is ignored (its green row is r02); q_ok's red
    # r02 row must NOT advance it past its green r01 row
    assert latest == {"q_ok": 1, "q_red": 2}
    # rows newer than the window round are excluded as before
    assert base._latest_driver_rounds(2) == {"q_ok": 1}


def test_plan_gate_tag_from_notes_and_env(tmp_path, monkeypatch):
    import plan_gate

    monkeypatch.setattr(plan_gate, "_repo_root", lambda: str(tmp_path))
    monkeypatch.delenv("SPARK_GRAFT_ROUND_TAG", raising=False)
    # CORRECTNESS for r11 already committed AND NOTES at r11: the tag
    # must stay r11 (the old +1-over-CORRECTNESS rule said r12, which
    # silently dropped r11's PLAN-WAIVER lines)
    (tmp_path / "CORRECTNESS_r11.json").write_text("{}")
    (tmp_path / "NOTES_r11.md").write_text("PLAN-WAIVER: q — reason\n")
    assert plan_gate._current_tag() == "r11"
    assert "q" in plan_gate._waivers("r11")
    monkeypatch.setenv("SPARK_GRAFT_ROUND_TAG", "r7")
    assert plan_gate._current_tag() == "r07"
    monkeypatch.setenv("SPARK_GRAFT_ROUND_TAG", "banana")
    try:
        plan_gate._current_tag()
    except SystemExit as e:
        assert "banana" in str(e)
    else:
        raise AssertionError("invalid round tag must SystemExit")


def test_merge_paired_rejects_tag_without_round_number():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(root, "scripts", "merge_paired.py"),
            "final",
        ],
        capture_output=True,
        text=True,
    )
    assert proc.returncode != 0
    assert "r<digits>" in (proc.stdout + proc.stderr)


def test_pagerank_hinted_smj_values_on_larger_graph(spark):
    from pyspark.sql import functions as F

    from spark_etl_agent_spark.core.cache import scoped_caches
    from spark_etl_agent_spark.operators.pagerank import pagerank

    pairs = {(i, (i * 13 + 5) % 211) for i in range(1, 211)}
    rows = sorted(pairs | {(b, a) for a, b in pairs})
    edges = spark.createDataFrame(rows, "src long, dst long").filter(
        F.col("src") != F.col("dst")
    )
    # scoped: pagerank's per-round checkpoints are released here
    with scoped_caches(spark):
        base_rows = sorted(
            map(tuple, pagerank(edges, iters=3, symmetric=True).collect())
        )
        smj_rows = sorted(
            map(
                tuple,
                pagerank(
                    edges,
                    iters=3,
                    symmetric=True,
                    n_nodes_hint=10_000_000,  # above the 4M gate → SMJ
                ).collect(),
            )
        )
    assert smj_rows == base_rows
    assert len(base_rows) > 100
