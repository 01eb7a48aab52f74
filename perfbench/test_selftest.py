"""Self-test of the benchmark at tiny sizes.

    python3 -m pytest -q perfbench/test_selftest.py

Checks that every metric named in ``BENCHMARK.json`` is emitted with its
unit (timed and traced runs), and that the seed moves the staged corpus
and the expected outputs together.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


@pytest.fixture(autouse=True, scope="module")
def _work_dirs():
    """Keep the kernel's compiled cache and temp files in the work dir."""
    from perfbench import env

    env.configure()


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, docs: int = 160) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--docs", str(docs)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["job_mixed", "job_resume"])
def test_timed_run_emits_every_end_to_end_metric(workload):
    spec = _spec()
    report, result = _run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["attempted"] >= 1
    for m in spec["end_to_end"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert result["metrics"][m["name"]]["value"] > 0
    # the report line carries all eight job metrics with sample counts
    for name in ("wall_s", "docs_per_s", "setup_s", "peak_rss_mb", "failed_share",
                 "span_mismatch_docs", "duplicate_rows", "oracle_failures"):
        assert "n" in report["report"][name]
    assert report["report"]["span_mismatch_docs"]["value"] == 0
    if workload == "job_resume":  # the resume duplicate defect is measured
        assert report["report"]["duplicate_rows"]["value"] > 0


def test_traced_run_emits_every_per_layer_metric():
    spec = _spec()
    _, result = _run("job_mixed", 1)
    assert result["correct"]
    for m in spec["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    assert result["metrics"]["pipeline.kernel_calls_per_doc"]["value"] > 0


def test_seed_moves_corpus_and_expected_outputs_together():
    from perfbench import stage
    from perfbench.kernelpass import doc_inputs
    from oxidizepdf_spark.kernel.extract import extract_document_spans

    rows_a, exp_a = stage.generate(40, 1)
    rows_b, exp_b = stage.generate(40, 2)
    again_rows, again_exp = stage.generate(40, 1)
    assert rows_a == again_rows and exp_a == again_exp
    assert rows_a != rows_b and exp_a != exp_b
    # each seed's expected rows are what the kernel makes of that seed's input
    for rows, exp in ((rows_a, exp_a), (rows_b, exp_b)):
        for row, triples in zip(rows, doc_inputs(rows)):
            spans, _ = extract_document_spans(triples)
            assert [s[:3] for s in spans] == exp[row["doc_id"]]


def test_seed_moves_suite_tables():
    import pyarrow.parquet as pq

    from perfbench import suite

    a = pq.read_table(os.path.join(suite.stage(1), "documents.parquet"))
    b = pq.read_table(os.path.join(suite.stage(2), "documents.parquet"))
    a2 = pq.read_table(os.path.join(suite.stage(1), "documents.parquet"))
    assert a.equals(a2) and not a.equals(b)
