"""jobs/extract_job.py end to end, in-process: a run followed by a
``--resume`` of the same run id must leave exactly one spans row per
document and metrics whose ``docs_in`` sum to the corpus size — also when
the run id carries a quote.

``main()`` ends with ``spark.stop()``; the test replaces
``SparkSession.stop`` with a no-op while it runs so the module's session
survives between the two submissions.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

from oxidizepdf_spark.corpus import generate_corpus

JOB = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "jobs",
    "extract_job.py",
)


@pytest.fixture(scope="module")
def spark():
    from oxidizepdf_spark.table_io import get_spark

    s = get_spark(app_name="pytest-extract-job", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _submit(monkeypatch, args: list[str]) -> None:
    from pyspark.sql import SparkSession

    spec = importlib.util.spec_from_file_location("extract_job", JOB)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    with monkeypatch.context() as m:
        m.setattr(SparkSession, "stop", lambda self: None)
        m.setattr(sys, "argv", ["extract_job.py", *args])
        job.main()


def test_resume_with_quoted_run_id_writes_each_document_once(
    spark, tmp_path, monkeypatch
):
    from oxidizepdf_spark.table_io import DOCS_SCHEMA

    pairs = list(generate_corpus(n_docs=40, seed=5, mega_doc_rate=0.0, n_parts=4))
    rows = [
        (
            r["doc_id"],
            r["part_id"],
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]],
        )
        for r, _ in pairs
    ]
    inp, out, met = (str(tmp_path / n) for n in ("docs_raw", "docs_spans", "run_metrics"))
    spark.createDataFrame(rows, DOCS_SCHEMA).write.partitionBy("part_id").parquet(inp)

    args = ["--input", inp, "--output", out, "--metrics", met, "--run-id", "o'brien"]
    _submit(monkeypatch, args)
    _submit(monkeypatch, args + ["--resume"])

    spans = spark.read.parquet(out)
    assert spans.count() == spans.select("doc_id").distinct().count() == len(pairs)
    metrics = spark.read.parquet(met)
    assert metrics.groupBy().sum("docs_in").first()[0] == len(pairs)
