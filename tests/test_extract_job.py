"""jobs/extract_job.py end to end, in-process: a run followed by a
``--resume`` of the same run id must leave exactly one spans row per
document and metrics whose ``docs_in`` sum to the corpus size — also when
the run id carries a quote, and also when the first run crashed between
the spans write and the metrics write. Both writes must read one
persisted extraction, which the job releases when it ends, also when a
write fails, without touching frames the caller cached.

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


def _stage(spark, tmp_path, run_id: str) -> tuple[int, str, str, list[str]]:
    """40 documents in 4 parts as a parquet table; returns (documents,
    spans path, metrics path, job arguments)."""
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
    args = ["--input", inp, "--output", out, "--metrics", met, "--run-id", run_id]
    return len(pairs), out, met, args


def _assert_written_once(spark, n_docs: int, out: str, met: str) -> None:
    spans = spark.read.parquet(out)
    assert spans.count() == spans.select("doc_id").distinct().count() == n_docs
    metrics = spark.read.parquet(met)
    assert metrics.groupBy().sum("docs_in").first()[0] == n_docs


class _Crash(RuntimeError):
    pass


def _capture_writes(monkeypatch, fail_target: str | None = None) -> list:
    """Replace ``table_io.write_table``: record each (frame, target) and
    its optimized plan as planned at write time, then write — or raise
    ``_Crash`` instead when the target is ``fail_target``."""
    from oxidizepdf_spark import table_io

    real = table_io.write_table
    calls = []

    def write_table(df, target, *a, **kw):
        calls.append((df, target, df._jdf.queryExecution().optimizedPlan()))
        if target == fail_target:
            raise _Crash(target)
        real(df, target, *a, **kw)

    monkeypatch.setattr(table_io, "write_table", write_table)
    return calls


def _nodes(plan):
    """Every node of a logical plan, depth first; an InMemoryRelation is
    a leaf, so the plan it caches is not walked."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        out.append(node)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def _cached_relations(spark, plan) -> set[int]:
    """Identities of the cache entries an optimized plan reads."""
    identity = spark._jvm.java.lang.System.identityHashCode
    return {
        identity(n.cacheBuilder())
        for n in _nodes(plan)
        if n.nodeName() == "InMemoryRelation"
    }


def test_resume_with_quoted_run_id_writes_each_document_once(
    spark, tmp_path, monkeypatch
):
    n_docs, out, met, args = _stage(spark, tmp_path, "o'brien")
    _submit(monkeypatch, args)
    _submit(monkeypatch, args + ["--resume"])
    _assert_written_once(spark, n_docs, out, met)


def test_resume_after_crash_between_writes_replaces_spans(
    spark, tmp_path, monkeypatch
):
    """The first run dies after its spans landed but before its metrics
    (the resume marker) did; the resume must replace those spans, not
    add a second copy."""
    n_docs, out, met, args = _stage(spark, tmp_path, "crash")
    with monkeypatch.context() as m:
        _capture_writes(m, fail_target=met)
        with pytest.raises(_Crash):
            _submit(monkeypatch, args)
    assert spark.read.parquet(out).count() == n_docs
    _submit(monkeypatch, args + ["--resume"])
    _assert_written_once(spark, n_docs, out, met)


def test_both_writes_read_one_persisted_extraction(spark, tmp_path, monkeypatch):
    n_docs, out, met, args = _stage(spark, tmp_path, "once")
    with monkeypatch.context() as m:
        calls = _capture_writes(m)
        _submit(monkeypatch, args)
    assert [target for _, target, _ in calls] == [out, met]
    (spans_rel,), (metrics_rel,) = (_cached_relations(spark, p) for _, _, p in calls)
    assert spans_rel == metrics_rel
    for _, _, plan in calls:
        assert not [n for n in _nodes(plan) if "MapInArrow" in n.nodeName()]
    _assert_written_once(spark, n_docs, out, met)


@pytest.mark.parametrize("fail", [None, "spans", "metrics"])
def test_job_releases_its_cache_and_keeps_the_callers(
    spark, tmp_path, monkeypatch, fail
):
    from pyspark import StorageLevel

    _, out, met, args = _stage(spark, tmp_path, f"cache-{fail}")
    mine = spark.range(100).persist()
    mine.count()
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    try:
        with monkeypatch.context() as m:
            calls = _capture_writes(m, fail_target={"spans": out, "metrics": met}.get(fail))
            if fail is None:
                _submit(monkeypatch, args)
            else:
                with pytest.raises(_Crash):
                    _submit(monkeypatch, args)
        assert calls and all(_cached_relations(spark, p) for _, _, p in calls)
        cache = spark._jsparkSession.sharedState().cacheManager()
        for df, _, _ in calls:
            replanned = cache.useCachedData(df._jdf.queryExecution().analyzed())
            assert not _cached_relations(spark, replanned)
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
        assert mine.storageLevel != StorageLevel.NONE
    finally:
        mine.unpersist()
