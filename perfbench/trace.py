"""The traced run: per-layer metrics of one job workload.

Spark side, two sources:

- difference legs, each written to a ``noop`` sink and timed as the median
  of ``LEG_REPEATS``: scan, scan plus a pass-through ``mapInArrow``,
  ``salt_by_size``, the ``run_extraction`` spans frame and its metrics
  frame; the full job is the workload's own iteration;
- Spark's event log, read back for the timed job iterations: task metrics
  per stage and the SQL metrics of the Python node.

Kernel side: a single-threaded pass over the same documents
(``kernelpass``). In this process: spans around the job's calls into
``table_io`` and ``pipeline``, written to ``.work/trace`` at the end.

The job iterations run twice, in a session without and then with the
event log, and the ratio of their medians is the event log's overhead.
"""

from __future__ import annotations

import os
import statistics
import time

from . import env, eventlog, jobs, kernelpass
from .tracer import Tracer

LEG_REPEATS = 2
JOB_REPEATS = 2

# the public functions the job calls, by module
JOB_CALLS = (
    ("table_io", "read_table"),
    ("table_io", "prune_partitions"),
    ("table_io", "write_table"),
    ("pipeline", "run_extraction"),
    ("pipeline", "resume_filter"),
    ("pipeline", "salt_by_size"),
    ("pipeline", "extract_spans"),
    ("pipeline", "metrics_from_results"),
)
MAIN_SPAN = "jobs.extract_job.main"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, repeats: int = LEG_REPEATS) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def legs(spark, wl: jobs.JobWorkload) -> dict[str, float]:
    """Noop-sink timings of the job's stages on the job's own input."""
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions
    from oxidizepdf_spark.pipeline import run_extraction, salt_by_size
    from oxidizepdf_spark.table_io import read_table

    docs, done, run_id = wl.leg_inputs(spark)
    schema = docs.schema
    spans, metrics = run_extraction(
        docs, run_id=run_id, options=ExtractionOptions(), done_metrics=done
    )
    return {
        "scan": _timed(lambda: _noop(read_table(spark, wl.input))),
        "passthrough": _timed(
            lambda: _noop(read_table(spark, wl.input).mapInArrow(lambda it: it, schema))
        ),
        "salt": _timed(lambda: _noop(salt_by_size(read_table(spark, wl.input)))),
        "spans": _timed(lambda: _noop(spans)),
        "metrics": _timed(lambda: _noop(metrics)),
    }


def job_iterations(wl):
    """(walls, docs per iteration, epoch window) of JOB_REPEATS runs."""
    walls, docs = [], 0
    t0 = time.time()
    for _ in range(JOB_REPEATS):
        wall, docs = wl.iterate()
        walls.append(wall)
    return walls, docs, (t0, time.time())


def _trace_job(tracer: Tracer, job) -> None:
    from oxidizepdf_spark import pipeline, table_io

    mods = {"table_io": table_io, "pipeline": pipeline}
    for mod, attr in JOB_CALLS:
        tracer.wrap(mods[mod], attr, f"{mod}.{attr}")
    tracer.wrap(job, "main", MAIN_SPAN)


def run(args, k: int) -> tuple[dict, dict]:
    tracer = Tracer()
    wl = jobs.make(args.workload, args.seed, args.docs)

    # event log off: the reference timing of the job
    spark = env.new_session(k)
    wl.warm()
    wl.prepare()
    off_walls, docs, _ = job_iterations(wl)
    spark.stop()

    # event log on: the same iterations, read back from the log
    spark = env.new_session(k, event_log=True)
    wl.warm()
    _trace_job(tracer, wl.job)
    try:
        on_walls, docs, window = job_iterations(wl)
    finally:
        tracer.restore()
    check = wl.check()
    w = eventlog.read_window(spark.sparkContext.applicationId, *window)
    leg = legs(spark, wl)
    spark.stop()

    kernel_tracer = Tracer()
    kernel = kernelpass.measure(wl.corpus.rows, kernel_tracer)
    out = os.path.join(env.WORK, "trace", f"{args.workload}-{args.seed}")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tracer.write(out + "-job.jsonl")
    kernel_tracer.write(out + "-kernel.jsonl")

    job_s = statistics.median(off_walls)
    docs_per_s = docs / job_s
    n_iter = len(on_walls)
    p50, mx, skew = eventlog.task_stats(w)
    self_s = tracer.self_times()
    committed = wl.committed_docs()
    reextracted = check.duplicated_docs
    m = {
        "pipeline.kernel_calls_per_doc": (w.python_rows_out / (docs * n_iter), "ratio"),
        "table_io.scan_s": (leg["scan"], "s"),
        "pipeline.arrow_handoff_s": (leg["passthrough"] - leg["scan"], "s"),
        "pipeline.python_bytes_sent": (w.python_bytes_sent / n_iter, "bytes"),
        "pipeline.python_bytes_received": (w.python_bytes_received / n_iter, "bytes"),
        "pipeline.salt_shuffle_s": (leg["salt"] - leg["scan"], "s"),
        "pipeline.shuffle_bytes": (w.shuffle_bytes / n_iter, "bytes"),
        "pipeline.extract_spans_leg_s": (leg["spans"], "s"),
        "pipeline.metrics_leg_s": (leg["metrics"], "s"),
        "spark.task_p50_s": (p50, "s"),
        "spark.task_max_s": (mx, "s"),
        "spark.task_skew": (skew, "ratio"),
        "table_io.write_s": (job_s - leg["spans"] - leg["metrics"], "s"),
        "table_io.bytes_written_per_doc": (w.bytes_written / (docs * n_iter), "bytes"),
        "table_io.files_written": (w.files_written / n_iter, "count"),
        "resume.skip_share": (
            (committed - reextracted) / committed if committed else 0.0, "ratio"),
        "resume.docs_reextracted": (reextracted, "count"),
        "spark.core_busy_share": (w.run_time_s / (sum(on_walls) * k), "ratio"),
        "spark.gc_s": (w.gc_s / n_iter, "s"),
        "spark.tasks": (w.tasks / n_iter, "count"),
        "jobs.orchestration_s": (self_s.get(MAIN_SPAN, 0.0) / n_iter, "s"),
        "jobs.wall_s": (job_s, "s"),
        "trace.eventlog_overhead_share": (
            statistics.median(on_walls) / job_s - 1, "ratio"),
    }
    for name, value in kernel.items():
        m[name] = value
    m["pipeline.efficiency"] = (
        docs_per_s / (k * 1000 / kernel["kernel.ms_per_doc"][0]), "ratio")
    metrics = {name: {"value": v, "unit": u} for name, (v, u) in m.items()}
    verdict = {
        "correct": check.correct,
        "attempted": JOB_REPEATS * 2,
        "failed": 0 if check.correct else 1,
        "docs_per_iteration": docs,
        "span_mismatch_docs": check.mismatch_docs + check.error_docs + check.missing_docs,
        "duplicate_rows": check.duplicate_rows,
    }
    return metrics, verdict
