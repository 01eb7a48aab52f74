#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the submitted extraction job.

    python3 perfbench/run.py --workload job_mixed --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one job at a time from this single process,
Spark ``local[K]`` with K = the cores this process may use):

- ``job_mixed``: clean overwrite run over the default ``gen_doc`` mix.
- ``job_resume``: a crash between the spans and metrics writes, then a
  timed ``--resume`` over the whole table.
- ``job_mega_skew``: the same job where a few percent of documents are
  300 pages long and carry most of the bytes.
- ``query_suite``: every query of ``queries.build_queries()`` written to a
  ``noop`` sink, each checked against its DuckDB oracle.

``BENCHMARK.json`` lists the first two. Each listed workload is run many
times within a fixed time budget; a job run takes about 55 s (three
set-ups, the first with a cold JVM, dominate), so two job workloads fit
and a third does not, and one ``query_suite`` run takes about 120 s. The
other two are run by hand.

``--trace 0`` times iterations for ``--seconds`` and prints the end-to-end
metrics; ``--trace 1`` is a separate run that prints the per-layer
metrics. The line before the last is a report with every metric and its
sample count; the last line is the result object, whose ``attempted`` and
``failed`` count timed job submissions (queries for ``query_suite``) and
submissions whose output failed the checks.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import env  # noqa: E402

WORKLOADS = ("job_mixed", "job_resume", "job_mega_skew", "query_suite")
# the end-to-end metrics of BENCHMARK.json, which the result line carries
END_TO_END = ("wall_s", "docs_per_s", "setup_s", "peak_rss_mb")
SETUPS = 3
MIN_ITERATIONS = 3


def metric(value, unit: str, n: int | None = None) -> dict:
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    return out


def set_up(k: int, warm) -> tuple[object, list[float]]:
    """Set up ``SETUPS`` times: a fresh SparkContext (the first one also
    launches the JVM), then the warm-up. Returns the live session and
    the set-up times."""
    times, spark = [], None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = env.new_session(k)
        warm()
        times.append(time.perf_counter() - t0)
    return spark, times


def run_job_workload(args, k: int) -> tuple[dict, dict]:
    from perfbench import jobs
    from perfbench.rss import PeakSampler

    wl = jobs.make(args.workload, args.seed, args.docs)
    spark, setups = set_up(k, wl.warm)
    wl.prepare()

    walls, rates, peaks, checks = [], [], [], []
    t_start = time.perf_counter()
    while (
        len(walls) < MIN_ITERATIONS
        or time.perf_counter() - t_start < args.seconds
    ):
        with PeakSampler() as rss:
            wall, docs = wl.iterate()
        walls.append(wall)
        rates.append(docs / wall)
        peaks.append(rss.peak_mb)
        checks.append(wl.check())
    spark.stop()

    median = statistics.median
    attempted = sum(c.docs for c in checks)
    failed = sum(c.failed_docs for c in checks)
    n = len(walls)
    report = {
        "wall_s": metric(median(walls), "s", n),
        "docs_per_s": metric(median(rates), "docs/s", n),
        "setup_s": metric(median(setups), "s", len(setups)),
        "peak_rss_mb": metric(median(peaks), "MB", n),
        "failed_share": metric(failed / attempted, "ratio", n),
        "span_mismatch_docs": metric(
            sum(c.mismatch_docs + c.error_docs + c.missing_docs for c in checks),
            "count", n,
        ),
        "duplicate_rows": metric(max(c.duplicate_rows for c in checks), "count", n),
        "oracle_failures": metric(0, "count", 0),  # no oracle for jobs
    }
    verdict = {
        "correct": all(c.correct for c in checks),
        "attempted": n,
        "failed": sum(not c.correct for c in checks),
        "docs_per_iteration": checks[-1].docs,
        "setup_runs_s": setups,
        "iteration_walls_s": walls,
    }
    return report, verdict


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--docs", type=int, default=None,
        help="override the workload's document count (self-test)",
    )
    args = ap.parse_args(argv)

    env.require_program()
    env.configure()
    env.build_kernel()
    k = env.cores()

    try:
        if args.workload == "query_suite":
            from perfbench import suite

            metrics, verdict = suite.run(args, k)
        elif args.trace:
            from perfbench import trace

            metrics, verdict = trace.run(args, k)
        else:
            metrics, verdict = run_job_workload(args, k)
    finally:
        env.stop_jvm()
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "report": metrics, **verdict}), flush=True)
    if not args.trace:
        metrics = {name: {"value": metrics[name]["value"],
                          "unit": metrics[name]["unit"]} for name in END_TO_END}
    print(json.dumps({
        "correct": verdict["correct"],
        "attempted": verdict["attempted"],
        "failed": verdict["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
