"""The three job workloads: each iteration calls ``jobs/extract_job.py``'s
own ``main()`` with its command-line arguments in one warm Spark session.

``main()`` ends with ``spark.stop()``; while it runs, ``SparkSession.stop``
is replaced by a no-op so the session survives between iterations. The
job body itself is not touched, so a later change to it is measured as
users run it.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import random
import shutil
import sys
import time

from . import stage
from .env import ROOT, WORK


def load_job():
    spec = importlib.util.spec_from_file_location(
        "extract_job", os.path.join(ROOT, "jobs", "extract_job.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@contextlib.contextmanager
def session_kept_alive():
    from pyspark.sql import SparkSession

    stop = SparkSession.stop
    SparkSession.stop = lambda self: None
    try:
        yield
    finally:
        SparkSession.stop = stop


def submit(job, args: list[str]) -> None:
    """One job submission: ``extract_job.py <args>``."""
    argv = sys.argv
    sys.argv = ["extract_job.py", *args]
    try:
        with session_kept_alive():
            job.main()
    finally:
        sys.argv = argv


class JobWorkload:
    """A staged corpus and one kind of job iteration over it.

    ``iterate`` leaves the output directories in their final state and
    returns (timed seconds, documents the timed submission had to
    deliver); ``check`` then compares them with the corpus."""

    def __init__(self, name: str, seed: int, n_docs: int | None = None):
        cfg = stage.CORPORA[name]
        self.name = name
        self.seed = seed
        base = os.path.join(WORK, "runs", name)
        shutil.rmtree(base, ignore_errors=True)
        self.input = os.path.join(base, "docs_raw")
        self.warm_input = os.path.join(base, "warm_raw")
        self.output = os.path.join(base, "docs_spans")
        self.metrics = os.path.join(base, "run_metrics")
        self.corpus = stage.stage(
            self.input, n_docs or cfg["n_docs"], seed, **cfg["gen"]
        )
        # the warm-up table: the corpus's first tenth, staged apart
        stage.write_rows(self.warm_input, self.corpus.rows[: -(-len(self.corpus.rows) // 10)])
        self.job = load_job()
        self._runs = 0

    def _clean(self) -> None:
        shutil.rmtree(self.output, ignore_errors=True)
        shutil.rmtree(self.metrics, ignore_errors=True)

    def _args(self, run_id: str, *extra: str, input: str | None = None) -> list[str]:
        return [
            "--input", input or self.input,
            "--output", self.output,
            "--metrics", self.metrics,
            "--run-id", run_id,
            *extra,
        ]

    def _run_id(self) -> str:
        self._runs += 1
        return f"{self.name}-{self.seed}-{self._runs}"

    def warm(self) -> None:
        """Warm-up: one clean overwrite run over the warm-up table."""
        self._clean()
        submit(self.job, self._args(self._run_id(), input=self.warm_input))

    def prepare(self) -> None:
        """One untimed full-size iteration, so timing starts from a JVM
        that has run the job at its timed size."""
        self.iterate()

    def iterate(self) -> tuple[float, int]:
        self._clean()
        t0 = time.perf_counter()
        submit(self.job, self._args(self._run_id()))
        return time.perf_counter() - t0, self.corpus.n_docs

    def check(self) -> stage.Check:
        return stage.check_output(self.corpus, self.output, self.metrics)

    def committed_docs(self) -> int:
        """Documents already on disk when a timed iteration starts."""
        return 0

    def leg_inputs(self, spark):
        """(docs, done_metrics, run_id) as the timed submission builds them."""
        from oxidizepdf_spark.table_io import read_table

        return read_table(spark, self.input), None, "legs"


class ResumeWorkload(JobWorkload):
    """Crash-and-resume. Untimed: a run over one quarter of the part_ids,
    then a ``--resume`` run over a second quarter whose metrics files are
    then deleted — the disk state of a crash between the spans write and
    the metrics write. Timed: ``--resume`` over the whole table."""

    def __init__(self, name: str, seed: int, n_docs: int | None = None):
        super().__init__(name, seed, n_docs)
        parts = list(range(stage.N_PARTS))
        random.Random(seed).shuffle(parts)
        q = stage.N_PARTS // 4
        self.first, self.second = sorted(parts[:q]), sorted(parts[q : 2 * q])
        self.committed_first = self.corpus.docs_in_parts(self.first)
        self.committed_second = self.corpus.docs_in_parts(self.second)
        self.crashed = os.path.join(os.path.dirname(self.output), "crashed")
        self.run_id = ""

    def prepare(self) -> None:
        """Stage the crash once per run and keep a copy of its directories;
        each timed resume starts from that copy, the same disk state at the
        cost of a file copy instead of two untimed job runs. The two crash
        runs also stand in for the untimed iteration of the other
        workloads: an extra untimed resume added 5 s a run and did not
        narrow the spread."""
        self.run_id = self._run_id()
        self._clean()
        submit(self.job, self._args(self.run_id, "--partitions", _csv(self.first)))
        before = set(os.listdir(self.metrics))
        submit(
            self.job,
            self._args(self.run_id, "--resume", "--partitions", _csv(self.second)),
        )
        for f in set(os.listdir(self.metrics)) - before:
            os.remove(os.path.join(self.metrics, f))
        shutil.rmtree(self.crashed, ignore_errors=True)
        shutil.copytree(self.output, os.path.join(self.crashed, "spans"))
        shutil.copytree(self.metrics, os.path.join(self.crashed, "metrics"))

    def restore(self) -> None:
        self._clean()
        shutil.copytree(os.path.join(self.crashed, "spans"), self.output)
        shutil.copytree(os.path.join(self.crashed, "metrics"), self.metrics)

    def iterate(self) -> tuple[float, int]:
        self.restore()
        t0 = time.perf_counter()
        submit(self.job, self._args(self.run_id, "--resume"))
        return time.perf_counter() - t0, self.corpus.n_docs - self.committed_first

    def committed_docs(self) -> int:
        return self.committed_first + self.committed_second

    def leg_inputs(self, spark):
        from pyspark.sql import functions as F

        from oxidizepdf_spark.table_io import read_table

        self.restore()
        done = read_table(spark, self.metrics).where(F.col("run_id") == self.run_id)
        return read_table(spark, self.input), done, self.run_id


def _csv(parts: list[int]) -> str:
    return ",".join(str(p) for p in parts)


def make(name: str, seed: int, n_docs: int | None = None) -> JobWorkload:
    cls = ResumeWorkload if name == "job_resume" else JobWorkload
    return cls(name, seed, n_docs)
