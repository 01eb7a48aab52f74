"""Workload inputs and output checks for the job benchmark.

Inputs come from ``oxidizepdf_spark.corpus.gen_doc`` keyed by the run seed,
so the same seed stages the same table and the same expected span rows.
The table is staged with pyarrow as parquet partitioned by ``part_id`` (the
layout ``jobs/extract_job.py`` reads); the program under test only ever
sees the staged files.

The checks read the job's output directories with pyarrow, outside the
timed region, and never through the program's own code.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

N_PARTS = 8

# job workloads: document count and gen_doc knobs. job_mixed and
# job_resume use the default gen_doc mix (2% 50-page mega docs, 5% corrupt
# xref, 15% HTML, 30% interleaved), sized so one job run takes about 4 s
# at local[4]; job_mega_skew makes 4% of the documents 300 pages long, so
# they carry most of the bytes and the kernel and task skew dominate.
CORPORA = {
    "job_mixed": dict(n_docs=12000, gen=dict()),
    "job_resume": dict(n_docs=12000, gen=dict()),
    "job_mega_skew": dict(
        n_docs=3000, gen=dict(mega_doc_rate=0.04, mega_pages=300)
    ),
}

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)


@dataclass
class Corpus:
    """Staged input plus what the job must deliver for it."""

    rows: list[dict]  # input rows, in doc index order
    expected: dict[str, list[tuple]]  # doc_id -> [(kind, text, media_ref)]
    part_of: dict[str, int] = field(default_factory=dict)

    @property
    def n_docs(self) -> int:
        return len(self.rows)

    def docs_in_parts(self, parts) -> int:
        parts = set(parts)
        return sum(1 for p in self.part_of.values() if p in parts)


def generate(n_docs: int, seed: int, **gen) -> tuple[list[dict], dict]:
    from oxidizepdf_spark.corpus import all_cases, gen_doc

    cases = all_cases()
    rows, expected = [], {}
    for i in range(n_docs):
        in_row, exp_row = gen_doc(i, seed, cases, n_parts=N_PARTS, **gen)
        rows.append(in_row)
        expected[exp_row["doc_id"]] = [
            (s["kind"], s["text"], s["media_ref"]) for s in exp_row["spans"]
        ]
    return rows, expected


def stage(path: str, n_docs: int, seed: int, **gen) -> Corpus:
    rows, expected = generate(n_docs, seed, **gen)
    write_rows(path, rows)
    return Corpus(
        rows=rows,
        expected=expected,
        part_of={r["doc_id"]: r["part_id"] for r in rows},
    )


def write_rows(path: str, rows: list[dict]) -> None:
    """Parquet partitioned by part_id (hive layout: part_id=<n>/)."""
    shutil.rmtree(path, ignore_errors=True)
    table = pa.table(
        {
            "doc_id": pa.array([r["doc_id"] for r in rows], pa.string()),
            "part_id": pa.array([r["part_id"] for r in rows], pa.int32()),
            "spans": pa.array([r["spans"] for r in rows], SPAN_TYPE),
        }
    )
    pq.write_to_dataset(table, path, partition_cols=["part_id"])


@dataclass
class Check:
    """Outcome of checking one job run's output against the corpus."""

    docs: int  # documents the run had to deliver
    mismatch_docs: int = 0  # a row whose spans differ from gen_doc's
    error_docs: int = 0  # a row with error-only output (no spans)
    missing_docs: int = 0  # no row at all
    duplicate_rows: int = 0  # rows beyond the first per doc_id
    duplicated_docs: int = 0  # docs with more than one row
    metrics_docs_in: int = 0  # summed docs_in of the metrics table
    expected_docs_in: int = 0

    @property
    def failed_docs(self) -> int:
        return (
            self.mismatch_docs
            + self.error_docs
            + self.missing_docs
            + self.duplicated_docs
        )

    @property
    def correct(self) -> bool:
        """Every document is present with exactly gen_doc's spans and the
        lineage table accounts for it. Duplicate rows are a recorded
        measurement (``duplicate_rows``), not part of this verdict."""
        return (
            self.mismatch_docs == 0
            and self.error_docs == 0
            and self.missing_docs == 0
            and self.metrics_docs_in == self.expected_docs_in
        )


def read_spans(output: str) -> pa.Table:
    return ds.dataset(output, format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "spans"]
    )


def check_output(corpus: Corpus, output: str, metrics: str) -> Check:
    """Compare each output row's spans with gen_doc's expected rows on
    (kind, text, media_ref, order); count rows per doc_id; check that the
    lineage table's summed docs_in accounts for every document."""
    chk = Check(docs=corpus.n_docs, expected_docs_in=corpus.n_docs)
    table = read_spans(output)
    doc_ids = table.column("doc_id").to_pylist()
    spans = table.column("spans").to_pylist()
    seen: dict[str, int] = {}
    for doc_id, sp in zip(doc_ids, spans):
        seen[doc_id] = seen.get(doc_id, 0) + 1
        got = [(s["kind"], s["text"], s["media_ref"]) for s in (sp or [])]
        offsets = [s["offset"] for s in (sp or [])]
        want = corpus.expected.get(doc_id)
        if want is None or got != want or offsets != list(range(len(got))):
            if want and not got:
                chk.error_docs += 1
            else:
                chk.mismatch_docs += 1
    for doc_id in corpus.expected:
        n = seen.get(doc_id, 0)
        if n == 0:
            chk.missing_docs += 1
        elif n > 1:
            chk.duplicated_docs += 1
            chk.duplicate_rows += n - 1
    mt = ds.dataset(metrics, format="parquet").to_table(columns=["docs_in"])
    chk.metrics_docs_in = int(sum(v or 0 for v in mt.column("docs_in").to_pylist()))
    return chk
