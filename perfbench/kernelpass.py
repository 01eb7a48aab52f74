"""Single-threaded kernel pass over a workload's documents.

The untraced pass times ``extract_document_spans`` per document. The
traced pass wraps the names ``kernel.extract`` calls (payload decode,
``PdfReader`` open, page tree, fonts, content streams, interpreter set-up,
the content interpreter, ``Interpreter.finalize``, the HTML leg) and
reports their self times; the self time of each document's root span,
which is what the wrappers do not cover, is ``kernel.other_s``.
"""

from __future__ import annotations

import statistics
import time

from .tracer import Tracer

ROOT_SPAN = "kernel.extract_document_spans"

# (owner of the attribute, attribute, metric name)
STAGES = (
    ("extract", "decode_raw_payload", "kernel.payload_decode_s"),
    ("extract", "PdfReader", "kernel.reader_open_s"),
    ("extract", "flatten_page_tree", "kernel.page_tree_s"),
    ("extract", "extract_page_fonts", "kernel.fonts_s"),
    ("extract", "page_content", "kernel.content_streams_s"),
    ("extract", "Interpreter", "kernel.interpreter_setup_s"),
    ("extract", "parse_and_run", "kernel.interpreter_s"),
    ("Interpreter", "finalize", "kernel.finalize_s"),
    ("html_extract", "extract_html_spans", "kernel.html_s"),
)


def doc_inputs(rows: list[dict]) -> list[list[tuple]]:
    return [[(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]] for r in rows]


def untraced(docs: list[list[tuple]]) -> tuple[float, list[float]]:
    from oxidizepdf_spark.kernel.extract import extract_document_spans
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    opts = ExtractionOptions()
    per_doc = []
    t_all = time.perf_counter()
    for triples in docs:
        t0 = time.perf_counter()
        extract_document_spans(triples, opts)
        per_doc.append((time.perf_counter() - t0) * 1000)
    return time.perf_counter() - t_all, per_doc


def traced(docs: list[list[tuple]], tracer: Tracer) -> tuple[float, dict]:
    from oxidizepdf_spark.kernel import extract, html_extract
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions, Interpreter

    # "Interpreter" is the class itself, so finalize stays patched on the
    # instances that extract's wrapped constructor name returns
    owners = {"extract": extract, "Interpreter": Interpreter,
              "html_extract": html_extract}
    counts = {"kernel.pages": 0, "kernel.content_streams": 0,
              "kernel.content_bytes": 0}

    def on_pages(pages):
        counts["kernel.pages"] += len(pages)

    def on_content(data):
        counts["kernel.content_streams"] += 1
        counts["kernel.content_bytes"] += len(data)

    hooks = {"flatten_page_tree": on_pages, "page_content": on_content}
    for owner, attr, name in STAGES:
        tracer.wrap(owners[owner], attr, name, hooks.get(attr))
    opts = ExtractionOptions()
    try:
        run = tracer.wrap_call(extract.extract_document_spans, ROOT_SPAN)
        t_all = time.perf_counter()
        for triples in docs:
            run(triples, opts)
        wall = time.perf_counter() - t_all
    finally:
        tracer.restore()
    return wall, counts


def measure(rows: list[dict], tracer: Tracer) -> dict:
    """Kernel per-layer metrics plus the tracer's own overhead."""
    docs = doc_inputs(rows)
    plain_s, per_doc = untraced(docs)
    traced_s, counts = traced(docs, tracer)
    self_s = tracer.self_times()
    covered = sum(self_s.get(name, 0.0) for _, _, name in STAGES)
    other = self_s.get(ROOT_SPAN, 0.0)
    per_doc.sort()
    out = {
        "kernel.ms_per_doc": (plain_s * 1000 / len(docs), "ms"),
        "kernel.doc_ms_p50": (statistics.median(per_doc), "ms"),
        "kernel.doc_ms_p99": (per_doc[min(len(per_doc) - 1, int(0.99 * len(per_doc)))], "ms"),
    }
    for _, _, name in STAGES:
        out[name] = (self_s.get(name, 0.0), "s")
    out["kernel.other_s"] = (other, "s")
    for name, value in counts.items():
        out[name] = (value, "count" if name != "kernel.content_bytes" else "bytes")
    out["kernel.span_coverage"] = (covered / (covered + other), "ratio")
    out["kernel.tracer_overhead_share"] = (traced_s / plain_s - 1, "ratio")
    out["kernel.single_thread_docs_per_s"] = (len(docs) / plain_s, "docs/s")
    return out
