"""SQL-facing function surface: register the extraction kernels as Spark
SQL functions so ``spark.sql(...)`` users can call the engine directly.

    from oxidizepdf_spark.functions import register_sql_functions
    register_sql_functions(spark)
    spark.sql("SELECT doc_id, oxpdf_extract_text(pdf_bytes) FROM corpus")

All functions are Arrow-batched pandas UDFs (vectorized transport; the
per-document kernel runs inside, same as the pipeline). Registered names:

- ``oxpdf_extract_text(binary) -> string``      full-document text
- ``oxpdf_extract_text_pw(binary, string) -> string``  with a password
- ``oxpdf_page_count(binary) -> int``           page count (0 on error)
- ``oxpdf_metadata_json(binary) -> string``     metadata dict as JSON
- ``oxpdf_tables_json(binary) -> string``       detected bordered tables
- ``oxpdf_elements_json(binary) -> string``     typed elements (kind/text/heading/page)
- ``oxhtml_main_content(string) -> string``     HTML boilerplate strip

UDF objects are built lazily (pandas_udf validates against a live session,
so module import must stay session-free for --py-files shipping).
"""

from __future__ import annotations

import json

import pandas as pd

from pyspark.sql import SparkSession


def _fn_extract_text(data: pd.Series) -> pd.Series:
    from .kernel.extract import extract_pdf_bytes

    out = []
    for blob in data:
        if blob is None:
            out.append(None)
            continue
        res = extract_pdf_bytes(bytes(blob))
        # document text = pages joined with \n (reference extract_text
        # page loop). Within a page, concatenation of kind='text' spans
        # equals the page text — do NOT join spans with \n, or documents
        # with interleaved image spans gain newlines the reference never
        # produces.
        out.append("\n".join(res.page_texts))
    return pd.Series(out, dtype=object)


def _fn_page_count(data: pd.Series) -> pd.Series:
    from .kernel.extract import extract_pdf_bytes

    return pd.Series(
        [0 if b is None else extract_pdf_bytes(bytes(b)).n_pages for b in data]
    )


def _fn_metadata_json(data: pd.Series) -> pd.Series:
    from .kernel.extract import extract_metadata

    out = []
    for blob in data:
        if blob is None:
            out.append(None)
            continue
        out.append(json.dumps(extract_metadata(bytes(blob)), sort_keys=True))
    return pd.Series(out, dtype=object)


def _fn_html_main_content(data: pd.Series) -> pd.Series:
    from .kernel.html_extract import extract_html_spans

    out = []
    for html in data:
        if html is None:
            out.append(None)
            continue
        spans = extract_html_spans(html)
        # HTML text spans are whole block segments (already stripped, never
        # split mid-block by an image span), so newline-joining blocks is
        # the faithful main-content text — unlike the PDF leg above.
        out.append("\n".join(s[1] for s in spans if s[0] == "text"))
    return pd.Series(out, dtype=object)


def _fn_extract_text_pw(data: pd.Series, pw: pd.Series) -> pd.Series:
    from .kernel.extract import extract_pdf_bytes
    from .kernel.textstate import ExtractionOptions

    out = []
    for blob, password in zip(data, pw):
        if blob is None:
            out.append(None)
            continue
        res = extract_pdf_bytes(
            bytes(blob), ExtractionOptions(password=password)
        )
        out.append("\n".join(res.page_texts))
    return pd.Series(out, dtype=object)


def _fn_tables_json(data: pd.Series) -> pd.Series:
    from .kernel.extract import extract_pdf_bytes
    from .kernel.pages import flatten_page_tree, page_content
    from .kernel.reader import PdfReader
    from .kernel.tables import detect_page_tables
    from .kernel.textstate import ExtractionOptions

    opts = ExtractionOptions(preserve_layout=True)
    out = []
    for blob in data:
        if blob is None:
            out.append(None)
            continue
        try:
            pdf = bytes(blob)
            res = extract_pdf_bytes(pdf, opts)
            reader = PdfReader(pdf)
            pages = flatten_page_tree(reader)
            tables = []
            for i, page in enumerate(pages):
                frags = (
                    res.page_fragments[i]
                    if i < len(res.page_fragments)
                    else []
                )
                for t in detect_page_tables(page_content(reader, page), frags):
                    tables.append(
                        {
                            "page": i,
                            "rows": t.rows,
                            "cols": t.columns,
                            "cells": [
                                [c.row, c.column, c.text] for c in t.cells
                            ],
                        }
                    )
            out.append(json.dumps(tables, sort_keys=True))
        except Exception:
            out.append(json.dumps([]))
    return pd.Series(out, dtype=object)


def _fn_elements_json(data: pd.Series) -> pd.Series:
    from .kernel.extract import extract_pdf_bytes
    from .kernel.partition import classify_pages
    from .kernel.textstate import ExtractionOptions

    opts = ExtractionOptions(
        preserve_layout=True, reconstruct_paragraphs=True
    )
    out = []
    for blob in data:
        if blob is None:
            out.append(None)
            continue
        try:
            res = extract_pdf_bytes(bytes(blob), opts)
            els = classify_pages(res.page_fragments)
            out.append(
                json.dumps(
                    [
                        {
                            "kind": e.kind,
                            "text": e.display_text(),
                            "heading": e.metadata.parent_heading,
                            "page": e.page(),
                        }
                        for e in els
                    ]
                )
            )
        except Exception:
            out.append(json.dumps([]))
    return pd.Series(out, dtype=object)


def _fn_export_markdown(data: pd.Series) -> pd.Series:
    """PDF blob → structured markdown (ai/formats.rs export surface over
    this engine's elements + table detection): '##' headings, paragraph
    blocks, pipe tables, '# Document' default title."""
    from .kernel.ai_export import export_structured_markdown
    from .kernel.extract import extract_pdf_bytes
    from .kernel.pages import flatten_page_tree, page_content
    from .kernel.partition import classify_pages
    from .kernel.reader import PdfReader
    from .kernel.tables import detect_page_tables
    from .kernel.textstate import ExtractionOptions

    flat_opts = ExtractionOptions(preserve_layout=True)
    para_opts = ExtractionOptions(
        preserve_layout=True, reconstruct_paragraphs=True
    )
    out = []
    for blob in data:
        if blob is None:
            out.append(None)
            continue
        try:
            pdf = bytes(blob)
            # tables detect on UN-merged fragments (cell assignment is
            # center-containment; paragraph merge would fuse cells)
            flat = extract_pdf_bytes(pdf, flat_opts)
            reader = PdfReader(pdf)
            tables = []
            boxes: dict[int, list] = {}
            for i, page in enumerate(flatten_page_tree(reader)):
                frags = (
                    flat.page_fragments[i]
                    if i < len(flat.page_fragments)
                    else []
                )
                for t in detect_page_tables(page_content(reader, page), frags):
                    tables.append(t)
                    boxes.setdefault(i, []).append(t.bbox)
            # elements classify on paragraph-merged fragments, minus any
            # fragment inside a detected table (it renders as pipe rows,
            # not duplicated prose)
            res = extract_pdf_bytes(pdf, para_opts)
            kept = []
            for i, page_frags in enumerate(res.page_fragments):
                page_boxes = boxes.get(i, [])
                kept.append(
                    [
                        f
                        for f in page_frags
                        if not any(
                            bx <= f.x + f.width / 2 <= bx + bw
                            and by <= f.y + f.height / 2 <= by + bh
                            for bx, by, bw, bh in page_boxes
                        )
                    ]
                )
            els = classify_pages(kept)
            out.append(export_structured_markdown(els, tables))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


def _fn_corruption_json(data: pd.Series) -> pd.Series:
    """PDF blob → corruption-triage report JSON (recovery/corruption.rs
    detect_corruption) — the cheap pre-parse health probe for ingest
    batches: severity histograms tell you which source needs the
    recovery path before paying full extraction."""
    from .kernel.diagnostics import detect_corruption

    out = []
    for blob in data:
        if blob is None:
            out.append(None)
            continue
        try:
            r = detect_corruption(bytes(blob))
            r.pop("sections", None)  # offsets are intra-doc detail
            out.append(json.dumps(r, sort_keys=True))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


def _fn_signatures_json(data: pd.Series) -> pd.Series:
    """PDF blob → digital-signature report JSON (signatures/detection.rs
    + cms.rs + verification.rs): one entry per /FT /Sig field with signer
    CN, algorithms, cryptographic validity, and incremental-update flag —
    the provenance/integrity column a corpus-quality gate filters on."""
    from .kernel.extract import extract_signatures

    out = []
    for blob in data:
        if blob is None:
            out.append(None)
            continue
        try:
            out.append(json.dumps(extract_signatures(bytes(blob)),
                                  sort_keys=True))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


def _fn_pdfa_json(data: pd.Series) -> pd.Series:
    """PDF blob → PDF/A self-claim validation JSON (pdfa/validator.rs
    check sequence against the document's own XMP pdfaid claim): the
    archival-grade flag a corpus-quality filter keys on."""
    from .kernel.pdfa import validate_claimed_pdfa

    out = []
    for blob in data:
        if blob is None:
            out.append(None)
            continue
        try:
            out.append(json.dumps(validate_claimed_pdfa(bytes(blob)),
                                  sort_keys=True))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


def _fn_entities_json(data: pd.Series) -> pd.Series:
    """PDF blob → AI-Ready semantic EntityMap JSON (semantic/export.rs
    shape): rich-partition the document (element.rs parity) and derive
    one typed, bbox-anchored entity per element — the read-side
    realization of the reference's PRO-gated ML-ready export."""
    from .kernel.partition import partition_pdf_bytes
    from .kernel.semantic import entities_from_partition

    out = []
    for blob in data:
        if blob is None:
            out.append(None)
            continue
        try:
            emap = entities_from_partition(partition_pdf_bytes(bytes(blob)))
            out.append(emap.to_json_compact())
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


def _fn_chunks_compact(text: pd.Series) -> pd.Series:
    """Text → #oxct/1 token-efficient chunk serialization
    (ai/chunking.rs DocumentChunker 512/50 defaults + formats.rs
    TokenEfficientExporter) — the RAG hand-off in one SQL call."""
    from .kernel.ai_export import chunk_text, export_chunks_compact

    out = []
    for t in text:
        if t is None:
            out.append(None)
            continue
        out.append(export_chunks_compact(chunk_text(str(t))))
    return pd.Series(out, dtype=object)


def _fn_rag_chunks_json(data: pd.Series) -> pd.Series:
    """PDF blob → JSON array of linked RagChunks with full chunk metadata
    (pipeline/rag.rs RagChunk over the rich partitioner): heading paths,
    dominant font/style, content-type flags, counts, stable chunk ids
    with prev/next links, per-page citation regions, table dims. The
    vector-store ingest record in one SQL call."""
    from .kernel.rag_graph import rag_chunks_pdf_bytes

    out = []
    for blob in data:
        if blob is None:
            out.append(None)
            continue
        try:
            chunks = rag_chunks_pdf_bytes(bytes(blob))
            out.append(
                json.dumps([c.to_dict() for c in chunks], sort_keys=True)
            )
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


def _fn_images_json(data: pd.Series) -> pd.Series:
    """PDF blob → JSON array of embedded-image records
    (operations/extract_images.rs ImageExtractor): page, index, resource
    name, reference file name, dims, format, encoded byte count and md5.
    Pixels stay out of the JSON — a pipeline selects the images it wants
    and re-extracts those blobs columnar-side."""
    import hashlib

    from .kernel.extract_images import extract_images_from_pdf

    out = []
    for blob in data:
        if blob is None:
            out.append(None)
            continue
        try:
            imgs = extract_images_from_pdf(bytes(blob))
            out.append(
                json.dumps(
                    [
                        {
                            "page": im.page_number,
                            "index": im.image_index,
                            "name": im.name,
                            "file_name": im.file_name,
                            "width": im.width,
                            "height": im.height,
                            "format": im.format,
                            "n_bytes": len(im.data),
                            "md5": hashlib.md5(im.data).hexdigest(),
                        }
                        for im in imgs
                    ],
                    sort_keys=True,
                )
            )
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


def build_udfs() -> dict:
    """Name → pandas UDF, built against the active session."""
    from pyspark.sql.functions import pandas_udf

    return {
        "oxpdf_extract_text": pandas_udf(_fn_extract_text, "string"),
        "oxpdf_extract_text_pw": pandas_udf(_fn_extract_text_pw, "string"),
        "oxpdf_page_count": pandas_udf(_fn_page_count, "int"),
        "oxpdf_metadata_json": pandas_udf(_fn_metadata_json, "string"),
        "oxpdf_tables_json": pandas_udf(_fn_tables_json, "string"),
        "oxpdf_elements_json": pandas_udf(_fn_elements_json, "string"),
        "oxhtml_main_content": pandas_udf(_fn_html_main_content, "string"),
        "oxpdf_export_markdown": pandas_udf(_fn_export_markdown, "string"),
        "oxtext_chunks_compact": pandas_udf(_fn_chunks_compact, "string"),
        "oxpdf_corruption_json": pandas_udf(_fn_corruption_json, "string"),
        "oxpdf_rag_chunks_json": pandas_udf(_fn_rag_chunks_json, "string"),
        "oxpdf_images_json": pandas_udf(_fn_images_json, "string"),
        "oxpdf_signatures_json": pandas_udf(_fn_signatures_json, "string"),
        "oxpdf_entities_json": pandas_udf(_fn_entities_json, "string"),
        "oxpdf_pdfa_json": pandas_udf(_fn_pdfa_json, "string"),
    }


def register_sql_functions(spark: SparkSession) -> dict:
    """Register all engine functions on the session (idempotent). Returns
    the UDF objects for DataFrame-API use."""
    udfs = build_udfs()
    for name, udf in udfs.items():
        spark.udf.register(name, udf)
    return udfs
