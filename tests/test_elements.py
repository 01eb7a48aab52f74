"""Element-typed partitioning + hybrid chunking as the element queries,
the elements/markdown SQL functions and extract_elements use them:
partition.classify_pages over the engine's layout output, then
rag_graph.HybridChunker (pipeline/partition.rs + hybrid_chunking.rs)."""

from __future__ import annotations

import json
import math

import pandas as pd

from oxidizepdf_spark.corpus import build_pdf_with_content_stream, build_sectioned_pdf
from oxidizepdf_spark.kernel.extract import extract_pdf_bytes
from oxidizepdf_spark.kernel.partition import RichElement, classify_pages, is_list_item
from oxidizepdf_spark.kernel.rag_graph import HybridChunkConfig, HybridChunker
from oxidizepdf_spark.kernel.textstate import ExtractionOptions
from oxidizepdf_spark.queries import _element_chunk_rows


def _extract_chunks(nwords: int, max_tokens: int = 64):
    words = [f"w{i}" for i in range(nwords)]
    n_sec = max(1, math.ceil(len(words) / 40))
    sections = []
    for i in range(n_sec):
        sw = words[i * 40 : (i + 1) * 40]
        paras = [p for p in (sw[:20], sw[20:]) if p]
        sections.append((f"SECTION {i}", paras))
    res = extract_pdf_bytes(
        build_sectioned_pdf(sections),
        ExtractionOptions(preserve_layout=True, reconstruct_paragraphs=True),
    )
    assert res.error is None, res.error
    elements = classify_pages(res.page_fragments)
    return elements, list(_element_chunk_rows(elements, max_tokens))


def test_sectioned_layout_classifies_titles_and_merges_paragraphs():
    els, rows = _extract_chunks(95)
    assert [e.kind for e in els] == [
        "title", "paragraph", "paragraph",
        "title", "paragraph", "paragraph",
        "title", "paragraph",
    ]
    # titles are structural boundaries; the two 20-word paragraphs of each
    # section merge into one 40-token body chunk under max_tokens=64
    assert [(kind, n) for kind, _, _, n in rows] == [
        ("title", 2), ("body", 40),
        ("title", 2), ("body", 40),
        ("title", 2), ("body", 15),
    ]
    # heading lineage: every chunk carries its section title, across pages
    assert [heading for _, heading, _, _ in rows] == [
        "SECTION 0", "SECTION 0", "SECTION 1",
        "SECTION 1", "SECTION 2", "SECTION 2",
    ]
    assert rows[3][2] == " ".join(f"w{i}" for i in range(40, 80))


def test_single_size_document_has_no_titles():
    # a title-only document has one font size → the classifier's body font
    # IS that size, so nothing clears the 1.3x ratio (relative classifier)
    _, rows = _extract_chunks(0)
    assert rows == [("body", None, "SECTION 0", 2)]


def test_adjacent_paragraphs_merge_until_budget():
    els = [RichElement("paragraph", " ".join([c] * 30)) for c in "abc"]
    chunks = HybridChunker(HybridChunkConfig(max_tokens=64)).chunk(els)
    # 30+30 fits, +30 would overflow → [60, 30]
    assert [c.token_estimate() for c in chunks] == [60, 30]


class _Frag:
    def __init__(self, text, y, size=12.0):
        self.text, self.y, self.font_size = text, y, size
        self.x, self.width, self.height = 72.0, 6.0 * len(text), size


def test_header_footer_zones_and_list_items():
    """partition.rs parity: top/bottom-5%-zone fragments classify as
    header/footer (length-capped), bullet/numbered prefixes as list_item;
    the chunker keeps furniture un-merged and merges inline content."""
    assert is_list_item("- bullet") and is_list_item("• dot")
    assert is_list_item("1. one") and is_list_item("12) twelve")
    assert is_list_item("a) alpha") and not is_list_item("A) upper")
    assert not is_list_item("1.nospace") and not is_list_item("plain text")

    els = classify_pages(
        [
            [
                _Frag("x" * 150, 778),  # too long for the header zone → body rules
                _Frag("running head", 760),
                _Frag("SECTION", 700, 18.0),
                _Frag("- item one", 640),
                _Frag("body paragraph words", 600),
                _Frag("page 9", 10),
            ]
        ]
    )
    assert [(e.kind, e.display_text()[:12]) for e in els] == [
        ("paragraph", "xxxxxxxxxxxx"),
        ("header", "running head"),
        ("title", "SECTION"),
        ("list_item", "- item one"),
        ("paragraph", "body paragra"),
        ("footer", "page 9"),
    ]
    # furniture and titles each own a chunk; list + paragraph merge (inline)
    rows = list(_element_chunk_rows(els, 64))
    assert [kind for kind, _, _, _ in rows] == [
        "body", "header", "title", "body", "footer",
    ]
    assert [heading for _, heading, _, _ in rows] == [
        None, None, "SECTION", "SECTION", "SECTION",
    ]


def test_key_value_line_keeps_full_text_in_sql_surfaces():
    """A 'Name: Alice' line is a key_value element; the elements JSON and
    the markdown export both carry the whole line, not just the value."""
    from oxidizepdf_spark.functions import _fn_elements_json, _fn_export_markdown

    pdf = build_pdf_with_content_stream(
        b"BT /F1 12 Tf 72 700 Td (Name: Alice) Tj ET"
    )
    els = json.loads(_fn_elements_json(pd.Series([pdf]))[0])
    assert els == [
        {"kind": "key_value", "text": "Name: Alice", "heading": None, "page": 0}
    ]
    assert _fn_export_markdown(pd.Series([pdf]))[0] == "# Document\n\nName: Alice"
