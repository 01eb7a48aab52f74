"""ai_export parity tests — expectations mirror the reference's own unit
tests in oxidize-pdf-core/src/ai/formats.rs (test module, :1195+)."""

import json

import pytest

from oxidizepdf_spark.kernel.ai_export import (
    DocumentMetadata,
    export_chunks_compact,
    export_contextual_simple,
    export_contextual_with_metadata,
    export_contextual_with_metadata_and_pages,
    export_contextual_with_pages,
    export_json_pages,
    export_json_simple,
    export_json_with_chunks,
    export_json_with_metadata,
    export_markdown_text,
    export_markdown_with_metadata,
    export_markdown_with_metadata_and_pages,
    export_markdown_with_pages,
    export_structured_markdown,
    parse_chunks_compact,
    table_to_markdown,
)


def _chunk(content="Hello world", **over):
    c = {
        "id": "chunk_0",
        "tokens": 10,
        "chunk_index": 0,
        "page_numbers": [1],
        "content": content,
        "position": {
            "start_char": 0,
            "end_char": 100,
            "first_page": 1,
            "last_page": 1,
        },
        "confidence": 1.0,
        "sentence_boundary": True,
    }
    c.update(over)
    return c


# ------------------------------------------------------------- markdown


def test_markdown_text():
    md = export_markdown_text("This is a sample document.")
    assert md == "# Document\n\nThis is a sample document."


def test_markdown_with_metadata_frontmatter_order_and_escaping():
    meta = DocumentMetadata(
        "My Document", 5, created_at="2025-10-13", author="John Doe"
    )
    md = export_markdown_with_metadata("Content here", meta)
    # formats.rs: title, pages, created, author — in that order
    assert md.startswith(
        "---\ntitle: My Document\npages: 5\ncreated: 2025-10-13\n"
        "author: John Doe\n---\n\n# My Document\n\nContent here"
    )
    # colon in title triggers quoting (formats.rs:206)
    md2 = export_markdown_with_metadata(
        "x", DocumentMetadata("A: B", 1)
    )
    assert 'title: "A: B"' in md2
    # colon in author triggers quoting too
    md3 = export_markdown_with_metadata(
        "x", DocumentMetadata("T", 1, author="lab: a")
    )
    assert 'author: "lab: a"' in md3


def test_markdown_with_pages_separators():
    md = export_markdown_with_pages([(1, "P1"), (2, "P2"), (3, "P3")])
    assert md == (
        "# Document\n\n**Page 1**\n\nP1\n\n---\n\n"
        "**Page 2**\n\nP2\n\n---\n\n**Page 3**\n\nP3"
    )


def test_markdown_with_metadata_and_pages():
    meta = DocumentMetadata("Multi-Page Doc", 2)
    md = export_markdown_with_metadata_and_pages(
        [(1, "First page"), (2, "Second page")], meta
    )
    assert "pages: 2" in md and "**Page 1**" in md and "**Page 2**" in md
    assert "# Multi-Page Doc\n\n**Page 1**" in md


# ------------------------------------------------------------ contextual


def test_contextual_simple():
    out = export_contextual_simple("Sample document text.")
    assert out == "Document content:\n\nSample document text."


def test_contextual_with_metadata_full():
    meta = DocumentMetadata(
        "Annual Report", 25, created_at="2025-01-15", author="Jane Smith"
    )
    out = export_contextual_with_metadata("Report text...", meta)
    # author BEFORE created — reverse of frontmatter (formats.rs:769-775)
    assert out == (
        'This is a document titled "Annual Report" with 25 pages, '
        "written by Jane Smith, created on 2025-01-15.\n\n"
        "Content:\n\nReport text..."
    )


def test_contextual_singular_page_and_zero_pages():
    one = export_contextual_with_metadata("T", DocumentMetadata("D", 1))
    assert "with 1 page," not in one and "with 1 page\n" not in one
    assert 'titled "D" with 1 page.' in one
    zero = export_contextual_with_metadata("T", DocumentMetadata("D", 0))
    assert "with" not in zero.split("\n")[0]
    assert zero.startswith('This is a document titled "D".')


def test_contextual_with_pages_trailing_blank():
    out = export_contextual_with_pages([(1, "First"), (2, "Second")])
    # every page block ends with \n\n — including the last (formats.rs:811)
    assert out == (
        "Document content:\n\nOn page 1:\nFirst\n\nOn page 2:\nSecond\n\n"
    )
    assert export_contextual_with_pages([]) == "Document content:\n\n"


def test_contextual_with_metadata_and_pages():
    meta = DocumentMetadata("Technical Guide", 3)
    out = export_contextual_with_metadata_and_pages(
        [(1, "Introduction"), (2, "Main content")], meta
    )
    assert 'titled "Technical Guide"' in out
    assert "On page 1:\nIntroduction\n\n" in out


# ------------------------------------------------------------------ json


def test_json_simple_and_metadata():
    doc = json.loads(export_json_simple("hello"))
    assert doc == {"type": "document", "content": "hello"}
    meta = DocumentMetadata("My Document", 5, author="John Doe")
    doc2 = json.loads(export_json_with_metadata("C", meta))
    assert doc2["metadata"]["title"] == "My Document"
    assert doc2["metadata"]["page_count"] == 5
    assert doc2["metadata"]["author"] == "John Doe"
    assert "created_at" not in doc2["metadata"]


def test_json_pages_and_chunks():
    doc = json.loads(export_json_pages([(1, "a"), (2, "b")]))
    assert doc["page_count"] == 2
    assert doc["pages"][1] == {"page_number": 2, "content": "b"}
    cd = json.loads(export_json_with_chunks([_chunk()]))
    assert cd["type"] == "chunked_document" and cd["chunk_count"] == 1
    assert cd["chunks"][0]["metadata"]["position"]["end_char"] == 100


# -------------------------------------------------------- token-efficient


def test_compact_scalar_row():
    out = export_chunks_compact([_chunk()])
    lines = out.split("\n")
    assert len(lines) == 3
    assert lines[0] == "#oxct/1"
    assert lines[2] == (
        "chunk_0\t10\t0\t0\t100\t1\t1\t1.0000\ttrue\t1\tHello world"
    )


def test_compact_page_numbers_encoding():
    def field9(pages):
        out = export_chunks_compact([_chunk(page_numbers=pages)])
        return out.split("\n")[2].split("\t")[9]

    assert field9([2, 3, 4]) == "2;3;4"
    assert field9([1]) == "1"
    assert field9([]) == ""


@pytest.mark.parametrize(
    "content,encoded",
    [
        ("hello, world", "hello, world"),  # tabs delimit; commas raw
        ('say "hi"', '"say ""hi"""'),
        ('"hi"', '"""hi"""'),
        ('say "hello', '"say ""hello"'),  # odd interior quotes
        ("line1\nline2", '"line1\nline2"'),
        ("", ""),
    ],
)
def test_compact_content_quoting(content, encoded):
    out = export_chunks_compact([_chunk(content)])
    raw = out.split("\n", 2)[2].split("\t", 10)[10] if "\n" not in encoded \
        else out.split("#oxct/1\n", 1)[1].split("\n", 1)[1].split("\t", 10)[10]
    assert raw == encoded
    # and the round trip restores the original
    back = parse_chunks_compact(export_chunks_compact([_chunk(content)]))
    assert back[0]["content"] == content


def test_compact_roundtrip_full():
    chunks = [
        _chunk(),
        _chunk(
            'multi\nline "quoted" content\twith tab',
            id="c1",
            tokens=7,
            chunk_index=1,
            page_numbers=[2, 3],
            confidence=0.5,
            sentence_boundary=False,
        ),
    ]
    back = parse_chunks_compact(export_chunks_compact(chunks))
    assert back == chunks


def test_compact_parse_errors():
    with pytest.raises(ValueError):
        parse_chunks_compact("#wrong/9\nheader")
    with pytest.raises(ValueError):
        parse_chunks_compact("#oxct/1\nbad header")
    good = export_chunks_compact([_chunk()])
    with pytest.raises(ValueError):
        parse_chunks_compact(good + '\nonly\tthree\tcols')
    with pytest.raises(ValueError):  # dangling open quote
        parse_chunks_compact(good + '\n"unterminated')


# -------------------------------------------------- structured composition


class _T:
    def __init__(self, cells, rows, columns):
        self.cells = cells
        self.rows = rows
        self.columns = columns


class _C:
    def __init__(self, row, column, text):
        self.row = row
        self.column = column
        self.text = text


class _E:
    def __init__(self, kind, text):
        self.kind = kind
        self.text = text

    def display_text(self):
        return self.text


def test_table_to_markdown_pipes_and_escaping():
    t = _T(
        [_C(0, 0, "h1"), _C(0, 1, "h|2"), _C(1, 0, "a"), _C(1, 1, "b")],
        2,
        2,
    )
    assert table_to_markdown(t) == (
        "| h1 | h\\|2 |\n| --- | --- |\n| a | b |"
    )


def test_export_structured_markdown_composition():
    els = [
        _E("header", "running head"),
        _E("title", "Intro"),
        _E("paragraph", "Body text."),
        _E("list_item", "1. first item"),
        _E("footer", "page 1 of 9"),
    ]
    t = _T([_C(0, 0, "k"), _C(1, 0, "v")], 2, 1)
    md = export_structured_markdown(
        els, [t], DocumentMetadata("Doc T", 1)
    )
    assert md == (
        "---\ntitle: Doc T\npages: 1\n---\n\n# Doc T\n\n"
        "## Intro\n\nBody text.\n\n1. first item\n\n"
        "| k |\n| --- |\n| v |"
    )
    # headers/footers dropped; no metadata → '# Document' header
    md2 = export_structured_markdown([_E("paragraph", "p")])
    assert md2 == "# Document\n\np"


# ---------------------------------------------------- document chunker
# expectations mirror the reference's ai/chunking.rs test module
# (chunking.rs:508-903, incl. the upstream #308 regression cases)

from oxidizepdf_spark.kernel.ai_export import (  # noqa: E402
    chunk_text,
    chunk_text_with_pages,
    estimate_tokens,
)


def _coverage(text, chunks):
    covered = {t for c in chunks for t in c["content"].split()}
    missing = [t for t in text.split() if t not in covered]
    assert not missing, missing


def test_chunker_basic():
    text = " ".join(f"word{i}" for i in range(25))
    chunks = chunk_text(text, 10, 2)
    assert [c["tokens"] for c in chunks] == [10, 10, 9]
    assert [c["chunk_index"] for c in chunks] == [0, 1, 2]
    assert chunks[0]["id"] == "chunk_0"
    assert chunks[0]["position"]["start_char"] == 0


def test_chunker_overlap_preserves_context():
    chunks = chunk_text("a b c d e f g h i j", 5, 2)
    assert chunks[0]["content"].split()[-2:] == ["d", "e"]
    assert chunks[1]["content"].split()[:2] == ["d", "e"]


def test_chunker_empty_and_small():
    assert chunk_text("", 10, 2) == []
    assert chunk_text("   ", 10, 2) == []
    (one,) = chunk_text("just a few words", 100, 10)
    assert one["tokens"] == 4


def test_chunker_estimate_tokens():
    assert 2 <= estimate_tokens("hello world") <= 3
    assert estimate_tokens("") == 0
    long = " ".join(f"word{i}" for i in range(100))
    assert 120 <= estimate_tokens(long) <= 140


def test_chunker_page_tracking():
    pages = [
        (1, "This is page one content."),
        (2, "This is page two content."),
        (3, "This is page three content."),
    ]
    chunks = chunk_text_with_pages(pages, 10, 2)
    for c in chunks:
        assert c["page_numbers"]
        assert c["position"]["first_page"] > 0
        assert c["position"]["last_page"] > 0
    assert chunks[0]["position"]["first_page"] == 1


def test_chunker_confidence_and_positions():
    chunks = chunk_text(
        "word1 word2 word3 word4 word5 word6 word7 word8 word9 word10", 5, 1
    )
    assert chunks[0]["position"]["start_char"] == 0
    for c in chunks:
        assert 0.0 <= c["confidence"] <= 1.0
        assert c["position"]["end_char"] > c["position"]["start_char"]


def test_chunker_no_stall_sentence_boundary_at_chunk_start():
    # upstream #308: the only sentence end in the first window is token 0
    text = "Hi. " + " ".join(["word"] * 12)
    chunks = chunk_text(text, 10, 2)
    assert chunks
    _coverage(text, chunks)
    assert [c["chunk_index"] for c in chunks] == list(range(len(chunks)))


def test_chunker_no_stall_overlap_ge_chunk_size():
    text = " ".join(f"word{i}" for i in range(30))
    for size, overlap in [(3, 5), (4, 4), (1, 10)]:
        chunks = chunk_text(text, size, overlap)
        assert chunks, (size, overlap)
        _coverage(text, chunks)


def test_chunker_small_chunk_size_below_search_window():
    text = (
        "first. second third fourth. fifth sixth seventh eighth. "
        "ninth tenth eleventh twelfth"
    )
    chunks = chunk_text(text, 4, 1)
    _coverage(text, chunks)
    assert all(c["tokens"] >= 1 for c in chunks)


def test_chunker_zero_chunk_size_terminates():
    text = "alpha beta gamma delta epsilon"
    chunks = chunk_text(text, 0, 0)
    assert chunks
    _coverage(text, chunks)


def test_chunker_sentence_boundary_respected():
    text = (
        "one two three four five. six seven eight nine ten eleven "
        "twelve thirteen"
    )
    chunks = chunk_text(text, 10, 2)
    assert chunks[0]["sentence_boundary"] is True
    assert chunks[0]["content"].endswith("five.")
    _coverage(text, chunks)


def test_chunker_feeds_exporters_roundtrip():
    """The composed ai/ surface: DocumentChunker output → compact export
    → parse restores it; JSON chunk export consumes it directly."""
    text = " ".join(f"tok{i}" for i in range(40)) + " final sentence."
    chunks = chunk_text_with_pages([(1, text), (2, text)], 16, 4)
    assert parse_chunks_compact(export_chunks_compact(chunks)) == chunks
    doc = json.loads(export_json_with_chunks(chunks))
    assert doc["chunk_count"] == len(chunks)
    assert doc["chunks"][0]["metadata"]["position"]["first_page"] == 1


def test_export_pdf_markdown_and_contextual_doc_level():
    """ai/mod.rs:76/138 doc-level exports: page texts + /Info metadata
    (title default 'Untitled Document', CreationDate, author) through
    the metadata+pages exporters."""
    from oxidizepdf_spark.corpus import build_pdf_with_content_stream
    from oxidizepdf_spark.kernel.extract import (
        export_pdf_contextual,
        export_pdf_markdown,
    )

    pdf = build_pdf_with_content_stream(
        b"BT /F1 12 Tf 72 720 Td (hello page one) Tj ET",
        info={
            "Title": "My Doc",
            "Author": "Ann",
            "CreationDate": "D:20240115",
        },
    )
    md = export_pdf_markdown(pdf)
    assert md.startswith(
        "---\ntitle: My Doc\npages: 1\ncreated: D:20240115\nauthor: Ann\n"
        "---\n\n# My Doc\n\n**Page 1**\n\nhello page one"
    )
    ctx = export_pdf_contextual(pdf)
    assert ctx == (
        'This is a document titled "My Doc" with 1 page, written by Ann, '
        "created on D:20240115.\n\nContent:\n\n"
        "On page 1:\nhello page one\n\n"
    )
    # no /Info at all → reference defaults
    bare = build_pdf_with_content_stream(
        b"BT /F1 12 Tf 72 720 Td (x) Tj ET"
    )
    md2 = export_pdf_markdown(bare)
    assert "title: Untitled Document" in md2
    assert "created:" not in md2 and "author:" not in md2


def test_pages_for_chunks_mapper():
    """chunk_page_mapper.rs:21 — 1-indexed chunk pages to sorted deduped
    0-indexed indices, zeros dropped."""
    from oxidizepdf_spark.kernel.ai_export import pages_for_chunks

    chunks = [
        _chunk(page_numbers=[3, 1]),
        _chunk(page_numbers=[1, 2]),
        _chunk(page_numbers=[0]),  # page 0 = untracked, dropped
        _chunk(page_numbers=[]),
    ]
    assert pages_for_chunks(chunks) == [0, 1, 2]


def test_text_position_index_end_to_end():
    """source_highlighter.rs TextPositionIndex over a real 2-page
    extraction: a chunk's char range maps back to fragment rects on the
    right page with real coordinates."""
    from oxidizepdf_spark.corpus import build_text_pdf
    from oxidizepdf_spark.kernel.ai_export import (
        TextPositionIndex,
        chunk_text_with_pages,
    )
    from oxidizepdf_spark.kernel.extract import extract_pdf_bytes
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    lines = [f"line {i} words here" for i in range(6)]
    pdf = build_text_pdf("\n".join(lines), lines_per_page=3)  # 2 pages
    res = extract_pdf_bytes(pdf, ExtractionOptions(preserve_layout=True))
    assert len(res.page_texts) == 2
    idx = TextPositionIndex(
        list(zip(res.page_texts, res.page_fragments))
    )
    assert len(idx) > 0
    # page offsets follow the '\n\n' concatenation convention
    assert idx.page_offset(0) == 0
    assert idx.page_offset(1) == len(res.page_texts[0]) + 2
    assert idx.page_offset(2) is None
    # a range inside page 2's text resolves to page-1 (0-indexed) rects
    start = idx.page_offset(1)
    hits = idx.fragments_for_range(start, start + 10)
    assert hits and all(h["page"] == 1 for h in hits)
    assert all(h["width"] > 0 and h["height"] > 0 for h in hits)
    # degenerate range
    assert idx.fragments_for_range(5, 5) == []
    # chunker round-trip: chunk the same concatenation, map chunk 0 back
    pages = [(i + 1, t) for i, t in enumerate(res.page_texts)]
    chunks = chunk_text_with_pages(pages, 8, 2)
    c0 = chunks[0]["position"]
    covered = idx.fragments_for_range(c0["start_char"], c0["end_char"])
    assert covered and covered[0]["page"] == 0
