"""LLM-optimized export formats: Markdown, JSON, contextual, compact.

Reimplements the reference's ``ai::formats`` surface (reference:
oxidize-pdf-core/src/ai/formats.rs; module intent ai/mod.rs:1-30
"Export to Markdown ... Contextual format for LLM prompts") plus a
structure-aware markdown composer over this engine's typed elements +
detected tables (the composition the reference reaches via its
semantic/ layer; here partition.py + tables.py are the inputs).

String conventions match the reference byte-for-byte where it defines
them:
- Markdown plain export: ``"# Document\\n\\n" + text`` (formats.rs:163).
- YAML frontmatter: title / pages / created / author in that order;
  title quoted iff it contains ``:`` or ``#``, author iff ``:``
  (formats.rs:201-236).
- Page markers: ``**Page N**`` blocks separated by ``\\n\\n---\\n\\n``
  (formats.rs:267-283).
- Contextual intro: ``This is a document titled "T" with N page(s),
  written by A, created on D.`` — author BEFORE created, the reverse
  of the frontmatter order (formats.rs:753-780).
- Contextual pages: ``On page N:\\ntext\\n\\n`` per page, INCLUDING the
  trailing blank line after the last page (formats.rs:806-817).
- Token-efficient chunk format: ``#oxct/1`` magic + tab-separated
  header + one row per chunk, RFC-4180-style content quoting
  (formats.rs:943-1190), fully round-trippable.
"""

from __future__ import annotations

import json


class DocumentMetadata:
    """formats.rs:28-52 DocumentMetadata (default 'Untitled Document')."""

    __slots__ = ("title", "page_count", "created_at", "author")

    def __init__(
        self,
        title: str = "Untitled Document",
        page_count: int = 0,
        created_at: str | None = None,
        author: str | None = None,
    ):
        self.title = title
        self.page_count = page_count
        self.created_at = created_at
        self.author = author


def _yaml_quote(value: str, triggers: str) -> str:
    """formats.rs:206-210 — quote (and escape inner quotes) only when a
    trigger character appears."""
    if any(c in value for c in triggers):
        return '"' + value.replace('"', '\\"') + '"'
    return value


def _frontmatter(meta: DocumentMetadata) -> str:
    """YAML frontmatter block (formats.rs:201-236): title, pages,
    created, author — in that order."""
    out = ["---\n"]
    out.append(f"title: {_yaml_quote(meta.title, ':#')}\n")
    out.append(f"pages: {meta.page_count}\n")
    if meta.created_at is not None:
        out.append(f"created: {meta.created_at}\n")
    if meta.author is not None:
        out.append(f"author: {_yaml_quote(meta.author, ':')}\n")
    out.append("---\n\n")
    return "".join(out)


# ---------------------------------------------------------------- Markdown


def export_markdown_text(text: str) -> str:
    """formats.rs:163 MarkdownExporter::export_text."""
    return "# Document\n\n" + text


def export_markdown_with_metadata(text: str, meta: DocumentMetadata) -> str:
    """formats.rs:201 MarkdownExporter::export_with_metadata."""
    return _frontmatter(meta) + f"# {meta.title}\n\n" + text


def _page_blocks(page_texts: list[tuple[int, str]]) -> str:
    parts = []
    for i, (page_num, text) in enumerate(page_texts):
        if i > 0:
            parts.append("\n\n---\n\n")
        parts.append(f"**Page {page_num}**\n\n")
        parts.append(text)
    return "".join(parts)


def export_markdown_with_pages(page_texts: list[tuple[int, str]]) -> str:
    """formats.rs:267 MarkdownExporter::export_with_pages."""
    return "# Document\n\n" + _page_blocks(page_texts)


def export_markdown_with_metadata_and_pages(
    page_texts: list[tuple[int, str]], meta: DocumentMetadata
) -> str:
    """formats.rs:318 MarkdownExporter::export_with_metadata_and_pages."""
    return _frontmatter(meta) + f"# {meta.title}\n\n" + _page_blocks(page_texts)


# --------------------------------------------------------------- Contextual


def _contextual_intro(meta: DocumentMetadata) -> str:
    """formats.rs:753-780: natural-language metadata sentence. Order:
    pages, author, created (NOT the frontmatter order)."""
    out = [f'This is a document titled "{meta.title}"']
    if meta.page_count > 0:
        s = "" if meta.page_count == 1 else "s"
        out.append(f" with {meta.page_count} page{s}")
    if meta.author is not None:
        out.append(f", written by {meta.author}")
    if meta.created_at is not None:
        out.append(f", created on {meta.created_at}")
    out.append(".\n\nContent:\n\n")
    return "".join(out)


def export_contextual_simple(text: str) -> str:
    """formats.rs:716 ContextualFormat::export_simple."""
    return "Document content:\n\n" + text


def export_contextual_with_metadata(text: str, meta: DocumentMetadata) -> str:
    """formats.rs:753 ContextualFormat::export_with_metadata."""
    return _contextual_intro(meta) + text


def _contextual_pages(page_texts: list[tuple[int, str]]) -> str:
    # trailing \n\n after EVERY page, including the last (formats.rs:811-815)
    return "".join(
        f"On page {page_num}:\n{text}\n\n" for page_num, text in page_texts
    )


def export_contextual_with_pages(page_texts: list[tuple[int, str]]) -> str:
    """formats.rs:806 ContextualFormat::export_with_pages."""
    return "Document content:\n\n" + _contextual_pages(page_texts)


def export_contextual_with_metadata_and_pages(
    page_texts: list[tuple[int, str]], meta: DocumentMetadata
) -> str:
    """formats.rs:851 ContextualFormat::export_with_metadata_and_pages."""
    return _contextual_intro(meta) + _contextual_pages(page_texts)


# -------------------------------------------------------------------- JSON


def _json_pretty(obj) -> str:
    # serde_json::to_string_pretty uses 2-space indent and ": " / ","
    # separators — json.dumps(indent=2) matches
    return json.dumps(obj, indent=2, ensure_ascii=False)


def export_json_simple(text: str) -> str:
    """formats.rs:488 JsonExporter::export_simple."""
    return _json_pretty({"type": "document", "content": text})


def export_json_with_metadata(text: str, meta: DocumentMetadata) -> str:
    """formats.rs:523 JsonExporter::export_with_metadata."""
    meta_obj: dict = {"title": meta.title, "page_count": meta.page_count}
    if meta.created_at is not None:
        meta_obj["created_at"] = meta.created_at
    if meta.author is not None:
        meta_obj["author"] = meta.author
    return _json_pretty(
        {"type": "document", "metadata": meta_obj, "content": text}
    )


def export_json_pages(page_texts: list[tuple[int, str]]) -> str:
    """formats.rs:571 JsonExporter::export_pages."""
    return _json_pretty(
        {
            "type": "document",
            "page_count": len(page_texts),
            "pages": [
                {"page_number": n, "content": t} for n, t in page_texts
            ],
        }
    )


def export_json_with_chunks(chunks: list[dict]) -> str:
    """formats.rs:626 JsonExporter::export_with_chunks. ``chunks`` are
    dicts in the compact-chunk shape (see export_chunks_compact)."""
    objs = [
        {
            "id": c["id"],
            "content": c["content"],
            "tokens": c["tokens"],
            "page_numbers": c["page_numbers"],
            "chunk_index": c["chunk_index"],
            "metadata": {
                "position": dict(c["position"]),
                "confidence": c["confidence"],
                "sentence_boundary_respected": c["sentence_boundary"],
            },
        }
        for c in chunks
    ]
    return _json_pretty(
        {
            "type": "chunked_document",
            "chunk_count": len(chunks),
            "chunks": objs,
        }
    )


# ------------------------------------------------- token-efficient compact

_COMPACT_MAGIC = "#oxct/1"  # formats.rs:947
_COMPACT_HEADER = (
    "id\ttokens\tchunk_index\tstart_char\tend_char\tfirst_page\tlast_page"
    "\tconfidence\tsentence_boundary\tpage_numbers\tcontent"
)


def _quote_content(s: str) -> str:
    """formats.rs:1120-1131 quote_content: RFC-4180 invariant — a field
    is raw iff it contains no '"', newline, or CR."""
    if '"' in s or "\n" in s or "\r" in s:
        return '"' + s.replace('"', '""') + '"'
    return s


def _parse_content_field(s: str) -> str:
    """formats.rs:1140-1160 parse_content_field (strict inverse)."""
    if len(s) >= 2 and s.startswith('"') and s.endswith('"'):
        inner = s[1:-1]
        if '"' in inner.replace('""', ""):
            raise ValueError(
                "token-efficient: malformed quoted content field "
                "(unbalanced quotes)"
            )
        return inner.replace('""', '"')
    if '"' in s:
        raise ValueError(
            "token-efficient: unquoted content field contains a stray quote"
        )
    return s


def export_chunks_compact(chunks: list[dict]) -> str:
    """formats.rs:958 TokenEfficientExporter::export_chunks — declares
    column names once, then one tab-separated row per chunk (the
    token-efficient TOON-inspired tabular format, issue #291 upstream).

    Each chunk dict carries: id, tokens, chunk_index, page_numbers
    (list[int]), content, position {start_char,end_char,first_page,
    last_page}, confidence, sentence_boundary."""
    out = [_COMPACT_MAGIC, _COMPACT_HEADER]
    for c in chunks:
        p = c["position"]
        out.append(
            "\t".join(
                (
                    c["id"],
                    str(c["tokens"]),
                    str(c["chunk_index"]),
                    str(p["start_char"]),
                    str(p["end_char"]),
                    str(p["first_page"]),
                    str(p["last_page"]),
                    f"{c['confidence']:.4f}",
                    "true" if c["sentence_boundary"] else "false",
                    ";".join(str(n) for n in c["page_numbers"]),
                    _quote_content(c["content"]),
                )
            )
        )
    return "\n".join(out)


def _rejoin_quoted_lines(text: str) -> list[str]:
    """formats.rs:1063-1085 — '\\n' inside a quoted field is content, not
    a row break; a dangling open quote is rejected."""
    rows: list[str] = []
    cur: list[str] = []
    in_quote = False
    for ch in text:
        if ch == '"':
            in_quote = not in_quote
            cur.append(ch)
        elif ch == "\n" and not in_quote:
            rows.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if in_quote:
        raise ValueError("token-efficient: unterminated quoted field")
    rows.append("".join(cur))
    return rows


def parse_chunks_compact(text: str) -> list[dict]:
    """formats.rs:977 TokenEfficientExporter::parse_chunks — the strict
    round-trip inverse of export_chunks_compact."""
    logical = _rejoin_quoted_lines(text)
    it = iter(logical)
    magic = next(it, None)
    if magic is None or magic.rstrip("\r") != _COMPACT_MAGIC:
        raise ValueError(
            f"token-efficient: unexpected version marker {magic!r}"
        )
    header = next(it, None)
    if header is None or header.rstrip("\r") != _COMPACT_HEADER:
        raise ValueError(
            f"token-efficient: unexpected column header {header!r}"
        )
    chunks = []
    for line in it:
        if not line:
            continue
        fields = line.split("\t", 10)
        if len(fields) != 11:
            raise ValueError(
                f"token-efficient: row has {len(fields)} columns, expected 11"
            )
        confidence = float(fields[7])
        if not (confidence == confidence and abs(confidence) != float("inf")):
            raise ValueError(
                f"token-efficient: confidence must be finite, got {confidence}"
            )
        pages = (
            [int(p) for p in fields[9].split(";")] if fields[9] else []
        )
        chunks.append(
            {
                "id": fields[0],
                "tokens": int(fields[1]),
                "chunk_index": int(fields[2]),
                "page_numbers": pages,
                "content": _parse_content_field(fields[10]),
                "position": {
                    "start_char": int(fields[3]),
                    "end_char": int(fields[4]),
                    "first_page": int(fields[5]),
                    "last_page": int(fields[6]),
                },
                "confidence": confidence,
                "sentence_boundary": fields[8] == "true",
            }
        )
    return chunks


# ------------------------------------------------------ document chunker


def estimate_tokens(text: str) -> int:
    """chunking.rs:497 DocumentChunker::estimate_tokens — 1 token ≈ 0.75
    words (×1.33, truncated), the reference's GPT-ish approximation."""
    return int(len(text.split()) * 1.33)


def chunk_text(
    text: str, chunk_size: int = 512, overlap: int = 50
) -> list[dict]:
    """chunking.rs:295 DocumentChunker::chunk_text (no page info)."""
    return _chunk_text_internal(text, [], 0, chunk_size, overlap)


def chunk_text_with_pages(
    page_texts: list[tuple[int, str]],
    chunk_size: int = 512,
    overlap: int = 50,
) -> list[dict]:
    """chunking.rs:309 chunk_text_with_pages: pages joined with '\\n\\n',
    cumulative char boundaries, 0 fallback first page."""
    full: list[str] = []
    total = 0
    boundaries = [0]
    for _page_num, t in page_texts:
        if total:  # mirror the reference's is_empty() check exactly:
            full.append("\n\n")  # no separator after an empty first page
            total += 2
        full.append(t)
        total += len(t)
        boundaries.append(total)
    first_page = page_texts[0][0] if page_texts else 0
    return _chunk_text_internal(
        "".join(full), boundaries, first_page, chunk_size, overlap
    )


def _chunk_text_internal(
    text: str,
    page_boundaries: list[int],
    first_page: int,
    chunk_size: int,
    overlap: int,
) -> list[dict]:
    """chunking.rs:334 chunk_text_internal — fixed-size whitespace-token
    windows with overlap, sentence-boundary backtracking bounded to the
    last 10 tokens and never before start+1 (upstream #308 stall fix),
    guaranteed forward progress, cumulative char positions over the
    JOINED content stream (the reference's quirk: char_offset advances
    by len(content) with no inter-chunk gap), page mapping by
    char-interval overlap with 1-indexed boundaries."""
    if not text:
        return []
    tokens = text.split()
    if not tokens:
        return []
    chunk_size = max(chunk_size, 1)
    overlap = min(overlap, chunk_size - 1)

    chunks: list[dict] = []
    start = 0
    chunk_idx = 0
    char_offset = 0
    n = len(tokens)
    while start < n:
        end = min(start + chunk_size, n)
        sentence_boundary = False
        if end < n and end > start:
            window_start = max(end - 10, start + 1)
            for i in range(end - 1, window_start - 1, -1):
                if tokens[i].endswith((".", "!", "?")):
                    end = i + 1
                    sentence_boundary = True
                    break
        content = " ".join(tokens[start:end])
        start_char = char_offset
        end_char = char_offset + len(content)
        char_offset = end_char
        if not page_boundaries:
            pages: list[int] = []
            first_pg = last_pg = 0
        else:
            pages = []
            first_pg = last_pg = first_page
            for idx in range(1, len(page_boundaries)):
                if (
                    start_char < page_boundaries[idx]
                    and end_char > page_boundaries[idx - 1]
                ):
                    page_num = first_page + idx - 1
                    pages.append(page_num)
                    if len(pages) == 1:
                        first_pg = page_num
                    last_pg = page_num
            if not pages:  # chunk beyond all tracked pages
                pages = [first_page]
                first_pg = last_pg = first_page
        chunks.append(
            {
                "id": f"chunk_{chunk_idx}",
                "content": content,
                "tokens": end - start,
                "page_numbers": pages,
                "chunk_index": chunk_idx,
                "position": {
                    "start_char": start_char,
                    "end_char": end_char,
                    "first_page": first_pg,
                    "last_page": last_pg,
                },
                "confidence": 1.0,
                "sentence_boundary": sentence_boundary,
            }
        )
        chunk_idx += 1
        if end < n:
            next_start = max(end - overlap, 0)
            start = next_start if next_start > start else end
        else:
            break
    return chunks


# ----------------------------------------------- RAG provenance mapping


def pages_for_chunks(chunks: list[dict]) -> list[int]:
    """operations/chunk_page_mapper.rs:21 ChunkPageMapper::
    pages_for_chunks — chunk page_numbers (1-indexed) → sorted,
    deduplicated, 0-indexed page indices (the read half; the page
    re-assembly half is write-side, out of scope)."""
    return sorted(
        {p - 1 for c in chunks for p in c["page_numbers"] if p > 0}
    )


class TextPositionIndex:
    """operations/source_highlighter.rs:52 TextPositionIndex — maps
    character offsets in the '\\n\\n'-concatenated document text (the
    chunker's concatenation) back to PDF page coordinates, by locating
    each positioned fragment's text within its page text with an
    incremental forward search. The read-side half of chunk-provenance
    highlighting: given a DocumentChunk's char range, ``
    fragments_for_range`` returns the page rects that cover it (the
    annotation-writing half is out of scope)."""

    def __init__(self, pages: list[tuple[str, list]]):
        """``pages``: (page_text, fragments) per page; fragments carry
        .text/.x/.y/.width/.height (layout.py TextFragment or the C
        kernel's CFrag — both expose the slots)."""
        self.entries: list[dict] = []
        self.page_offsets: list[int] = []
        global_offset = 0
        n = len(pages)
        for page_idx, (page_text, fragments) in enumerate(pages):
            self.page_offsets.append(global_offset)
            search_from = 0
            for frag in fragments:
                ftext = frag.text
                if not ftext:
                    continue
                pos = page_text.find(ftext, search_from)
                if pos >= 0:
                    self.entries.append(
                        {
                            "page": page_idx,
                            "start_char": global_offset + pos,
                            "end_char": global_offset + pos + len(ftext),
                            "x": frag.x,
                            "y": frag.y,
                            "width": frag.width,
                            "height": frag.height,
                        }
                    )
                    search_from = pos + len(ftext)
            global_offset += len(page_text)
            if page_idx < n - 1:
                global_offset += 2  # the '\n\n' separator

    def fragments_for_range(self, start: int, end: int) -> list[dict]:
        if start >= end:
            return []
        return [
            e
            for e in self.entries
            if e["start_char"] < end and e["end_char"] > start
        ]

    def page_offset(self, page: int) -> int | None:
        if 0 <= page < len(self.page_offsets):
            return self.page_offsets[page]
        return None

    def __len__(self) -> int:
        return len(self.entries)


# ------------------------------------------- structure-aware composition


def table_to_markdown(table) -> str:
    """DetectedTable (kernel/tables.py) → GitHub pipe table: row 0 is the
    header, then the ``| --- |`` separator, then the body rows. Pipe
    characters inside cell text are escaped as ``\\|`` (the one markdown
    metacharacter that would break the row structure)."""
    grid = [["" for _ in range(table.columns)] for _ in range(table.rows)]
    for cell in table.cells:
        grid[cell.row][cell.column] = cell.text.replace("|", "\\|")
    lines = []
    for r, row in enumerate(grid):
        lines.append("| " + " | ".join(row) + " |")
        if r == 0:
            lines.append("| " + " | ".join("---" for _ in row) + " |")
    return "\n".join(lines)


def elements_to_markdown_blocks(elements) -> list[str]:
    """Typed elements (kernel/partition.py classify_pages output) →
    markdown blocks of their display text: titles render as ``## ``
    headings (level 2 — level 1 is the document title from metadata),
    headers/footers are boilerplate and dropped, list items keep their
    own marker text ('1. ' / '- ' prefixes are already valid markdown
    list syntax), paragraphs and 'key: value' lines pass through."""
    blocks = []
    for el in elements:
        if el.kind in ("header", "footer"):
            continue
        if el.kind == "title":
            blocks.append("## " + el.display_text())
        else:
            blocks.append(el.display_text())
    return blocks


def export_structured_markdown(
    elements, tables=(), meta: DocumentMetadata | None = None
) -> str:
    """The composed read-side export the reference's ai/ module targets:
    typed elements as headings/paragraphs, detected tables as pipe
    tables, optional YAML frontmatter + document-title heading. Blocks
    are separated by blank lines (reference markdown conventions from
    formats.rs; structure sourcing is this engine's elements/tables
    passes)."""
    blocks = elements_to_markdown_blocks(elements)
    blocks.extend(table_to_markdown(t) for t in tables)
    body = "\n\n".join(blocks)
    if meta is None:
        return export_markdown_text(body)
    return export_markdown_with_metadata(body, meta)
