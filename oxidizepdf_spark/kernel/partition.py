"""Rich document partitioner: fragments → fully-typed elements.

Behavioral parity target: the reference's pipeline/partition.rs
(`Partitioner`, `PartitionConfig`, `assign_heading_paths`) and
pipeline/element.rs (the full Element enum with per-element metadata),
plus the spatial-cluster table detector it delegates to
(text/structured/table.rs `detect_tables`), with the reference's
complete classification sequence:

0. struct-tag classification (partition.rs:228-264): H/H1-H6/Title →
   Title at confidence 1.0; LI/Lbl/LBody → ListItem at 1.0; L and
   Artifact fall through (Artifact to header/footer, L is a container).
1. header/footer zones (partition.rs:266-302): length cap 100 chars,
   body-tagged fragments exempt, confidence = clamp(distance/zone, .5, 1).
2. tables (partition.rs:304-436): ruling-first over page graphics
   (kernel/tables.py bordered detector standing in for
   table_detection.rs), then the spatial-cluster detector
   (structured/table.rs transcribed below) over Y-segmented regions
   that don't look like lists; both gated by min_table_confidence,
   claimed fragments by bbox containment ±1pt.
3. key-value (partition.rs:477-503): "Key: Value" with short non-prose
   keys, confidence penalizing long/multi-word keys.
4. titles (partition.rs:505-553): font-ratio OR bold-short OR
   numeric-prefix signals, confidence = max of signals clamped [.5, 1].
5. list items (partition.rs:555-562, is_list_item).
6. paragraphs (default).
Then a page-order sort (partition.rs:571-578) and heading-path
assignment (partition.rs:587-639: title font sizes bucketed desc with
5% merge → level; a (level, text) stack yields the breadcrumb;
parent_heading = leaf — a title's own parent_heading is itself).

Body font size follows partition.rs:437-467 — the mode over UNCLAIMED
fragments quantized to 0.5 pt (half-away-from-zero rounding), ties
toward the smaller size, 12.0 when no sized fragments remain.

``classify_pages`` is the document-level adapter the element queries,
the elements/markdown SQL functions and ``extract_elements`` share. It
only fixes settings of the partitioner above:

- tables off and reading order 'none': its callers hand it
  paragraph-reconstructed fragments already in extraction order, and
  table detection is a separate pass where they want it;
- page height 792 pt: the US-Letter MediaBox every corpus builder
  writes, so the 5% header/footer zones sit where the pages put them;
- a stable re-sort by (page, top edge descending): the partitioner
  emits claimed furniture (headers/footers) before the body, and the
  re-sort puts it back in reading order on its page;
- newlines folded to spaces in each element's display text:
  paragraph reconstruction joins lines with '\n', while chunk and
  markdown text are single-line; a key-value element keeps its full
  'key: value' line;
- heading paths assigned once over the whole document rather than per
  page, so a section's lineage carries across page breaks, and
  ``known_headings`` (outline titles) promote matching non-furniture
  elements to titles first.
"""

from __future__ import annotations

import math
import re

MAX_HEADER_TEXT_LEN = 100  # partition.rs:943
MAX_BOLD_TITLE_LEN = 120  # partition.rs:944
MAX_NUMERIC_TITLE_LEN = 120  # partition.rs:945
MAX_NUMERIC_TITLE_WORDS = 14  # partition.rs:946


# ---------------------------------------------------------------------------
# Element model (pipeline/element.rs)
# ---------------------------------------------------------------------------


class ElementBBox:
    """Axis-aligned bbox, origin at bottom-left (element.rs:294-340)."""

    __slots__ = ("x", "y", "width", "height")

    def __init__(self, x=0.0, y=0.0, width=0.0, height=0.0):
        self.x = x
        self.y = y
        self.width = width
        self.height = height

    def right(self) -> float:
        return self.x + self.width

    def top(self) -> float:
        return self.y + self.height

    def __eq__(self, other):
        return (
            isinstance(other, ElementBBox)
            and self.x == other.x
            and self.y == other.y
            and self.width == other.width
            and self.height == other.height
        )

    def __repr__(self):
        return f"ElementBBox({self.x}, {self.y}, {self.width}, {self.height})"


def union_bbox(a: ElementBBox, b: ElementBBox) -> ElementBBox:
    """chunk_metadata.rs:280-286."""
    x = min(a.x, b.x)
    y = min(a.y, b.y)
    right = max(a.right(), b.right())
    top = max(a.top(), b.top())
    return ElementBBox(x, y, right - x, top - y)


class ElementMetadata:
    """element.rs ElementMetadata (defaults element.rs:275-291)."""

    __slots__ = (
        "page",
        "bbox",
        "confidence",
        "font_name",
        "font_size",
        "is_bold",
        "is_italic",
        "parent_heading",
        "heading_path",
    )

    def __init__(
        self,
        page=0,
        bbox=None,
        confidence=1.0,
        font_name=None,
        font_size=None,
        is_bold=False,
        is_italic=False,
        parent_heading=None,
        heading_path=None,
    ):
        self.page = page
        self.bbox = bbox if bbox is not None else ElementBBox()
        self.confidence = confidence
        self.font_name = font_name
        self.font_size = font_size
        self.is_bold = is_bold
        self.is_italic = is_italic
        self.parent_heading = parent_heading
        self.heading_path = heading_path if heading_path is not None else []

    def clone(self) -> "ElementMetadata":
        return ElementMetadata(
            self.page,
            ElementBBox(self.bbox.x, self.bbox.y, self.bbox.width, self.bbox.height),
            self.confidence,
            self.font_name,
            self.font_size,
            self.is_bold,
            self.is_italic,
            self.parent_heading,
            list(self.heading_path),
        )


# element.rs:115-127 type names double as the Python-side kind tags
KIND_TITLE = "title"
KIND_PARAGRAPH = "paragraph"
KIND_TABLE = "table"
KIND_HEADER = "header"
KIND_FOOTER = "footer"
KIND_LIST_ITEM = "list_item"
KIND_IMAGE = "image"
KIND_CODE_BLOCK = "code_block"
KIND_KEY_VALUE = "key_value"


class RichElement:
    """One variant of the element.rs Element enum.

    ``kind`` is the element.rs type_name(); ``rows`` is set for tables
    (list of list of cell strings), ``key``/``value`` for key-value
    elements, ``alt_text`` for images.
    """

    __slots__ = ("kind", "_text", "metadata", "rows", "key", "value", "alt_text")

    def __init__(
        self, kind, text="", metadata=None, rows=None, key=None, value=None,
        alt_text=None,
    ):
        self.kind = kind
        self._text = text
        self.metadata = metadata if metadata is not None else ElementMetadata()
        self.rows = rows
        self.key = key
        self.value = value
        self.alt_text = alt_text

    def clone(self) -> "RichElement":
        return RichElement(
            self.kind,
            self._text,
            self.metadata.clone(),
            [list(r) for r in self.rows] if self.rows is not None else None,
            self.key,
            self.value,
            self.alt_text,
        )

    @property
    def text(self) -> str:
        """element.rs:30-47: raw content — tables have none, images yield
        alt text, key-values yield the VALUE only."""
        if self.kind == KIND_TABLE:
            return ""
        if self.kind == KIND_IMAGE:
            return self.alt_text or ""
        if self.kind == KIND_KEY_VALUE:
            return self.value or ""
        return self._text

    def display_text(self) -> str:
        """element.rs:56-68: tables as pipe rows, KV as 'key: value'."""
        if self.kind == KIND_TABLE:
            return "\n".join(" | ".join(row) for row in (self.rows or []))
        if self.kind == KIND_IMAGE:
            return self.alt_text or ""
        if self.kind == KIND_KEY_VALUE:
            return f"{self.key}: {self.value}"
        return self._text

    def type_name(self) -> str:
        return self.kind

    def page(self) -> int:
        return self.metadata.page

    def bbox(self) -> ElementBBox:
        return self.metadata.bbox

    def is_title(self) -> bool:
        return self.kind == KIND_TITLE

    def __repr__(self):
        return f"RichElement({self.kind!r}, {self.display_text()[:40]!r})"


# ---------------------------------------------------------------------------
# Config (partition.rs:22-120)
# ---------------------------------------------------------------------------


class PartitionConfig:
    """partition.rs PartitionConfig; ``reading_order`` is one of
    'simple' | 'xycut' | 'none' (ReadingOrderStrategy), with
    ``xycut_min_gap`` carrying the XYCut { min_gap } payload."""

    __slots__ = (
        "detect_tables",
        "detect_headers_footers",
        "title_min_font_ratio",
        "header_zone",
        "footer_zone",
        "reading_order",
        "xycut_min_gap",
        "min_table_confidence",
        "prefer_ruling_tables",
        "detect_spatial_tables",
    )

    def __init__(
        self,
        detect_tables=True,
        detect_headers_footers=True,
        title_min_font_ratio=1.3,
        header_zone=0.05,
        footer_zone=0.05,
        reading_order="simple",
        xycut_min_gap=20.0,
        min_table_confidence=0.5,
        prefer_ruling_tables=True,
        detect_spatial_tables=True,
    ):
        self.detect_tables = detect_tables
        self.detect_headers_footers = detect_headers_footers
        self.title_min_font_ratio = title_min_font_ratio
        self.header_zone = header_zone
        self.footer_zone = footer_zone
        self.reading_order = reading_order
        self.xycut_min_gap = xycut_min_gap
        self.min_table_confidence = min_table_confidence
        self.prefer_ruling_tables = prefer_ruling_tables
        self.detect_spatial_tables = detect_spatial_tables


# ---------------------------------------------------------------------------
# Confidence + heuristic helpers (partition.rs:914-1105)
# ---------------------------------------------------------------------------


def compute_title_confidence(actual_ratio: float, min_ratio: float) -> float:
    """partition.rs:914-919."""
    if min_ratio <= 0.0:
        return 1.0
    v = 0.5 + 0.5 * (actual_ratio - min_ratio) / min_ratio
    return min(max(v, 0.5), 1.0)


def compute_zone_confidence(distance: float, zone_size: float) -> float:
    """partition.rs:922-927."""
    if zone_size <= 0.0:
        return 0.5
    return min(max(distance / zone_size, 0.5), 1.0)


def compute_kv_confidence(key: str) -> float:
    """partition.rs:930-939 (key.len() is a BYTE length in Rust)."""
    len_penalty = len(key.encode("utf-8")) / 40.0
    word_count = len(key.split())
    word_penalty = 0.1 * (word_count - 2) if word_count > 2 else 0.0
    return min(max(1.0 - len_penalty - word_penalty, 0.5), 1.0)


def ends_with_sentence_terminator(s: str) -> bool:
    """partition.rs:950-952."""
    return bool(s) and s[-1] in ".!?"


def bold_short_title(f) -> bool:
    """partition.rs:958-968."""
    if not getattr(f, "is_bold", False):
        return False
    trimmed = f.text.strip()
    n = len(trimmed)
    if n == 0 or n > MAX_BOLD_TITLE_LEN:
        return False
    return not ends_with_sentence_terminator(trimmed)


_SECTION_PREFIX_RE = re.compile(
    r"^([A-Z]\d+(\.\d+)*(\.[a-z]\.?)?|\d+(\.\d+)*\.?|Section\s+\d+:?"
    r"|Chapter\s+\d+:?|[IVX]+\.)\s+"
)  # partition.rs:976-984


def matches_section_prefix(s: str) -> bool:
    return _SECTION_PREFIX_RE.search(s) is not None


def strip_section_prefix(s: str) -> str:
    m = _SECTION_PREFIX_RE.search(s)
    return s[m.end():] if m else s


def numeric_prefix_title(f) -> bool:
    """partition.rs:1010-1048 — section prefix + uppercase next word,
    yielding to is_list_item on bare-integer markers; comma and
    word-count guards reject prose."""
    trimmed = f.text.strip()
    n = len(trimmed)
    if n == 0 or n > MAX_NUMERIC_TITLE_LEN:
        return False
    if not matches_section_prefix(trimmed):
        return False
    if is_list_item(trimmed):
        return False
    rest = strip_section_prefix(trimmed).lstrip()
    if not rest or not rest[0].isupper():
        return False
    if "," in trimmed:
        return False
    if len(trimmed.split()) > MAX_NUMERIC_TITLE_WORDS:
        return False
    return True


_BULLETS = ("- ", "• ", "* ", "– ", "— ")


def is_list_item(text: str) -> bool:
    """partition.rs:722-757: bullet prefixes, or '1. '/'2) '/'a. '/'a) '
    (single digit/lowercase letter, or two digits) followed by a space."""
    t = text.lstrip()
    if t.startswith(_BULLETS):
        return True
    if len(t) >= 3:
        c0, c1, c2 = t[0], t[1], t[2]
        if (
            (c0.isascii() and (c0.isdigit() or c0.islower()))
            and c1 in ".)"
            and c2 == " "
        ):
            return True
        if (
            len(t) >= 4
            and c0.isascii()
            and c0.isdigit()
            and c1.isascii()
            and c1.isdigit()
            and t[2] in ".)"
            and t[3] == " "
        ):
            return True
    return False


_HEADING_TAGS = frozenset(("H", "H1", "H2", "H3", "H4", "H5", "H6", "Title"))
_LIST_ITEM_TAGS = frozenset(("LI", "Lbl", "LBody"))
_BODY_TAGS = _HEADING_TAGS | _LIST_ITEM_TAGS | frozenset(("P", "Span", "L"))


def classify_by_struct_tag(tag: str):
    """partition.rs:1069-1077 → 'heading' | 'list' | 'list_item' |
    'artifact' | None."""
    if tag in _HEADING_TAGS:
        return "heading"
    if tag == "L":
        return "list"
    if tag in _LIST_ITEM_TAGS:
        return "list_item"
    if tag == "Artifact":
        return "artifact"
    return None


def struct_tag_is_body(tag) -> bool:
    """partition.rs:1084-1104 — None is NOT body; Artifact is furniture."""
    return tag is not None and tag in _BODY_TAGS


_PROSE_INDICATORS = frozenset(
    (
        "as", "the", "this", "that", "these", "those", "it", "is", "was",
        "were", "has", "have", "had", "will", "would", "should", "could",
        "may", "might", "shall", "can", "do", "does", "did", "being",
        "been", "are", "for", "with", "from", "into", "about", "after",
        "before", "during", "between", "through", "however", "therefore",
        "furthermore", "moreover", "although", "because", "since", "while",
        "when", "where", "which", "who", "whom", "whose", "according",
    )
)


def is_prose_prefix(key: str) -> bool:
    """partition.rs:642-660: first word prose → prose; any later word
    prose only counts when there are >2 words."""
    words = key.lower().split()
    if words and words[0] in _PROSE_INDICATORS:
        return True
    if len(words) > 2:
        for word in words[1:]:
            if word in _PROSE_INDICATORS:
                return True
    return False


# ---------------------------------------------------------------------------
# Spatial-cluster table detector (text/structured/table.rs)
# ---------------------------------------------------------------------------

# StructuredDataConfig defaults (structured/types.rs:266-276)
SPATIAL_MIN_TABLE_ROWS = 2
SPATIAL_MIN_TABLE_COLUMNS = 2
SPATIAL_COLUMN_TOLERANCE = 5.0
SPATIAL_ROW_TOLERANCE = 3.0


class SpatialTable:
    """structured/types.rs Table, reduced to what the partitioner reads:
    row-major cell texts, bounding box, confidence."""

    __slots__ = ("rows", "bounding_box", "confidence")

    def __init__(self, rows, bounding_box, confidence):
        self.rows = rows  # list[list[str]]
        self.bounding_box = bounding_box  # ElementBBox
        self.confidence = confidence


def _cluster_1d(values, tolerance, descending=False):
    """structured/table.rs cluster_columns/cluster_rows: sort, then chain
    neighbours within ``tolerance`` of the cluster's LAST member."""
    if not values:
        return []
    s = sorted(values, reverse=descending)
    clusters = [[s[0]]]
    for v in s[1:]:
        if abs(v - clusters[-1][-1]) <= tolerance:
            clusters[-1].append(v)
        else:
            clusters.append([v])
    return clusters


def _estimate_column_width(xs) -> float:
    """structured/table.rs:149-158 — spread, min 50; 50 for singletons."""
    if len(xs) == 1:
        return 50.0
    return max(max(xs) - min(xs), 50.0)


def detect_spatial_tables(fragments) -> list:
    """structured/table.rs detect_tables: X/Y position clustering →
    at most one table over the given fragments."""
    if not fragments:
        return []
    col_clusters = _cluster_1d([f.x for f in fragments], SPATIAL_COLUMN_TOLERANCE)
    columns = [
        (sum(c) / len(c), _estimate_column_width(c)) for c in col_clusters
    ]  # (x_position, width)
    row_clusters = _cluster_1d(
        [f.y for f in fragments], SPATIAL_ROW_TOLERANCE, descending=True
    )
    row_positions = [sum(c) / len(c) for c in row_clusters]
    if (
        len(row_positions) < SPATIAL_MIN_TABLE_ROWS
        or len(columns) < SPATIAL_MIN_TABLE_COLUMNS
    ):
        return []

    rows = [["" for _ in columns] for _ in row_positions]
    for f in fragments:
        cell = _find_cell_for_fragment(f, row_positions, columns)
        if cell is not None:
            r, c = cell
            if rows[r][c]:
                rows[r][c] += " " + f.text  # types.rs:141-146 add_text
            else:
                rows[r][c] = f.text

    bbox = _spatial_table_bbox(row_positions, columns)
    confidence = _spatial_table_confidence(rows)
    return [SpatialTable(rows, bbox, confidence)]


def _find_cell_for_fragment(f, row_positions, columns):
    """structured/table.rs:168-216 — nearest row/column, each within 2x
    its alignment tolerance."""
    ri = min(range(len(row_positions)), key=lambda i: abs(f.y - row_positions[i]))
    if abs(f.y - row_positions[ri]) > SPATIAL_ROW_TOLERANCE * 2.0:
        return None
    ci = min(range(len(columns)), key=lambda i: abs(f.x - columns[i][0]))
    if abs(f.x - columns[ci][0]) > SPATIAL_COLUMN_TOLERANCE * 2.0:
        return None
    return (ri, ci)


def _spatial_table_bbox(row_positions, columns):
    """structured/table.rs:219-239 (columns span left..right around the
    mean x; rows are sorted descending so first=top)."""
    min_x = min(x - w / 2.0 for x, w in columns)
    max_x = max(x + w / 2.0 for x, w in columns)
    max_y = row_positions[0]
    min_y = row_positions[-1]
    return ElementBBox(min_x, min_y, max_x - min_x, max_y - min_y)


def _spatial_table_confidence(rows) -> float:
    """structured/table.rs:242-261 == table_detection.rs:141-156:
    population ratio + size bonus min(0.2, (rows+cols)/10), capped 1."""
    n_rows = len(rows)
    n_cols = len(rows[0]) if rows else 0
    if n_rows == 0 or n_cols == 0:
        return 0.0
    total = n_rows * n_cols
    populated = sum(1 for row in rows for cell in row if cell.strip())
    size_bonus = min((n_rows + n_cols) / 10.0, 0.2)
    return min(populated / total + size_bonus, 1.0)


def segment_into_table_regions(fragments, gap_multiplier: float):
    """partition.rs:781-845: Y-desc sort, split where the baseline gap
    prev.y - (frag.y + frag.height) exceeds median_height * multiplier;
    only regions with >= 4 fragments survive."""
    if not fragments:
        return []
    sorted_frags = sorted(fragments, key=lambda f: -f.y)
    heights = sorted(h for h in (f.height for f in sorted_frags) if h > 0.0)
    if not heights:
        median_height = 12.0
    else:
        mid = len(heights) // 2
        if len(heights) % 2 == 0:
            median_height = (heights[mid - 1] + heights[mid]) / 2.0
        else:
            median_height = heights[mid]
    gap_threshold = median_height * gap_multiplier

    regions = []
    current = []
    for frag in sorted_frags:
        if current:
            gap = current[-1].y - (frag.y + frag.height)
            if gap > gap_threshold:
                if len(current) >= 4:
                    regions.append(current)
                current = []
        current.append(frag)
    if len(current) >= 4:
        regions.append(current)
    return regions


def region_looks_like_list(fragments) -> bool:
    """partition.rs:848-893: exactly 2 X clusters (15pt tolerance) and a
    left column averaging <= 3 chars = bullet/number column."""
    if not fragments:
        return False
    tolerance = 15.0
    x_clusters = []
    for frag in fragments:
        if not any(abs(cx - frag.x) <= tolerance for cx in x_clusters):
            x_clusters.append(frag.x)
    if len(x_clusters) != 2:
        return False
    left_x = min(x_clusters)
    left_frags = [f for f in fragments if abs(f.x - left_x) <= tolerance]
    if not left_frags:
        return False
    avg = sum(len(f.text.strip()) for f in left_frags) / len(left_frags)
    return avg <= 3.0


def _ruling_table_confidence(table) -> float:
    """table_detection.rs:141-156 over kernel/tables.py DetectedTable."""
    if table.rows == 0 or table.columns == 0:
        return 0.0
    total = table.rows * table.columns
    populated = sum(1 for c in table.cells if c.text.strip())
    size_bonus = min((table.rows + table.columns) / 10.0, 0.2)
    return min(populated / total + size_bonus, 1.0)


def _ruling_table_to_rows(table) -> list:
    """partition.rs:761-769 — cells into a rows x columns grid."""
    grid = [["" for _ in range(table.columns)] for _ in range(table.rows)]
    for cell in table.cells:
        if cell.row < table.rows and cell.column < table.columns:
            grid[cell.row][cell.column] = cell.text
    return grid


# ---------------------------------------------------------------------------
# Partitioner (partition.rs:122-639)
# ---------------------------------------------------------------------------


def _meta_from_fragment(f, page: int) -> ElementMetadata:
    """partition.rs:894-908."""
    return ElementMetadata(
        page=page,
        bbox=ElementBBox(f.x, f.y, f.width, f.height),
        confidence=1.0,
        font_name=getattr(f, "font_name", None),
        font_size=f.font_size,
        is_bold=getattr(f, "is_bold", False),
        is_italic=getattr(f, "is_italic", False),
    )


def _body_font_size(fragments, claimed) -> float:
    """partition.rs:437-467: mode over unclaimed positive sizes quantized
    to 0.5 pt (half-away-from-zero), ties toward the SMALLER size; 12.0
    when empty."""
    sizes = [
        f.font_size
        for i, f in enumerate(fragments)
        if not claimed[i] and f.font_size > 0.0
    ]
    if not sizes:
        return 12.0
    freq: dict[int, int] = {}
    for s in sizes:
        key = int(math.floor(s * 2.0 + 0.5))  # Rust f64::round, positive s
        freq[key] = freq.get(key, 0) + 1
    mode_key = min(freq, key=lambda k: (-freq[k], k))
    return mode_key / 2.0


class Partitioner:
    """partition.rs Partitioner over this engine's TextFragments."""

    def __init__(self, config: PartitionConfig | None = None):
        self.config = config if config is not None else PartitionConfig()

    def _apply_reading_order(self, fragments):
        from .reading_order import simple_reading_order, xycut_reading_order

        ro = self.config.reading_order
        if ro == "simple":
            return simple_reading_order(list(fragments), line_threshold=5.0)
        if ro == "xycut":
            return xycut_reading_order(list(fragments), self.config.xycut_min_gap)
        return list(fragments)

    def partition_fragments(
        self, fragments, page: int = 0, page_height: float = 842.0,
        graphics=None, ruling_fragments=None,
    ) -> list[RichElement]:
        """One page of fragments → typed elements with heading paths
        (partition.rs partition_fragments_with_graphics_raw).
        ``graphics`` is a kernel/graphics.py ExtractedGraphics for the
        ruling-table pass; ``ruling_fragments`` the cell-granular
        fragment set handed to that detector (defaults to ``fragments``).
        """
        fragments = self._apply_reading_order(fragments)
        ruling_fragments = (
            ruling_fragments if ruling_fragments is not None else fragments
        )
        n = len(fragments)
        claimed = [False] * n
        elements: list[RichElement] = []

        # 0. struct-tag classification (partition.rs:228-264)
        for i, f in enumerate(fragments):
            if claimed[i]:
                continue
            tag = getattr(f, "struct_tag", None)
            if tag is None:
                continue
            cls = classify_by_struct_tag(tag)
            if cls == "heading":
                trimmed = f.text.strip()
                if not trimmed:
                    continue
                meta = _meta_from_fragment(f, page)
                meta.confidence = 1.0
                elements.append(RichElement(KIND_TITLE, trimmed, meta))
                claimed[i] = True
            elif cls == "list_item":
                trimmed = f.text.strip()
                if not trimmed:
                    continue
                meta = _meta_from_fragment(f, page)
                meta.confidence = 1.0
                elements.append(RichElement(KIND_LIST_ITEM, trimmed, meta))
                claimed[i] = True
            # 'list' (container), 'artifact', None: fall through

        # 1. header/footer zones (partition.rs:266-302)
        if self.config.detect_headers_footers and page_height > 0.0:
            header_threshold = page_height * (1.0 - self.config.header_zone)
            footer_threshold = page_height * self.config.footer_zone
            for i, f in enumerate(fragments):
                if claimed[i]:
                    continue
                text_too_long = len(f.text) > MAX_HEADER_TEXT_LEN
                is_body_tagged = struct_tag_is_body(getattr(f, "struct_tag", None))
                if f.y >= header_threshold and not text_too_long and not is_body_tagged:
                    zone_size = page_height * self.config.header_zone
                    meta = _meta_from_fragment(f, page)
                    meta.confidence = compute_zone_confidence(
                        f.y - header_threshold, zone_size
                    )
                    elements.append(RichElement(KIND_HEADER, f.text, meta))
                    claimed[i] = True
                elif (
                    f.y + f.height <= footer_threshold
                    and not text_too_long
                    and not is_body_tagged
                ):
                    zone_size = page_height * self.config.footer_zone
                    meta = _meta_from_fragment(f, page)
                    meta.confidence = compute_zone_confidence(
                        footer_threshold - (f.y + f.height), zone_size
                    )
                    elements.append(RichElement(KIND_FOOTER, f.text, meta))
                    claimed[i] = True

        # 2. tables (partition.rs:304-436)
        if self.config.detect_tables:
            if self.config.prefer_ruling_tables and graphics is not None:
                if graphics.has_table_structure():
                    from .tables import detect_tables as detect_ruling

                    for table in detect_ruling(graphics, ruling_fragments):
                        confidence = _ruling_table_confidence(table)
                        if confidence < self.config.min_table_confidence:
                            continue
                        rows = _ruling_table_to_rows(table)
                        bx, by, bw, bh = table.bbox
                        elements.append(
                            RichElement(
                                KIND_TABLE,
                                metadata=ElementMetadata(
                                    page=page,
                                    bbox=ElementBBox(bx, by, bw, bh),
                                    confidence=confidence,
                                ),
                                rows=rows,
                            )
                        )
                        rx, ry, rr, rt = bx, by, bx + bw, by + bh
                        for i, f in enumerate(fragments):
                            if (
                                not claimed[i]
                                and rx - 1.0 <= f.x <= rr + 1.0
                                and ry - 1.0 <= f.y <= rt + 1.0
                            ):
                                claimed[i] = True

            if self.config.detect_spatial_tables:
                unclaimed = [f for i, f in enumerate(fragments) if not claimed[i]]
                for region in segment_into_table_regions(unclaimed, 2.0):
                    if region_looks_like_list(region):
                        continue
                    for table in detect_spatial_tables(region):
                        if table.confidence < self.config.min_table_confidence:
                            continue
                        elements.append(
                            RichElement(
                                KIND_TABLE,
                                metadata=ElementMetadata(
                                    page=page,
                                    bbox=table.bounding_box,
                                    confidence=table.confidence,
                                ),
                                rows=table.rows,
                            )
                        )
                        bb = table.bounding_box
                        for i, f in enumerate(fragments):
                            if (
                                not claimed[i]
                                and bb.x - 1.0 <= f.x <= bb.right() + 1.0
                                and bb.y - 1.0 <= f.y <= bb.top() + 1.0
                            ):
                                claimed[i] = True

        body_font = _body_font_size(fragments, claimed)
        title_threshold = body_font * self.config.title_min_font_ratio

        # 3-6. remaining fragments (partition.rs:469-569)
        for i, f in enumerate(fragments):
            if claimed[i]:
                continue
            meta = _meta_from_fragment(f, page)
            text = f.text.strip()
            if not text:
                continue

            # 3. key-value
            colon_pos = text.find(":")
            if colon_pos != -1:
                key = text[:colon_pos].strip()
                value = text[colon_pos + 1:].strip()
                key_word_count = len(key.split())
                if (
                    key
                    and value
                    and len(key.encode("utf-8")) < 40
                    and key_word_count <= 4
                    and "." not in key
                    and not is_prose_prefix(key)
                ):
                    meta.confidence = compute_kv_confidence(key)
                    elements.append(
                        RichElement(
                            KIND_KEY_VALUE, metadata=meta, key=key, value=value
                        )
                    )
                    continue

            # 4. title — three OR'd signals
            p_or_span = getattr(f, "struct_tag", None) in ("P", "Span")
            is_title = False
            title_confidence = 0.0
            if f.font_size >= title_threshold and f.font_size > body_font:
                is_title = True
                title_confidence = max(
                    title_confidence,
                    compute_title_confidence(
                        f.font_size / body_font, self.config.title_min_font_ratio
                    ),
                )
            if not p_or_span and bold_short_title(f):
                is_title = True
                title_confidence = max(title_confidence, 0.7)
            if numeric_prefix_title(f):
                is_title = True
                title_confidence = max(title_confidence, 0.8)
            if is_title:
                meta.confidence = min(max(title_confidence, 0.5), 1.0)
                elements.append(RichElement(KIND_TITLE, text, meta))
                continue

            # 5. list item
            if is_list_item(text):
                elements.append(RichElement(KIND_LIST_ITEM, text, meta))
                continue

            # 6. paragraph
            elements.append(RichElement(KIND_PARAGRAPH, text, meta))

        # page-order sort (partition.rs:571-578) — stable, page key only
        if self.config.reading_order != "none":
            elements.sort(key=lambda e: e.metadata.page)

        return assign_heading_paths(elements)


def assign_heading_paths(elements: list[RichElement]) -> list[RichElement]:
    """partition.rs:587-639: title sizes bucketed desc (5% merge) →
    level; (level, text) stack; heading_path = stack texts root→leaf,
    parent_heading = leaf (a title's own parent_heading is itself).
    Unknown/invalid title size = one level deeper than the deepest
    bucket. Mutates metadata in place and returns the same list."""
    sizes = sorted(
        (
            e.metadata.font_size
            for e in elements
            if e.kind == KIND_TITLE
            and e.metadata.font_size is not None
            and math.isfinite(e.metadata.font_size)
            and e.metadata.font_size > 0.0
        ),
        reverse=True,
    )
    buckets: list[float] = []
    for s in sizes:
        if not any(abs(b - s) <= b * 0.05 for b in buckets):
            buckets.append(s)

    def level_of(size) -> int:
        if size is not None and math.isfinite(size) and size > 0.0:
            for i, b in enumerate(buckets):
                if abs(size - b) <= b * 0.05:
                    return min(i + 1, 255)
            return min(max(len(buckets), 1), 255)
        return min(len(buckets) + 1, 255)

    stack: list[tuple[int, str]] = []
    for element in elements:
        if element.kind == KIND_TITLE:
            level = level_of(element.metadata.font_size)
            stack = [(lvl, t) for lvl, t in stack if lvl < level]
            stack.append((level, element.text))
        path = [t for _, t in stack]
        element.metadata.parent_heading = path[-1] if path else None
        element.metadata.heading_path = path
    return elements


def partition_pdf_bytes(
    data: bytes, config: PartitionConfig | None = None, options=None,
) -> list[RichElement]:
    """PdfDocument::partition_with (parser/document.rs:1766-1841) over
    raw PDF bytes: extract paragraph-granular fragments per page, run
    per-page graphics extraction for the ruling-table pass when the
    config wants it, partition each page, concatenate."""
    from .extract import extract_pdf_bytes
    from .textstate import ExtractionOptions

    config = config if config is not None else PartitionConfig()
    if options is None:
        options = ExtractionOptions(
            preserve_layout=True, reconstruct_paragraphs=True
        )
    res = extract_pdf_bytes(data, options)
    page_graphics = None
    page_ruling_fragments = None
    if config.detect_tables and config.prefer_ruling_tables:
        from .graphics import extract_graphics
        from .content import parse_content
        from .pages import flatten_page_tree, page_content
        from .reader import PdfReader

        try:
            reader = PdfReader(data, password=options.password)
            page_graphics = [
                extract_graphics(parse_content(page_content(reader, p)))
                for p in flatten_page_tree(reader)
            ]
        except Exception:
            page_graphics = None  # graphics are best-effort (document.rs .ok())
        if page_graphics is not None and any(
            g.has_table_structure() for g in page_graphics
        ):
            # issue #261 (document.rs:1783-1795): paragraph-reconstructed
            # fragments fuse table cells, so table-bearing pages get a
            # cell-granular re-extraction for the ruling detector while the
            # reconstructed fragments still drive prose classification
            raw_options = options.clone() if hasattr(options, "clone") else None
            if raw_options is None:
                import copy

                raw_options = copy.copy(options)
            raw_options.reconstruct_paragraphs = False
            raw = extract_pdf_bytes(data, raw_options)
            page_ruling_fragments = raw.page_fragments
    return partition_document(
        res.page_fragments,
        config,
        page_graphics=page_graphics,
        page_ruling_fragments=page_ruling_fragments,
    )


def partition_document(
    page_fragments, config: PartitionConfig | None = None,
    page_height: float = 842.0, page_graphics=None,
    page_ruling_fragments=None,
) -> list[RichElement]:
    """Document-level partition (parser/document.rs:1805-1841): run the
    partitioner per page and concatenate. Heading paths are per-page, as
    in the reference (assign_heading_paths runs inside each per-page
    call, so the title stack resets at page boundaries).

    ``page_fragments`` is a list of per-page fragment lists;
    ``page_graphics`` an optional parallel list of ExtractedGraphics;
    ``page_ruling_fragments`` optional cell-granular fragments for the
    ruling-table detector (issue #261 raw re-extraction)."""
    partitioner = Partitioner(config)
    out: list[RichElement] = []
    for page_idx, frags in enumerate(page_fragments):
        graphics = page_graphics[page_idx] if page_graphics else None
        ruling = (
            page_ruling_fragments[page_idx]
            if page_ruling_fragments is not None
            and page_idx < len(page_ruling_fragments)
            else None
        )
        out.extend(
            partitioner.partition_fragments(
                frags, page=page_idx, page_height=page_height,
                graphics=graphics, ruling_fragments=ruling,
            )
        )
    return out


def classify_pages(page_fragments, known_headings=None) -> list[RichElement]:
    """Per-page paragraph fragments (DocResult.page_fragments) → one
    document-ordered element list with document-level heading paths;
    ``known_headings`` is an optional set of authoritative heading
    strings (outline /Title values). The policy and the reason for each
    step are in the module docstring."""
    elements = partition_document(
        page_fragments,
        PartitionConfig(detect_tables=False, reading_order="none"),
        page_height=792.0,
    )
    elements.sort(key=lambda e: (e.metadata.page, -e.metadata.bbox.top()))
    for e in elements:
        if e.kind == KIND_KEY_VALUE:
            e.key = e.key.replace("\n", " ")
            e.value = e.value.replace("\n", " ")
        else:
            e._text = e._text.replace("\n", " ")
        if (
            known_headings
            and e.kind not in (KIND_HEADER, KIND_FOOTER)
            and e.display_text() in known_headings
        ):
            e._text = e.display_text()
            e.kind = KIND_TITLE
    return assign_heading_paths(elements)


def export_elements_markdown(
    elements: list, include_headers_footers: bool = False
) -> str:
    """ElementMarkdownExporter (pipeline/export.rs:20-60) over the rich
    element model: one markdown block per element, '\\n\\n'-joined —
    Title → '# ', ListItem → '- ', KeyValue → '**key**: value',
    CodeBlock fenced, Image → '![alt]()' (no URL — the exporter has no
    asset sink), Table → pipe rows with row 0 as header; header/footer
    elements drop unless ``include_headers_footers`` (then they export
    as display text, export.rs:50-56)."""
    parts: list[str] = []
    for el in elements:
        kind = el.kind
        if kind == KIND_TITLE:
            parts.append(f"# {el.text.strip()}")
        elif kind == KIND_PARAGRAPH:
            parts.append(el.text.strip())
        elif kind == KIND_LIST_ITEM:
            parts.append(f"- {el.text.strip()}")
        elif kind == KIND_KEY_VALUE:
            parts.append(f"**{(el.key or '').strip()}**: {(el.value or '').strip()}")
        elif kind == KIND_CODE_BLOCK:
            parts.append(f"```\n{el.text.strip()}\n```")
        elif kind == KIND_IMAGE:
            parts.append(f"![{el.alt_text or ''}]()")
        elif kind == KIND_TABLE:
            md = _table_to_markdown(el.rows or [])
            if md:
                parts.append(md)
        elif kind in (KIND_HEADER, KIND_FOOTER):
            if include_headers_footers:
                parts.append(el.display_text())
    return "\n\n".join(parts)


def _table_to_markdown(rows: list) -> str:
    """pipeline/export.rs:62-77 table_to_markdown — row 0 is the header,
    separator width follows the HEADER's column count (reference quirk:
    ragged later rows render with their own cell count)."""
    if not rows:
        return ""
    lines = ["| " + " | ".join(rows[0]) + " |"]
    lines.append("| " + " | ".join(["---"] * len(rows[0])) + " |")
    for row in rows[1:]:
        lines.append("| " + " | ".join(row) + " |")
    return "\n".join(lines)
