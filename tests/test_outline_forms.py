"""Outline/bookmark and AcroForm field-value extraction (VERDICT r3 next
#3/#4: structure/outline.rs:130 OutlineTree semantics + forms/form_data.rs
read-side field walk), plus outline-as-authoritative-headings wiring into
the element classifier."""

from oxidizepdf_spark.corpus import (
    assemble_pdf,
    build_form_pdf,
    build_outline_pdf,
    _stream_obj,
)
from oxidizepdf_spark.kernel.extract import (
    extract_form_fields,
    extract_outline,
    extract_pdf_bytes,
)


def test_outline_preorder_levels_titles_pages():
    pdf = build_outline_pdf(
        [
            ("Intro", ["Scope", "Terms"]),
            ("Methods", ["Data", "Model"]),
            ("Results", ["Tables", "Plots"]),
        ]
    )
    items = extract_outline(pdf)
    assert [(i["ord"], i["level"], i["title"], i["page_idx"]) for i in items] == [
        (0, 0, "Intro", 0),
        (1, 1, "Scope", 0),
        (2, 1, "Terms", 0),
        (3, 0, "Methods", 1),
        (4, 1, "Data", 1),
        (5, 1, "Model", 1),
        (6, 0, "Results", 2),
        (7, 1, "Tables", 2),
        (8, 1, "Plots", 2),
    ]


def test_outline_goto_action_dest():
    """Items carrying /A GoTo actions (no /Dest) resolve the same page."""
    pdf = build_outline_pdf([("Only", [])])
    # rewrite the item: /Dest [...] → /A << /Type /Action /S /GoTo /D [...] >>
    pdf = pdf.replace(
        b"/Dest [30 0 R /XYZ null null null]",
        b"/A << /Type /Action /S /GoTo /D [30 0 R /XYZ null null null] >>",
    )
    # classic xref offsets are now stale; the reader's recovery scan
    # (S8) must still find the objects
    items = extract_outline(pdf)
    assert [(i["title"], i["page_idx"]) for i in items] == [("Only", 0)]


def test_outline_cycle_guard_terminates():
    """A /Next pointing back at the first sibling must not loop."""
    objects = {
        1: b"<< /Type /Catalog /Pages 2 0 R /Outlines 20 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R /MediaBox [0 0 612 792] >>",
        5: _stream_obj(b"", b"BT ET"),
        20: b"<< /Type /Outlines /First 21 0 R /Last 22 0 R /Count 2 >>",
        21: b"<< /Title (a) /Parent 20 0 R /Next 22 0 R >>",
        22: b"<< /Title (b) /Parent 20 0 R /Prev 21 0 R /Next 21 0 R >>",
    }
    items = extract_outline(assemble_pdf(objects))
    assert [i["title"] for i in items] == ["a", "b"]


def test_outline_absent_is_empty():
    from oxidizepdf_spark.corpus import build_text_pdf

    assert extract_outline(build_text_pdf("hello")) == []


def test_outline_utf16_title_decodes():
    pdf = build_outline_pdf([("placeholder", [])])
    pdf = pdf.replace(
        b"/Title (placeholder)",
        b"/Title (\xfe\xff\x00C\x00a\x00f\x00\xe9)",  # UTF-16BE "Café"
    )
    items = extract_outline(pdf)
    assert items[0]["title"] == "Café"


def test_form_fields_terminal_walk_and_inheritance():
    pdf = build_form_pdf(
        text_value="hello", checked=True, grp_value="inherited", b_value="own"
    )
    fields = extract_form_fields(pdf)
    assert [(f["name"], f["ftype"], f["value"]) for f in fields] == [
        ("f0", "Tx", "hello"),
        ("f1", "Btn", "Yes"),
        ("grp.a", "Tx", "inherited"),  # /FT and /V inherited from parent
        ("grp.b", "Tx", "own"),  # kid's own /V overrides
    ]


def test_form_checkbox_off():
    fields = extract_form_fields(
        build_form_pdf("x", checked=False, grp_value="g", b_value="b")
    )
    assert dict((f["name"], f["value"]) for f in fields)["f1"] == "Off"


def test_form_absent_acroform_is_empty():
    from oxidizepdf_spark.corpus import build_text_pdf

    assert extract_form_fields(build_text_pdf("no form here")) == []


def test_form_extraction_does_not_disturb_content_text():
    """Form payload lives outside the content stream; span extraction and
    the field walk are independent views of the same bytes."""
    pdf = build_form_pdf("v0", True, "v1", "v2")
    res = extract_pdf_bytes(pdf)
    assert res.error is None
    assert "form" in "".join(t for k, t, _ in res.spans if k == "text")
    assert len(extract_form_fields(pdf)) == 4


def test_extract_elements_uses_outline_headings_end_to_end():
    """extract_elements on an outline-bearing PDF: page text matches the
    outline titles (single font size — font heuristic blind), so the
    outline is the only heading signal and must win."""
    from oxidizepdf_spark.kernel.extract import extract_elements

    pdf = build_outline_pdf(
        [("Chapter A", ["s1"]), ("Chapter B", ["s2"]), ("Chapter C", [])]
    )
    elements, res = extract_elements(pdf)
    assert res.error is None
    kinds = {e.text: e.kind for e in elements}
    assert kinds["Chapter A"] == "title"
    assert kinds["Chapter B"] == "title"
    assert kinds["Chapter C"] == "title"


def test_outline_headings_override_font_heuristic():
    """classify_pages(known_headings=...): outline titles classify as
    'title' even when every fragment shares one font size (the case where
    the font-ratio rule is blind — VERDICT r3 'What's missing' #1)."""
    from oxidizepdf_spark.corpus import build_pdf_with_content_stream
    from oxidizepdf_spark.kernel.partition import classify_pages
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    # 40pt gaps: each line is its own paragraph; single 12pt font throughout
    content = (
        b"BT /F1 12 Tf 100 700 Td (Section One) Tj"
        b" 0 -40 Td (body words here) Tj"
        b" 0 -40 Td (Section Two) Tj"
        b" 0 -40 Td (more body text) Tj ET"
    )
    res = extract_pdf_bytes(
        build_pdf_with_content_stream(content),
        ExtractionOptions(preserve_layout=True, reconstruct_paragraphs=True),
    )
    assert res.error is None
    without = classify_pages(res.page_fragments)
    assert all(e.kind != "title" for e in without)  # single font size: blind
    with_outline = classify_pages(
        res.page_fragments,
        known_headings={"Section One", "Section Two"},
    )
    kinds = {e.display_text(): e.kind for e in with_outline}
    assert kinds["Section One"] == "title"
    assert kinds["Section Two"] == "title"
    # body paragraphs inherit the nearest preceding outline heading
    headings = {e.display_text(): e.metadata.parent_heading for e in with_outline}
    assert headings["body words here"] == "Section One"
    assert headings["more body text"] == "Section Two"


def test_invoice_field_extraction():
    from oxidizepdf_spark.corpus import build_invoice_pdf
    from oxidizepdf_spark.kernel.invoice import extract_invoice

    inv = extract_invoice(
        build_invoice_pdf("Acme Corp", "INV-7", "2024-02-03", "99.10")
    )
    assert inv.vendor == "Acme Corp"
    assert inv.invoice_number == "INV-7"
    assert inv.invoice_date == "2024-02-03"
    assert inv.total == "99.10"
    assert inv.n_pairs == 3


def test_invoice_key_variants_and_missing_fields():
    """'Invoice #' and 'Amount Due' key spellings match; a document with
    no total stays None instead of mis-assigning."""
    from oxidizepdf_spark.corpus import (
        build_pdf_with_content_stream,
        escape_pdf_string,
    )
    from oxidizepdf_spark.kernel.invoice import extract_invoice

    lines = ["MegaVendor Ltd", "Invoice #: A-1", "Amount Due: 12.00"]
    parts = [b"BT /F1 12 Tf 100 720 Td (%s) Tj" % escape_pdf_string(lines[0])]
    for ln in lines[1:]:
        parts.append(b"0 -40 Td (%s) Tj" % escape_pdf_string(ln))
    parts.append(b"ET")
    inv = extract_invoice(build_pdf_with_content_stream(b" ".join(parts)))
    assert inv.invoice_number == "A-1"
    assert inv.total == "12.00"
    assert inv.invoice_date is None
    assert inv.vendor == "MegaVendor Ltd"


def test_invoice_plain_text_is_not_an_invoice():
    from oxidizepdf_spark.corpus import build_text_pdf
    from oxidizepdf_spark.kernel.invoice import extract_invoice

    inv = extract_invoice(build_text_pdf("just some words here"))
    assert inv.invoice_number is None
    assert inv.total is None
    assert inv.vendor == "just some words here"


def test_outline_named_destination_resolution():
    """Real-world outlines (arXiv/LaTeX) point at NAMED destinations via
    the catalog /Names → /Dests name tree; page indexes must resolve
    through the tree (verified on the Higgs fixture: 31 items)."""
    data = open(
        "/root/reference/oxidize-pdf-core/tests/fixtures/"
        "issue_272_higgs_arxiv_1207_7214.pdf",
        "rb",
    ).read()
    items = extract_outline(data)
    assert len(items) == 31
    assert items[0]["title"] == "1 Introduction"
    pages = [i["page_idx"] for i in items]
    assert all(p is not None for p in pages), pages
    # section pages are monotonically non-decreasing in a paper
    assert pages == sorted(pages)


def test_outline_named_destination_synthetic():
    """Synthetic name-tree fixture: /Dest (name) resolving through
    /Names → /Dests → /Names pairs, including the << /D [...] >> form."""
    objects = {
        1: (
            b"<< /Type /Catalog /Pages 2 0 R /Outlines 20 0 R "
            b"/Names << /Dests 40 0 R >> >>"
        ),
        2: b"<< /Type /Pages /Kids [3 0 R 6 0 R] /Count 2 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R /MediaBox [0 0 612 792] >>",
        5: _stream_obj(b"", b"BT ET"),
        6: b"<< /Type /Page /Parent 2 0 R /Contents 7 0 R /MediaBox [0 0 612 792] >>",
        7: _stream_obj(b"", b"BT ET"),
        20: b"<< /Type /Outlines /First 21 0 R /Last 22 0 R /Count 2 >>",
        21: b"<< /Title (one) /Parent 20 0 R /Dest (sec.1) /Next 22 0 R >>",
        22: b"<< /Title (two) /Parent 20 0 R /Prev 21 0 R /Dest (sec.2) >>",
        40: (
            b"<< /Names [(sec.1) [3 0 R /XYZ null null null] "
            b"(sec.2) << /D [6 0 R /Fit] >>] >>"
        ),
    }
    items = extract_outline(assemble_pdf(objects))
    assert [(i["title"], i["page_idx"]) for i in items] == [
        ("one", 0),
        ("two", 1),
    ]


def test_form_signature_value_is_none_not_stringified():
    """A /Sig field's dictionary value has no text payload; the row keeps
    ftype 'Sig' with value None (verified on the BOE fixture)."""
    data = open(
        "/root/reference/oxidize-pdf-core/tests/fixtures/"
        "issue_272_boe_sumario_2025_01_15.pdf",
        "rb",
    ).read()
    fields = extract_form_fields(data)
    assert fields == [{"name": "Signature1", "ftype": "Sig", "value": None}]


def test_page_index_counts_inline_dict_page_leaves():
    """A page leaf that is an inline dict in /Kids (not a Ref) still occupies
    a page index in flatten_page_tree; _page_ref_index must advance its
    counter for it so outlines pointing at LATER Ref pages stay aligned
    (ADVICE r4 #1)."""
    objects = {
        1: b"<< /Type /Catalog /Pages 2 0 R /Outlines 5 0 R >>",
        2: (
            b"<< /Type /Pages /Count 3 /Kids [10 0 R "
            b"<< /Type /Page /Parent 2 0 R /Contents 20 0 R "
            b"/MediaBox [0 0 612 792] >> 12 0 R] >>"
        ),
        10: (
            b"<< /Type /Page /Parent 2 0 R /Contents 20 0 R "
            b"/MediaBox [0 0 612 792] >>"
        ),
        12: (
            b"<< /Type /Page /Parent 2 0 R /Contents 20 0 R "
            b"/MediaBox [0 0 612 792] >>"
        ),
        20: _stream_obj(b"", b"BT /F1 12 Tf 72 700 Td (x) Tj ET"),
        5: b"<< /Type /Outlines /First 6 0 R /Last 6 0 R /Count 1 >>",
        6: (
            b"<< /Title (last) /Parent 5 0 R /Dest [12 0 R /Fit] >>"
        ),
    }
    pdf = assemble_pdf(objects)
    doc = extract_pdf_bytes(pdf)
    assert doc.n_pages == 3
    items = extract_outline(pdf)
    assert [(i["title"], i["page_idx"]) for i in items] == [("last", 2)]


def test_markup_annotation_geometry_and_covered_text():
    """Markup geometry (annotations/markup.rs:87-190): /Rect, /T author,
    quad count, and QuadPoints→covered-text resolution through fragment
    bboxes — the highlight covers exactly the two middle words."""
    from oxidizepdf_spark.kernel.extract import extract_annotations

    words = ["alpha", "bravo", "charlie", "delta"]
    ops = (
        b"BT /F1 12 Tf "
        + b" ".join(
            b"1 0 0 1 %d 700 Tm (%s) Tj" % (100 + 100 * i, w.encode())
            for i, w in enumerate(words)
        )
        + b" ET"
    )
    hl = (
        b"<< /Type /Annot /Subtype /Highlight /Rect [195 695 395 715] "
        b"/T (rev1) /QuadPoints [195 695 395 695 395 715 195 715] >>"
    )
    from oxidizepdf_spark.corpus import build_pdf_with_content_stream

    pdf = build_pdf_with_content_stream(ops, extra_objects={8: hl})
    pdf = pdf.replace(b"/Contents 5 0 R", b"/Annots [8 0 R] /Contents 5 0 R", 1)
    (a,) = extract_annotations(pdf)
    assert a["subtype"] == "Highlight"
    assert a["rect"] == [195.0, 695.0, 395.0, 715.0]
    assert a["author"] == "rev1"
    assert a["n_quads"] == 1
    assert a["covered_text"] == "bravo charlie"


def test_non_markup_annotation_has_no_covered_text():
    """A Link's /Rect round-trips but QuadPoints resolution only fires for
    text-markup subtypes (ISO Table 169 classes)."""
    from oxidizepdf_spark.corpus import build_pdf_with_content_stream
    from oxidizepdf_spark.kernel.extract import extract_annotations

    link = (
        b"<< /Type /Annot /Subtype /Link /Rect [0 0 100 20] "
        b"/A << /S /URI /URI (https://x.test/) >> >>"
    )
    pdf = build_pdf_with_content_stream(
        b"BT /F1 12 Tf 100 700 Td (body) Tj ET", extra_objects={8: link}
    )
    pdf = pdf.replace(b"/Contents 5 0 R", b"/Annots [8 0 R] /Contents 5 0 R", 1)
    (a,) = extract_annotations(pdf)
    assert a["uri"] == "https://x.test/"
    assert a["rect"] == [0.0, 0.0, 100.0, 20.0]
    assert a["n_quads"] == 0 and a["covered_text"] is None


def test_page_labels_styles_prefix_start_and_default():
    """/PageLabels number tree (§12.4.2 Table 159; page_label.rs styles,
    page_label_tree.rs get_label): roman front matter, prefixed decimal
    with /St, uppercase-letter appendix; pages with no applicable range
    default to the ordinal string."""
    from oxidizepdf_spark.corpus import build_pdf_multipage_texts
    from oxidizepdf_spark.kernel.pages import page_labels
    from oxidizepdf_spark.kernel.reader import PdfReader

    nums = (
        b"0 << /S /r >> 2 << /S /D /P (P-) /St 5 >> "
        b"5 << /S /A >> 7 << /P (blank) >>"
    )
    pdf = build_pdf_multipage_texts(
        [f"page {i}" for i in range(8)], page_labels_nums=nums
    )
    labels = page_labels(PdfReader(pdf), 8)
    assert labels == ["i", "ii", "P-5", "P-6", "P-7", "A", "B", "blank"]
    # no /PageLabels at all → ordinal default (get_all_labels fallback)
    plain = build_pdf_multipage_texts(["a", "b"])
    assert page_labels(PdfReader(plain), 2) == ["1", "2"]


def test_page_labels_kids_nested_number_tree():
    """The number tree's general form nests ranges under /Kids nodes
    (page_label_tree.rs handles the flat form; the kernel also walks
    intermediate nodes, which real books use)."""
    from oxidizepdf_spark.corpus import assemble_pdf, _stream_obj
    from oxidizepdf_spark.kernel.pages import page_labels
    from oxidizepdf_spark.kernel.reader import PdfReader

    objects = {
        1: b"<< /Type /Catalog /Pages 2 0 R /PageLabels << /Kids [30 0 R 31 0 R] >> >>",
        2: b"<< /Type /Pages /Count 4 /Kids [10 0 R 11 0 R 12 0 R 13 0 R] >>",
        30: b"<< /Limits [0 1] /Nums [0 << /S /r >>] >>",
        31: b"<< /Limits [2 3] /Nums [2 << /S /D /P (x) >>] >>",
        20: _stream_obj(b"", b"BT /F1 12 Tf 72 700 Td (t) Tj ET"),
    }
    for n in (10, 11, 12, 13):
        objects[n] = (
            b"<< /Type /Page /Parent 2 0 R /Contents 20 0 R "
            b"/MediaBox [0 0 612 792] >>"
        )
    pdf = assemble_pdf(objects)
    assert page_labels(PdfReader(pdf), 4) == ["i", "ii", "x1", "x2"]


def test_page_composition_three_classes():
    """Page-composition analysis (operations/page_analysis.rs:254
    analyze_page + :2012 determine_page_type): the 3-page fixture
    classifies Scanned / Text / Mixed by construction, with placed
    |det CTM| image areas (not pixel dims) and >=3-char fragment areas."""
    from oxidizepdf_spark.corpus import build_composition_pdf
    from oxidizepdf_spark.kernel.extract import analyze_page_composition

    rows = analyze_page_composition(build_composition_pdf(b"payload"))
    assert [r["page_type"] for r in rows] == ["scanned", "text", "mixed"]
    assert rows[0]["image_ratio"] == 1.0 and rows[0]["text_ratio"] == 0.0
    assert rows[1]["text_ratio"] > 0.7 and rows[1]["image_count"] == 0
    assert 0.0 < rows[2]["image_ratio"] < 0.2
    assert rows[2]["text_fragments"] == 1 and rows[2]["char_count"] == 8
    assert all(
        abs(r["text_ratio"] + r["image_ratio"] + r["blank_ratio"] - 1.0) < 1e-9
        for r in rows
    )


def test_outline_destination_fit_detail():
    """Destination detail (structure/destination.rs:7-29; §12.3.2 Table
    151): /XYZ carries left/top/zoom, /FitH a top, /Fit nothing, /FitR
    surfaces its left/top corner; PDF null components stay None."""
    from oxidizepdf_spark.corpus import assemble_pdf, _stream_obj
    from oxidizepdf_spark.kernel.extract import extract_outline

    objects = {
        1: b"<< /Type /Catalog /Pages 2 0 R /Outlines 5 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [10 0 R] >>",
        10: (
            b"<< /Type /Page /Parent 2 0 R /Contents 20 0 R "
            b"/MediaBox [0 0 612 792] >>"
        ),
        20: _stream_obj(b"", b"BT /F1 12 Tf 72 700 Td (x) Tj ET"),
        5: b"<< /Type /Outlines /First 6 0 R /Last 9 0 R /Count 4 >>",
        6: (
            b"<< /Title (a) /Parent 5 0 R /Next 7 0 R "
            b"/Dest [10 0 R /XYZ 10 null 2] >>"
        ),
        7: (
            b"<< /Title (b) /Parent 5 0 R /Prev 6 0 R /Next 8 0 R "
            b"/Dest [10 0 R /FitH 640] >>"
        ),
        8: (
            b"<< /Title (c) /Parent 5 0 R /Prev 7 0 R /Next 9 0 R "
            b"/Dest [10 0 R /Fit] >>"
        ),
        9: (
            b"<< /Title (d) /Parent 5 0 R /Prev 8 0 R "
            b"/Dest [10 0 R /FitR 50 60 300 400] >>"
        ),
    }
    items = extract_outline(assemble_pdf(objects))
    got = [
        (i["title"], i["fit_type"], i["dest_x"], i["dest_y"], i["dest_zoom"])
        for i in items
    ]
    assert got == [
        ("a", "XYZ", 10.0, None, 2.0),
        ("b", "FitH", None, 640.0, None),
        ("c", "Fit", None, None, None),
        ("d", "FitR", 50.0, 400.0, None),
    ]


def test_fitr_dest_full_rect():
    """FitR surfaces the FULL rectangle as 'l,b,r,t' (dest_rect), not just
    the left/top corner (structure/destination.rs FitR four coords); other
    fit types leave dest_rect None."""
    from oxidizepdf_spark.corpus import assemble_pdf
    from oxidizepdf_spark.kernel.extract import extract_outline

    objects = {
        1: b"<< /Type /Catalog /Pages 2 0 R /Outlines 5 0 R >>",
        2: b"<< /Type /Pages /Kids [10 0 R] /Count 1 >>",
        10: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>",
        5: b"<< /Type /Outlines /First 6 0 R /Last 7 0 R /Count 2 >>",
        6: (
            b"<< /Title (r) /Parent 5 0 R /Next 7 0 R "
            b"/Dest [10 0 R /FitR 50 60 300.5 400] >>"
        ),
        7: b"<< /Title (h) /Parent 5 0 R /Dest [10 0 R /FitH 640] >>",
    }
    items = extract_outline(assemble_pdf(objects))
    assert [(i["title"], i["dest_rect"]) for i in items] == [
        ("r", "50,60,300.5,400"),
        ("h", None),
    ]


def test_popup_folds_into_parent_row():
    """/Popup ↔ /Parent linkage (annotations/popup.rs): the popup window
    is folded into its parent markup annotation's row (popup_open,
    popup_rect) and NOT emitted standalone."""
    from oxidizepdf_spark.corpus import build_pdf_with_content_stream
    from oxidizepdf_spark.kernel.extract import extract_annotations

    text_a = (
        b"<< /Type /Annot /Subtype /Text /Rect [0 30 100 50] "
        b"/Contents (note) /Popup 9 0 R >>"
    )
    popup = (
        b"<< /Type /Annot /Subtype /Popup /Rect [400 695 560 795] "
        b"/Parent 8 0 R /Open true >>"
    )
    pdf = build_pdf_with_content_stream(
        b"BT /F1 12 Tf 100 700 Td (body) Tj ET",
        extra_objects={8: text_a, 9: popup},
    )
    pdf = pdf.replace(
        b"/Contents 5 0 R", b"/Annots [8 0 R 9 0 R] /Contents 5 0 R", 1
    )
    (a,) = extract_annotations(pdf)
    assert a["subtype"] == "Text"
    assert a["popup_open"] is True
    assert a["popup_rect"] == [400.0, 695.0, 560.0, 795.0]


def test_popup_backlink_only_and_orphan():
    """A popup whose parent lacks /Popup still folds via its own /Parent
    back-link; a popup with no resolvable in-page parent keeps its own
    row (subtype Popup) so nothing silently disappears."""
    from oxidizepdf_spark.corpus import build_pdf_with_content_stream
    from oxidizepdf_spark.kernel.extract import extract_annotations

    # back-link only: Text has no /Popup, popup carries /Parent 8 0 R
    text_a = b"<< /Type /Annot /Subtype /Text /Rect [0 30 100 50] /Contents (n) >>"
    popup = (
        b"<< /Type /Annot /Subtype /Popup /Rect [1 2 3 4] "
        b"/Parent 8 0 R /Open false >>"
    )
    # orphan: /Parent points outside the page's annot list
    orphan = (
        b"<< /Type /Annot /Subtype /Popup /Rect [5 6 7 8] "
        b"/Parent 99 0 R >>"
    )
    pdf = build_pdf_with_content_stream(
        b"BT /F1 12 Tf 100 700 Td (body) Tj ET",
        extra_objects={8: text_a, 9: popup, 10: orphan},
    )
    pdf = pdf.replace(
        b"/Contents 5 0 R",
        b"/Annots [8 0 R 9 0 R 10 0 R] /Contents 5 0 R",
        1,
    )
    rows = extract_annotations(pdf)
    by_subtype = {a["subtype"]: a for a in rows}
    assert set(by_subtype) == {"Text", "Popup"}
    assert by_subtype["Text"]["popup_open"] is False
    assert by_subtype["Text"]["popup_rect"] == [1.0, 2.0, 3.0, 4.0]
    assert by_subtype["Popup"]["rect"] == [5.0, 6.0, 7.0, 8.0]
    assert by_subtype["Popup"]["popup_open"] is None


def test_link_action_detail_variants():
    """Action detail beyond /URI (reference src/actions/: action.rs
    variants, launch_action.rs /F + /Win fallback, named_action.rs /N):
    GoTo resolves its /D page ref to 'page:N'; GoToR composes
    'file#dest'; Launch takes /UF over /F in a filespec dict and falls
    back to /Win /F; Named reports the action name."""
    from oxidizepdf_spark.corpus import build_pdf_with_content_stream
    from oxidizepdf_spark.kernel.extract import extract_annotations

    def one(action: bytes):
        link = (
            b"<< /Type /Annot /Subtype /Link /Rect [0 0 100 20] /A %s >>"
            % action
        )
        pdf = build_pdf_with_content_stream(
            b"BT /F1 12 Tf 100 700 Td (body) Tj ET", extra_objects={8: link}
        )
        pdf = pdf.replace(
            b"/Contents 5 0 R", b"/Annots [8 0 R] /Contents 5 0 R", 1
        )
        (a,) = extract_annotations(pdf)
        return a

    a = one(b"<< /S /GoTo /D [3 0 R /Fit] >>")  # 3 0 R = the page object
    assert (a["action_type"], a["action_target"]) == ("GoTo", "page:0")

    a = one(b"<< /S /GoToR /F (other.pdf) /D (sec-2) >>")
    assert (a["action_type"], a["action_target"]) == (
        "GoToR", "other.pdf#sec-2",
    )
    a = one(b"<< /S /GoToR /F (plain.pdf) >>")  # no /D
    assert a["action_target"] == "plain.pdf"

    a = one(b"<< /S /Launch /F << /F (dos.bat) /UF (unicode.bat) >> >>")
    assert (a["action_type"], a["action_target"]) == ("Launch", "unicode.bat")
    a = one(b"<< /S /Launch /Win << /F (win.exe) >> >>")
    assert a["action_target"] == "win.exe"

    a = one(b"<< /S /Named /N /PrevPage >>")
    assert (a["action_type"], a["action_target"]) == ("Named", "PrevPage")

    # malformed action: type surfaces, target stays None, nothing raises
    a = one(b"<< /S /GoToR >>")
    assert a["action_type"] == "GoToR" and a["action_target"] is None


def test_page_rotation_direct_inherited_and_effective_size():
    """/Rotate read surface (page_tree.rs:556 raw inherited integer;
    :658-676 effective width/height swap on exactly 90/270): page-level
    and /Pages-inherited placement must read the same; absent → 0."""
    from oxidizepdf_spark.corpus import build_pdf_multipage_texts, build_text_pdf
    from oxidizepdf_spark.kernel.pages import (
        effective_page_size,
        flatten_page_tree,
        page_rotation,
    )
    from oxidizepdf_spark.kernel.reader import PdfReader

    for inherited in (False, True):
        pdf = build_pdf_multipage_texts(
            ["a", "b"], rotate=90, rotate_inherited=inherited
        )
        pages = flatten_page_tree(PdfReader(pdf))
        assert [page_rotation(p) for p in pages] == [90, 90], inherited
        assert effective_page_size(pages[0]) == (792.0, 612.0)

    # single-page builder path + 180 (no swap) + absent (default 0)
    one = flatten_page_tree(PdfReader(build_text_pdf("x", rotate=180)))[0]
    assert page_rotation(one) == 180
    assert effective_page_size(one) == (612.0, 792.0)
    plain = flatten_page_tree(PdfReader(build_text_pdf("x")))[0]
    assert page_rotation(plain) == 0
    assert effective_page_size(plain) == (612.0, 792.0)

    # reference read path does NOT normalise: 270 swaps, -90 does not
    # (write-side RotationAngle::from_degrees validates; reads keep raw)
    neg = flatten_page_tree(PdfReader(build_text_pdf("x", rotate=-90)))[0]
    assert page_rotation(neg) == -90
    assert effective_page_size(neg) == (612.0, 792.0)


def test_form_and_javascript_action_detail():
    """form_actions.rs read-back: SubmitForm /F URL (+';flags=N' when
    nonzero), ResetForm field list, ImportData filespec; JavaScript
    actions surface 'script:<len>' (the script is payload, not target)."""
    from oxidizepdf_spark.corpus import build_pdf_with_content_stream
    from oxidizepdf_spark.kernel.extract import extract_annotations

    def one(action: bytes, extra: dict | None = None):
        link = (
            b"<< /Type /Annot /Subtype /Link /Rect [0 0 100 20] /A %s >>"
            % action
        )
        objs = {8: link}
        objs.update(extra or {})
        pdf = build_pdf_with_content_stream(
            b"BT /F1 12 Tf 100 700 Td (body) Tj ET", extra_objects=objs
        )
        pdf = pdf.replace(
            b"/Contents 5 0 R", b"/Annots [8 0 R] /Contents 5 0 R", 1
        )
        (a,) = extract_annotations(pdf)
        return a

    a = one(b"<< /S /SubmitForm /F (https://x.test/submit) /Flags 4 >>")
    assert (a["action_type"], a["action_target"]) == (
        "SubmitForm", "https://x.test/submit;flags=4",
    )
    a = one(b"<< /S /SubmitForm /F << /F (https://y.test) >> >>")
    assert a["action_target"] == "https://y.test"

    a = one(b"<< /S /ResetForm /Fields [(name) (email)] >>")
    assert (a["action_type"], a["action_target"]) == ("ResetForm", "name,email")
    a = one(b"<< /S /ResetForm >>")  # all fields: no target
    assert (a["action_type"], a["action_target"]) == ("ResetForm", None)

    a = one(b"<< /S /ImportData /F (data.fdf) >>")
    assert (a["action_type"], a["action_target"]) == ("ImportData", "data.fdf")

    a = one(b"<< /S /JavaScript /JS (app.alert\\(1\\);) >>")
    assert a["action_type"] == "JavaScript"
    assert a["action_target"] == "script:13"
    # stream-valued /JS
    a = one(
        b"<< /S /JavaScript /JS 9 0 R >>",
        extra={9: b"<< /Length 12 >>\nstream\nconsole.do()\nendstream"},
    )
    assert a["action_target"] == "script:12"
